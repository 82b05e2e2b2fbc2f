package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.jdk.CollectionConverters._

/** Reduced-size runs of every workload, traced, against the metric names
  * BENCHMARK.json declares; plus the output checker on a known mismatch. */
class SmokeSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def names(key: String): Set[String] = spec.get(key).elements().asScala.map(_.get("name").asText()).toSet

  names("workloads").toSeq.sorted.foreach { w =>
    test(s"$w runs at reduced size, checks clean and reports every declared metric") {
      val r = Main.run(w, seed = 7, seconds = 0, traced = true, smoke = true)
      assert(r.out.failures.isEmpty, r.out.failures.mkString("; "))
      assert(r.out.attempted > 0 && r.out.failed == 0)
      assert(names("end_to_end").subsetOf(r.out.e2e.keySet), r.out.e2e.keySet)
      assert(names("per_layer").subsetOf(r.out.layer.keySet), r.out.layer.keySet)
      val owner = Trace.attribute(r.spans, r.jobs)
      val cascades = r.spans.filter(_.name == "ivm.cascade").map(_.id).toSet
      assert(r.jobs.exists(j => owner(j.id).exists(cascades)), "no job attributed to a cascade span")
      // rows scanned are read off the lookup jobs' input metrics
      val ratio = r.out.layer("query.rows_returned_per_row_scanned").value
      assert(ratio > 0 && ratio <= 1, ratio)
    }
  }

  test("the multiset check ignores order and ids but catches a changed row") {
    val spark = graft.GraftSession.getOrCreate("perfbench-test")
    import spark.implicits._
    val a = Seq((1L, "x", "id1"), (2L, "y", "id2"), (2L, "y", "id3")).toDF("n", "s", "_entryId")
    val sameRowsOtherIds = Seq((2L, "y", "q"), (1L, "x", "r"), (2L, "y", "s")).toDF("n", "s", "_entryId")
    val oneRowChanged = Seq((1L, "x", "id1"), (2L, "y", "id2"), (3L, "y", "id3")).toDF("n", "s", "_entryId")
    val duplicateDropped = Seq((1L, "x", "id1"), (2L, "y", "id2")).toDF("n", "s", "_entryId")
    assert(Pipeline.multisetDiff(a, sameRowsOtherIds).isEmpty)
    assert(Pipeline.multisetDiff(a, oneRowChanged).nonEmpty)
    assert(Pipeline.multisetDiff(a, duplicateDropped).nonEmpty)
  }
}
