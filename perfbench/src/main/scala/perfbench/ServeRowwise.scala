package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ListenEvent
import graft.net.{GraftClient, GraftServer}
import graft.operators.IncrementalGraph
import graft.sources.TaggedJson
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** The reference's `benchmark.rs` shape over TCP: one closed-loop client
  * sends sequential single-row InsertData into testTable and grades, a
  * small DeleteData share and point/range lookups, while a second
  * connection listens on `derived` and `aggregationTest`.
  *
  * One cycle is `testInsertsPerCycle` testTable inserts, a grades insert
  * on every `gradesEvery`-th cycle, `deletesPerCycle` testTable deletes
  * and `lookupsPerCycle` lookups; warm-up is a short cycle; the timed
  * region runs whole cycles (`Harness.measure`). Every response and pushed
  * event is checked after its timing stops. */
final class ServeRowwise(spark: SparkSession, seed: Long, p: Params, tracer: Tracer) {
  private val mapper = new ObjectMapper()
  private val rng = new java.util.Random(seed)
  private val names = (0 until p.keySpace).map(i => f"user$i%03d")
  private val out = new Outcome("serve_rowwise")
  private val samples = new Samples
  private val EventTimeoutS = 120L

  // client-side model of what the server should hold
  private val liveTest = mutable.TreeMap.empty[Int, Int] // testForIteration -> testForIndex
  private val gradeSums = mutable.Map.empty[String, (Long, Long)] // name -> (count, sum)
  private var nextIteration = 100
  private val sentEntries = mutable.ArrayBuffer.empty[String]

  private final class Stack(val graph: IncrementalGraph, val server: GraftServer,
                            val req: GraftClient, val listener: GraftClient) {
    val events = new LinkedBlockingQueue[(String, Long, JsonNode)]()
    val commitNs = new AtomicLong(0L)
    def close(): Unit = { req.close(); listener.close(); server.close() }
  }

  private def bootstrap(): Stack = {
    val cfg = Pipeline.config()
    val users = spark.createDataFrame(names.map(n => (n, 18 + math.abs(n.hashCode % 40))))
      .toDF("name", "age")
    val graph = new IncrementalGraph(spark, cfg, Map("users" -> users))
    val server = new GraftServer(graph)
    val st = new Stack(graph, server, new GraftClient("127.0.0.1", server.port),
      new GraftClient("127.0.0.1", server.port))
    if (tracer.enabled) {
      // commit marker: source-table notifications fire first, right after
      // the cascade commits; a Both subscription runs no job of its own
      Seq("testTable", "grades").foreach(t =>
        graph.listen(t, ListenEvent.Both)((_, _) => st.commitNs.set(Trace.now())))
    }
    Seq("derived", "aggregationTest").foreach(t =>
      st.listener.subscribeToEvent(t, "Insert")(v => st.events.put((t, Trace.now(), v))))
    // a round trip on the listener connection orders it after StartListen
    st.listener.findOne("testTable", "testForIteration", -1)
    st
  }

  def run(): Outcome = {
    val st = Harness.setup(spark, tracer, p.bootstrapReps, out)(bootstrap())(_.close()) { s =>
      cycle(s, 0, timed = false, testInserts = 2, deletes = 1, lookups = 4)
      if (p.gradeDelete) deleteGrades(s, names(rng.nextInt(names.size)))
    }
    try {
      val cycles = Harness.measure(tracer, p)(cycle(st, _, timed = true))
      out.layer("serve.cycles") = Metric(cycles, "count")
      tracer.span("check")(out.check(Pipeline.checkAgainstRecompute(spark, st.graph.config, st.graph)))
      summarize()
      if (tracer.enabled) wireCosts(st)
      Seq("testTable", "derived").foreach(t => out.layer(s"ivm.mat_partitions.$t") =
        Metric(st.graph.table(t).rdd.getNumPartitions, "count", moves = "lookup_p50_ms"))
    } finally st.close()
    out
  }

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private def intOf(e: JsonNode, c: String): Option[Long] =
    Option(e.get(c)).flatMap(v => Option(v.get("Integer"))).map(_.asLong())
  private def strOf(e: JsonNode, c: String): Option[String] =
    Option(e.get(c)).flatMap(v => Option(v.get("Str"))).map(_.asText())
  private def numOf(e: JsonNode, c: String): Option[Double] =
    Option(e.get(c)).map { v =>
      val f = v.properties().iterator().next().getValue
      if (f.isNumber) f.asDouble() else f.asText().toDouble
    }

  /** Run one operation: time `call`, then check its result outside the
    * timing. A thrown error counts as a failed operation. */
  private def op[T](kind: String, spanName: String, timed: Boolean)
                   (call: => T)(check: (T, Long, Long) => Seq[String]): Unit = {
    val problems =
      try {
        var t1 = 0L
        val t0 = Trace.now()
        val r = tracer.span(spanName) {
          val r = call
          t1 = Trace.now()
          r
        }
        if (timed) samples.add(kind, ms(t0, t1))
        check(r, t0, t1)
      } catch { case e: Exception => Seq(s"$kind failed: $e") }
    if (timed) out.op(problems) else out.check(problems)
  }

  /** Record the commit split of an edit that just returned (traced runs). */
  private def splitEdit(st: Stack, t0: Long, t1: Long): Unit =
    Harness.splitEdit(tracer, st.commitNs.get(), t0, t1, "net.render")

  /** Wait for the pushed Insert event of `table` that matches `ok`. */
  private def awaitEvent(st: Stack, table: String, t0: Long, timed: Boolean)
                        (ok: JsonNode => Boolean): Seq[String] = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(EventTimeoutS)
    while (System.nanoTime() < deadline) {
      val ev = st.events.poll(100, TimeUnit.MILLISECONDS)
      if (ev != null && ev._1 == table) {
        val rows = ev._3.get("ManyResults").get("Ok")
        if (rows != null && (0 until rows.size()).map(rows.get).exists(ok)) {
          if (timed) {
            samples.add("listen_lag", ms(t0, ev._2))
            val c = st.commitNs.get()
            if (tracer.enabled && c >= t0) samples.add("push", ms(c, ev._2))
          }
          return Nil
        }
      }
    }
    Seq(s"no $table Insert event within ${EventTimeoutS}s")
  }

  private def cycle(st: Stack, n: Int, timed: Boolean, testInserts: Int = p.testInsertsPerCycle,
                    deletes: Int = p.deletesPerCycle, lookups: Int = p.lookupsPerCycle): Unit = {
    // a fixed order: an operation runs slower right after one of another
    // kind, so the testTable inserts run back to back and their median
    // stays inside the warm ones
    (1 to testInserts).foreach(_ => insertTest(st, timed))
    if (n % p.gradesEvery == 0) insertGrade(st, timed)
    (1 to deletes).foreach(_ => deleteTest(st, timed))
    // point-lookup keys sit at the same evenly spread quantiles of the key
    // range in every run: FindOne's cost steps up with the partition that
    // holds the key, and a seeded offset moved the lookup median by run
    (0 until lookups).foreach(i =>
      lookup(st, if (timed) Pipeline.lookupKind(i) else i % 4, timed, (i + 0.5) / lookups))
  }

  private def insertTest(st: Stack, timed: Boolean): Unit = {
    val v = nextIteration; nextIteration += 1
    val idx = rng.nextInt(20)
    val entry = Map[String, Any]("testForIndex" -> idx, "testForIteration" -> v)
    sentEntries += s"""{"testForIndex":{"Integer":$idx},"testForIteration":{"Integer":$v}}"""
    op("insert", "edit.insert.testTable", timed)(st.req.insertData("testTable", entry)) {
      (resp, t0, t1) =>
        splitEdit(st, t0, t1)
        if (timed && tracer.enabled) samples.add("resp_bytes",
          resp.map(e => mapper.writeValueAsBytes(e).length).sum.toDouble)
        liveTest(v) = idx
        val src = resp.count(e => intOf(e, "testForIteration").contains(v.toLong) &&
          intOf(e, "testForIndex").contains(idx.toLong))
        val want = if (Pipeline.filterHolds(idx, v)) 2 else 1
        val derivedOk = resp.exists(e => intOf(e, "newColumn").contains(v + 2L))
        val shape =
          if (src == want && derivedOk && resp.size == want + 1) Nil
          else Seq(s"InsertData testTable $v: unexpected response ${resp.mkString(",")}")
        shape ++ awaitEvent(st, "derived", t0, timed)(e => intOf(e, "newColumn").contains(v + 2L))
    }
  }

  private def insertGrade(st: Stack, timed: Boolean): Unit = {
    val name = names(rng.nextInt(names.size))
    val grade = rng.nextInt(100)
    sentEntries += s"""{"grade":{"Integer":$grade},"name":{"Str":"$name"}}"""
    op("insert", "edit.insert.grades", timed)(
      st.req.insertData("grades", Map("name" -> name, "grade" -> grade))) { (resp, t0, t1) =>
      splitEdit(st, t0, t1)
      val (c, s) = gradeSums.getOrElse(name, (0L, 0L))
      gradeSums(name) = (c + 1, s + grade)
      val union = resp.exists(e => strOf(e, "matchingKey").contains(name) &&
        intOf(e, "grade").contains(grade.toLong))
      val agg = resp.exists(e => strOf(e, "aggregatedColumn").contains(name) &&
        numOf(e, "count").contains((c + 1).toDouble) && numOf(e, "sum").contains((s + grade).toDouble))
      val shape =
        if (union && agg) Nil else Seq(s"InsertData grades $name: unexpected response ${resp.mkString(",")}")
      shape ++ awaitEvent(st, "aggregationTest", t0, timed)(e =>
        strOf(e, "aggregatedColumn").contains(name) && numOf(e, "count").contains((c + 1).toDouble))
    }
  }

  private def deleteTest(st: Stack, timed: Boolean): Unit = {
    val keys = liveTest.keys.toIndexedSeq
    val v = keys(rng.nextInt(keys.size))
    val idx = liveTest(v)
    op("delete", "edit.delete.testTable", timed)(
      st.req.deleteData("testTable", "testForIteration", v)) { (resp, t0, t1) =>
      splitEdit(st, t0, t1)
      liveTest -= v
      val want = if (Pipeline.filterHolds(idx, v)) 3 else 2
      val derivedOk = resp.exists(e => intOf(e, "newColumn").contains(v + 2L))
      if (resp.size == want && derivedOk) Nil
      else Seq(s"DeleteData testTable $v: unexpected response ${resp.mkString(",")}")
    }
  }

  private def deleteGrades(st: Stack, name: String): Unit = {
    val (c, _) = gradeSums.getOrElse(name, (0L, 0L))
    op("delete", "edit.delete.grades", timed = false)(
      st.req.deleteData("grades", "name", name)) { (resp, _, _) =>
      gradeSums -= name
      val gradesRows = resp.count(e => strOf(e, "name").contains(name) && e.has("grade") &&
        !e.has("_sourceEntryId"))
      if (gradesRows == c) Nil
      else Seq(s"DeleteData grades $name: $gradesRows source rows deleted, expected $c")
    }
  }

  private def lookup(st: Stack, kind: Int, timed: Boolean, frac: Double): Unit = {
    val keys = liveTest.keys.toIndexedSeq
    // the span records the rows the server returned; rows scanned come
    // from the jobs' input metrics (Layers)
    def returned(n: Int): Unit = tracer.annotate(tracer.lastId, "rows" -> n.toString)
    kind match {
      case 0 =>
        val v = keys(math.min(keys.size - 1, (frac * keys.size).toInt))
        op("lookup", "query.FindOne", timed)(
          st.req.findOne("testTable", "testForIteration", v)) { (r, _, _) =>
          returned(r.size)
          if (r.exists(e => intOf(e, "testForIteration").contains(v.toLong) &&
                intOf(e, "testForIndex").contains(liveTest(v).toLong))) Nil
          else Seq(s"FindOne testTable $v returned $r")
        }
      case 1 =>
        val v = keys(math.min(keys.size - 1, (frac * keys.size).toInt))
        op("lookup", "query.GetAll", timed)(
          st.req.getAll("derived", "newColumn", v + 2)) { (r, _, _) =>
          returned(r.size)
          if (r.size == 1 && intOf(r.head, "newColumn").contains(v + 2L)) Nil
          else Seq(s"GetAll derived ${v + 2} returned ${r.size} rows")
        }
      case 2 =>
        val k = keys(math.min(2, keys.size - 1)) + 1
        val want = keys.takeWhile(_ < k).map(_.toLong)
        op("lookup", "query.LessThan", timed)(
          st.req.lessThan("testTable", "testForIteration", k)) { (r, _, _) =>
          returned(r.size)
          val got = r.flatMap(intOf(_, "testForIteration"))
          if (got == want) Nil else Seq(s"LessThan testTable $k returned $got, expected $want")
        }
      case _ =>
        val k = keys(math.max(0, keys.size - 3))
        val want = keys.dropWhile(_ < k).map(_.toLong)
        op("lookup", "query.GreaterThan", timed)(
          st.req.greaterThan("testTable", "testForIteration", k)) { (r, _, _) =>
          returned(r.size)
          val got = r.flatMap(intOf(_, "testForIteration"))
          if (got == want) Nil else Seq(s"GreaterThan testTable $k returned $got, expected $want")
        }
    }
  }

  private def summarize(): Unit = {
    out.timing("insert", samples("insert"))
    out.timing("delete", samples("delete"))
    out.timing("lookup", samples("lookup"))
    out.timing("listen_lag", samples("listen_lag"))
    val ins = samples("insert")
    out.e2e("ingest_rows_per_s") = Metric(ins.size / (ins.sum / 1e3), "1/s", ins.size)
    if (samples.count("push") > 0)
      out.layer("net.push_ms") = Metric(Stats.median(samples("push")), "ms", samples.count("push"),
        "listen_lag_p50_ms")
  }

  /** Wire-path figures a traced run adds: render and response bytes from
    * the spans, and the entry codec timed on this run's own frames. */
  private def wireCosts(st: Stack): Unit = {
    val rows = st.graph.table("testTable").collect().toSeq
    val schema = st.graph.table("testTable").schema
    def perCallUs(reps: Int, n: Int)(body: => Unit): Double = {
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        (1 to reps).foreach(_ => body)
        (System.nanoTime() - t0) / 1e3 / (reps.toDouble * n)
      }
      Stats.median(runs)
    }
    out.layer("wire.parse_entry_us") = Metric(
      perCallUs(200, sentEntries.size)(sentEntries.foreach(TaggedJson.parseEntry)), "us",
      sentEntries.size, "insert_p50_ms")
    out.layer("wire.render_entry_us") = Metric(
      perCallUs(200, rows.size)(rows.foreach(TaggedJson.toTaggedJson(_, schema))), "us",
      rows.size, "insert_p50_ms")
    out.layer("net.response_bytes") = Metric(Stats.median(samples("resp_bytes")), "bytes",
      samples.count("resp_bytes"), "insert_p50_ms")
  }

  /** Net-layer figures from the spans once the jobs are known: the time
    * and jobs between cascade commit and the response, by edit kind. */
  def afterTrace(spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val owner = Trace.attribute(spans, jobs)
    val editName = spans.map(s => s.id -> s.name).toMap
    val render = Layers.timedSpans(spans).filter(_.name == "net.render")
    if (render.nonEmpty)
      out.layer("net.render_ms") = Metric(Stats.median(render.map(_.durNs / 1e6)), "ms", render.size,
        "insert_p50_ms")
    Seq("insert" -> "insert_p50_ms", "delete" -> "delete_p50_ms").foreach { case (kind, moves) =>
      val ids = render.filter(r => editName.getOrElse(r.parent, "").startsWith(s"edit.$kind")).map(_.id).toSet
      if (ids.nonEmpty)
        out.layer(s"net.jobs_per_$kind") = Metric(
          jobs.count(j => owner(j.id).exists(ids)).toDouble / ids.size, "count", ids.size, moves)
    }
  }
}
