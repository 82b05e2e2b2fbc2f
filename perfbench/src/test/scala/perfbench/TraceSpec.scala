package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private val ms = 1000000L
  private def job(id: Int, start: Long, end: Long) = JobRec(id, start, end, 1, 1, 0, 0, 0, 0, 0, 0)

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val parent = Span(1, 0, "req", 0, 100 * ms)
    val spans = Seq(parent,
      Span(2, 1, "a", 10 * ms, 30 * ms),
      Span(3, 1, "b", 20 * ms, 40 * ms), // overlaps a: 10..40 counts once
      Span(4, 1, "c", 90 * ms, 120 * ms), // runs past the parent: 90..100 counts
      Span(5, 2, "grandchild", 12 * ms, 14 * ms)) // not a direct child
    assert(Trace.selfTimeNs(parent, spans) == 100 * ms - 30 * ms - 10 * ms)
    assert(Trace.selfTimeNs(spans(1), spans) == 20 * ms - 2 * ms)
    assert(Trace.selfTimeNs(spans(4), spans) == 2 * ms)
  }

  test("a job belongs to the innermost span open at its start") {
    val spans = Seq(
      Span(1, 0, "measure", 0, 1000 * ms),
      Span(2, 1, "edit.insert.testTable", 100 * ms, 300 * ms),
      Span(3, 2, "ivm.cascade", 100 * ms, 250 * ms),
      Span(4, 2, "net.render", 250 * ms, 300 * ms))
    val owner = Trace.attribute(spans, Seq(job(1, 120, 130), job(2, 260, 270), job(3, 500, 510), job(4, 2000, 2001)))
    assert(owner(1).contains(3))
    assert(owner(2).contains(4))
    assert(owner(3).contains(1))
    assert(owner(4).isEmpty)
  }

  test("per-layer figures count only spans inside the timed region") {
    val spans = Seq(
      Span(1, 0, "setup", 0, 10 * ms), Span(2, 1, "warmup", 1 * ms, 9 * ms),
      Span(3, 2, "ivm.cascade", 2 * ms, 3 * ms),
      Span(4, 0, "measure", 10 * ms, 50 * ms), Span(5, 4, "cycle", 10 * ms, 50 * ms),
      Span(6, 5, "edit.insert.testTable", 11 * ms, 20 * ms), Span(7, 6, "ivm.cascade", 11 * ms, 15 * ms))
    assert(Layers.timedSpans(spans).map(_.id) == Seq(5, 6, 7))
  }

  test("lookup figures come from the run: rows returned by the calls, rows read by their jobs") {
    val spans = Seq(
      Span(1, 0, "measure", 0, 1000 * ms), Span(2, 1, "cycle", 0, 1000 * ms),
      Span(3, 2, "query.FindOne", 100 * ms, 200 * ms, Map("rows" -> "1")),
      Span(4, 2, "query.LessThan", 300 * ms, 400 * ms, Map("rows" -> "3")),
      Span(5, 2, "edit.insert.testTable", 500 * ms, 900 * ms))
    def read(id: Int, start: Long, records: Long) =
      JobRec(id, start, start + 10, 1, 2, 0, 0, 0, 0, 0, 0, records)
    val jobs = Seq(read(1, 110, 40), read(2, 310, 30), read(3, 320, 10), read(4, 600, 500), read(5, 700, 0))
    val out = new Outcome("w")
    Layers.compute(out, spans, jobs, cores = 2)
    assert(out.layer("query.rows_returned_per_row_scanned").value == 4.0 / 80)
    assert(out.layer("query.jobs_per_lookup").value == 1.5)
    assert(out.layer("spark.jobs_per_op").value == 5.0 / 3)
  }

  test("annotate adds attributes to a recorded span") {
    val t = new Tracer(true)
    t.span("query.FindOne")(())
    t.annotate(t.lastId, "rows" -> "2")
    assert(t.all.head.attrs == Map("rows" -> "2"))
  }

  test("idle share is the part of a window with no job running") {
    val jobs = Seq(job(1, 0, 10), job(2, 5, 20), job(3, 50, 60))
    assert(math.abs(Trace.idleShare(jobs, 0, 100 * ms) - 0.7) < 1e-9)
    assert(Trace.idleShare(Nil, 0, 10 * ms) == 1.0)
  }

  test("spans nest by the open stack; a disabled tracer records nothing") {
    val t = new Tracer(true)
    t.span("outer") {
      t.span("inner")(())
      t.record("marker", 1L, 2L, t.lastId)
    }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("outer").parent == 0)
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("marker").parent == byName("inner").id)
    val off = new Tracer(false)
    assert(off.span("x")(42) == 42 && off.all.isEmpty)
  }
}
