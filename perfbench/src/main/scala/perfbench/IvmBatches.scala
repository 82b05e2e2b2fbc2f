package perfbench

import graft.ListenEvent
import graft.operators.{IncrementalGraph, QueryService}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** In-process batch maintenance over large state: the graph is seeded with
  * `seedRows` testTable rows and `keySpace` distinct grades keys, then
  * absorbs `batchRows`-row batches through `IncrementalGraph` and answers
  * lookups through `QueryService`, with no network layer.
  *
  * One cycle is `testInsertsPerCycle` testTable batches, a grades batch
  * on every `gradesEvery`-th cycle, `deletesPerCycle` single-row testTable
  * deletes and `lookupsPerCycle` lookups. Every grades batch is key-unique
  * on `name`, the precondition `IncrementalGraph` documents for union
  * inputs; keys repeat across batches, so aggregation and union upsert.
  * In-process subscribers on `derived` and `aggregationTest` keep the
  * delta they are handed and its arrival time; the delta is counted after
  * the call's timing stops. */
final class IvmBatches(spark: SparkSession, seed: Long, p: Params, tracer: Tracer) {
  private val out = new Outcome("ivm_batches")
  private val samples = new Samples
  private val rng = new java.util.Random(seed)
  private var nextIteration = p.seedRows.toLong
  private val deleted = mutable.Set.empty[Long]
  private val Stride = 7919L // prime, so `batchRows` consecutive strides name distinct keys

  private final class Stack(val graph: IncrementalGraph) {
    val queries = new QueryService(graph.table _)
    val commitNs = new AtomicLong(0L)
    @volatile var lastDelta: (String, DataFrame, Long) = ("", null, 0L) // table, delta, arrival
  }

  private def name(i: Column): Column = format_string("g%06d", i)

  private def testRows(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(
      pmod(xxhash64(col("id"), lit(seed)), lit(20)).as("testForIndex"),
      col("id").as("testForIteration"))

  private def gradeRows(offset: Long, n: Long): DataFrame =
    spark.range(0, n).select(
      name(pmod(lit(offset) + col("id") * Stride, lit(p.keySpace.toLong))).as("name"),
      pmod(xxhash64(col("id"), lit(offset), lit(seed)), lit(100)).cast("int").as("grade"))

  private def bootstrap(): Stack = {
    val cfg = Pipeline.config()
    val users = spark.range(0, p.keySpace / 5).select(name(col("id") * 5).as("name"),
      (lit(18) + pmod(col("id"), lit(40))).cast("int").as("age"))
    val graph = new IncrementalGraph(spark, cfg, Map(
      "testTable" -> testRows(0, p.seedRows), "users" -> users,
      "grades" -> gradeRows(0, p.keySpace)))
    val st = new Stack(graph)
    if (tracer.enabled)
      Seq("testTable", "grades").foreach(t =>
        graph.listen(t, ListenEvent.Both)((_, _) => st.commitNs.set(Trace.now())))
    Seq("derived", "aggregationTest").foreach(t =>
      graph.listen(t, ListenEvent.Insert)((ins, _) => st.lastDelta = (t, ins, Trace.now())))
    st
  }

  def run(): Outcome = {
    val st = Harness.setup(spark, tracer, p.bootstrapReps, out)(bootstrap())(_ => ())(
      cycle(_, 0, timed = false, testInserts = 1, deletes = 1, lookups = 4))
    val cycles = Harness.measure(tracer, p)(cycle(st, _, timed = true))
    out.layer("ivm.cycles") = Metric(cycles, "count")
    tracer.span("check")(out.check(Pipeline.checkAgainstRecompute(spark, st.graph.config, st.graph)))
    out.timing("insert", samples("insert"))
    out.timing("delete", samples("delete"))
    out.timing("lookup", samples("lookup"))
    out.timing("listen_lag", samples("listen_lag"))
    val rows = samples("rows").sum
    out.e2e("ingest_rows_per_s") = Metric(rows / (samples("insert").sum / 1e3), "1/s", samples.count("insert"))
    Seq("testTable", "grades").foreach { t =>
      if (samples.count(s"batch.$t") > 0)
        out.layer(s"ivm.batch_ms.$t") = Metric(Stats.median(samples(s"batch.$t")), "ms",
          samples.count(s"batch.$t"), "ingest_rows_per_s")
    }
    Seq("testTable", "derived", "grades", "unionTest", "aggregationTest").foreach(t =>
      out.layer(s"ivm.mat_partitions.$t") =
        Metric(st.graph.table(t).rdd.getNumPartitions, "count", moves = "lookup_p50_ms"))
    out
  }

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Time one call, then check it outside the timing. */
  private def timedCall[T](spanName: String)(call: => T): (T, Long, Long) = {
    var t1 = 0L
    val t0 = Trace.now()
    val r = tracer.span(spanName) {
      val r = call
      t1 = Trace.now()
      r
    }
    (r, t0, t1)
  }

  private def guarded(timed: Boolean)(body: => Seq[String]): Unit = {
    val problems = try body catch { case e: Exception => Seq(s"operation failed: $e") }
    if (timed) out.op(problems) else out.check(problems)
  }

  private def splitEdit(st: Stack, t0: Long, t1: Long): Unit =
    Harness.splitEdit(tracer, st.commitNs.get(), t0, t1, "ivm.notify")

  private def cycle(st: Stack, n: Int, timed: Boolean, testInserts: Int = p.testInsertsPerCycle,
                    deletes: Int = p.deletesPerCycle, lookups: Int = p.lookupsPerCycle): Unit = {
    // a fixed order: an operation runs slower right after one of another
    // kind, so the testTable inserts run back to back and their median
    // stays inside the warm ones
    (1 to testInserts).foreach(_ => insertTest(st, timed))
    if (n % p.gradesEvery == 0) insertGrades(st, timed)
    (1 to deletes).foreach(_ => deleteTest(st, timed))
    if (p.gradeDelete && !timed) deleteGrades(st)
    // point-lookup keys sit at the same evenly spread quantiles of the key
    // range in every run: FindOne's cost steps up with the partition that
    // holds the key, and a seeded offset moved the lookup median by run
    (0 until lookups).foreach(i =>
      lookup(st, if (timed) Pipeline.lookupKind(i) else i % 4, timed, (i + 0.5) / lookups))
  }

  /** Delete one grades key: the union rebuild and aggregation delete path. */
  private def deleteGrades(st: Stack): Unit = guarded(timed = false) {
    val key = f"g${rng.nextInt(p.keySpace)}%06d"
    val edits = st.graph.deleteWithEdits("grades", "name", key)
    val agg = edits.collectFirst { case ("aggregationTest", ins, _) => ins.count() }
    if (agg.forall(_ == 0L)) Nil else Seq(s"grades delete $key left ${agg.get} aggregationTest rows")
  }

  private def insertTest(st: Stack, timed: Boolean): Unit = guarded(timed) {
    val rows = p.batchRows
    val batch = testRows(nextIteration, rows)
    nextIteration += rows
    val (edits, t0, t1) = timedCall("edit.insert.testTable")(
      st.graph.insertWithEdits("testTable", batch))
    splitEdit(st, t0, t1)
    if (timed) {
      samples.add("insert", ms(t0, t1)); samples.add("batch.testTable", ms(t0, t1))
      samples.add("rows", rows.toDouble)
    }
    val (deltaTable, delta, arrived) = st.lastDelta
    if (timed && deltaTable == "derived" && arrived >= t0) samples.add("listen_lag", ms(t0, arrived))
    val byTable = edits.map { case (t, ins, del) => t -> (ins, del) }.toMap
    val seen = if (delta == null) -1L else delta.count()
    Seq(
      if (deltaTable == "derived" && seen == rows) None
      else Some(s"derived subscriber saw $seen rows of $deltaTable, expected $rows"),
      if (byTable.keySet == Set("testTable", "derived", "filterTest")) None
      else Some(s"testTable batch touched ${byTable.keySet.mkString(",")}"),
      {
        val want = batch.where(col("testForIndex") < 11 && col("testForIteration") > 14).count()
        val got = byTable.get("filterTest").map(_._1.count()).getOrElse(-1L)
        if (got == want) None else Some(s"filterTest delta $got rows, expected $want")
      }).flatten
  }

  private def insertGrades(st: Stack, timed: Boolean): Unit = guarded(timed) {
    val rows = p.batchRows
    val offset = rng.nextInt(p.keySpace).toLong
    val batch = gradeRows(offset, rows)
    val (edits, t0, t1) = timedCall("edit.insert.grades")(
      st.graph.insertWithEdits("grades", batch))
    splitEdit(st, t0, t1)
    if (timed) {
      samples.add("insert", ms(t0, t1)); samples.add("batch.grades", ms(t0, t1))
      samples.add("rows", rows.toDouble)
    }
    val (deltaTable, delta, arrived) = st.lastDelta
    if (timed && deltaTable == "aggregationTest" && arrived >= t0) samples.add("listen_lag", ms(t0, arrived))
    val byTable = edits.map { case (t, ins, del) => t -> (ins, del) }.toMap
    val seen = if (delta == null) -1L else delta.count()
    Seq(
      if (deltaTable == "aggregationTest" && seen == rows) None
      else Some(s"aggregationTest subscriber saw $seen rows of $deltaTable, expected $rows"),
      {
        val u = byTable.get("unionTest").map(_._1.count()).getOrElse(-1L)
        if (u == rows) None else Some(s"unionTest upserted $u rows, expected $rows")
      }).flatten
  }

  /** The first live key at or after the given fraction of the key range. */
  private def liveKeyAt(frac: Double): Long = {
    var v = math.min(nextIteration - 1, (frac * nextIteration).toLong)
    while (deleted(v)) v = (v + 1) % nextIteration
    v
  }

  private def liveKey(): Long = {
    var v = rng.nextInt(nextIteration.toInt).toLong
    while (deleted(v)) v = rng.nextInt(nextIteration.toInt).toLong
    v
  }

  private def deleteTest(st: Stack, timed: Boolean): Unit = guarded(timed) {
    val v = liveKey()
    val (edits, t0, t1) = timedCall("edit.delete.testTable")(
      st.graph.deleteWithEdits("testTable", "testForIteration", v.toInt))
    splitEdit(st, t0, t1)
    if (timed) samples.add("delete", ms(t0, t1))
    deleted += v
    val counts = edits.map { case (t, _, del) => t -> del.count() }.toMap
    if (counts.get("testTable").contains(1L) && counts.get("derived").contains(1L)) Nil
    else Seq(s"delete testTable $v removed $counts")
  }

  private def lookup(st: Stack, kind: Int, timed: Boolean, frac: Double): Unit = guarded(timed) {
    val q = st.queries
    // the span records the rows the call returned; rows scanned come from
    // the jobs' input metrics (Layers)
    def timedRows(spanName: String)(df: => DataFrame): Seq[Row] = {
      val (r, t0, t1) = timedCall(spanName)(df.collect().toSeq)
      tracer.annotate(tracer.lastId, "rows" -> r.size.toString)
      if (timed) samples.add("lookup", ms(t0, t1))
      r
    }
    kind match {
      case 0 =>
        val v = liveKeyAt(frac)
        val r = timedRows("query.FindOne")(q.findOne("testTable", "testForIteration", v.toInt))
        if (r.size == 1 && r.head.getAs[Long]("testForIteration") == v) Nil
        else Seq(s"FindOne testTable $v returned $r")
      case 1 =>
        val v = liveKeyAt(frac)
        val r = timedRows("query.GetAll")(q.getAll("derived", "newColumn", v.toInt + 2))
        if (r.size == 1) Nil else Seq(s"GetAll derived ${v + 2} returned ${r.size} rows")
      case 2 =>
        val want = (0L until nextIteration).iterator.filterNot(deleted).take(3).toSeq
        val k = want.last + 1
        val r = timedRows("query.LessThan")(q.lessThan("testTable", "testForIteration", k.toInt))
        val got = r.map(_.getAs[Long]("testForIteration"))
        if (got == want) Nil else Seq(s"LessThan testTable $k returned $got, expected $want")
      case _ =>
        val want = (nextIteration - 1 to 0L by -1).iterator.filterNot(deleted).take(3).toSeq.reverse
        val k = want.head
        val r = timedRows("query.GreaterThan")(q.greaterThan("testTable", "testForIteration", k.toInt))
        val got = r.map(_.getAs[Long]("testForIteration"))
        if (got == want) Nil else Seq(s"GreaterThan testTable $k returned $got, expected $want")
    }
  }
}
