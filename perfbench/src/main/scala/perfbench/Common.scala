package perfbench

import graft.config.PipelineConfig
import graft.operators.{ActionRegistry, GraftAction, IncrementalGraph, PipelineGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A reported figure: `moves` names the end-to-end metric a per-layer
  * figure should move, `n` the samples behind a timing. */
final case class Metric(value: Double, unit: String, n: Int = 0, moves: String = "")

/** Everything one run reports. */
final class Outcome(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  /** Tails named by the percentile their sample count supports (printed,
    * not gated: no fixed percentile is supported by every workload). */
  val tails = mutable.LinkedHashMap.empty[String, Metric]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Every timed sample by kind, in milliseconds, for later inspection. */
  val raw = mutable.LinkedHashMap.empty[String, Seq[Double]]
  var attempted = 0
  var failed = 0

  /** Count one operation; `problems` non-empty marks it failed. */
  def op(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; failures ++= problems.take(3) }
  }

  /** A failed check that is not an operation of its own (the final
    * recompute comparison): it fails the run without inflating attempts. */
  def check(problems: Seq[String]): Unit =
    if (problems.nonEmpty) { failed += 1; failures ++= problems }

  /** Record a timing: its median under `<prefix>_p50_ms`, and its tail
    * under the percentile the sample count supports. */
  def timing(prefix: String, samplesMs: Seq[Double]): Unit = {
    raw(prefix) = samplesMs
    e2e(s"${prefix}_p50_ms") = Metric(Stats.median(samplesMs), "ms", samplesMs.size)
    Stats.tailPercentile(samplesMs.size).filter(_ > 50).foreach { p =>
      tails(s"${prefix}_${Stats.label(p)}_ms") =
        Metric(Stats.percentile(samplesMs, p), "ms", samplesMs.size)
    }
  }
}

/** Per-kind latency samples in milliseconds. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(kind: String, ms: Double): Unit = m.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  def apply(kind: String): Seq[Double] = m.get(kind).map(_.toSeq).getOrElse(Nil)
  def count(kind: String): Int = m.get(kind).map(_.size).getOrElse(0)
}

/** The run shape both workloads share: repeated bootstraps, one warm-up,
  * then whole timed cycles. */
object Harness {
  private def persisted(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Bootstrap `reps` times, keeping the last; each discarded bootstrap's
    * cached blocks are dropped so they do not leave the timed region under
    * extra memory pressure. Then warm up once. `setup_s` gets the median
    * bootstrap plus the warm-up (the caller adds session start). */
  def setup[S](spark: SparkSession, tracer: Tracer, reps: Int, out: Outcome)
              (bootstrap: => S)(discard: S => Unit)(warmup: S => Unit): S = tracer.span("setup") {
    val bootMs = mutable.ArrayBuffer.empty[Double]
    var st: Option[S] = None
    var before = persisted(spark)
    (1 to reps).foreach { _ =>
      st.foreach { s =>
        discard(s)
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before(id)) rdd.unpersist(blocking = true)
        }
      }
      before = persisted(spark)
      val t0 = System.nanoTime()
      st = Some(tracer.span("config.bootstrap")(bootstrap))
      bootMs += (System.nanoTime() - t0) / 1e6
    }
    val w0 = System.nanoTime()
    tracer.span("warmup")(warmup(st.get))
    val boot = Stats.median(bootMs.toSeq)
    out.layer("config.bootstrap_ms") = Metric(boot, "ms", bootMs.size, "setup_s")
    out.e2e("setup_s") = Metric(boot / 1e3 + (System.nanoTime() - w0) / 1e9, "s")
    st.get
  }

  /** Run whole cycles, numbered from 0, until `p.seconds` have passed and
    * at least `p.minCycles` cycles ran; returns the cycle count. */
  def measure(tracer: Tracer, p: Params)(cycle: Int => Unit): Int =
    tracer.span("measure") {
      val start = System.nanoTime()
      var cycles = 0
      while (cycles < p.minCycles || (System.nanoTime() - start) / 1e9 < p.seconds) {
        tracer.span("cycle")(cycle(cycles))
        cycles += 1
      }
      cycles
    }

  /** Split an edit span that just closed at its cascade commit (traced
    * runs): `ivm.cascade` before it, `after` from commit to return. */
  def splitEdit(tracer: Tracer, commitNs: Long, t0: Long, t1: Long, after: String): Unit =
    if (tracer.enabled && commitNs >= t0 && commitNs <= t1) {
      val edit = tracer.lastId
      tracer.record("ivm.cascade", t0, commitNs, edit)
      tracer.record(after, commitNs, t1, edit)
    }
}

/** The reference's test_cfg.yaml DAG: testTable feeds derived and
  * filterTest; users and grades feed unionTest; grades feeds
  * aggregationTest and actionTest. */
object Pipeline {
  val yaml: String =
    """tables:
      |  - name: testTable
      |    kind: source
      |    columns: {testForIndex: Integer, testForIteration: Integer}
      |  - name: users
      |    kind: source
      |    columns: {name: Str, age: Integer}
      |  - name: grades
      |    kind: source
      |    columns: {name: Str, grade: Integer}
      |  - name: derived
      |    kind: function
      |    source_table: testTable
      |    functions: ["newColumn ~ testForIteration + 2"]
      |  - name: unionTest
      |    kind: union
      |    tables_and_foreign_keys: [[users, name], [grades, name]]
      |  - name: filterTest
      |    kind: filter
      |    source_table: testTable
      |    filter: "(testForIndex < 11) && (testForIteration > 14)"
      |  - name: aggregationTest
      |    kind: aggregation
      |    source_table: grades
      |    aggregated_column: name
      |    functions: ["count ~ memo.count + 1", "sum ~ memo.sum + grade", "average ~ memo.sum / memo.count"]
      |  - name: actionTest
      |    kind: action
      |    source_table: grades
      |    action: TestAction
      |""".stripMargin

  val Sources: Seq[String] = Seq("testTable", "users", "grades")
  val Derived: Seq[String] = Seq("derived", "filterTest", "unionTest", "aggregationTest", "actionTest")
  private val IdColumns = Set("_entryId", "_sourceEntryId")

  /** Parse the config; the action must be registered before a graph is built. */
  def config(): PipelineConfig = {
    ActionRegistry.register(GraftAction("TestAction", identity))
    PipelineConfig.fromYaml(yaml)
  }

  def filterHolds(index: Int, iteration: Int): Boolean = index < 11 && iteration > 14

  /** The timed lookup mix: 0 FindOne, 1 GetAll, 2 LessThan, 3 GreaterThan.
    * FindOne, the reference benchmark's lookup, is seven in ten, so the
    * median lies inside one kind's latencies instead of between the fast
    * GetAll and the sorting range scans, where it would jump by run. */
  def lookupKind(i: Int): Int = i % 10 match {
    case 7 => 1
    case 8 => 2
    case 9 => 3
    case _ => 0
  }


  /** Each source's latest row per union key (max ingest id). */
  private def latestPerKey(df: DataFrame, key: String): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key).orderBy(col("_entryId").desc)))
      .where(col("__rn") === 1).drop("__rn")

  /** Compare every derived table with a from-scratch [[PipelineGraph]]
    * recompute over the graph's final sources, as multisets without the id
    * columns. unionTest upserts by key, so it is compared with the
    * recompute over each source's latest row per key: a plain recompute
    * joins every stored row of a repeated key (Transforms.union is a full
    * outer join), which is not what the incremental upsert maintains. */
  def checkAgainstRecompute(spark: SparkSession, cfg: PipelineConfig,
                            graph: IncrementalGraph): Seq[String] = {
    val finalSources = Sources.map(s => s -> graph.table(s)).toMap
    val fresh = new PipelineGraph(spark, cfg, finalSources)
    val latest = new PipelineGraph(spark, cfg,
      finalSources.map { case (t, df) => t -> (if (t == "testTable") df else latestPerKey(df, "name")) })
    Derived.flatMap { t =>
      val want = if (t == "unionTest") latest.table(t) else fresh.table(t)
      multisetDiff(graph.table(t), want).map(d => s"final $t differs from recompute: $d")
    }
  }

  /** None when equal as multisets (id columns dropped, columns by name).
    * Each side is reduced to its row count and two order-independent sums
    * of per-row hashes, one aggregate job per side instead of two
    * exceptAll shuffles; equal multisets always agree, and unequal ones
    * agree only on a simultaneous collision of both 64- and 32-bit sums. */
  def multisetDiff(got: DataFrame, want: DataFrame): Option[String] = {
    def fields(df: DataFrame) =
      df.schema.fields.filterNot(f => IdColumns(f.name)).map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    if (fields(got) != fields(want))
      return Some(s"schema ${fields(got).mkString(",")} vs ${fields(want).mkString(",")}")
    val cols = fields(got).map(f => col(f._1))
    def digest(df: DataFrame): Seq[Any] =
      df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h1"), hash(cols: _*).cast("decimal(38,0)").as("h2"))
        .agg(count(lit(1)), sum("h1"), sum("h2")).head().toSeq
    val (g, w) = (digest(got), digest(want))
    if (g == w) None else Some(s"rows ${g.head} vs ${w.head}, row hashes differ")
  }
}
