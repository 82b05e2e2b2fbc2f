package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Sizes of one run. The timed region runs whole cycles until `seconds`
  * have passed and at least `minCycles` cycles ran; on the current engine
  * the cycle minimum sets the length, so every gated median rests on the
  * same number of samples in each run. A cycle makes `lookupsPerCycle`
  * lookups (ten reach every kind, `Pipeline.lookupKind`) and takes its
  * grades insert on every `gradesEvery`-th cycle. `gradeDelete` adds a
  * grades delete (the union rebuild path) to the warm-up; it costs
  * seconds, so only the reduced-size smoke runs take it. */
final case class Params(seconds: Double, bootstrapReps: Int, minCycles: Int, lookupsPerCycle: Int,
                        testInsertsPerCycle: Int, gradesEvery: Int, deletesPerCycle: Int, keySpace: Int,
                        seedRows: Int, batchRows: Int, gradeDelete: Boolean)

object Params {
  def apply(workload: String, seconds: Double, smoke: Boolean): Params = (workload, smoke) match {
    case ("serve_rowwise", false) => Params(seconds, 3, 3, 10, 3, 1, 2, 8, 0, 1, gradeDelete = false)
    case ("serve_rowwise", true)  => Params(seconds, 1, 1, 10, 3, 1, 1, 4, 0, 1, gradeDelete = true)
    case ("ivm_batches", false)   => Params(seconds, 3, 2, 10, 3, 2, 2, 10000, 30000, 5000, gradeDelete = false)
    case ("ivm_batches", true)    => Params(seconds, 1, 1, 10, 2, 1, 1, 500, 1000, 100, gradeDelete = true)
    case (other, _) => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Runs one workload in this JVM and writes `result.json` (and, when
  * traced, `spans.json`) into the output directory:
  *
  * {{{
  *   Main <workload> <seed> <seconds> <trace 0|1> <outDir> [smoke]
  * }}}
  *
  * `perfbench/run.py` builds the classpath, isolates the run's state and
  * turns the result into the benchmark's report. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, outDir) = args.take(5)
    val smoke = args.drop(5).contains("smoke")
    val res = run(workload, seed.toLong, seconds.toDouble, trace == "1", smoke)
    write(new File(outDir), res)
    // Spark and the server leave non-daemon threads behind
    System.exit(0)
  }

  final case class Result(out: Outcome, spans: Seq[Span], jobs: Seq[JobRec])

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, smoke: Boolean): Result = {
    val p = Params(workload, seconds, smoke)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.getOrCreate("perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(traced)
    val cores = spark.sparkContext.defaultParallelism
    var serve: Option[ServeRowwise] = None
    val out = workload match {
      case "serve_rowwise" => val w = new ServeRowwise(spark, seed, p, tracer); serve = Some(w); w.run()
      case "ivm_batches" => new IvmBatches(spark, seed, p, tracer).run()
    }
    out.layer("spark.session_s") = Metric(sessionS, "s", moves = "setup_s")
    out.e2e("setup_s") = Metric(sessionS + out.e2e("setup_s").value, "s")
    val jobs = listener.map(_.completed(spark.sparkContext)).getOrElse(Nil)
    if (traced) {
      Layers.compute(out, tracer.all, jobs, cores)
      serve.foreach(_.afterTrace(tracer.all, jobs))
    }
    Result(out, tracer.all, jobs)
  }

  private def write(dir: File, res: Result): Unit = {
    val mapper = new ObjectMapper()
    val o = res.out
    val root = mapper.createObjectNode()
    root.put("workload", o.workload)
    root.put("attempted", o.attempted)
    root.put("failed", o.failed)
    val fails = root.putArray("failures")
    o.failures.take(20).foreach(fails.add)
    def metrics(key: String, m: Iterable[(String, Metric)]): Unit = {
      val node = root.putObject(key)
      m.foreach { case (name, x) =>
        val n = node.putObject(name)
        n.put("value", x.value); n.put("unit", x.unit)
        if (x.n > 0) n.put("n", x.n)
        if (x.moves.nonEmpty) n.put("moves", x.moves)
      }
    }
    metrics("end_to_end", o.e2e)
    metrics("tails", o.tails)
    metrics("per_layer", o.layer)
    val raw = root.putObject("samples_ms")
    o.raw.foreach { case (k, xs) => val a = raw.putArray(k); xs.foreach(x => a.add(x)) }
    Files.write(new File(dir, "result.json").toPath, mapper.writeValueAsBytes(root))
    if (res.spans.nonEmpty) {
      val owner = Trace.attribute(res.spans, res.jobs)
      val sp = mapper.createArrayNode()
      res.spans.sortBy(_.start).foreach { s =>
        val n = sp.addObject()
        n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
        n.put("start_ns", s.start); n.put("end_ns", s.end)
        n.put("self_ns", Trace.selfTimeNs(s, res.spans))
        s.attrs.foreach { case (k, v) => n.put(k, v) }
      }
      val jb = mapper.createArrayNode()
      res.jobs.sortBy(_.id).foreach { j =>
        val n = jb.addObject()
        n.put("id", j.id); n.put("start_ms", j.startMs); n.put("end_ms", j.endMs)
        owner(j.id).foreach(n.put("span", _))
        n.put("stages", j.stages); n.put("tasks", j.tasks); n.put("run_ms", j.runMs)
        n.put("gc_ms", j.gcMs); n.put("scheduler_delay_ms", j.schedDelayMs)
        n.put("shuffle_read_bytes", j.shuffleReadBytes); n.put("shuffle_write_bytes", j.shuffleWriteBytes)
        n.put("spill_bytes", j.spillBytes); n.put("records_read", j.recordsRead)
      }
      val t = mapper.createObjectNode()
      t.set[ObjectNode]("spans", sp)
      t.set[ObjectNode]("jobs", jb)
      Files.write(new File(dir, "spans.json").toPath, mapper.writeValueAsString(t).getBytes(UTF_8))
    }
  }
}
