package perfbench

/** Per-layer figures both reactive workloads share, computed from one
  * traced run's spans and the jobs Spark's listener bus reported.
  *
  * Span names the workloads use:
  *   - `edit.insert.<table>` / `edit.delete.<table>`: one edit call, with
  *     child `ivm.cascade` (call start to cascade commit) and a child for
  *     what follows the commit (`net.render` or `ivm.notify`);
  *   - `query.<Kind>`: one lookup;
  *   - `measure`: the timed region; only spans under it are counted. */
object Layers {
  /** Spans inside the timed region: warm-up edits run the same spans, colder. */
  def timedSpans(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter { s =>
      var p = byId.get(s.parent)
      while (p.exists(_.name != "measure")) p = byId.get(p.get.parent)
      p.isDefined
    }
  }

  def compute(out: Outcome, spans: Seq[Span], jobs: Seq[JobRec], cores: Int): Unit = {
    val owner = Trace.attribute(spans, jobs)
    val jobsBySpan: Map[Int, Seq[JobRec]] =
      jobs.flatMap(j => owner(j.id).map(_ -> j)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val byId = spans.map(s => s.id -> s).toMap
    def jobsIn(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
    def parentName(s: Span): String = byId.get(s.parent).map(_.name).getOrElse("")
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ms(s: Span): Double = s.durNs / 1e6

    val timed = timedSpans(spans)
    val cascades = timed.filter(_.name == "ivm.cascade")
    val insertCascades = cascades.filter(s => parentName(s).startsWith("edit.insert"))
    val deleteCascades = cascades.filter(s => parentName(s).startsWith("edit.delete"))
    val cascadeJobs = cascades.map(jobsIn)

    if (insertCascades.nonEmpty)
      out.layer("ivm.commit_ms") = Metric(Stats.median(insertCascades.map(ms)), "ms",
        insertCascades.size, "insert_p50_ms")
    out.layer("ivm.jobs_per_insert") = Metric(mean(insertCascades.map(jobsIn(_).size.toDouble)),
      "count", insertCascades.size, "insert_p50_ms")
    out.layer("ivm.jobs_per_delete") = Metric(mean(deleteCascades.map(jobsIn(_).size.toDouble)),
      "count", deleteCascades.size, "delete_p50_ms")
    out.layer("ivm.stages_per_edit") = Metric(mean(cascadeJobs.map(_.map(_.stages).sum.toDouble)),
      "count", cascades.size, "insert_p50_ms")
    out.layer("ivm.tasks_per_edit") = Metric(mean(cascadeJobs.map(_.map(_.tasks).sum.toDouble)),
      "count", cascades.size, "insert_p50_ms")
    out.layer("ivm.shuffle_write_bytes_per_edit") = Metric(
      mean(cascadeJobs.map(_.map(_.shuffleWriteBytes).sum.toDouble)), "bytes", cascades.size,
      "ingest_rows_per_s")
    val cascadeWallMs = cascades.map(ms).sum
    out.layer("ivm.task_busy_share") = Metric(
      if (cascadeWallMs <= 0) 0.0 else cascadeJobs.flatten.map(_.runMs).sum / (cascadeWallMs * cores),
      "ratio", cascades.size, "ingest_rows_per_s")

    val lookups = timed.filter(_.name.startsWith("query."))
    out.layer("query.jobs_per_lookup") = Metric(mean(lookups.map(jobsIn(_).size.toDouble)),
      "count", lookups.size, "lookup_p50_ms")
    out.layer("query.tasks_per_lookup") = Metric(mean(lookups.map(jobsIn(_).map(_.tasks).sum.toDouble)),
      "count", lookups.size, "lookup_p50_ms")
    lookups.groupBy(_.name.stripPrefix("query.")).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      out.layer(s"query.lookup_ms.$kind") = Metric(Stats.median(ss.map(ms)), "ms", ss.size, "lookup_p50_ms")
    }
    // returned: the rows each call gave back; scanned: the rows its jobs
    // read from the materialized tables (task input metrics)
    val returned = lookups.map(_.attrs.getOrElse("rows", "0").toDouble).sum
    val scanned = lookups.flatMap(jobsIn).map(_.recordsRead.toDouble).sum
    out.layer("query.rows_returned_per_row_scanned") = Metric(
      if (scanned <= 0) 0.0 else returned / scanned, "ratio", lookups.size, "lookup_p50_ms")

    spans.find(_.name == "measure").foreach { m =>
      val inWindow = jobs.filter(j => m.contains(j.startMs * 1000000L))
      val tasks = inWindow.map(_.tasks).sum
      // per operation, so a faster engine that fits more cycles in the
      // window does not read as more jobs
      val cycleIds = timed.filter(_.name == "cycle").map(_.id).toSet
      val ops = timed.count(s => cycleIds(s.parent))
      out.layer("spark.jobs_per_op") = Metric(inWindow.size.toDouble / math.max(ops, 1), "count", ops, "all")
      out.layer("spark.scheduler_delay_ms_per_task") = Metric(
        if (tasks == 0) 0.0 else inWindow.map(_.schedDelayMs).sum.toDouble / tasks, "ms", tasks, "all")
      out.layer("spark.gc_ms") = Metric(inWindow.map(_.gcMs).sum.toDouble, "ms", tasks, "all")
      out.layer("spark.job_idle_share") = Metric(Trace.idleShare(inWindow, m.start, m.end), "ratio",
        moves = "all")
    }
  }
}
