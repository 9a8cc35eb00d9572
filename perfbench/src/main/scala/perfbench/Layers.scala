package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-layer figures of a traced run, from its spans and listener counts.
  * Counts are per primary operation (a day, a query, a batch) and cover only
  * the traced operations. */
object Layers {

  def report(trace: Trace, w: Workload, rec: Recorder, sessionSecs: Double,
             spark: SparkSession): Seq[(String, Double)] = {
    val spans = trace.spans
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    val counts = trace.listener.snapshot().collect {
      case (k, c) if k != "-" && byId.contains(k.toInt) => byId(k.toInt) -> c
    }
    val prim = spans.filter(s => s.parent < 0 && s.name == w.primarySpan)
    val primIds = prim.map(_.id).toSet
    val n = prim.size.max(1).toDouble
    val c = new Counts
    counts.foreach { case (s, v) => if (primIds(root(s).id)) c += v }
    val opWall = prim.map(s => (s.end - s.start) / 1e9).sum

    // wall time with at least one job running, per operation: the union of
    // the job intervals each operation started
    val jobSecs = trace.listener.jobIntervals.toSeq
      .collect { case (k, a, b) if k != "-" && byId.contains(k.toInt) &&
        primIds(root(byId(k.toInt)).id) => (root(byId(k.toInt)).id, a, b) }
      .groupBy(_._1).values.map { iv =>
        var covered = 0L
        var end = Long.MinValue
        iv.map(x => (x._2, x._3)).sortBy(_._1).foreach { case (a, b) =>
          if (a > end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        covered / 1e3
      }.sum

    // layer calls inside the operations against the operations' wall time
    val childSecs = spans.filter(s => s.parent >= 0 && primIds(s.parent))
      .map(s => (s.end - s.start) / 1e9).sum
    val primary = rec.samples(w.primarySpan)
    val tracedOps = primary.filter(_.traced).map(_.secs)
    val plainOps = primary.filterNot(_.traced).map(_.secs)
    val cores = spark.sparkContext.defaultParallelism.toDouble

    val generic = Seq(
      "engine.session_s" -> sessionSecs,
      "engine.jobs" -> c.jobs / n,
      "engine.stages" -> c.stages / n,
      "engine.tasks" -> c.tasks / n,
      "engine.task_run_s" -> c.taskRunMs / 1e3 / n,
      "engine.task_cpu_s" -> c.taskCpuNs / 1e9 / n,
      // GC is rare inside one launch day, so every timed call's GC is
      // spread over the primary operations
      "engine.gc_s" -> rec.series.values.flatten.map(_.gcSecs).sum /
        primary.size.max(1),
      "engine.job_s" -> jobSecs / n,
      "engine.outside_jobs_s" -> (opWall - jobSecs) / n,
      "engine.slot_busy_ratio" -> c.taskRunMs / 1e3 / (opWall * cores),
      "sources.scan_bytes" -> c.scanBytes / n,
      "sources.scan_rows" -> c.scanRows / n,
      "sources.listing_jobs" -> c.listingJobs / n,
      "exchange.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
      "exchange.shuffle_read_bytes" -> c.shuffleReadBytes / n,
      "exchange.spill_bytes" -> c.spillBytes / n,
      "sink.output_bytes" -> c.outputBytes / n,
      "trace.gap_ratio" -> (1 - childSecs / opWall),
      "trace.overhead_ratio" ->
        (Stats.quantile(tracedOps, 0.5) / Stats.quantile(plainOps, 0.5) - 1))

    // every span name: mean seconds and jobs per call, listing jobs too
    val names = mutable.LinkedHashMap.empty[String, (Int, Double, Counts)]
    spans.sortBy(_.id).foreach { s =>
      val (k, secs, cc) = names.getOrElse(s.name, (0, 0.0, new Counts))
      names(s.name) = (k + 1, secs + (s.end - s.start) / 1e9, cc)
    }
    counts.foreach { case (s, v) =>
      var cur: Option[Span] = Some(s)
      val seen = mutable.Set.empty[String]
      while (cur.isDefined) {
        val sp = cur.get
        if (seen.add(sp.name)) names.get(sp.name).foreach(_._3 += v)
        cur = if (sp.parent < 0) None else byId.get(sp.parent)
      }
    }
    names.foreach { case (name, (k, secs, cc)) =>
      rec.detail(s"${name}_s") = secs / k
      rec.detail(s"${name}_jobs") = cc.jobs.toDouble / k
      rec.detail(s"${name}_listing_jobs") = cc.listingJobs.toDouble / k
    }
    generic
  }
}
