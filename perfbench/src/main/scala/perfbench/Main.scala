package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** One timed operation: wall seconds, JVM GC seconds inside it, and whether
  * it ran traced. */
final case class Sample(secs: Double, gcSecs: Double, traced: Boolean)

/** Timed samples of one run, by series: a series is named after the span of
  * the call it times. Every timed call adds to the total the run loop stops
  * on. */
final class Recorder(trace: Trace) {
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Sample]]
  var items = 0L
  var attempted = 0
  var failed = 0
  var timedSecs = 0.0
  /** Workload figures reported by name in the run's detail line. */
  val detail = mutable.LinkedHashMap.empty[String, Double]

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Time one call as a sample of `name`, inside a span of that name. */
  def timed[T](name: String)(body: => T): T = {
    val g0 = gcMillis()
    val t0 = System.nanoTime()
    val out = trace.span(name)(body)
    val secs = (System.nanoTime() - t0) / 1e9
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      Sample(secs, (gcMillis() - g0) / 1e3, trace.enabled)
    timedSecs += secs
    attempted += 1
    out
  }

  def samples(name: String): Seq[Sample] =
    series.get(name).map(_.toSeq).getOrElse(Nil)
}

/** What a workload does; [[Main]] owns the session, timing and output. */
trait Workload {
  /** Inputs and warm-up: all the work before the first timed operation. */
  def prepare(): Unit
  /** One step of the closed loop: the primary operation and any other
    * operation due after it, each through `rec.timed`. */
  def step(i: Int): Unit
  /** Operations after the timed loop, each through `rec.timed`. */
  def finish(): Unit = ()
  /** Output checks after the timed region; mismatches go to rec.failed. */
  def verify(): Unit
  /** Series of the operation the end-to-end latencies describe. */
  def primarySpan: String
  /** Latencies behind `op_p50_s` and `op_mean_s`. */
  def latencies(rec: Recorder): Seq[Double] = rec.samples(primarySpan).map(_.secs)
  /** Items per second of the primary operations. */
  def throughput(rec: Recorder): Double =
    rec.items / rec.samples(primarySpan).map(_.secs).sum
}

final case class Ctx(spark: SparkSession, rec: Recorder, trace: Trace,
                     seed: Long, data: String, work: String)

/** Runs one workload in this JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --work <dir>
  * }}}
  *
  * Prints `PERFBENCH_READY <epoch ms>` when the first timed operation is
  * about to start (set-up ends there) and one `PERFBENCH_RESULT {json}`
  * line at the end. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traced = args.get("--trace").contains("1")
    val work = args("--work")
    val t0 = System.nanoTime()

    val s0 = System.nanoTime()
    val spark = GraftSession.getOrCreate(s"perfbench-$workload")
    val sessionSecs = (System.nanoTime() - s0) / 1e9
    // prepare steps of run.py, outside any timed region
    workload match {
      case "prepare_launch_history" =>
        LaunchStage.landHistory(spark, s"$work/zone")
        spark.stop(); return
      case "prepare_curation_thresholds" =>
        CurationStage.writeThresholds(spark, args("--data"))
        spark.stop(); return
      case "derive_catalog_expected" =>
        CatalogMix.deriveExpected(spark, args("--data"))
        spark.stop(); return
      case _ =>
    }
    val trace = new Trace(spark, s"$workload-$seed", t0)
    val rec = new Recorder(trace)
    val ctx = Ctx(spark, rec, trace, seed, args("--data"), work)
    val w: Workload = workload match {
      case "daily_pipeline" => new DailyPipeline(ctx)
      case "catalog_sf0.01" => new CatalogMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")

    // closed loop, one client: the next step starts when the last one ends;
    // in a traced run the odd steps are traced (the daily pipeline's
    // batches fall on them) and the even ones give the untraced baseline
    // the tracing overhead is measured against; the operations after the
    // loop run traced
    var i = 0
    val wall0 = System.nanoTime()
    while (rec.timedSecs < seconds) {
      if (traced && i % 2 == 1) trace.start() else if (traced) trace.stop()
      try w.step(i)
      catch {
        case scala.util.control.NonFatal(e) =>
          rec.failed += 1
          rec.attempted += 1
          System.err.println(s"perfbench: step $i failed: $e")
      }
      i += 1
    }
    val wallSecs = (System.nanoTime() - wall0) / 1e9
    val loopSecs = rec.timedSecs
    if (traced) trace.start()
    w.finish()
    if (traced) trace.stop()
    w.verify()
    // peak RSS follows how far the collector grew the heap more than what
    // the program holds, so it is reported but not gated; the gated figure
    // is the heap still in use after a full GC once all work is done
    rec.detail("peak_rss_mb") = Stats.peakRssMb()
    val liveHeapMb = Stats.liveHeapMb()

    val ops = rec.samples(w.primarySpan).map(_.secs)
    val lat = w.latencies(rec)
    val e2e = mutable.LinkedHashMap(
      "op_p50_s" -> Stats.quantile(lat, 0.5),
      "op_mean_s" -> Stats.mean(lat),
      "items_per_s" -> w.throughput(rec),
      "live_heap_mb" -> liveHeapMb)
    rec.series.foreach { case (name, xs) =>
      rec.detail(s"$name.n") = xs.size.toDouble
      rec.detail(s"$name.p50_s") = Stats.quantile(xs.map(_.secs).toSeq, 0.5)
      rec.detail(s"$name.mean_s") = Stats.mean(xs.map(_.secs).toSeq)
    }
    val layers =
      if (traced) Layers.report(trace, w, rec, sessionSecs, spark)
      else Seq("engine.session_s" -> sessionSecs)
    if (traced) trace.write(s"$work/spans.jsonl")
    val meta = Seq(
      "cpus" -> GraftSession.cpus.toString,
      "master" -> spark.sparkContext.master,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "ops" -> ops.size.toString,
      "timed_s" -> f"$loopSecs%.3f", "loop_wall_s" -> f"$wallSecs%.3f")
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "e2e" -> Json.nums(e2e.toSeq),
      "layers" -> Json.nums(layers),
      "detail" -> Json.nums(rec.detail.toSeq),
      "op_secs" -> ops.map(Json.num).mkString("[", ",", "]"),
      "meta" -> Json.obj(meta.map { case (k, v) => k -> Json.str(v) }))))
    spark.stop()
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Heap in use after full GCs, in MiB. The first GC lets Spark's context
    * cleaner drop the shuffle and broadcast blocks of unreachable plans;
    * the second, after it has run, collects them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally status.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(kv: Seq[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) })
}
