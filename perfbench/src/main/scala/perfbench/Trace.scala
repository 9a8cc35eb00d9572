package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work done under one span: what the listener saw for the jobs that
  * the span's thread started. */
final class Counts {
  var jobs, stages, tasks, listingJobs = 0L
  var taskRunMs, taskCpuNs = 0L
  var scanBytes, scanRows = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var outputBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    listingJobs += o.listingJobs
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    scanBytes += o.scanBytes; scanRows += o.scanRows
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes
  }
}

/** Attributes jobs, stages and task metrics to the span id that the calling
  * thread carried as a local property when it started the job. Spark's file
  * listing marks its jobs with a "Listing leaf files" description. */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, (String, Long)]
  private val counts = mutable.Map.empty[String, Counts]
  /** (span id, start ms, end ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def of(span: String): Counts = counts.getOrElseUpdate(span, new Counts)

  def snapshot(): Map[String, Counts] = synchronized(counts.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).getOrElse("-")
    val c = of(span)
    c.jobs += 1
    if (props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .exists(_.startsWith("Listing leaf files")))
      c.listingJobs += 1
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
    jobSpan(e.jobId) = (span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      jobIntervals += ((span, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, "-")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, "-"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** One timed call: name, start and end (ns since the run began), the span
  * that caused it (-1 for an operation) and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
                      end: Long, run: String)

/** Spans around every call into a layer, kept in memory and written out when
  * the run ends. Tracing is switched on for single operations only, so one
  * traced run can compare its traced operations with untraced ones. */
final class Trace(spark: SparkSession, val run: String, t0: Long) {
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 0
  val listener = new LayerListener
  private var on = false

  def enabled: Boolean = on

  /** Attach the listener and record spans until [[stop]]. */
  def start(): Unit = if (!on) {
    PerfbenchBus.drain(sc)
    sc.addSparkListener(listener)
    on = true
  }

  /** Deliver pending events, detach the listener and stop recording. */
  def stop(): Unit = if (on) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, System.nanoTime()) :: stack
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      try body
      finally {
        val s = stack.head._2
        stack = stack.tail
        done += Span(id, name, parent, s - t0, System.nanoTime() - t0, run)
        sc.setLocalProperty(Trace.SpanKey,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq

  def write(path: String): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"run":"${s.run}"}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}
