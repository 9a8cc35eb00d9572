package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.pipeline.{LaunchPipeline => LP}

/** The reference pipeline's daily part: ingest → transform → publish of
  * seeded LL2 pages into a zone that already holds [[LaunchStage.History]]
  * days, and the serving step (register + daily counts). The history puts
  * the processed zone past Spark's parallel-listing threshold, so every
  * timed day pays the listing jobs a long-running zone pays. */
final class LaunchStage(ctx: Ctx) {
  import ctx._
  import LaunchStage._

  private val zones = LP.Zones(s"$work/zone")
  private val table = "launch_events"
  private val gen = new LaunchGen(seed)
  private val expected = mutable.Map.empty[LocalDate, Long]
  private var days = 0
  private var pages = 0L

  def prepare(): Unit = {
    require(new java.io.File(zones.processed).isDirectory,
      s"launch history missing under ${zones.base} (made by the prepare step)")
    val hist = new LaunchGen(HistorySeed)
    (0 until History).foreach { k =>
      val d = hist.day(Start.plusDays(k))
      expected(d.date) = d.distinct
    }
    // warm-up: a few days and a serve in a throwaway zone
    val warm = LP.Zones(s"$work/warm")
    val wgen = new LaunchGen(seed + 1)
    (1 to WarmDays).foreach { k =>
      val d = wgen.day(Start.minusDays(k))
      LP.run(spark, warm, d.date, fetcher(d))
    }
    LP.registerTable(spark, warm, "launch_events_warm")
    LP.dailyCounts(spark, "launch_events_warm").collect()
  }

  /** Day i after the history; returns the events it delivered. */
  def day(i: Int): Int = {
    val d = gen.day(Start.plusDays(History + i))
    val landed = trace.span("launch.ingest")(LP.ingest(zones, d.date, fetcher(d)))
    trace.span("launch.transform")(LP.transform(spark, zones, d.date))
    trace.span("launch.publish")(LP.publish(spark, zones, d.date))
    if (!landed) rec.failed += 1
    days += 1
    pages += d.pages.size
    expected(d.date) = d.distinct
    d.delivered
  }

  /** Register the serving table and read the daily counts. */
  def serve(): Map[LocalDate, Long] = {
    trace.span("launch.register")(LP.registerTable(spark, zones, table))
    trace.span("launch.dailycounts")(LP.dailyCounts(spark, table).collect())
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
  }

  /** A serve that returns a wrong count for any day, history included,
    * against the generator's distinct ids, is one failure. */
  def check(got: Map[LocalDate, Long]): Unit = {
    val wrong = (expected.keySet ++ got.keySet).filter(d => got.get(d) != expected.get(d))
    if (wrong.nonEmpty) {
      System.err.println(s"perfbench: serve wrong on ${wrong.size} days, e.g. ${wrong.min}")
      rec.failed += 1
    }
  }

  /** Report the zone's shape. */
  def verify(): Unit = {
    val fs = FileSystem.get(new java.net.URI(zones.base),
      spark.sessionState.newHadoopConf())
    val (files, _) = parquetFiles(fs, zones.processed)
    val (rFiles, rBytes) = parquetFiles(fs, zones.reports)
    rec.detail("launch.pages") = pages.toDouble / days.max(1)
    rec.detail("launch.zone_files") = (files + rFiles).toDouble
    rec.detail("launch.bytes_per_event") =
      rBytes.toDouble / expected.values.sum.max(1L)
  }
}

object LaunchStage {
  /** Days landed before the timed region, from their own fixed seed. Spark
    * lists more than 32 paths with a job; this puts the zone past that. */
  val History = 40
  val HistorySeed = 0L
  val WarmDays = 6
  val Start: LocalDate = LocalDate.parse("2024-01-01")

  def fetcher(d: LaunchGen.Day): LP.PageFetcher =
    (_, _, offset) => d.pages(offset / LaunchGen.PageSize)

  def parquetFiles(fs: FileSystem, dir: String): (Long, Long) = {
    val p = new Path(dir)
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var n = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }

  /** Land the history days into `zone` (the untimed prepare step). */
  def landHistory(spark: SparkSession, zone: String): Unit = {
    val gen = new LaunchGen(HistorySeed)
    (0 until History).foreach { k =>
      val d = gen.day(Start.plusDays(k))
      LP.run(spark, LP.Zones(zone), d.date, fetcher(d))
    }
  }
}
