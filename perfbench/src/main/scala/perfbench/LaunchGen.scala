package perfbench

import java.time.LocalDate

/** Seeded Launch Library 2 `mode=list` pages, served from memory through
  * the pipeline's [[graft.pipeline.LaunchPipeline.PageFetcher]] seam.
  *
  * Launches per day vary by ±10% around a weekly shape: most days fit one
  * page, the busy day needs three. Where a day spans pages, the source's
  * offset pagination drifts now and then and the next page repeats the
  * previous page's last launch, so some ids are delivered twice. The true
  * answer per day is the number of distinct ids the day delivered. */
final class LaunchGen(seed: Long) {
  import LaunchGen._

  private val statuses = Seq(
    ("Launch Successful", "Success"), ("Go for Launch", "Go"),
    ("To Be Determined", "TBD"), ("Launch Failure", "Failure"))
  private val rockets = Seq("Falcon 9 Block 5", "Electron", "Long March 2D",
    "Soyuz 2.1b", "Ariane 6", "PSLV-XL", "New Glenn", "Vulcan VC4S")
  private val licenses = Seq("CC BY 4.0", "CC BY-SA 2.0", "NASA Media")
  /** Mean launches per weekday; the busy day needs three pages. */
  private val WeekShape = IndexedSeq(40, 60, 75, 35, 55, 250, 30)

  def day(date: LocalDate): Day = {
    val rng = new scala.util.Random(seed * 1000003L + date.toEpochDay)
    // a weekly shape with seeded jitter: every run of a few days sees the
    // same mix of quiet and busy days, so throughput compares across seeds
    val base = WeekShape((date.toEpochDay % WeekShape.size).toInt)
    val n = base - base / 10 + rng.nextInt(base / 5 + 1)
    val launches = (0 until n).map(i => launch(rng, date, i))
    val nPages = (n + PageSize - 1) / PageSize
    val chunks = launches.grouped(PageSize).toIndexedSeq
    // offset drift: a page may start with the previous page's last launch
    val paged = chunks.indices.map { p =>
      if (p > 0 && rng.nextDouble() < 0.5) chunks(p - 1).last +: chunks(p)
      else chunks(p)
    }
    val pages = paged.indices.map { p =>
      val next =
        if (p + 1 < nPages)
          s""""https://ll.example/2.2.0/launch/?mode=list&limit=$PageSize&offset=${(p + 1) * PageSize}""""
        else "null"
      s"""{"count":$n,"next":$next,"previous":null,"results":[${paged(p).mkString(",")}]}"""
    }
    Day(date, pages, paged.map(_.size).sum, n)
  }

  private def launch(rng: scala.util.Random, date: LocalDate, i: Int): String = {
    val id = f"${seed & 0xffffffL}%06x-${date.toEpochDay}%05x-$i%04x"
    val (status, abbrev) = statuses(rng.nextInt(statuses.size))
    val image =
      if (rng.nextDouble() < 0.2) "null"
      else s"""{"image_url":"https://img.example/$id.png","license":{"name":"${licenses(rng.nextInt(licenses.size))}"}}"""
    val secs = rng.nextInt(86400)
    val net = f"${date}T${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02dZ"
    s"""{"id":"$id","url":"https://ll.example/2.2.0/launch/$id/",""" +
      s""""name":"${rockets(rng.nextInt(rockets.size))} | Mission ${rng.nextInt(10000)}",""" +
      s""""status":{"name":"$status","abbrev":"$abbrev"},"image":$image,""" +
      s""""net":"$net","last_updated":"${date}T23:59:00Z"}"""
  }
}

object LaunchGen {
  /** `limit` of the pipeline's page fetch. */
  val PageSize = 100

  /** One day's page bodies, the launches they deliver (duplicates
    * included) and the distinct ids among them. */
  final case class Day(date: LocalDate, pages: IndexedSeq[String],
                       delivered: Int, distinct: Int)
}
