package perfbench

/** graft's production loop, one launch day at a time: land the day's
  * launches (ingest → transform → publish), and after every
  * [[DailyPipeline.DaysPerBatch]]th day curate a document batch. After the
  * timed loop, as the reference does once its days have run: a maintenance
  * pass over the curation state, one more batch on the maintained state,
  * and [[DailyPipeline.Serves]] serves (register + daily counts). Many small
  * writes: the time goes to the job floor, sink commits, zone listing and
  * state reads. Each call is its own timed series; the launch day is the one
  * the end-to-end figures describe, so they do not depend on the mix. */
final class DailyPipeline(ctx: Ctx) extends Workload {
  import ctx._
  import DailyPipeline._

  val primarySpan = "launch.day"

  private val launch = new LaunchStage(ctx)
  private val curation = new CurationStage(ctx)
  private var batches = 0
  /** Launch events each timed day delivered. */
  private val events = scala.collection.mutable.ArrayBuffer.empty[Double]

  def prepare(): Unit = {
    launch.prepare()
    curation.prepare()
  }

  private def batch(): Unit = {
    val kept = rec.timed("curation.batch")(curation.batch(batches))
    curation.record(kept)
    batches += 1
  }

  def step(i: Int): Unit = {
    events += rec.timed(primarySpan)(launch.day(i))
    if ((i + 1) % DaysPerBatch == 0) batch()
  }

  override def finish(): Unit = {
    if (batches == 0) batch()
    rec.timed("maintenance.pass")(curation.maintain(batches - 1))
    curation.recordMaintenance()
    batch()
    (0 until Serves).foreach { _ =>
      val served = rec.timed("launch.serve")(launch.serve())
      launch.check(served)
    }
  }

  /** Launch events per second over the first whole weeks of days: the
    * weekly shape repeats, so every run rates the same mix of quiet and
    * busy days. */
  override def throughput(rec: Recorder): Double = {
    val days = rec.samples(primarySpan).map(_.secs)
    val n = if (days.size < 7) days.size else days.size / 7 * 7
    events.take(n).sum / days.take(n).sum
  }

  def verify(): Unit = {
    launch.verify()
    curation.verify()
  }
}

object DailyPipeline {
  /** One batch per six launch days: 120 days to 20 batches, the sizes of
    * the probe that scoped this benchmark. */
  val DaysPerBatch = 6
  /** "The serving step repeats several times" after the days. */
  val Serves = 3
}
