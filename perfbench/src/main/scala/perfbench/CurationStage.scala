package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis, TextHashFunctions}
import graft.pipeline.{IncrementalCuration, Maintenance}

/** The curation production loop's daily part over the sf1 documents: one
  * seeded batch through `IncrementalCuration.curateBatch`, and the
  * maintenance pass (`foldHistory` on both state tables, then
  * `compactPartitions`). Each batch reads and writes state, and the state
  * keeps growing.
  *
  * A batch is [[CurationStage.BatchReplicas]] make_sf1 replicas. From the
  * second batch on, one of them is a replica an earlier batch delivered,
  * with the same ids and text: the cross-batch digest claims must drop all
  * of it. The cap binds within a few batches, so later batches keep only
  * the sources' remaining budgets. */
final class CurationStage(ctx: Ctx) {
  import ctx._
  import CurationStage._

  private val docs = documents(spark, data)
  private val hist = s"$work/state"
  private val plan = new BatchPlan(seed)
  private var thresholds: DataFrame = _
  /** (doc_id, source, md5 of text) of every kept document. */
  private val kept = mutable.ArrayBuffer.empty[(Long, String, String)]
  private var delivered = 0L
  private lazy val fs = FileSystem.get(new java.net.URI(hist),
    spark.sessionState.newHadoopConf())

  def prepare(): Unit = {
    thresholds = spark.read.parquet(s"$data/thresholds").localCheckpoint()
    // warm-up: two batches and a maintenance pass on throwaway state
    val warm = s"$work/warm_state"
    val wplan = new BatchPlan(seed + 1)
    (0 until 2).foreach { b =>
      IncrementalCuration.curateBatch(slice(docs, wplan.replicas(b)), warm,
        s"w$b", thresholds, CapPerSource).count()
    }
    maintain(warm, "w1")
  }

  /** Curate batch i and count what it kept; returns the kept rows. */
  def batch(i: Int): DataFrame = {
    val out = trace.span("curation.curate")(IncrementalCuration.curateBatch(
      slice(docs, plan.replicas(i)), hist, s"b$i", thresholds, CapPerSource))
    trace.span("curation.count")(out.count())
    delivered += DocsPerBatch
    out
  }

  /** Fold both state tables, keeping the newest batch, and compact. */
  def maintain(path: String, protect: String): Unit = {
    trace.span("maintenance.fold")(Maintenance.foldHistory(spark,
      s"$path/digests", protect = Set(protect)))
    trace.span("maintenance.fold")(Maintenance.foldHistory(spark,
      s"$path/source_counts", protect = Set(protect), provenance = true))
    trace.span("maintenance.compact")(
      Maintenance.compactPartitions(spark, s"$path/digests", "batch"))
  }

  def maintain(b: Int): Unit = maintain(hist, s"b$b")

  /** After a timed batch: remember what it kept, for the invariants, and
    * the state's size. */
  def record(out: DataFrame): Unit = {
    kept ++= out.select(col("doc_id"), col("source"), hex(md5(col("text"))))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (files, bytes) = stateFiles()
    rec.detail("curation.state_files") = files.toDouble
    rec.detail("curation.state_bytes") = bytes.toDouble
  }

  /** After a timed maintenance pass: state files before and after it. */
  def recordMaintenance(): Unit = {
    rec.detail("maintenance.files_before") = rec.detail("curation.state_files")
    rec.detail("maintenance.files_after") = stateFiles()._1.toDouble
  }

  private def stateFiles(): (Long, Long) = {
    val (a, b) = LaunchStage.parquetFiles(fs, s"$hist/digests")
    val (c, d) = LaunchStage.parquetFiles(fs, s"$hist/source_counts")
    (a + c, b + d)
  }

  /** Across all batches: kept per source within the cap, no doc kept twice,
    * no two kept docs with the same text digest. One failure per broken
    * invariant. */
  def verify(): Unit = {
    val perSource = kept.groupBy(_._2).view.mapValues(_.size)
    def check(ok: Boolean, what: String): Unit = if (!ok) {
      System.err.println(s"perfbench: curation check failed: $what")
      rec.failed += 1
    }
    check(perSource.forall(_._2 <= CapPerSource), s"a source kept more than $CapPerSource")
    check(kept.map(_._1).distinct.size == kept.size, "a doc_id kept twice")
    check(kept.map(_._3).distinct.size == kept.size, "two kept docs share a text digest")
    rec.detail("curation.kept_ratio") = kept.size.toDouble / delivered.max(1L)
    // how many sources reached the cap: the cap check binds only on them
    rec.detail("curation.capped_sources") = perSource.count(_._2 == CapPerSource).toDouble
    rec.detail("curation.sources") = perSource.size.toDouble
  }
}

object CurationStage {
  /** sf1 = 100 replicas of the 500 base documents. */
  val Replicas = 100
  /** Batches of 2,500 documents: five replicas. */
  val BatchReplicas = 5
  val DocsPerBatch = BatchReplicas * 500
  /** Binds on most sources by the third batch. */
  val CapPerSource = 60

  /** The replicas of each batch, in a seeded order: batch 0 takes five
    * fresh replicas; every later batch four fresh ones plus one that an
    * earlier batch delivered. */
  final class BatchPlan(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val fresh = rng.shuffle((0 until Replicas).toIndexedSeq)
    private val batches = mutable.ArrayBuffer.empty[Seq[Int]]

    def replicas(b: Int): Seq[Int] = {
      while (batches.size <= b) {
        val k = batches.size
        val next =
          if (k == 0) fresh.take(BatchReplicas)
          else {
            val lo = BatchReplicas + (k - 1) * (BatchReplicas - 1)
            val again = batches.flatten
            // 24 batches use up the fresh replicas; a run makes a handful
            (lo until lo + BatchReplicas - 1).map(fresh) :+
              again(rng.nextInt(again.size))
          }
        batches += next
      }
      batches(b)
    }
  }

  def documents(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/sf1/documents.parquet")

  /** make_sf1 replicas `ks` of the base documents; replica k's ids start at
    * k·5000. */
  def slice(docs: DataFrame, ks: Seq[Int]): DataFrame =
    docs.where(ks.map(k => col("doc_id") >= lit(k * 5000L) &&
      col("doc_id") < lit((k + 1) * 5000L)).reduce(_ || _))

  /** The gate's pinned input: per-source thresholds from the first slice as
    * the reference corpus, scored by the gate's own kernel (the untimed
    * prepare step writes them next to the data). */
  def writeThresholds(spark: SparkSession, data: String): Unit = {
    val scored = slice(documents(spark, data), Seq(0))
      .withColumn("__st", TextHashFunctions.langStats(col("text")))
      .withColumn("__n_tokens",
        element_at(col("__st"), TextAnalysis.profiles.length + 1).cast("int"))
      .withColumn("__en_hits", element_at(col("__st"), 1).cast("int"))
      .where(col("__n_tokens") > 0)
      .select(col("source"),
        expr(TextAnalysis.qualityScore("__n_tokens", "__en_hits")).as("quality"))
    TextAnalysis.discreteThreshold(scored, 300)
      .write.mode("overwrite").parquet(s"$data/thresholds")
  }
}
