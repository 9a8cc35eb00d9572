package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the synthetic corpus (TESTDATA.md): one parquet per table
  * under an sf directory. All reads go through `spark.read.parquet` so
  * Catalyst's vectorized reader, filter pushdown and column pruning apply.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped relation cache, the same role as Spark's catalog relation
    * cache for `read.table`: building a parquet relation costs ~50 ms of file
    * listing + footer schema read per call (measured, tools/FloorProbe), and
    * a DataFrame is an immutable plan — safe to reuse. Keyed by the session
    * instance so concurrent sessions (tests) never share file indexes.
    * Entries for sessions whose SparkContext has stopped are evicted on the
    * (rare) cache-miss path, so the map is bounded by LIVE sessions rather
    * than pinning every session ever seen (the test-suite pattern: each
    * suite builds a session and stops it at the end). */
  private val relationCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(all.contains(name), s"unknown table: $name")
    relationCache.getOrElseUpdate((spark, sfDir, name), {
      relationCache.keySet.filter(_._1.sparkContext.isStopped)
        .foreach(relationCache.remove)
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      // LEGACY guard: only pre-2026-08-13 testdata wrote events.ts as parquet
      // TIMESTAMP(NANOS), which nanosAsLong reads as raw LONG nanos (current
      // generations are TIMESTAMP(MICROS) and skip this branch). Floor ns→µs —
      // `div` truncates toward zero, which would round PRE-epoch (negative)
      // nanos up by 1 µs relative to DuckDB's floor conversion of the file.
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L")))
      else df
    })
  }

  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Register every corpus table as a temp view so the whole surface is
    * reachable from pure `spark.sql(...)`. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))

  /** Materialize a table bucketed (and sorted) by a join key: two tables
    * bucketed the same way co-locate their joins — the fact⋈fact answer at
    * 100 TB where neither side broadcasts, paying the shuffle ONCE at write
    * time instead of on every join (PlanShapeSpec asserts the exchange-free
    * plan). Bucket count is fixed at write time; size it to the target
    * parallelism (~2× cluster cores). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}
