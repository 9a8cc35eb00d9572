package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Catalog

/** Catalog queries over the shipped sf0.01 tables, in a seeded order per
  * pass, each built through `Catalog.queries(name)(spark, dir)` and written
  * to the noop sink. Every input is under the one-task caps, so the fused
  * branches run and the time goes to plan build and the scheduling floor.
  * Set-up runs one pass first, so the timed passes are warm. */
final class CatalogMix(ctx: Ctx) extends Workload {
  import ctx._
  import CatalogMix._

  val primarySpan = "catalog.query"

  private val dir = s"$data/sf0.01"
  private val queries = Catalog.queries
  private val names = Catalog.benchNames
  private val buildSecs = mutable.ArrayBuffer.empty[Double]
  /** Timed latencies of each query. */
  private val ran = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def order(pass: Int): IndexedSeq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(names.toIndexedSeq)

  def prepare(): Unit = {
    require(names.forall(expected.contains),
      s"expected hashes missing for ${names.filterNot(expected.contains)}")
    // warm-up: one pass, so the timed region sees warm queries
    names.foreach(n => run(n))
  }

  /** Build the query, then run it into the noop sink; returns the build
    * seconds. */
  private def run(name: String): Double = {
    val t0 = System.nanoTime()
    val df = trace.span("queries.build")(queries(name)(spark, dir))
    val built = (System.nanoTime() - t0) / 1e9
    trace.span("queries.exec")(
      df.write.format("noop").mode("overwrite").save())
    built
  }

  def step(i: Int): Unit = {
    val name = order(i / names.size)(i % names.size)
    buildSecs += rec.timed(primarySpan)(run(name))
    rec.items += 1
    ran.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      rec.samples(primarySpan).last.secs
  }

  /** Each query's median latency, so every query weighs the same whichever
    * of them the last, partial pass reached. */
  override def latencies(rec: Recorder): Seq[Double] =
    ran.values.map(xs => Stats.quantile(xs.toSeq, 0.5)).toSeq

  /** Re-run every query that ran and compare its result's hash with the
    * value derived from the oracle-checked dump. A mismatch fails every
    * timed run of that query. */
  def verify(): Unit = {
    ran.keys.toSeq.sorted.foreach { n =>
      val got = scala.util.Try(hash(queries(n)(spark, dir)))
      if (!got.toOption.contains(expected(n))) {
        System.err.println(s"perfbench: $n hash $got != ${expected(n)}")
        rec.failed += ran(n).size
      }
    }
    rec.detail("catalog.checked_queries") = ran.size.toDouble
    rec.detail("queries.build.p50_s") = Stats.quantile(buildSecs.toSeq, 0.5)
  }
}

object CatalogMix {
  /** Order-insensitive fingerprint of a result: row count and four folds of
    * a per-row hash over the name-sorted columns. */
  def hash(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
        bit_xor(col("h")), min(col("h")), max(col("h")))
      .head()
    (0 until 5).map(i => if (r.isNullAt(i)) "null" else r.get(i).toString)
      .mkString(":")
  }

  lazy val expected: Map[String, String] = {
    val in = getClass.getResourceAsStream("/catalog_sf0.01.tsv")
    if (in == null) Map.empty
    else {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split('\t'))
        .map(a => a(0) -> a(1)).toMap
      finally src.close()
    }
  }

  /** Print `name<TAB>hash` for every bench query over the oracle-checked
    * Verify dump under `dumpDir` (one parquet directory per query). */
  def deriveExpected(spark: SparkSession, dumpDir: String): Unit =
    (Catalog.benchNames ++ Catalog.benchNamesExtended).sorted.foreach { n =>
      println(s"$n\t${hash(spark.read.parquet(s"$dumpDir/$n"))}")
    }
}
