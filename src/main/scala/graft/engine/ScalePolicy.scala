package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** The one place that reads input statistics and picks a query's execution
  * shape. The same queries run from sf0.001 to sf5: below a cap the
  * distributed shape pays only scheduling floor, above it the tiny-scale
  * shape serializes real work, so each decision compares a zero-job
  * [[InputShape]] against constants measured in earlier rounds (the records
  * are in BASELINE.md and README's "Scale policy" section).
  *
  * Four decisions:
  *  - [[fuses]]: one-task fusion — bytes ≤ 16 MB AND rows ≤ 750k (inclusive
  *    caps). The catalog `coalesce(1)`s the scans and the whole query plans
  *    zero exchanges.
  *  - [[underSpread]]: kernel spread — the `(doc_id, text)` projection's
  *    estimate < 2 MB AND rows < 20k (exclusive) keep a per-row kernel pass
  *    on the scan's own split; otherwise it is hash-spread across cores.
  *  - [[mergesPairs]]: x34's pair-sort tail — embeddings < 16 MB merge the
  *    pair set on one task; otherwise checkpoint + parallel range sort.
  *  - [[windowRoute]]: `Relational.keyedRowNumbers` reads ranks straight off
  *    a one-partition input with a window instead of the two-pass.
  *
  * One switch, `spark.graft.scale.force=auto|fused|atScale`, overrides every
  * decision at once: `fused` takes each small-input branch, `atScale` each
  * distributed one, `auto` (the default) decides from the statistics. It is
  * the only `spark.graft.*` key; any other key under that prefix (a retired
  * threshold knob, a typo) fails loudly rather than being ignored. */
object ScalePolicy {

  /** Zero-job statistics of one input: Catalyst's `sizeInBytes` estimate
    * (compressed file bytes, scaled to the projection) and the exact row
    * count from the parquet footers. Both are needed: compressed bytes
    * drift with codec and corpus (the 2026-08-13 regeneration put 1M-row
    * events-sf1 under the 16 MB byte cap), row counts do not. */
  final case class InputShape(bytes: BigInt, rows: Long) {
    def +(o: InputShape): InputShape = InputShape(bytes + o.bytes, rows + o.rows)
  }

  sealed abstract class Force(val name: String)
  object Force {
    case object Auto extends Force("auto")
    case object Fused extends Force("fused")
    case object AtScale extends Force("atScale")
    val all: Seq[Force] = Seq(Auto, Fused, AtScale)
  }

  val ForceKey = "spark.graft.scale.force"

  /** 750k rows keeps every bench-SF fusion (sf0.1's largest input is
    * lineitem's 600k) and can never hold at sf1+ (events alone are 1M). */
  val OneTaskBytes: Long = 16L << 20
  val OneTaskRows: Long = 750L * 1000
  /** 20k docs sits 4× above sf0.1's 5k and 2.5× under sf1's 50k, so a
    * recompressed corpus cannot silently serialize a 50k-doc kernel pass. */
  val SpreadBytes: Long = 2L << 20
  val SpreadRows: Long = 20L * 1000
  /** Embeddings are 0.8 MB at sf0.1 and 5.2 MB at sf1 (both merge); the
    * parallel sort pays from sf5 (6.67 → 4.25 s, r17). */
  val PairSortBytes: Long = 16L << 20

  def fuses(in: InputShape): Boolean =
    in.bytes <= OneTaskBytes && in.rows <= OneTaskRows
  def underSpread(in: InputShape): Boolean =
    in.bytes < SpreadBytes && in.rows < SpreadRows
  def mergesPairs(in: InputShape): Boolean = in.bytes < PairSortBytes

  /** The session's force setting, after refusing every other `spark.graft.*`
    * key and every value outside auto|fused|atScale. */
  def force(spark: SparkSession): Force = {
    spark.conf.getAll.keys.find(k => k.startsWith("spark.graft.") && k != ForceKey)
      .foreach { k =>
        throw new IllegalArgumentException(s"unknown or retired setting '$k': " +
          s"the only spark.graft.* key is $ForceKey=auto|fused|atScale")
      }
    spark.conf.getOption(ForceKey).fold[Force](Force.Auto) { v =>
      Force.all.find(_.name == v).getOrElse(throw new IllegalArgumentException(
        s"$ForceKey=$v: expected one of ${Force.all.map(_.name).mkString("|")}"))
    }
  }

  private def decide(spark: SparkSession)(auto: => Boolean): Boolean =
    force(spark) match {
      case Force.Fused => true
      case Force.AtScale => false
      case Force.Auto => auto
    }

  /** One-task fusion over the summed shapes of `tables`: a multi-table
    * query decides once for all its inputs, so a fused side never meets an
    * unfused one across a join. */
  def oneTask(spark: SparkSession, dir: String, tables: String*): Boolean =
    decide(spark)(fuses(tables.map(shape(spark, dir, _)).reduce(_ + _)))

  /** True when per-row kernel passes over the corpus stay unspread. */
  def kernelUnderSpread(spark: SparkSession, dir: String): Boolean =
    decide(spark)(underSpread(shape(spark, dir, "documents", "doc_id", "text")))

  /** True when x34's pair set merges on one task. */
  def pairMerge(spark: SparkSession, dir: String): Boolean =
    decide(spark)(mergesPairs(shape(spark, dir, "embeddings")))

  /** True when `keyedRowNumbers` may take the window route. The statistic
    * is the physical partition count the caller chose: an input already
    * collapsed to one partition is serialized by construction. */
  def windowRoute(df: DataFrame): Boolean =
    decide(df.sparkSession)(df.rdd.getNumPartitions == 1)

  /** Session-scoped like the relation cache in [[Tables]]: a JVM that
    * regenerates testdata at the same path gets fresh statistics with its
    * fresh session, and stopped sessions' entries are evicted on the miss
    * path. Keyed by the projected columns too (empty = the whole table),
    * since Catalyst scales the byte estimate to the projection. */
  private val shapeCache = new scala.collection.concurrent.TrieMap[
    (SparkSession, String, String, Seq[String]), InputShape]

  def shape(spark: SparkSession, dir: String, table: String,
            cols: String*): InputShape =
    shapeCache.getOrElseUpdate((spark, dir, table, cols.toList), {
      shapeCache.keySet.filter(_._1.sparkContext.isStopped)
        .foreach(shapeCache.remove)
      val df = Tables(spark, dir, table)
      val projected = if (cols.isEmpty) df else df.select(cols.head, cols.tail: _*)
      InputShape(projected.queryExecution.optimizedPlan.stats.sizeInBytes,
        footerRows(spark, dir, table))
    })

  /** Exact row count from the parquet footers: a zero-job, driver-side
    * statistic of the same cost class as the relation's listing + schema
    * read. */
  private def footerRows(spark: SparkSession, dir: String, table: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(conf)
    // RECURSIVE listing: a nested or Hive-partitioned layout that
    // spark.read.parquet reads fine would list 0 top-level *.parquet files
    // and silently report 0 rows — defeating the row cap for exactly the
    // corpus-regeneration case it exists for. Walk the tree, skip the
    // hidden/metadata files the parquet source also skips, and fail LOUDLY
    // if no data file is found.
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.getFileStatus(path).isDirectory) {
        val it = fs.listFiles(path, true)
        val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
        while (it.hasNext) {
          val st = it.next()
          val n = st.getPath.getName
          if (st.isFile && n.endsWith(".parquet") &&
              !n.startsWith("_") && !n.startsWith(".")) buf += st
        }
        buf.toSeq
      } else Seq(fs.getFileStatus(path))
    require(files.nonEmpty,
      s"footerRows($dir/$table.parquet): no parquet data files found — " +
        "unexpected layout; refusing to report 0 rows")
    files.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}
