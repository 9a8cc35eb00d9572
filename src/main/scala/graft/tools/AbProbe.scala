package graft.tools

import graft.engine.GraftSession
import graft.queries.Catalog

/** Interleaved A/B of one session conf over catalog queries:
  *
  *   sbt "runMain graft.tools.AbProbe <key> <a> <b> [query...]"
  *
  * e.g. `spark.sql.adaptive.enabled true false` (feeds
  * `Catalog.staticPlanned`) or `spark.graft.scale.force fused atScale`.
  * Per query it prints best-of-N wall time per arm and the delta
  * (N = GRAFT_PROBE_ROUNDS, default 5; queries default to the head and
  * extended bench sets; data dir from SPARK_GRAFT_SF_DIR).
  *
  * Two traps this harness avoids:
  *  - `Catalog.queries` SETS the session's AQE conf during query build, and
  *    build-time decisions (the scale policy) read the conf then too. The
  *    key is set before the build AND again before the action — the
  *    executed plan is decided lazily — or a column silently measures the
  *    wrapper's choice.
  *  - measuring all-A then all-B biases the second column fast (more C2
  *    JIT warm-up by then); the arms alternate on every repetition.
  *
  * Queries whose CONSTRUCTION already executes jobs (checkpoints, driver
  * collects) run those under the build-time value only. */
object AbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AbProbe <key> <a> <b> [query...]")
    val Array(key, a, b) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("GRAFT_PROBE_ROUNDS", "5").toInt
    val spark = GraftSession.getOrCreate("graft-abprobe")
    val names = if (args.length > 3) args.drop(3).toSeq
      else Catalog.benchNames ++ Catalog.benchNamesExtended

    def run(name: String, v: String): Double = {
      spark.conf.set(key, v)
      val df = Catalog.queries(name)(spark, sfDir)
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    println(f"${"query"}%-28s ${a.take(8)}%8s ${b.take(8)}%8s ${"delta"}%8s")
    var totA = 0.0; var totB = 0.0
    names.foreach { name =>
      System.gc()
      run(name, a); run(name, b) // warm both arms
      val runs = (1 to rounds).map(_ => (run(name, a), run(name, b)))
      val (ba, bb) = (runs.map(_._1).min, runs.map(_._2).min)
      totA += ba; totB += bb
      println(f"$name%-28s $ba%8.3f $bb%8.3f ${ba - bb}%+8.3f")
    }
    println(f"${"TOTAL"}%-28s $totA%8.3f $totB%8.3f ${totA - totB}%+8.3f")
    spark.stop()
  }
}
