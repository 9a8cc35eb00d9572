package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ScalePolicy
import graft.queries.Catalog

/** The scale policy's one switch: a leftover threshold knob or a typo in
  * `SPARK_GRAFT_CONF` must fail the build naming the key, never be
  * silently ignored. */
class ScalePolicySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001, forced}

  private def buildFailsWith(key: String, value: String): String = {
    spark.conf.set(key, value)
    try intercept[IllegalArgumentException](
      Catalog.queries("q09_join_agg")(spark, sf0001)).getMessage
    finally spark.conf.unset(key)
  }

  test("a retired threshold key fails the build, naming the key") {
    val msg = buildFailsWith("spark.graft.oneTaskFloorBytes", "0")
    assert(msg.contains("spark.graft.oneTaskFloorBytes"), msg)
    assert(msg.contains(ScalePolicy.ForceKey), msg)
  }

  test("an unknown spark.graft key fails the build, naming the key") {
    val msg = buildFailsWith("spark.graft.scale.forced", "atScale")
    assert(msg.contains("spark.graft.scale.forced"), msg)
  }

  test("a scale.force value outside auto|fused|atScale fails the build") {
    val msg = buildFailsWith(ScalePolicy.ForceKey, "atscale")
    assert(msg.contains(ScalePolicy.ForceKey) && msg.contains("atscale"), msg)
  }

  test("auto is the default; fused and atScale override every decision") {
    assert(ScalePolicy.force(spark) == ScalePolicy.Force.Auto)
    // sf0.001 fuses under auto; each forced value wins over the statistics
    assert(ScalePolicy.oneTask(spark, sf0001, "events"))
    forced("auto")(assert(ScalePolicy.oneTask(spark, sf0001, "events")))
    forced("atScale") {
      assert(!ScalePolicy.oneTask(spark, sf0001, "events"))
      assert(!ScalePolicy.kernelUnderSpread(spark, sf0001))
      assert(!ScalePolicy.pairMerge(spark, sf0001))
    }
    forced("fused") {
      assert(ScalePolicy.oneTask(spark, sf0001, "events"))
      assert(ScalePolicy.kernelUnderSpread(spark, sf0001))
      assert(ScalePolicy.pairMerge(spark, sf0001))
    }
  }
}
