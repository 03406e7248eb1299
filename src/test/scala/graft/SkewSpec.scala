package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("AQE splits a skewed shuffle join at runtime (the no-salt path)") {
    // AQE's OptimizeSkewedJoin is the engine's skew remedy — prove
    // the session is actually capable of it so a 100 TB hot key hits
    // a split, not one 10-hour task. Thresholds
    // lowered so the local fixture (one key = 95% of a 200k-row fact)
    // qualifies as skewed; broadcast disabled so the join shuffles.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, lit(1L))
          .otherwise(pmod(col("id") / 20, lit(50)).cast("long") + 2).as("k"),
          col("id").as("v"))
      val dim = spark.range(60).select(col("id").as("k"), (col("id") * 10).as("w"))
      // join only — a downstream groupBy(k) would NEED the hash
      // partitioning and veto the skew split (AQE refuses to break a
      // required distribution); real pipelines re-aggregate after, as
      // q29 does, accepting the extra exchange when skew bites
      val df = fact.join(dim, "k").select(col("v") + col("w"))
      // drive THIS queryExecution so the adaptive plan we inspect is
      // the one that actually ran (isFinalPlan=true)
      assert(df.queryExecution.executedPlan.execute().count() === 200000L)
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("skewed"),
        s"AQE did not split the skewed partition:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
