package graft

/** Phase breakdown probe for the whole-suite per-query constant
  * (OPTIMIZATION_r16, verdict item 7): for each named query, splits
  * the Bench-identical timed region into
  *
  *   construct — `fn(spark, sfDir)` returning the DataFrame: logical
  *       plan building plus any driver-side jobs the construction
  *       runs (Barrier localCheckpoints, k-means training collects,
  *       artifact counts);
  *   execute   — the noop-sink write of the returned frame (analysis,
  *       optimization, codegen, job scheduling, the actual work).
  *
  * Methodology matches Bench exactly (same session tuning, same
  * unpersist-before-run, same min-of-RUNS statistic) so
  * construct+execute ≈ the Bench number for the same query. This main
  * is a MEASUREMENT TOOL like PlanDump — it never feeds the driver's
  * bench protocol.
  *
  * Also prints a `__job_floor` row first: min time of a trivial
  * 1-row noop job — the irreducible per-job scheduling constant.
  *
  * Usage: BenchPhases <sfDir> <q1,q2,...|all>  (env: SPARK_GRAFT_RUNS)
  */
object BenchPhases {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchPhases <sfDir> <q1,q2,...|all>")
    val sfDir = args(0)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val spark = GraftSession.local()
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    val names: Seq[String] =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    def floorOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val floor = (1 to runs.max(5)).map(_ => floorOnce()).min
    println(f"__job_floor construct=0.000 execute=$floor%.3f total=$floor%.3f")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var bestC = Double.MaxValue
      var bestE = Double.MaxValue
      var bestT = Double.MaxValue
      (1 to runs).foreach { _ =>
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val (c, e) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        if ((t2 - t0) / 1e9 < bestT) { bestT = (t2 - t0) / 1e9; bestC = c; bestE = e }
      }
      println(f"$name construct=$bestC%.3f execute=$bestE%.3f total=$bestT%.3f")
    }
    spark.stop()
  }
}
