package graft

/** Bench harness: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each result is written to the `noop` sink — a
  * full materialization of every output row/column — rather than
  * `count()`, which would let Catalyst prune projections and skip the
  * post-limit sort work (measuring a different, cheaper query).
  *
  * Each query runs SPARK_GRAFT_RUNS times (default 3) and reports the
  * per-query MINIMUM: single-run numbers on this box carry ±0.8 s of
  * scheduler/GC noise (q31 swung 1.14→1.93→1.15 s across rounds 2-4
  * with zero code changes), which made 1.2-1.3× "regressions"
  * indistinguishable from variance. The min is the stable statistic
  * for a cold-cache-free repeated measurement; the JSON also carries
  * per-query max so the reader can see the noise band.
  *
  * Failures are reported (stderr + "errors" field + time -1), never
  * silently folded into a row count.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val spark = GraftSession.local(cpus)
    // JIT/codegen warm-up so the first measured query doesn't absorb
    // session initialization (round-1 showed a 14 s first-query skew).
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    var errors = List.empty[String]
    // SPARK_GRAFT_ONLY=q146_editdup,q18_minhash restricts the run —
    // the single-query iteration loop while tuning a hot spot.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // a misspelled name would silently filter to zero queries and the
    // bench would report an empty success — fail fast instead
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      // stop at the first failure: a failing query marks the whole
      // entry failed regardless of the other runs, so re-running it
      // only multiplies wall-clock and stderr noise
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      var r = 0
      while (r < runs && !failed) {
        // Drop the previous run's localCheckpoint blocks before timing:
        // Barrier persists them and nothing frees them until the RDDs
        // are GC'd, so a whole-suite run accumulates storage blocks
        // that squeeze execution memory and skew later queries
        // (measured: the 257-query sf1 sweep took 1540 s in one JVM
        // with q183 at 225 s, vs ~3.8 s fresh-JVM — pure accumulation,
        // not query cost). Queries never reuse checkpoints across
        // runs, so unpersisting between runs is safe.
        // blocking = true: with blocking = false the eviction runs
        // asynchronously INSIDE the timed region that follows, leaking
        // the cleanup cost into exactly the measurement this unpersist
        // exists to stabilize. (Verify keeps blocking = false — no
        // timing there.)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          times += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed = true
        }
        r += 1
      }
      if (failed) { errors ::= name; (name, -1.0, -1.0) }
      else (name, times.min, times.max)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMax = results.map { case (k, _, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val errJson = errors.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"stat":"min","cpus":$cpus,"queries":$qs,"queries_max":$qsMax,"errors":$errJson,"sf":"$sfDir"}"""
    println(json)
    // The driver captures only a truncated stdout tail (BENCH_r01-r14
    // all arrived with parsed:null) — persist the full line to a file
    // so each round's numbers survive whole.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    // Compact summary printed LAST: the full 261-query line above is
    // ~15 KB, which overflows the driver's ~2 KB stdout-tail capture, so
    // every BENCH_r*.json through r14 recorded parsed:null. This line
    // carries the headline number plus only the slowest queries and stays
    // well under the tail window, so the last-JSON-line parse succeeds.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"stat":"min","cpus":$cpus,"n":${results.size},"queries":$slowest,"queries_note":"10 slowest of ${results.size}; full per-query line precedes this one and is persisted to $outPath","errors":$errJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
