package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — trailing names restrict
    // the run to those queries (debug convenience; the driver passes 2)
    require(args.length >= 2, s"usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // a misspelled name would silently verify nothing and exit 0 —
    // the same fail-fast Bench applies to SPARK_GRAFT_ONLY
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Failures are RECORDED, not just logged: a query that throws
    // would otherwise be silently absent from the output dir and read
    // as "not attempted" instead of "broken" (the round-8 bench/
    // correctness artifacts diverged exactly this way when a testdata
    // schema change broke the events family).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // (The round-13/14 guard-quiescence gate lived here; round 15
    // rendered the BoundedPair guard into the q23/q216/q100/q251
    // oracles themselves, so they verify at any sf and the gate is
    // gone — see SimilarityQueries' oracle-domain note.)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        // free the previous query's localCheckpoint blocks (the Bench
        // discipline): Barrier persists them and a 257-query run would
        // otherwise accumulate storage blocks that squeeze execution
        // memory; queries are independent, so unpersisting is safe
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // repartition(1), not coalesce(1): coalesce narrows the UPSTREAM
        // computation to one task; repartition keeps the query parallel
        // and only funnels the (small) result for the single-file write.
        try fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
