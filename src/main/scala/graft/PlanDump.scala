package graft

/** Writes `.explain("formatted")` output for the named queries to files.
  *
  * Usage: PlanDump <sfDir> <outDir> q18_minhash,q21_ngram,...
  * (or "all" for every declared query). One `<query>.txt` per query; a
  * query whose plan cannot be built writes `<query>.ERROR.txt` with the
  * stack trace instead of killing the sweep.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <q1,q2,...|all>")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.local()
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter(); e.printStackTrace(new java.io.PrintWriter(sw))
          java.nio.file.Files.write(outDir.resolve(s"$name.ERROR.txt"),
            sw.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] ERROR $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
