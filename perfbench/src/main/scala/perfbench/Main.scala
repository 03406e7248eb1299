package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark JVM entry point. Runs one workload against inputs made by
  * gen.py and writes `result.json` into the work directory; run.py
  * adds the checks that need Python and prints the final line.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  */
object Main {

  final case class Args(workload: String, input: String, work: String,
      seconds: Int, trace: Boolean, cpus: Int) {
    lazy val manifest: JsonNode =
      new ObjectMapper().readTree(Files.readString(Paths.get(input, "manifest.json")))
    def fresh(name: String): String = {
      val p = Paths.get(work, s"$name-${Main.counter.incrementAndGet()}")
      p.toString
    }
  }

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
      detail: Seq[(String, String)]) {
    def json: String = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
      "detail" -> Json.obj(detail)))
  }

  private val counter = new java.util.concurrent.atomic.AtomicInteger

  /** Session builds per run; setup_s is their median. The first one
    * also pays the JVM's class loading. */
  val SetupRounds = 5

  /** Wall time of each step of a run, reported with the result. */
  val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps(name) = steps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** A session as the nozzle and the query suite build theirs: local
    * mode on every core, the engine's defaults, all scratch state
    * inside the run's work directory. */
  def session(a: Args): SparkSession = {
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[${a.cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", a.fresh("warehouse"))
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession(spark)
  }

  /** Seconds taken by a trivial one-row job: the floor under every
    * per-job cost (median of seven). */
  def jobFloorMs(spark: SparkSession): Double =
    Stat.median((1 to 7).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })

  def main(argv: Array[String]): Unit = {
    require(argv.length == 5,
      "usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>")
    val a = Args(argv(0), argv(1), argv(2), argv(3).toInt, argv(4) == "1",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    Files.createDirectories(Paths.get(a.work))
    val result = a.workload match {
      case "nozzle_bulk" | "nozzle_trickle_faults" => NozzleBench.run(a)
      case "batch_queries" => BatchBench.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val withSteps = result.copy(detail = result.detail :+
      ("steps_s" -> Json.obj(steps.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(a.work, "result.json"), withSteps.json + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
