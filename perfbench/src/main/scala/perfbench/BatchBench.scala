package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Passes over two fixed groups of `SparkEntry.queries`, each query
  * split into construct (the entry function returning its DataFrame,
  * which includes any Spark jobs it runs eagerly) and execute (the
  * DataFrame written to the `noop` sink). The streaming layer is not
  * involved.
  */
object BatchBench {
  import Main.{Args, Metric, Result}

  /** The nozzle's own batch analogues. */
  val eventFamily: Seq[String] = Seq("q01_scan", "q02_route", "q03_drop", "q04_detect",
    "q05_template", "q06_type_counts", "q07_counters", "q08_persec", "q09_delay",
    "q39_codec", "q68_json")

  /** The three largest construct times of the full suite among queries
    * whose DuckDB oracle answers in about a second (the BPE trio q115,
    * q87 and q86 rank higher but take 10-60 s each in DuckDB). */
  val constructHeavy: Seq[String] = Seq("q245_prefix_join", "q112_spandup", "q101_winnow")

  /** Timed passes per untraced run, at least; more while under --seconds. */
  val MinPasses = 1

  val groups: Seq[(String, Seq[String])] =
    Seq("event_family" -> eventFamily, "construct_heavy" -> constructHeavy)

  final case class Timing(name: String, group: String, construct: Double, execute: Double) {
    def total: Double = construct + execute
  }

  /** Planning time of every action, from the public listener API. */
  final class PlanningListener extends QueryExecutionListener {
    val ms = new java.util.concurrent.atomic.DoubleAdder
    private def add(qe: QueryExecution): Unit =
      ms.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  def run(a: Args): Result = {
    val tracer = new Tracer(a.trace)
    val names = groups.flatMap(_._2)
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: ${missing.mkString(", ")}")

    // Set-up: session build to the suite ready to run, several times.
    var spark: SparkSession = null
    val setupS = Main.step("setup")((1 to Main.SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      tracer.span("setup") { spark = Main.session(a) }
      (System.nanoTime() - t0) / 1e9
    })

    var attempted = 0L
    val errors = ArrayBuffer.empty[String]

    def unpersistAll(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    // Untimed first pass: every result lands as parquet for the DuckDB
    // oracle check, which also warms the JIT and the codegen cache.
    val results = s"${a.work}/results"
    val warm0 = System.nanoTime()
    names.foreach { n =>
      attempted += 1
      unpersistAll()
      try Main.step(s"result.$n")(SparkEntry.queries(n)(spark, a.input)
        .write.mode("overwrite").parquet(s"$results/$n"))
      catch { case e: Throwable => errors += s"$n: ${e.getMessage}" }
    }
    val warmS = (System.nanoTime() - warm0) / 1e9
    Files.writeString(Paths.get(a.work, "oracle_sql.json"), Json.obj(names.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql)))))

    def runQuery(n: String, group: String): Timing = tracer.span(s"query[$n]") {
      attempted += 1
      unpersistAll()
      try {
        val t0 = System.nanoTime()
        val df: DataFrame = tracer.span("construct")(SparkEntry.queries(n)(spark, a.input))
        val t1 = System.nanoTime()
        tracer.span("execute")(df.write.format("noop").mode("overwrite").save())
        val t2 = System.nanoTime()
        Timing(n, group, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch { case e: Throwable =>
        errors += s"$n: ${e.getMessage}"
        Timing(n, group, Double.NaN, Double.NaN)
      }
    }
    def pass(): Seq[Timing] = groups.flatMap { case (g, qs) => qs.map(runQuery(_, g)) }

    val rows = ArrayBuffer[(String, String)]("result_pass_s" -> Json.num(warmS))
    val metrics =
      if (!a.trace) {
        val passes = ArrayBuffer.empty[Seq[Timing]]
        while (passes.size < MinPasses || passes.map(_.map(_.total).sum).sum < a.seconds)
          passes += pass()
        // suite_s: construct plus execute summed over a pass, the time
        // from the tables to every result
        val suite = passes.map(_.map(_.total).sum).toSeq
        val perQuery = names.map(n => Stat.median(passes.flatten.filter(_.name == n).map(_.total).toSeq))
        def groupShare(g: String) = {
          val ts = passes.flatten.filter(_.group == g)
          ts.map(_.construct).sum / ts.map(_.total).sum
        }
        rows ++= Seq("passes" -> passes.size.toString,
          "suite_s" -> suite.map(Json.num).mkString("[", ",", "]"),
          "construct_share" -> Json.obj(groups.map { case (g, _) => g -> Json.num(groupShare(g)) }),
          "setup_samples_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
          "median_query_s" -> Json.obj(names.zip(perQuery).map { case (n, t) => n -> Json.num(t) }))
        Seq(
          Metric("throughput_per_s", names.size / perQuery.sum, "1/s"),
          Metric("latency_ms_p50", Stat.median(suite) * 1000, "ms"),
          Metric("setup_s", Stat.median(setupS), "s"),
          Metric("live_heap_mb", Jvm.liveHeapMb(), "MiB"))
      } else {
        val floor = Main.jobFloorMs(spark)
        tracer.on = false
        val untraced = pass()
        tracer.on = true
        // construct leaves persisted blocks behind (Barrier checkpoints);
        // measure them on one pass of the construct-heavy group
        val checkpointBytes = constructHeavy.map { n =>
          unpersistAll()
          SparkEntry.queries(n)(spark, a.input)
          spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        }.sum
        val jobs = new JobListener
        val planning = new PlanningListener
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(planning)
        val gc0 = Jvm.gcMs()
        val traced = tracer.span("pass")(pass())
        val gcMs = Jvm.gcMs() - gc0
        jobs.drain()
        spark.sparkContext.removeSparkListener(jobs)
        spark.listenerManager.unregister(planning)
        val root = tracer.all.find(_.name == "pass").get
        val jobSpans = jobs.finished.map(j =>
          Span(-j.id - 1, root.id, s"spark.job[${j.id}]", j.start, j.end))
        val adopted = tracer.adopt(jobSpans, s => s.start >= root.start)
        val spans = tracer.tree(adopted)
        tracer.write(s"${a.work}/spans.json", spans)
        val byId = spans.map(s => s.id -> s).toMap
        def under(s: Span, name: String): Boolean =
          byId.get(s.parent).exists(p => p.name == name)
        val constructJobs = adopted.count(under(_, "construct"))
        val executeJobs = adopted.count(under(_, "execute"))
        val self = tracer.selfTimes(spans)
        def sum(g: String, f: Timing => Double) = traced.filter(_.group == g).map(f).sum
        val overhead = 100.0 * (traced.map(_.total).sum - untraced.map(_.total).sum) /
          untraced.map(_.total).sum
        rows ++= Seq("self_ms" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) =>
            k -> Json.num(v) }),
          "spans" -> spans.size.toString,
          "traced_pass_s" -> Json.num(traced.map(_.total).sum),
          "untraced_pass_s" -> Json.num(untraced.map(_.total).sum))
        Seq(
          Metric("queries.event_family.construct_s", sum("event_family", _.construct), "s"),
          Metric("queries.event_family.execute_s", sum("event_family", _.execute), "s"),
          Metric("queries.construct_heavy.construct_s", sum("construct_heavy", _.construct), "s"),
          Metric("queries.construct_heavy.execute_s", sum("construct_heavy", _.execute), "s"),
          Metric("ops.construct_jobs", constructJobs.toDouble, "count"),
          Metric("queries.execute_jobs", executeJobs.toDouble, "count"),
          Metric("queries.planning_ms", planning.ms.sum, "ms"),
          Metric("queries.shuffle_read_bytes", jobs.shuffleRead.sum.toDouble, "bytes"),
          Metric("queries.shuffle_write_bytes", jobs.shuffleWrite.sum.toDouble, "bytes"),
          Metric("ops.checkpoint_bytes", checkpointBytes.toDouble, "bytes"),
          Metric("spark.job_floor_ms", floor, "ms"),
          Metric("jvm.gc_ms", gcMs.toDouble, "ms"),
          Metric("trace.overhead_pct", overhead, "%"))
      }
    val failed = errors.size.toLong
    if (errors.nonEmpty) rows += "errors" -> Json.str(errors.take(20).mkString("; "))
    Result(attempted, failed, metrics, rows.toSeq)
  }
}
