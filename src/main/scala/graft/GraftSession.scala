package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine, and its one install
  * point for the graft surface ([[install]]).
  *
  * All entry points (Verify, Bench, NozzleMain, tests) funnel through
  * here so the scale-oriented defaults are applied uniformly:
  *
  *  - AQE on (runtime re-plan, skew-join splitting at 100 TB);
  *  - shuffle partitions sized to local cores (cluster deploys would
  *    size to 2-3x total cores);
  *  - `nanosAsLong` so parquet TIMESTAMP(NANOS) columns (the `events.ts`
  *    column in the testdata) load as raw ns-since-epoch longs — we then
  *    derive micro-precision timestamps explicitly where windowing needs
  *    them (see [[Tables.events]]);
  *  - UTC session time zone for oracle parity;
  *  - streaming checkpoint metadata logs (offsets, commits, file-source
  *    logs) written through Spark's `FileSystemBasedCheckpointFileManager`
  *    instead of the `FileContext`-based default, which on a Hadoop
  *    build without native IO forks a `readlink` per link probe during
  *    each rename (set in [[apply]]);
  *  - `fs.file.impl` is [[InProcessLocalFileSystem]], which sets file
  *    modes in-process where the stock local file system forks a
  *    `chmod` for each file it creates (set in [[tune]]). It is a
  *    SparkContext Hadoop conf (`spark.hadoop.`), not a session conf:
  *    Hadoop caches `FileSystem` instances per scheme, authority and
  *    user, not per conf, so the class must be named before the JVM's
  *    first `file:` lookup, and only the builder conf is in place then.
  */
object GraftSession {

  /** Options applied to every session regardless of who builds it. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    // tune() runs after the callers' own builder configs, so this
    // value wins over any shuffle.partitions they set
    .config("spark.sql.shuffle.partitions", cpus().toString)
    .config("spark.hadoop.fs.file.impl", classOf[InProcessLocalFileSystem].getName)

  /** Local core count for the entry points' `local[N]` master:
    * `SPARK_GRAFT_CPUS`, default 32. Fails fast unless it is a positive
    * Int — the value also lands in shuffle partitions and bench JSON. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(32) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  def local(cores: Int = cpus(), appName: String = "graft"): SparkSession = {
    val spark = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply(spark)
  }

  /** Ensure session-level SQL confs hold even on a session built
    * elsewhere (test suites, the benchmark), then [[install]]. */
  def apply(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The FileContext default forks readlink per rename probe without
    // native Hadoop IO; this one renames in-process. Its no-overwrite
    // check is an exists() probe, not an atomic rename.
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    install(spark)
  }

  /** The graft surface on one session, idempotently: every
    * [[Functions.sqlBuilders]] function, the [[graft.plans.Md5PrefixFold]]
    * rule and the [[graft.plans.AsOfJoinStrategy]] planner strategy, each
    * added only if absent. The driver-code counterpart of
    * [[GraftExtensions]], which SQL-only deployments use instead. */
  def install(spark: SparkSession): SparkSession = {
    Functions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.Md5PrefixFold))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.Md5PrefixFold
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    spark
  }
}
