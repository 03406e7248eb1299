package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine.
  *
  * All entry points (Verify, Bench, tests) funnel through here so the
  * scale-oriented defaults are applied uniformly:
  *
  *  - AQE on (runtime re-plan, skew-join splitting at 100 TB);
  *  - shuffle partitions sized to local cores (the driver overrides via
  *    its own builder; cluster deploys would size to 2-3x total cores);
  *  - `nanosAsLong` so parquet TIMESTAMP(NANOS) columns (the `events.ts`
  *    column in the testdata) load as raw ns-since-epoch longs — we then
  *    derive micro-precision timestamps explicitly where windowing needs
  *    them (see [[Tables.events]]);
  *  - UTC session time zone for oracle parity.
  */
object GraftSession {

  /** Options applied to every session regardless of who builds it. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    // Fallback chain SPARK_GRAFT_SHUFFLE -> SPARK_GRAFT_CPUS -> 32:
    // tune() is applied AFTER the entry points' own builder configs, so
    // a plain "32" here silently clobbered Bench/Verify's
    // shuffle.partitions = $SPARK_GRAFT_CPUS (the r15 verdict's config-
    // ordering bug) and pinned shuffle parallelism at 32 during the
    // driver's core-scaling runs. Deferring to the cpus env restores
    // the documented contract without depending on config order.
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus().toString))

  /** Local core count for the entry points' `local[N]` master:
    * `SPARK_GRAFT_CPUS`, default 32. Fails fast unless it is a positive
    * Int — the value also lands in shuffle partitions and bench JSON. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(32) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
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
    * elsewhere (the driver's Verify/Bench mains, test suites). */
  def apply(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Functions.register(spark)
    // native-kernel substitutions (semantics-preserving): the spelled
    // portable hash fuses to Md5Prefix60 (GraftExtensions installs the
    // same rule cluster-wide)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.Md5PrefixFold))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.Md5PrefixFold
    spark
  }
}
