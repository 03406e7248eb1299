package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.graftshim.Shims
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must install the full SQL surface on a session
  * built with `withExtensions` (the `spark.sql.extensions` deploy
  * path), with no Functions.register call — including on child
  * sessions from `newSession()`, which temp-function registration
  * does not survive. `GraftSession.apply`, the driver-code path, must
  * install the same surface on a plain session, once however often it
  * is called, and route streaming checkpoint logs through the
  * FileSystem-based checkpoint manager. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-built session resolves graft functions without register()") {
    val orig = SparkTestSession.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.tune(
        SparkSession.builder()
          .master("local[2]")
          .appName("graft-ext-test")
          .withExtensions(new GraftExtensions))
        .getOrCreate()
      assert(s ne orig, "builder returned the shared session; extensions untested")
      val one = s.sql(
        "SELECT uuid_str(CAST(1 AS BIGINT), CAST(2 AS BIGINT)) AS u, " +
          "rolling_hash('abc') AS rh, " +
          "vec_dot_int(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)), " +
          "array(CAST(3 AS BIGINT), CAST(4 AS BIGINT))) AS d").collect()(0)
      assert(one.getString(0).length === 36)
      assert(one.getLong(2) === 11L)
      // aggregates with literal args resolve too
      import s.implicits._
      val bf = Seq(1L, 2L).toDF("k")
        .createOrReplaceTempView("ext_bk")
      assert(s.sql("SELECT bloom_contains(bloom_agg(k, 1024, 7), 2) FROM ext_bk")
        .collect()(0).getBoolean(0))
      // extensions survive newSession(); temp registration would not
      assert(s.newSession().sql("SELECT rolling_hash('abc') AS rh")
        .collect()(0).getLong(0) === one.getLong(1))
      // the planner strategy rides the extension too: an AsOfJoinPlan
      // built directly (no AsOf.join self-install) must plan and run
      val l = Seq((1L, 10L, 100L), (1L, 20L, 101L)).toDF("k", "t", "lid")
      val r = Seq((1L, 5L, 900L), (1L, 15L, 901L)).toDF("rk", "rt", "rid")
      val plan = graft.plans.AsOfJoinPlan(
        org.apache.spark.sql.graftshim.Shims.logicalPlan(l),
        org.apache.spark.sql.graftshim.Shims.logicalPlan(r),
        org.apache.spark.sql.graftshim.Shims.logicalPlan(l).output.find(_.name == "k").get,
        org.apache.spark.sql.graftshim.Shims.logicalPlan(r).output.find(_.name == "rk").get,
        org.apache.spark.sql.graftshim.Shims.logicalPlan(l).output.find(_.name == "t").get,
        org.apache.spark.sql.graftshim.Shims.logicalPlan(r).output.find(_.name == "rt").get)
      val rows = org.apache.spark.sql.graftshim.Shims.ofRows(s, plan)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(rows === Set((100L, 900L), (101L, 901L)))
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("GraftSession.apply installs the whole surface, idempotently") {
    // fresh experimental methods, no temp functions
    val s = SparkTestSession.spark.newSession()
    GraftSession(GraftSession(s))
    val reg = s.sessionState.functionRegistry
    // graft's own builder, not a same-named Spark built-in (hll_union)
    Functions.sqlBuilders.foreach { case (name, builder) =>
      assert(reg.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder), name)
    }
    assert(s.experimental.extraOptimizations
      .count(_ == graft.plans.Md5PrefixFold) === 1)
    assert(s.experimental.extraStrategies
      .count(_ == graft.plans.AsOfJoinStrategy) === 1)
    // an AsOfJoinPlan built directly (no AsOf.join) plans and runs
    import s.implicits._
    val l = Seq((1L, 10L, 100L), (1L, 20L, 101L)).toDF("k", "t", "lid")
    val r = Seq((1L, 5L, 900L), (1L, 15L, 901L)).toDF("rk", "rt", "rid")
    val (lp, rp) = (Shims.logicalPlan(l), Shims.logicalPlan(r))
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).get
    val plan = graft.plans.AsOfJoinPlan(lp, rp,
      attr(lp, "k"), attr(rp, "rk"), attr(lp, "t"), attr(rp, "rt"))
    val rows = Shims.ofRows(s, plan)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(rows === Set((100L, 900L), (101L, 901L)))
  }

  test("GraftSession.apply selects the FileSystem-based checkpoint manager, which refuses a second writer") {
    val spark = SparkTestSession.spark
    val tmp = Files.createTempDirectory("graft-ckpt-mgr")
    try {
      val fm = CheckpointFileManager.create(
        new Path(tmp.toString), spark.sessionState.newHadoopConf())
      assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager],
        s"got ${fm.getClass.getName}")
      // HDFSMetadataLog detects a concurrent writer through this
      // contract: a no-overwrite publish onto an existing batch file
      // fails on close() and leaves the first writer's bytes
      val p = new Path(tmp.toString, "0")
      val first = fm.createAtomic(p, overwriteIfPossible = false)
      first.write("first".getBytes(UTF_8))
      first.close()
      val second = fm.createAtomic(p, overwriteIfPossible = false)
      second.write("second".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](second.close())
      assert(new String(Files.readAllBytes(tmp.resolve("0")), UTF_8) === "first")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
