package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** kmv_mins semantics: exact bottom-k distinct under arbitrary
  * partitioning (merge trees), short-group passthrough, and the q117
  * union-sketch Jaccard estimator's agreement with a brute-force
  * driver-side replay of the same estimator.
  */
class KmvMinsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def sketch(xs: Seq[Long], k: Int, parts: Int): Seq[Long] = {
    import spark.implicits._
    xs.toDF("h").repartition(parts)
      .agg(Functions.kmv_mins(col("h"), k).as("m"))
      .collect()(0).getSeq[Long](0)
  }

  test("bottom-k distinct, ascending, any partitioning") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(5000)(rnd.nextInt(800).toLong)
    val want = xs.distinct.sorted.take(64)
    for (parts <- Seq(1, 7, 32))
      assert(sketch(xs, 64, parts) == want, s"parts=$parts")
  }

  test("group smaller than k returns the full distinct set") {
    val xs = Seq(5L, 3L, 3L, 9L, 5L)
    assert(sketch(xs, 64, 4) == Seq(3L, 5L, 9L))
  }

  test("kmv_kth(h, k) is element k of kmv_mins(h, k), NULL below k (Column API and SQL)") {
    import spark.implicits._
    // group g holds g + 1 distinct hashes (twice each, plus a NULL),
    // inserted in descending order: groups 0..9 straddle every k
    val rows = for (g <- 0 until 10; i <- (0 to g).reverse; _ <- 0 until 2)
      yield (g, Option(1000L * g + 7L * i))
    val df = (rows ++ (0 until 10).map(g => (g, Option.empty[Long]))).toDF("g", "h")
      .repartition(3)
    df.createOrReplaceTempView("kmv_kth_groups")
    for (k <- Seq(1, 3, 8)) {
      val viaCol = df.groupBy("g")
        .agg(Functions.kmv_kth(col("h"), k), Functions.kmv_mins(col("h"), k))
      val viaSql = spark.sql(
        s"SELECT g, kmv_kth(h, $k), kmv_mins(h, $k) FROM kmv_kth_groups GROUP BY g")
      for ((how, q) <- Seq("column" -> viaCol, "sql" -> viaSql)) {
        val got = q.collect().map(r =>
          r.getInt(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getSeq[Long](2)))
        assert(got.length == 10, s"$how k=$k")
        for ((g, (kth, mins)) <- got) {
          val distinct = (0 to g).map(i => 1000L * g + 7L * i)
          assert(mins == distinct.take(k), s"$how k=$k g=$g")
          assert(kth == mins.lift(k - 1), s"$how k=$k g=$g")
          assert(kth.isEmpty == (g + 1 < k), s"$how k=$k g=$g")
        }
      }
    }
  }

  test("q117 estimator matches a driver-side replay on real sketches") {
    // Re-derive the per-source sketches exactly as q117 does, then
    // compute |U ∩ A ∩ B| / |U| by hand and compare to the query.
    val hs = Tables.documents(spark, sf)
      .select(col("source"),
        explode(Functions.word_shingles3(
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))).as("sh"))
      .select(col("source"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
    val sk = hs.groupBy("source")
      .agg(Functions.kmv_mins(col("h"), 64).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toVector).toMap
    val want = sk.keys.toSeq.sorted.combinations(2).map { case Seq(x, y) =>
      val (ma, mb) = (sk(x), sk(y))
      val u = (ma ++ mb).distinct.sorted.take(64)
      val common = u.count(h => ma.contains(h) && mb.contains(h)).toLong
      (x, y, u.size.toLong, common, common * 1000000L / u.size)
    }.toSeq
    val got = SparkEntry.queries("q117_kmv_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want)
  }
}
