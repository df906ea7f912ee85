package graft

import org.apache.spark.sql.functions._

import graft.operators.{Arena, Par, Stats}

/** Focused pins for the round-14 optimization rewrites: each test
  * locks the REWRITTEN internal against a hand-computed or
  * structurally-identical reference so the speedups cannot silently
  * change semantics.
  */
class R14OptSpec extends SparkSpec {
  import spark.implicits._

  test("bradleyTerry driver-local MM matches the hand-unrolled recursion") {
    // Two contenders, a beats b 3-1. One MM round from p = (1, 1):
    //   den_a = n_ab/(p_a+p_b) = 4/2 = 2 ; praw_a = 3/2 = 1.5
    //   den_b = 2 ; praw_b = 1/2 = 0.5 ; scale = 2/(1.5+0.5) = 1
    //   p = (1.5, 0.5)
    // Round 2: den_a = 4/2 = 2 ; praw_a = 1.5 ; den_b = 2 ; praw_b = .5
    //   -> fixed point (1.5, 0.5).
    val m = Seq(("a", "b", 3L, 1L, 0L)).toDF("a", "b", "wins_a", "wins_b", "ties")
    val out = Arena.bradleyTerry(m, iters = 2).collect()
      .map(r => (r.getAs[String]("m"), r.getAs[Long]("games"),
        r.getAs[Long]("wins"), r.getAs[Double]("strength"))).sortBy(_._1)
    assert(out === Array(("a", 4L, 3L, 1.5), ("b", 4L, 1L, 0.5)))
  }

  test("bradleyTerry drops all-tied pairs and keeps the output schema") {
    val m = Seq(("a", "b", 2L, 1L, 0L), ("b", "c", 0L, 0L, 5L))
      .toDF("a", "b", "wins_a", "wins_b", "ties")
    val out = Arena.bradleyTerry(m, iters = 3)
    assert(out.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("m", "string"), ("games", "long"), ("wins", "long"), ("strength", "double")))
    // c has no decided games -> excluded, exactly like the old
    // filter(ng > 0) join shape
    assert(out.select("m").as[String].collect().sorted === Array("a", "b"))
  }

  test("bradleyTerry counts NULL wins as 0") {
    val nulls = Seq[(String, String, Option[Long], Option[Long])](
      ("a", "b", Some(3L), None), ("b", "c", None, None), ("a", "c", None, Some(2L))
    ).toDF("a", "b", "wins_a", "wins_b")
    val zeros = Seq(("a", "b", 3L, 0L), ("b", "c", 0L, 0L), ("a", "c", 0L, 2L))
      .toDF("a", "b", "wins_a", "wins_b")
    def rows(m: org.apache.spark.sql.DataFrame) =
      Arena.bradleyTerry(m, iters = 3).collect().map(_.toString).sorted
    val out = rows(nulls)
    assert(out === rows(zeros))
    assert(out.length == 3)
  }

  test("mahalanobisScreen struct-argmax keeps the min-id-among-max tiebreak") {
    // Points symmetric about the mean have identical d2 (quadratic
    // form in centered coordinates), so (4,7) and (-4,-7) tie for the
    // extreme; the contract is the SMALLER id. Non-collinear set so
    // the covariance is non-singular.
    val df = Seq(
      ("g", 2L, 1L, 10L), ("g", -2L, -1L, 11L),
      ("g", 4L, 7L, 9L), ("g", -4L, -7L, 4L)
    ).toDF("k", "x", "y", "id")
    val out = Stats.mahalanobisScreen(df, "k", col("x"), col("y"), col("id")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("outlier_id") == 4L)
    assert(out(0).getAs[Long]("n") == 4L)
  }

  test("Par.spread widens an unsplittable scan and never changes rows") {
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
    val spreadDf = Par.spread(base, col("o_orderkey"))
    assert(spreadDf.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val a = base.collect().map(_.toString).sorted
    val b = spreadDf.collect().map(_.toString).sorted
    assert(a === b)
    // already-wide input is returned untouched (the 100 TB no-op guard)
    val wide = base.repartition(spark.sparkContext.defaultParallelism + 3)
    assert(Par.spread(wide, col("o_orderkey")).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism + 3)
  }
}
