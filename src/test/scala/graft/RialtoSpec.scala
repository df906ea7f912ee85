package graft

import org.apache.spark.sql.functions._

import graft.operators.Rialto

class RialtoSpec extends SparkSpec {
  import spark.implicits._

  test("upsert action column: inserted / updated / noop") {
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val incoming = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("k", "v")
    val out = Rialto.upsert(existing, incoming, "k")
      .select(col("k"), col("row.v").as("v"), col("action"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, "a", "noop"),      // only existing
      (2L, "b", "noop"),      // identical in both
      (3L, "C", "updated"),   // incoming differs and wins
      (4L, "d", "inserted")   // only incoming
    ))
  }

  test("harvestMerge keeps every key and nests payloads per source") {
    val s1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price")
    val s2 = Seq((2L, "x"), (3L, "y")).toDF("k", "tag")
    val m = Rialto.harvestMerge(Seq("a" -> s1, "b" -> s2), "k")
    assert(m.count() == 3)
    val r2 = m.filter(col("k") === 2).select(col("a_json.price"), col("b_json.tag")).collect()(0)
    assert(r2.getDouble(0) == 20.0 && r2.getString(1) == "x")
    val r3 = m.filter(col("k") === 3).select(col("a_json")).collect()(0)
    assert(r3.isNullAt(0))
  }

  test("forbiddenCount counts rule violations (expected-zero checks)") {
    val df = Seq(("phd", "SLAC"), ("phd", "Eng"), ("faculty", "SLAC")).toDF("role", "school")
    val n = graft.operators.Validation
      .forbiddenCount(df, col("role") === "phd" && col("school") === "SLAC")
      .collect()(0).getLong(0)
    assert(n == 1L)
  }

  test("keepNewest keeps exactly one deterministic row per key") {
    val df = Seq((1L, 5, "old"), (1L, 9, "new"), (2L, 1, "only")).toDF("k", "ver", "tag")
    val out = Rialto.keepNewest(df, Seq("k"), Seq(col("ver")))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out == Set((1L, "new"), (2L, "only")))
  }

  test("keepNewest breaks ties on later columns and sorts NULLs last") {
    val df = Seq[(Long, Option[Int], String)](
      (1L, Some(5), "a"), (1L, Some(5), "b"), (1L, None, "z"),   // tie on ver: tag decides
      (2L, None, "x"), (2L, Some(1), "y"),                         // NULL ver loses
      (3L, None, "p"), (3L, None, "q")                             // all NULL: tag decides
    ).toDF("k", "ver", "tag")
    val out = Rialto.keepNewest(df, Seq("k"), Seq(col("ver"), col("tag")))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out == Set((1L, "b"), (2L, "y"), (3L, "q")))
  }

  test("keepNewest on multi-partition input keeps one newest row per key") {
    val rows = (0 until 400).map(i => (i % 37L, i, s"t$i"))
    val df = rows.toDF("k", "ver", "tag").repartition(5)
    val out = Rialto.keepNewest(df, Seq("k"), Seq(col("ver")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == rows.groupBy(_._1).map { case (k, g) => (k, g.map(_._2).max) }.toSet)
  }

  test("q_dedupe_keep_newest plans one exchange with no WindowGroupLimit below it") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = SparkEntry.queries("q_dedupe_keep_newest")(spark, sfDir)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size == 1, plan.toString)
    assert(!exchanges.head.exists(_.isInstanceOf[WindowGroupLimitExec]), plan.toString)
  }
}
