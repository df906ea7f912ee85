package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise-comparison evaluation — the arena/reward-model side of an
  * LLM data pipeline: contenders meet on shared trials, outcomes fold
  * into a win matrix, and latent strengths come from the
  * Bradley-Terry model (Bradley & Terry 1952) fit by Hunter's (2004)
  * MM iteration — the machinery behind chatbot-arena ladders and
  * RLHF preference aggregation.
  *
  * Scale shape: the only data-sized work is building per-trial scores
  * (one hash aggregation over the events). Trials self-join only
  * within a trial key, so candidate volume is Σ_trial T², with T =
  * contender count — a model roster, not the corpus. The win matrix
  * (≤ T² rows) is roster-bounded; the MM iterations run as joins on
  * that bounded frame, never touching the corpus again.
  */
object Arena {

  /** Head-to-head win matrix from per-(contender, trial) integer
    * scores: for every unordered pair meeting on a trial, who scored
    * higher. Output per (a < b): meetings, wins, ties, and a's win
    * rate over decided meetings (4dp, NULL when all tied).
    */
  def winMatrix(scores: DataFrame): DataFrame = {
    val x = scores.select(col("m").as("a"), col("trial"), col("s").as("sa"))
    val y = scores.select(col("m").as("b"), col("trial"), col("s").as("sb"))
    x.join(y, Seq("trial")).filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n"),
        sum((col("sa") > col("sb")).cast("long")).as("wins_a"),
        sum((col("sa") < col("sb")).cast("long")).as("wins_b"),
        sum((col("sa") === col("sb")).cast("long")).as("ties"))
      .withColumn("win_rate_a",
        when(col("wins_a") + col("wins_b") > 0,
          round(col("wins_a").cast("double") /
            (col("wins_a") + col("wins_b")).cast("double"), 4)))
  }

  /** Bradley-Terry strengths from a win matrix via `iters` rounds of
    * Hunter's MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j), renormalized
    * each round to mean 1 (the model is scale-free). Ties are dropped
    * (decided games only, the classical BT likelihood); contenders
    * with no decided games are excluded, and a NULL win count counts
    * as 0. All-double arithmetic with one 4dp round at the very end —
    * the iteration count is fixed, so both engines run the identical
    * float recursion.
    *
    * Everything after [[winMatrix]] is roster-bounded, so the loop runs
    * on the driver over one collect of the matrix (below).
    */
  def bradleyTerry(matrix: DataFrame, iters: Int): DataFrame = {
    // The win matrix is ROSTER-bounded (≤ T² rows for T contenders — a
    // model roster, not the corpus), so the MM iteration is a bounded
    // driver contract like the MMR/BPE argmax steps: one collect of the
    // ≤T² matrix, the fixed `iters` float recursion locally, and a
    // T-row literal result. The previous shape ran the same recursion
    // as ~3 eager localCheckpoint jobs per round of broadcast-sized
    // joins (measured 1.5 s wall / 0.2 s cpu at sf0.1 — serial job
    // latency, zero data-sized work). Iteration order is pinned by
    // sorting keys on their string form, so the double sequence is
    // deterministic run-to-run; values land inside the 4-dp output
    // round exactly as before.
    val spark = matrix.sparkSession
    val mType = matrix.schema("a").dataType
    val rows = matrix
      .select(col("a"), col("b"),
        coalesce(col("wins_a").cast("long"), lit(0L)), coalesce(col("wins_b").cast("long"), lit(0L)))
      .collect()
    // symmetric decided-games view: (i, j, w_i, n_ij) both directions
    val sym = rows.flatMap { r =>
      val (a, b, wa, wb) = (r.get(0), r.get(1), r.getLong(2), r.getLong(3))
      val ng = wa + wb
      if (ng > 0) Seq((a, b, wa, ng), (b, a, wb, ng)) else Seq.empty
    }
    val keys = sym.map(_._1).distinct.sortBy(_.toString)
    val wi = keys.map(k => k -> sym.filter(_._1 == k).map(_._3).sum.toDouble).toMap
    val games = keys.map(k => k -> sym.filter(_._1 == k).map(_._4).sum).toMap
    val byI = keys.map(k => k -> sym.filter(_._1 == k).sortBy(_._2.toString)).toMap
    var p = keys.map(k => k -> 1.0).toMap
    for (_ <- 1 to iters) {
      val praw = keys.map { k =>
        val den = byI(k).foldLeft(0.0) { case (acc, (_, j, _, ng)) => acc + ng.toDouble / (p(k) + p(j)) }
        k -> wi(k) / den
      }.toMap
      val scale = keys.size.toDouble / keys.foldLeft(0.0)((acc, k) => acc + praw(k))
      p = keys.map(k => k -> praw(k) * scale).toMap
    }
    // identical rounding to Catalyst's round(double, 4): BigDecimal of
    // the double's shortest decimal form, HALF_UP — not a scaled
    // math.round, which differs on representation-boundary values
    def round4(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val out = keys.map { k =>
      org.apache.spark.sql.Row(k, games(k), wi(k).toLong, round4(p(k)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m", mType),
      org.apache.spark.sql.types.StructField("games", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("wins", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("strength", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }
}
