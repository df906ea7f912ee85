package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Normalizers
import graft.sources.Tables

/** Core relational operator coverage (SURVEY.md §2 #1-11, #19).
  *
  * These are the building blocks every rialto-airflow stage reduces to
  * once re-expressed relationally: pushed-down scans, partial-agg
  * groupBys, broadcast star joins, shuffled big-big joins, semi/anti
  * joins (harvest-source filters / orphan removal), keep-newest windows
  * (merge_pubs), sorted-set piped aggregation, and incremental watermark
  * filters. All are single declarative plans — no driver-side iteration —
  * so they scale with executors, not with driver memory.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // #1 scan with filter + projection pushdown: both predicate and the
    // 3-column ReadSchema reach the parquet reader (checked via explain).
    "q_scan_filter" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    },

    // #2 multi-aggregate groupBy; map-side partial aggregation keeps the
    // shuffle at |groups| x cores rows regardless of input size.
    "q_agg" -> { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price")
        )
    },

    // #3 star join: fact orders joins three dims, all broadcast — zero
    // shuffle of the fact table for the joins; one shuffle for the agg.
    "q_join_star" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },

    // #4 big-big join on the shared key: sort-merge under AQE, skew-split
    // at runtime if an orderkey is hot.
    "q_join_big" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
    },

    // #6 anti join ≈ deduplicate.remove_orphan_publications (NOT EXISTS):
    // parts never referenced by any lineitem.
    "q_orphan_removal" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.part
        .join(t.lineitem.filter(col("l_quantity") > 49), col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
    },

    // #7 semi join ≈ publish "harvested by some source" filter: customers
    // having at least one big order; no duplication of the left side.
    "q_semi_filter" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(t.orders.filter(col("o_totalprice") > 150000), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },

    // #8 keep-newest-per-key window ≈ deduplicate.merge_pubs survivor pick
    // (sort by updated_at desc, keep first), through Rialto.keepNewest.
    "q_dedupe_keep_newest" -> { (s, dir) =>
      // The synthetic lineitem has duplicate (orderkey, linenumber) pairs
      // by design; l_quantity joins the sort so the survivor row is
      // deterministic over the projected columns.
      val li = Tables(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_quantity")
      Rialto.keepNewest(li, Seq("l_orderkey"), Seq(col("l_linenumber"), col("l_quantity")))
    },

    // #9 top-K per group with deterministic tiebreak.
    "q_topk_per_group" -> { (s, dir) =>
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables(s, dir).customer
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    },

    // #10 sorted-distinct set-agg piped to a string ≈ utils.piped over
    // jsonb_agg_strict (publish/publication.py:77).
    "q_piped_agg" -> { (s, dir) =>
      Tables(s, dir).orders
        .groupBy("o_custkey")
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), "|").as("priorities"))
    },

    // #11 incremental watermark filter ≈ Harvest.get_previous() cutoff:
    // only events after the last finished harvest participate.
    "q_incremental" -> { (s, dir) =>
      Tables(s, dir).events
        .filter(col("ts") > lit("2024-01-15").cast("timestamp"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
    },

    // #19 identifier normalizers (utils.py) as codegen'd expressions.
    "q_normalize_ids" -> { (s, dir) =>
      val c = Tables(s, dir).customer
      c.select(
        col("c_custkey"),
        Normalizers.normalizeDoi(concat(lit("arXiv:"), col("c_custkey").cast("string"))).as("doi"),
        // dirty path: mixed case + embedded spaces + backslash, all
        // cleaned per utils.normalize_doi before extraction
        Normalizers.normalizeDoi(concat(lit(" DOI: 10.1234/AB \\ C-"), col("c_name"), lit(" "))).as("doi_dirty"),
        Normalizers.normalizeOrcid(concat(lit("https://orcid.org/"), col("c_name"))).as("orcid"),
        Normalizers.normalizePmid(concat(lit("MEDLINE:"), col("c_custkey").cast("string"))).as("pmid"),
        Normalizers.normalizeWosId(concat(lit("WOS:"), col("c_name"))).as("wos_id")
      )
    }
  )

  val oracles: Map[String, String] = Map(
    "q_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity > 45""".stripMargin,
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_star" ->
      """SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_join_big" ->
      """SELECT o_orderpriority, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_orphan_removal" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 49)""".stripMargin,
    "q_semi_filter" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000)""".stripMargin,
    "q_dedupe_keep_newest" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_quantity DESC) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1""".stripMargin,
    "q_topk_per_group" ->
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn <= 3""".stripMargin,
    "q_piped_agg" ->
      """SELECT o_custkey, string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "q_incremental" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events WHERE ts > TIMESTAMP '2024-01-15'
        |GROUP BY event_type""".stripMargin,
    "q_normalize_ids" ->
      """SELECT c_custkey,
        |       '10.48550/arxiv.' || CAST(c_custkey AS VARCHAR) AS doi,
        |       '10.1234/abc-' || lower(c_name) AS doi_dirty,
        |       lower(c_name) AS orcid,
        |       CAST(c_custkey AS VARCHAR) AS pmid,
        |       c_name AS wos_id
        |FROM customer""".stripMargin
  )
}
