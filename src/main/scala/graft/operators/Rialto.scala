package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Normalizers

/** Rialto domain operators, re-expressed as distributed transforms.
  *
  * The reference performs these row-at-a-time against Postgres
  * (deduplicate.py, authors.py, apc.py, funders/dataset.py); here each is
  * a declarative plan: window-dedup instead of per-id SELECT loops,
  * full-outer merge instead of per-row upsert, broadcast set membership
  * instead of an in-process dict.
  */
object Rialto {

  /** merge_pubs survivor pick (deduplicate.py:187-217): one row per key,
    * newest first by `newestBy` (descending, NULLs last, with the
    * caller providing enough columns for determinism).
    *
    * The input is [[Par.spread]] by the keys first. On an unsplittable
    * scan that keyed exchange is the window's only shuffle (it already
    * satisfies the window's distribution), so the sort and the partial
    * group limit run in parallel after it — otherwise Spark plans the
    * partial WindowGroupLimit on the map side, one task over the whole
    * scan. Where the scan splits, the spread is a no-op.
    */
  def keepNewest(df: DataFrame, keys: Seq[String], newestBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(newestBy.map(_.desc): _*)
    Par.spread(df, keys.map(col): _*)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Duplicate-group merge: groupBy the dup key, keep the max "payload"
    * and union the association sets — the relational form of moving
    * author/funder links onto the surviving publication.
    */
  def mergeAssociations(df: DataFrame, keys: Seq[String], payload: Column, assoc: Column)
      : DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        max(payload).as("payload"),
        Normalizers.piped(array_sort(collect_set(assoc.cast("string")))).as("assoc_ids")
      )

  /** Harvest fill-in merge (harvest_incremental modules): per-source
    * publication batches keyed by normalized DOI fold into one row with
    * a struct column per source (≈ the dim_json/openalex_json/... JSONB
    * columns). Chained full-outer joins on the key; each source's
    * non-key columns nest under `<name>_json`.
    */
  def harvestMerge(sources: Seq[(String, DataFrame)], key: String): DataFrame =
    sources.map { case (name, df) =>
      val payload = df.columns.filterNot(_ == key)
      df.select(col(key), struct(payload.map(col): _*).as(s"${name}_json"))
    }.reduce((a, b) => a.join(b, Seq(key), "full_outer"))

  /** authors.upsert_author as a batch merge: incoming wins over existing
    * on the natural key; rows only in one side pass through. `action` is
    * inserted/updated/noop like the reference's return value.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, key: String): DataFrame = {
    val e = existing.select(col(key).as("k"), struct(existing.columns.map(col): _*).as("e"))
    val i = incoming.select(col(key).as("k"), struct(incoming.columns.map(col): _*).as("i"))
    e.join(i, Seq("k"), "full_outer")
      .select(
        col("k").as(key),
        coalesce(col("i"), col("e")).as("row"),
        when(col("e").isNull, "inserted")
          .when(col("i").isNull, "noop")
          .when(col("i") === col("e"), "noop")
          .otherwise("updated")
          .as("action")
      )
  }

  /** APC resolution (distiller/apc.py): a located positive value wins
    * unless the publication is closed-access; otherwise OA-status
    * defaults. `candidate` must already be validated positive (use
    * Distill.positiveNumber).
    */
  def apc(candidate: Column, oaStatus: Column, isPreprint: Column = lit(false)): Column = {
    val oa = lower(coalesce(oaStatus, lit("")))
    when(isPreprint, lit(0L))
      .when(candidate.isNotNull && oa === "closed", lit(0L))
      .when(candidate.isNotNull, candidate)
      .when(oa === "diamond", lit(0L))
      .when(oa === "gold", lit(2450L))
      .when(oa === "hybrid", lit(3600L))
      .otherwise(lit(null).cast("long"))
  }

  /** Federal-funder test on the normalized NAME (funders/dataset.py
    * is_federal, :8-10). The dataset is small (~239 rows) so it
    * travels as a literal array — a broadcast in cluster terms,
    * constant-folded into codegen here. GRID-id membership is the
    * separate [[isFederalGridId]].
    */
  def isFederal(name: Column, federalNames: Seq[String]): Column =
    Normalizers.normalizeFunderName(name).isInCollection(federalNames)

  /** Federal-funder test on the GRID id (funders/dataset.py
    * is_federal_grid_id, :14-16): raw id membership, no
    * normalization.
    */
  def isFederalGridId(gridId: Column, federalGridIds: Seq[String]): Column =
    gridId.isInCollection(federalGridIds)

  /** ROR→GRID equivalence translation (funders/ror_grid_dataset.py:17-25,
    * applied at linker.py:178 before the federal GRID-id test):
    * OpenAlex funders carry ROR ids, and an OpenAlex-only federal
    * funder is invisible to [[isFederalGridId]] until its ROR is
    * translated. Left-joins the mapping and adds `grid_from_ror` —
    * NULL where no equivalence exists (convert_ror_to_grid returns
    * None), so callers must COALESCE any boolean built on it.
    *
    * The real mapping is ~100k rows — broadcast-join scale, far too
    * big for a codegen literal map — so it arrives as a DataFrame
    * (columns ror_id, grid_id), not a Scala Map.
    */
  def rorToGrid(df: DataFrame, rorCol: String, rorGrid: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val m = rorGrid.select(col("ror_id").as("__ror"), col("grid_id").as("grid_from_ror"))
    df.join(broadcast(m), df(rorCol) === col("__ror"), "left").drop("__ror")
  }

  /** The external APC dataset lookup (apc/__init__.py get_apc +
    * distiller/apc.py _apc_oa_dataset): for each publication, walk its
    * `issnsCol` array IN ORDER and take the first ISSN whose
    * (ISSN_1|ISSN_2, APC_year) match has a truthy cost — get_apc
    * returns None for negative costs and `if cost:` skips 0, so only
    * cost > 0 hits.
    *
    * Engine shape: the dataset (~20k rows in the reference) flattens
    * to (issn, year, cost), broadcasts, and equi-joins the exploded
    * (pub, pos, issn) pairs — the pub side shuffles only (id, pos,
    * issn) tuples, then one keyed min_by(pos) re-aggregation. Adds an
    * `apc_dataset` column; `lookup` needs columns issn_1, issn_2,
    * apc_year, apc_usd.
    */
  def apcDatasetLookup(pubs: DataFrame, idCol: String, issnsCol: String,
      yearCol: String, lookup: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val flat = lookup
      .select(col("issn_1").as("__issn"), col("apc_year"), col("apc_usd"))
      .unionByName(lookup.select(col("issn_2").as("__issn"), col("apc_year"), col("apc_usd")))
      .filter(col("apc_usd").isNotNull && col("apc_usd") > 0)
    val hits = pubs
      .select(col(idCol), col(yearCol).as("__y"),
        posexplode(col(issnsCol)).as(Seq("__pos", "__issn")))
      .join(broadcast(flat), Seq("__issn"))
      .filter(col("__y") === col("apc_year"))
      .groupBy(idCol)
      .agg(min_by(col("apc_usd"), col("__pos")).as("apc_dataset"))
    pubs.join(hits, Seq(idCol), "left")
  }
}
