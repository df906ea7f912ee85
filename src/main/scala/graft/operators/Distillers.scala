package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalizers
import graft.plans.IssnSet

/** The reference's concrete per-field distillation chains
  * (/root/reference/rialto_airflow/distiller/{title,pub_year,issue,
  * volume,abstract,journal_issn,journal_name,publisher}.py), shipped as
  * library functions over the harvestMerge source-struct layout.
  *
  * Each source argument is the *parsed* form of that source's JSON
  * (one `from_json` per source, then every rule reads struct fields —
  * JSON cost never multiplies with the number of rules). All chains are
  * Column expressions, no UDF, and most compile into one codegen'd
  * projection. The rules that take a lambda — [[wosTitle]],
  * [[journalName]], [[citationCount]], [[authorListNames]],
  * [[pubmedAbstract]], [[joinedNames]], [[pubmedOrcids]] and
  * [[authorListOrcids]] — are higher-order functions, which Spark does
  * not compile: each runs row by row in the interpreter, together with
  * every candidate expression inlined beneath it. A rule that turns out
  * hot gets a native expression instead; [[journalIssn]] over
  * [[graft.plans.IssnSet]] is the pattern to follow.
  */
object Distillers {

  /** title.py:1-27 — sulpub title, sulpub booktitle, dim title,
    * openalex title, then the WOS nested-titles scan.
    */
  def title(sulTitle: Column, sulBooktitle: Column, dimTitle: Column,
      oaTitle: Column, wosTitles: Column): Column =
    Distill.firstValid(sulTitle, sulBooktitle, dimTitle, oaTitle, wosTitle(wosTitles))

  /** title.py:_wos_title — static_data.summary.titles[*].title[*]
    * scanned in document order, first entry with type=="item" wins.
    * `wosTitles` is the parsed array: titles: array<struct<title:
    * array<struct<type,content>>>>.
    */
  def wosTitle(wosTitles: Column): Column = {
    val flat = flatten(wosTitles.getField("title"))
    try_element_at(
      filter(flat, t => t.getField("type") === "item"), lit(1)
    ).getField("content")
  }

  /** pub_year.py — dim year, openalex publication_year, wos
    * static_data.summary.pub_info.pubyear, sulpub year, sulpub
    * journal.year, each behind the valid-year guard (int, not in the
    * future).
    */
  def pubYear(dimYear: Column, oaYear: Column, wosYear: Column,
      sulYear: Column, sulJournalYear: Column, currentYear: Int): Column =
    Distill.firstValid(
      Distill.validYear(dimYear, currentYear),
      Distill.validYear(oaYear, currentYear),
      Distill.validYear(wosYear, currentYear),
      Distill.validYear(sulYear, currentYear),
      Distill.validYear(sulJournalYear, currentYear)
    )

  /** Natural type of a distill candidate, for the reference's
    * `match value:` dispatch in issue.py/volume.py.
    */
  sealed trait ScalarKind
  object ScalarKind {
    /** String-typed source field: winner returned as-is. */
    case object Str extends ScalarKind
    /** Non-string scalar (e.g. numeric Dimensions issue): if it wins,
      * the whole distill returns NULL (`case _: return None`).
      */
    case object NonStr extends ScalarKind
    /** array<string> source field: `case list(): value[0]`. An EMPTY
      * list is not a rule hit at all (utils.all drops `[]` results),
      * so the next candidate wins instead.
      */
    case object StrList extends ScalarKind
  }

  /** issue.py / volume.py — the winning candidate is the FIRST
    * matching one in precedence order; the result then depends on the
    * winner's natural type (`match value:`): a string is returned, a
    * list yields its first element, anything else makes the whole
    * distill return NULL — it does NOT fall through to later rules.
    */
  def firstScalar(candidates: Seq[(Column, ScalarKind)]): Column = {
    import ScalarKind._
    val winner = coalesce(candidates.zipWithIndex.map {
      case ((c, StrList), i) => when(c.isNotNull && size(c) > 0, lit(i))
      case ((c, _), i)       => when(c.isNotNull, lit(i))
    }: _*)
    candidates.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((c, kind), i)) =>
        val v = kind match {
          case Str     => c
          case NonStr  => lit(null).cast("string")
          case StrList => try_element_at(c, lit(1))
        }
        when(winner === i, v).otherwise(acc)
    }
  }

  /** [[firstScalar]] with the two scalar kinds only (true = string). */
  def firstScalarString(candidates: (Column, Boolean)*): Column =
    firstScalar(candidates.map { case (c, isString) =>
      (c, if (isString) ScalarKind.Str else ScalarKind.NonStr): (Column, ScalarKind)
    })

  /** issue.py — openalex biblio.issue, dim issue, pubmed
    * MedlineCitation.Article.Journal.JournalIssue.Issue, sulpub
    * journal.issue.
    */
  def issue(oaIssue: (Column, Boolean), dimIssue: (Column, Boolean),
      pubmedIssue: (Column, Boolean), sulIssue: (Column, Boolean)): Column =
    firstScalarString(oaIssue, dimIssue, pubmedIssue, sulIssue)

  /** volume.py — openalex biblio.volume, dim volume, pubmed
    * JournalIssue.Volume, sulpub journal.volume.
    */
  def volume(oaVolume: (Column, Boolean), dimVolume: (Column, Boolean),
      pubmedVolume: (Column, Boolean), sulVolume: (Column, Boolean)): Column =
    firstScalarString(oaVolume, dimVolume, pubmedVolume, sulVolume)

  /** abstract.py:1-17 — openalex inverted-index rebuild, dim abstract,
    * pubmed segment join, crossref tag-strip, in that order.
    * `oaInvertedIndex` is map<string,array<int>>, `pubmedJson` the RAW
    * pubmed JSON string (segments are string-OR-object — see
    * [[pubmedAbstract]]), `crossrefAbstract0` the raw crossref abstract
    * markup.
    */
  def abstractOf(oaInvertedIndex: Column, dimAbstract: Column,
      pubmedJson: Column, crossrefAbstract0: Column): Column =
    Distill.firstValid(
      graft.functions.TextAnalysis.rebuildInvertedIndex(oaInvertedIndex),
      dimAbstract,
      pubmedAbstract(pubmedJson),
      crossrefAbstract(crossrefAbstract0)
    )

  /** abstract.py:20-44 (_pubmed_abstract) — join the
    * MedlineCitation.Article.Abstract.AbstractText[*] segments where a
    * segment is EITHER a bare string OR an object whose text lives
    * under "#text"; empty/missing segments are dropped before joining.
    *
    * A fixed from_json schema cannot express string-or-object, so this
    * uses Spark's VARIANT type: one parse_json per row, then a per-
    * element type dispatch (schema_of_variant) — still one pass, no
    * UDF. NULL when the path is missing OR the array is empty (an
    * empty jsonpath result is falsy in the reference, so it falls
    * through to crossref); "" only when segments exist but all are
    * empty (the reference joins an empty list).
    */
  def pubmedAbstract(pubmedJson: Column): Column = {
    val segs = try_variant_get(
      try_parse_json(pubmedJson),
      "$.MedlineCitation.Article.Abstract.AbstractText",
      "array<variant>"
    )
    val texts = transform(segs, v =>
      when(schema_of_variant(v) === "STRING", try_variant_get(v, "$", "string"))
        .otherwise(try_variant_get(v, "$['#text']", "string")))
    val kept = filter(texts, t => t.isNotNull && trim(t) =!= "")
    when(size(segs) > 0, array_join(kept, " "))
  }

  /** abstract.py:47-63 (_crossref_abstract) — drop everything through
    * the last "title>" (removes a leading <jats:title> block), then
    * strip the remaining tags and trim.
    */
  def crossrefAbstract(abstractMarkup: Column): Column =
    Normalizers.stripTags(element_at(split(abstractMarkup, "title>"), -1))

  /** journal_issn.py — collect ALL rule matches (openalex issn_l,
    * openalex issn list, sulpub issn, dim issn list, crossref ISSN
    * list, pubmed Journal.ISSN.#text), keep the format-valid ones,
    * dedupe, sort, pipe-join; NULL when none survive. Candidates are
    * `string` or `array<string>` and mix freely; one codegen'd
    * [[graft.plans.IssnSet]].
    */
  def journalIssn(candidates: Column*): Column = IssnSet(candidates: _*)

  /** A scalar candidate as a 1-element list rule hit; NULL (a miss)
    * when the scalar is NULL.
    */
  def one(c: Column): Column = when(c.isNotNull, array(c))

  /** journal_name.py — the display_name of the first OpenAlex location
    * whose source.type == "journal"; otherwise the ISSN-lookup value
    * (the reference queries the OpenAlex API by ISSN; at engine level
    * that's a broadcast-joined lookup column — see [[joinIssnSource]]).
    * `oaLocations` is array<struct<source: struct<type, display_name,
    * ...>>>.
    */
  def journalName(oaLocations: Column, lookupDisplayName: Column): Column =
    Distill.firstValid(
      truthy(try_element_at(
        filter(oaLocations, l => l.getField("source").getField("type") === "journal"),
        lit(1)
      ).getField("source").getField("display_name")),
      lookupDisplayName
    )

  /** publisher.py — openalex primary_location.source
    * .host_organization_name, else the ISSN-lookup host org.
    */
  def publisher(oaHostOrg: Column, lookupHostOrg: Column): Column =
    Distill.firstValid(truthy(oaHostOrg), lookupHostOrg)

  /** Python truthiness for a string candidate: `if value:` — only the
    * EMPTY string is a miss (whitespace is truthy), so "" must not
    * block later rules (journal_name.py / publisher.py).
    */
  def truthy(c: Column): Column = when(c =!= lit(""), c)

  /** citation_count.py — max over the int-typed rule hits: openalex
    * cited_by_count, dim recent_citations, and the WOS
    * `silo_tc[?@.coll_id == 'WOS'].local_count` jsonpath-filter rule
    * (first matching silo entry). The reference drops non-int hits
    * (`isinstance(count, int)`) — in a typed engine that means only
    * integer-typed candidates participate; greatest() is null-skipping
    * on both engines. `wosSiloTc` is array<struct<coll_id,
    * local_count>>.
    */
  def citationCount(oaCitedBy: Column, dimRecent: Column, wosSiloTc: Column): Column = {
    val wos = try_element_at(
      filter(wosSiloTc, e => e.getField("coll_id") === "WOS"), lit(1)
    ).getField("local_count")
    greatest(oaCitedBy, dimRecent, wos)
  }

  /** author_names.py:7-42 (author_list_names) — first rule hit wins;
    * each candidate is an array<string> of per-source names (callers
    * project them — [[joinedNames]], [[Normalizers.flipName]]).
    * jsonpath matches whose value is null are dropped before the hit
    * test; a present-but-EMPTY candidate is a rule MISS (utils.all
    * drops `[]`), so it falls through; no rule hit → empty array (the
    * reference coerces None to []).
    */
  def authorListNames(candidates: Column*): Column = {
    val hit = coalesce(candidates.map { c =>
      val nn = filter(c, x => x.isNotNull)
      when(nn.isNotNull && size(nn) > 0, nn)
    }: _*)
    coalesce(hit, array().cast("array<string>"))
  }

  /** names[0] / names[-1] (author_names.py:45-52); NULL on empty. */
  def firstAuthorName(names: Column): Column = try_element_at(names, lit(1))
  def lastAuthorName(names: Column): Column = try_element_at(names, lit(-1))

  /** Per-author "a b" name assembly over array<struct>: `strict=true`
    * is dim's `first_name + " " + last_name` (a missing part nulls the
    * name — the reference would KeyError); `strict=false` is
    * join_keys (pubmed ForeName/LastName, crossref given/family):
    * missing parts are skipped.
    */
  def joinedNames(authors: Column, aField: String, bField: String, strict: Boolean = false): Column =
    transform(authors, x =>
      if (strict) concat(x.getField(aField), lit(" "), x.getField(bField))
      else concat_ws(" ", x.getField(aField), x.getField(bField)))

  /** author_orcids.py:7-41 (author_list_orcids) — ALL rules
    * contribute (utils.all), flattened, null ids dropped, normalized,
    * deduped, sorted. Candidates are array<string> per source; NULL
    * candidates contribute nothing.
    */
  def authorListOrcids(candidates: Column*): Column =
    Normalizers.orcidList(
      concat(candidates.map(c => coalesce(c, array().cast("array<string>"))): _*))

  /** author_orcids.py:82-99 (_pubmed_orcids) — Identifier entries with
    * @Source == "ORCID" yield their #text. `identifiers` is the
    * flattened array<struct<source, text>> (the reference's
    * dict-or-list Identifier variants are a parse concern; callers
    * flatten per-author lists).
    */
  def pubmedOrcids(identifiers: Column): Column =
    transform(
      filter(identifiers, i => i.getField("source") === "ORCID"),
      i => i.getField("text"))

  /** first_author_orcid / last_author_orcid (author_orcids.py:44-80) —
    * first non-null positional candidate, normalized. The positional
    * jsonpaths ([0]/[-1]) are applied by the caller's projections.
    */
  def positionalOrcid(candidates: Column*): Column =
    Normalizers.normalizeOrcid(coalesce(candidates: _*))

  /** The engine-level form of openalex.source_by_issn: join the pub's
    * piped ISSN string against a (small, broadcast) issn → source
    * lookup, keeping the match for the EARLIEST ISSN in the pub's own
    * list — adds `lookup_display_name` / `lookup_host_org` columns.
    * The pubs side shuffles nothing: explode + broadcast-join + one
    * keyed re-aggregation on the pub id.
    */
  def joinIssnSource(pubs: DataFrame, idCol: String, issnsCol: String, lookup: DataFrame): DataFrame = {
    val hits = pubs
      .select(col(idCol), posexplode(split(col(issnsCol), "\\|")).as(Seq("pos", "issn")))
      .join(broadcast(lookup), Seq("issn"))
      .groupBy(idCol)
      .agg(min_by(struct(col("display_name"), col("host_organization_name")), col("pos")).as("__src"))
    pubs.join(hits, Seq(idCol), "left")
      .withColumn("lookup_display_name", col("__src.display_name"))
      .withColumn("lookup_host_org", col("__src.host_organization_name"))
      .drop("__src")
  }
}
