package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Identifier/string normalizers, re-expressed as pure Column expressions
  * so they stay inside whole-stage codegen (no UDFs).
  *
  * Semantics follow /root/reference/rialto_airflow/utils.py:
  *  - normalize_doi    (utils.py:87-120)  arXiv-id → DOI rewrite, then
  *    extract the first "10.…" substring; blank/quote-containing → NULL.
  *  - normalize_pmid   (utils.py:127-134) lowercase, strip URL + medline:.
  *  - normalize_wos_id (utils.py:137-161) strip WOS: prefix, MEDLINE: → NULL.
  *  - normalize_orcid  (utils.py:164-170) lowercase, strip orcid.org URLs.
  *  - piped            (utils.py:173-183) pipe-join, dropping NULLs.
  *  - join_keys        (utils.py:186-198) space-join present values.
  * Funder-name normalization follows funders/dataset.py:21-24.
  */
object Normalizers {

  /** normalize_doi (utils.py:88-121), step for step: NULL when input is
    * NULL/blank or contains a double quote; lowercase; strip ALL spaces
    * and backslashes; NULL when the cleaned string still contains
    * "&gt"/"&lt" (unresolvable HTML-escaped DOIs); arXiv:NNNN →
    * 10.48550/arxiv.NNNN; then keep from the first "10." on (NULL when
    * no DOI-like substring remains).
    */
  def normalizeDoi(c: Column): Column = {
    val cleaned = regexp_replace(lower(c), "[ \\\\]", "")
    val deArxiv = regexp_replace(cleaned, "^arxiv:", "10.48550/arxiv.")
    val candidate = regexp_extract(deArxiv, "(10\\..+)", 1)
    when(c.isNull || trim(c) === "" || c.contains("\""), lit(null))
      .when(cleaned.contains("&gt") || cleaned.contains("&lt"), lit(null))
      .otherwise(when(candidate === "", lit(null)).otherwise(candidate))
  }

  def normalizePmid(c: Column): Column = {
    val s = lower(trim(c))
    val noUrl = regexp_replace(s, "https://pubmed\\.ncbi\\.nlm\\.nih\\.gov/", "")
    regexp_replace(noUrl, "medline:", "")
  }

  def normalizeWosId(c: Column): Column = {
    val s = trim(c)
    when(c.isNull || s === "" || upper(s).startsWith("MEDLINE:"), lit(null))
      .otherwise(when(upper(s).startsWith("WOS:"), s.substr(lit(5), length(s) - 4)).otherwise(s))
  }

  def normalizeOrcid(c: Column): Column = {
    val s = lower(trim(c))
    regexp_replace(s, "https://(sandbox\\.)?orcid\\.org/", "")
  }

  /** Pipe-delimited join of a string array, dropping NULL elements. */
  def piped(c: Column): Column =
    when(c.isNull, lit(null))
      .otherwise(array_join(filter(c, x => x.isNotNull), "|"))

  /** Space-join of any present (non-NULL) values; concat_ws skips NULLs. */
  def joinKeys(cols: Column*): Column = concat_ws(" ", cols: _*)

  /** author_list_orcids (author_orcids.py:8-41): normalize every id,
    * dedupe, sort.
    */
  def orcidList(arr: Column): Column =
    array_sort(array_distinct(transform(filter(arr, x => x.isNotNull), normalizeOrcid _)))

  /** sulpub author-name assembly (author_names.py:83-96):
    * "Stanford, L. D." → "L. D. Stanford" — split on commas, rotate the
    * family name to the end.
    */
  def flipName(c: Column): Column = {
    val parts = transform(split(c, ","), p => trim(p))
    // slice length = size(parts), not Int.MaxValue: Slice's interpreted
    // eval (used inside HOF lambdas and on local relations) overflows
    // start+length and returns [], while codegen clamps — same
    // expression, two answers. Bounding by the array size is correct
    // on both paths.
    array_join(concat(slice(parts, lit(2), size(parts)), slice(parts, lit(1), lit(1))), " ")
  }

  /** ISSN format check (distiller/journal_issn.py:34-50): 9 chars,
    * 4 digits, ANY separator character, then NNN[N|X] — the reference
    * checks issn[:4] and issn[5:] and never inspects index 4, so
    * "1234 567X" passes just like "1234-567X". (A literal newline at
    * index 4 would slip past `.` — not a shape that occurs in ISSN
    * data; documented divergence.)
    */
  def isValidIssn(c: Column): Column =
    c.isNotNull && c.rlike(IssnRegex)

  /** The [[isValidIssn]] format, shared with the native
    * [[graft.plans.IssnSet]] (which applies it with `find()`, as
    * `rlike` does).
    */
  val IssnRegex = "^[0-9]{4}.[0-9]{3}[0-9X]$"
  val IssnPattern: java.util.regex.Pattern = java.util.regex.Pattern.compile(IssnRegex)

  /** Strip HTML/XML tags, keep text (crossref abstract cleanup,
    * distiller/abstract.py:47-63 — BeautifulSoup get_text re-expressed
    * as a tag regexp, then trim).
    */
  def stripTags(c: Column): Column =
    // A tag must START like one (letter, '/', '!' or '?' after '<') —
    // BeautifulSoup's html.parser treats "< 3" or a bare "<" as TEXT,
    // so "We compare 2 < 3 and X > Y" survives intact; the naive
    // "<[^>]*>" would eat "< 3 and X >" (reference
    // test_crossref_abstract_with_angle_brackets_in_text).
    trim(regexp_replace(c, "<[A-Za-z/!?][^>]*>", ""))

  /** Funder-name normalization: drop a trailing parenthetical acronym,
    * lowercase (funders/dataset.py _normalize_name).
    */
  def normalizeFunderName(c: Column): Column =
    lower(regexp_replace(c, " ?\\(.+\\)$", ""))
}
