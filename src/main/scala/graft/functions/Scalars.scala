package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function library (SURVEY.md §2.8, F1–F13).
  *
  * Everything here is a pure `Column => Column` built from Spark's
  * codegen'd built-ins — zero UDFs by design (SURVEY §7.3): these stay
  * inside WholeStageCodegen and are pushdown/prune-transparent, which is
  * what makes them viable on a 100 TB scan.
  *
  * Reference semantics (cited per function) come from
  * /root/reference/siskin/conversions.py and the sources modules.
  */
object Scalars {

  /** F1 — base64-encode an id and strip `=` padding.
    * Ref: conversions.py:155-156,538-540; sources/base.py:182. */
  def base64Id(c: Column): Column =
    regexp_replace(base64(c.cast("binary")), "=+$", "")

  /** F3 — `de_listify`: first element of a list with default for
    * null/empty lists. Ref: conversions.py:338-360, the LIST branch:
    * `v[0]` is returned as-is even when it is an empty string (only the
    * scalar-string branch substitutes the default for ""). Input here
    * is always an array column; callers wrapping scalars with `array()`
    * get list semantics, not the scalar-string falsy check. */
  def deListify(arr: Column, default: Column): Column =
    coalesce(try_element_at(arr, lit(1)), default)

  /** F4 — canonical id synthesis `ai-<sid>-<id>`.
    * Ref: conversions.py:316,487,546. */
  def synthesizeId(sourceId: Column, recordId: Column): Column =
    concat(lit("ai-"), sourceId, lit("-"), recordId)

  /** F5 — year → RFC3339 date `YYYY-01-01T00:00:00Z`.
    * Ref: conversions.py:331-335. */
  def yearToRfc3339(year: Column): Column =
    concat(year.cast("string"), lit("-01-01T00:00:00Z"))

  /** F5 — ISO date truncation (`[:10]`). Ref: conversions.py:503-509. */
  def isoDate(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  /** F6 — DOI normalization: strip resolver prefix, lowercase.
    * Ref: conversions.py:494; groupcover `-lower` (workflows/ai.py:300). */
  def normalizeDoi(doi: Column): Column =
    regexp_replace(lower(doi), "^https?://(dx\\.)?doi\\.org/", "")

  /** F6 — DOI prefix (registrant), e.g. `10.1006` of `10.1006/bulm...`.
    * Ref: sources/crossref.py:620. */
  def doiPrefix(doi: Column): Column = substring_index(doi, "/", 1)

  /** F7 — ISSN shape `^[0-9]{4}-[0-9]{3}[0-9xX]$`.
    * Ref: sources/amsl.py:569-586. */
  val IssnPattern = "^[0-9]{4}-[0-9]{3}[0-9xX]$"
  def isIssn(c: Column): Column = c.rlike(IssnPattern)

  /** F7 / P10 — extract a plausible 4-digit year.
    * Ref: sources/base.py:156 (`[1-9][0-9]{3}`). */
  def extractYear(c: Column): Column =
    regexp_extract(c, "[1-9][0-9]{3}", 0)

  /** P10 — truncate long fields (title/author 4000-char cap).
    * Ref: sources/base.py:153-215. */
  def truncateField(c: Column, n: Int): Column = substring(c, 1, n)

  /** F2 — HTML entity unescape for exactly the named-entity set the
    * reference handles: saxutils.unescape defaults (amp/lt/gt) plus
    * quot/apos (ref: conversions.py:67-78). Numeric references like
    * `&#39;` stay literal — saxutils does not decode them. `&amp;` is
    * decoded last so `&amp;lt;` round-trips as the literal text
    * `&lt;`. */
  def htmlUnescape(c: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&apos;" -> "'", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (ent, ch)) => replace(acc, lit(ent), lit(ch)) }

  /** F9 — literal mapping-table lookup with default (ref:
    * conversions.py:579-1017 author_role_mapping): a when-chain over a
    * broadcast-literal map, fully codegen'd. */
  def mapLookup(c: Column, mapping: Map[String, String], default: Column): Column =
    mapping.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(null))) {
        case (acc, (k, v)) => acc.when(c === k, lit(v))
      }.otherwise(default)

  /** F11 — JSON field extraction from a string column.
    * Ref: sources/doaj.py:305-313 (jq flatten). */
  def jsonField(c: Column, path: String): Column =
    get_json_object(c, path)

  /** Tokenize whitespace-delimited text; trims first so a trailing
    * separator can't create empty tokens (documents.text ends in " ").
    * Empty/whitespace-only input yields [""] — split never returns an
    * empty array — which deliberately matches DuckDB's
    * `string_split(trim(text), ' ')` so every text-op oracle agrees;
    * callers needing true emptiness filter on `text != ''`. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Canonical token-sorted form of a text — the exact-dedup key used by
    * the LLM-pipeline ops (order-insensitive content identity). */
  def canonicalText(text: Column): Column =
    array_join(array_sort(tokens(text)), " ")
}
