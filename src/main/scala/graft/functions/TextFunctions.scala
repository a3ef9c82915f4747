package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Text scalar-function surface (SURVEY.md §2.3).
  *
  * Each function ships in two exactly-equivalent forms: a Spark `Column`
  * expression (pure Catalyst built-ins — codegen-friendly, no UDFs) and a
  * DuckDB SQL string builder used by the oracle queries. Keeping both in
  * one object is what guarantees the cross-engine hash parity the driver
  * checks.
  *
  * Reference semantics:
  *   - clean: `remove_unicode` /root/reference/llmcore/cms/parsers.py:170-182
  *     (drop \n\r\t, strip non-ASCII, collapse whitespace) — re-expressed
  *     as a regexp_replace chain instead of python string loops.
  *   - token counts: tiktoken cl100k_base `len(tokenizer.encode(x))`
  *     (sharepointutils.py:364,379). Exact cl100k needs the BPE table
  *     (not available offline), so the engine pins two deterministic
  *     counters: whitespace words and a BPE-ish sub-word regex.
  *   - extension extract: `identify_filetype` sharepointutils.py:103-108.
  */
object TextFunctions {

  // ---- F5: cleaning ------------------------------------------------------

  /** \n\r\t → space, strip non-printable-ASCII, collapse runs, trim. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(c, "[\\n\\r\\t]", " "),
        "[^\\x20-\\x7E]", ""),
      "\\s+", " "))

  def cleanTextSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace($e, '[\\n\\r\\t]', ' ', 'g'), '[^\\x20-\\x7E]', '', 'g'), '\\s+', ' ', 'g'))"

  /** Unicode normalization (UAX #15): the fused codegen'd
    * [[graft.expressions.NormalizeText]] (`graft_normalize`). Spark has
    * no normalization built-in, so there is no composed form. */
  def normalize(spark: SparkSession, c: Column, form: String): Column = {
    require(graft.expressions.NormalizeText.Forms.contains(form),
      s"unknown normalization form $form")
    call_function("graft_normalize", c, lit(form))
  }

  // ---- F1: filename extension -------------------------------------------

  def extExtract(c: Column): Column =
    lower(regexp_extract(c, "\\.([a-zA-Z0-9]+)$", 1))

  def extExtractSql(e: String): String =
    s"lower(regexp_extract($e, '\\.([a-zA-Z0-9]+)$$', 1))"

  // ---- F6: token counters ------------------------------------------------

  /** Whitespace word count; empty/blank → 0. BIGINT in both engines. */
  def wordCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  def wordCountSql(e: String): String =
    s"CASE WHEN length(trim($e)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim($e), '\\s+')) END"

  /** BPE-ish sub-word counter: ≤4-letter runs, single digits, or one
    * non-alnum glyph per token — a deterministic stand-in for cl100k. */
  val BpeTokenPattern = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"

  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeTokenPattern), lit(0))).cast("long")

  def bpeTokenCountSql(e: String): String =
    s"len(regexp_extract_all($e, '$BpeTokenPattern'))"

  // ---- document fingerprint (F7-adjacent) --------------------------------

  /** Deterministic 16-hex fingerprint of the cleaned text. */
  def fingerprint(c: Column): Column =
    substring(md5(cleanText(c)), 1, 16)

  def fingerprintSql(e: String): String =
    s"substr(md5(${cleanTextSql(e)}), 1, 16)"

  /** Deterministic chunk id: sha256(name ‖ '|' ‖ ordinal) — replaces the
    * reference's non-reproducible uuid4 (sharepointutils.py:381). */
  def chunkId(name: Column, ordinal: Column): Column =
    sha2(concat(name, lit("|"), ordinal.cast("string")), 256)

  def chunkIdSql(name: String, ordinal: String): String =
    s"sha256($name || '|' || CAST($ordinal AS VARCHAR))"

  // ---- language-ID heuristic (EXT: text analysis) ------------------------

  /** Marker-word hit counts per language; argmax with a fixed tie order.
    * (Heuristic n-gram language ID; on the synthetic corpus accuracy is
    * not the point — determinism and the operator shape are.) */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is)\\b",
    "de" -> "\\b(und|der|die|das|ist)\\b",
    "es" -> "\\b(el|la|los|las|es)\\b",
    "fr" -> "\\b(le|les|des|est|une)\\b",
    "zh" -> "\\b(zh|hanzi)\\b")

  def langScore(c: Column, lang: String): Column =
    size(regexp_extract_all(c, lit(langMarkers.toMap.apply(lang)), lit(0))).cast("long")

  def langScoreSql(e: String, lang: String): String =
    s"len(regexp_extract_all($e, '${langMarkers.toMap.apply(lang)}'))"

  /** First language (in declaration order) achieving the max marker count;
    * all-zero scores → 'und' (undetermined). */
  def langGuess(c: Column): Column = {
    val scores = langMarkers.map { case (l, _) => l -> langScore(c, l) }
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
  }

  def langGuessSql(e: String): String = {
    val scores = langMarkers.map { case (l, _) => l -> langScoreSql(e, l) }
    val maxExpr = scores.map(_._2).mkString("GREATEST(", ", ", ")")
    val whens = scores.map { case (l, s) =>
      s"WHEN ($s) = ($maxExpr) AND ($maxExpr) > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  // ---- quality scoring (EXT: text analysis) ------------------------------

  /** Exact-integer quality components; ratios are IEEE divisions of exact
    * BIGINTs so they hash identically cross-engine. */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  def punctCountSql(e: String): String =
    s"len(regexp_extract_all($e, '[^A-Za-z0-9\\s]'))"

  def stopwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\b(the|a|of|and|to|in)\\b"), lit(0))).cast("long")

  def stopwordCountSql(e: String): String =
    s"len(regexp_extract_all($e, '\\b(the|a|of|and|to|in)\\b'))"
}
