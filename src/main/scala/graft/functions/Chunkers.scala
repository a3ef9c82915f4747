package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{size => asize, _}

/** Chunking generators (SURVEY.md §2.9).
  *
  * G2 — fixed-size word chunks with overlap — reproduces the reference's
  * `get_chunks_fixed_size_with_overlap` (/root/reference/llmcore/cms/
  * parsers.py:40-68): words from whitespace-collapse + single-space split
  * (`word_splitter` parsers.py:29-37), chunk i covers
  * `words[max(i*size - int(size*fraction), 0) : i*size + size]` for
  * i = 0, size, 2·size, … It is implemented as a fused Catalyst kernel
  * — no UDF, stays inside whole-stage codegen — and has an exact DuckDB
  * mirror for the oracle.
  *
  * G1 — recursive character splitting (parsers.py:161-166 via langchain's
  * public RecursiveCharacterTextSplitter semantics: try "\n\n", "\n",
  * " ", "" separators, greedily merge to ≤ chunkSize chars with overlap)
  * — is a Scala UDF: inherently iterative. Verified by ChunkersSpec's
  * hand-computed goldens and, on the document corpus, by the
  * q_doc_chunks_recursive recursive-CTE oracle (TextQueries).
  */
object Chunkers {

  /** REF `word_splitter`: collapse whitespace runs then split on single
    * space (keeps the reference's leading-empty-token behavior). */
  def words(c: Column): Column =
    split(regexp_replace(c, "\\s+", " "), " ")

  def wordsSql(e: String): String =
    s"regexp_split_to_array(regexp_replace($e, '\\s+', ' ', 'g'), ' ')"

  /** G2 as an array Column, element i the i-th overlapping chunk: the
    * fused [[graft.expressions.ChunkWords]] (`graft_chunk_words`, split
    * once, emit chunks in one pass), identical to the composed
    * split/sequence/slice form ChunkersSpec checks it against. */
  def chunkFixedWordsIn(spark: org.apache.spark.sql.SparkSession,
      c: Column, chunkSize: Int, overlapFraction: Double): Column =
    call_function("graft_chunk_words", c, lit(chunkSize),
      lit((chunkSize * overlapFraction).toInt))

  /** DuckDB mirror of [[chunkFixedWordsIn]] (1-based inclusive-end slices). */
  def chunkFixedWordsSql(e: String, chunkSize: Int, overlapFraction: Double): String = {
    val ov = (chunkSize * overlapFraction).toInt
    val w = wordsSql(e)
    s"""list_transform(
       |  range(0, CAST(CEIL(CAST(len($w) AS DOUBLE) / $chunkSize) AS INT)),
       |  i -> array_to_string(($w)[GREATEST(i * $chunkSize - $ov, 0) + 1 : i * $chunkSize + $chunkSize], ' '))""".stripMargin
  }

  /** G1: recursive character splitter — a faithful transliteration of
    * the public langchain `RecursiveCharacterTextSplitter` semantics the
    * reference invokes with chunk_size=2000 / chunk_overlap=50
    * (/root/reference/llmcore/cms/parsers.py:161-166,
    * /root/reference/data_ingestion.py:41-42; langchain 2023-era
    * defaults: separators ["\n\n","\n"," ",""], keep_separator=true,
    * length = chars):
    *
    *   1. pick the first separator present in the text (last = "" always
    *      matches, splitting into characters);
    *   2. split, attaching each separator to the piece FOLLOWING it
    *      (keep_separator), dropping empty pieces;
    *   3. pieces shorter than `chunkSize` are greedily merged (joined
    *      with "" — the separator is already embedded) into chunks of at
    *      most `chunkSize` chars; on emitting a chunk, pieces pop from
    *      the front until the carried total is ≤ `overlap` and admits
    *      the next piece — the carried tail is the inter-chunk overlap;
    *   4. pieces ≥ `chunkSize` recurse with the remaining separators;
    *   5. every emitted chunk is whitespace-stripped; empty results drop.
    *
    * Verified by ChunkersSpec's hand-computed golden fixtures + corpus
    * invariants (every chunk ≤ chunkSize, non-empty, in-order). */
  def recursiveSplit(text: String, chunkSize: Int, overlap: Int,
      separators: Seq[String] = Seq("\n\n", "\n", " ", "")): Seq[String] = {

    // re.split("(sep)", text) with the separator glued to the next piece
    def splitKeep(t: String, sep: String): Seq[String] =
      if (sep.isEmpty) t.map(_.toString)
      else {
        val parts = t.split(java.util.regex.Pattern.quote(sep), -1)
        (parts.head +: parts.tail.map(sep + _)).toSeq.filter(_.nonEmpty)
      }

    def joinDocs(docs: Seq[String]): Option[String] = {
      val s = docs.mkString.strip()
      if (s.isEmpty) None else Some(s)
    }

    // TextSplitter._merge_splits with separator "" (keep_separator=true)
    def mergeSplits(splits: Seq[String]): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = scala.collection.mutable.ArrayDeque.empty[String]
      var total = 0
      splits.foreach { d =>
        val len = d.length
        if (total + len > chunkSize) {
          if (cur.nonEmpty) {
            joinDocs(cur.toSeq).foreach(out += _)
            while (total > overlap || (total + len > chunkSize && total > 0)) {
              total -= cur.head.length
              cur.removeHead()
            }
          }
        }
        cur += d
        total += len
      }
      joinDocs(cur.toSeq).foreach(out += _)
      out.toSeq
    }

    def splitRec(t: String, seps: Seq[String]): Seq[String] = {
      val idx = seps.indexWhere(s => s.isEmpty || t.contains(s))
      val (sep, newSeps) =
        if (idx < 0) (seps.last, Nil)
        else if (seps(idx).isEmpty) (seps(idx), Nil)
        else (seps(idx), seps.drop(idx + 1))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val good = scala.collection.mutable.ArrayBuffer.empty[String]
      splitKeep(t, sep).foreach { s =>
        if (s.length < chunkSize) good += s
        else {
          if (good.nonEmpty) { out ++= mergeSplits(good.toSeq); good.clear() }
          if (newSeps.isEmpty) out += s
          else out ++= splitRec(s, newSeps)
        }
      }
      if (good.nonEmpty) out ++= mergeSplits(good.toSeq)
      out.toSeq
    }

    splitRec(text, separators)
  }

  /** [[recursiveSplit]] as a Spark UDF column (Array[String]). */
  def recursiveSplitUdf(chunkSize: Int, overlap: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) =>
      if (t == null) Array.empty[String]
      else recursiveSplit(t, chunkSize, overlap).toArray)

  /** G3: re-split rows whose token count exceeds `tokenLimit` — the
    * reference's `split_kbs` semantics (/root/reference/llmcore/cms/
    * cmfunctions.py:329-355): num_splits = ceil(tokens/limit),
    * words_per_split = floor(n_words/num_splits), the LAST part absorbs
    * the remainder, and continuation parts are prefixed with the text
    * before "Full Article:" plus " Part Article: "; part token counts
    * are the un-prefixed word counts (end - start). Pure Catalyst,
    * returns array<struct<part:string, part_tokens:bigint>>. */
  def splitOversized(text: Column, nTokens: Column, tokenLimit: Int): Column = {
    val w = split(trim(text), "\\s+") // REF str.split(): trim + run-split
    val n = asize(w)
    val nSplits = floor(nTokens / tokenLimit).cast("int") +
      when(nTokens % tokenLimit > 0, 1).otherwise(0)
    val perPart = floor(n / nSplits).cast("int")
    val prefix = split_part(text, lit("Full Article:"), lit(1))
    when(nTokens <= tokenLimit,
      array(struct(text.as("part"), nTokens.cast("long").as("part_tokens")))).otherwise(
      transform(sequence(lit(0), nSplits - 1), i => {
        val start = i * perPart
        val end = when(i < nSplits - 1, (i + 1) * perPart).otherwise(n)
        val slc = array_join(slice(w, start + 1, end - start), " ")
        struct(
          when(i === 0, slc)
            .otherwise(concat(prefix, lit(" Part Article: "), slc)).as("part"),
          (end - start).cast("long").as("part_tokens"))
      }))
  }

  def splitOversizedSql(e: String, nTokensE: String, tokenLimit: Int): String = {
    val w = s"regexp_split_to_array(trim($e), '\\s+')"
    val nSplits = s"(CAST(FLOOR(($nTokensE) / $tokenLimit) AS INT) + CASE WHEN ($nTokensE) % $tokenLimit > 0 THEN 1 ELSE 0 END)"
    val perPart = s"CAST(FLOOR(len($w) / $nSplits) AS INT)"
    val prefix = s"split_part($e, 'Full Article:', 1)"
    s"""CASE WHEN ($nTokensE) <= $tokenLimit
       |  THEN [struct_pack(part := $e, part_tokens := CAST(($nTokensE) AS BIGINT))]
       |ELSE list_transform(range(0, $nSplits), i ->
       |  struct_pack(
       |    part := CASE WHEN i = 0
       |      THEN array_to_string(($w)[i * ($perPart) + 1 : (i + 1) * ($perPart)], ' ')
       |      ELSE $prefix || ' Part Article: ' ||
       |        array_to_string(($w)[i * ($perPart) + 1 :
       |          CASE WHEN i < $nSplits - 1 THEN (i + 1) * ($perPart) ELSE len($w) END], ' ')
       |    END,
       |    part_tokens := CAST((CASE WHEN i < $nSplits - 1 THEN (i + 1) * ($perPart) ELSE len($w) END) - i * ($perPart) AS BIGINT)))
       |END""".stripMargin
  }
}
