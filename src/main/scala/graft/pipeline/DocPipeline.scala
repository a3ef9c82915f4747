package graft.pipeline

import graft.functions.{Chunkers, Embedders, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The document → chunk → enrich → vector pipeline (SURVEY.md §3.1).
  *
  * Re-expresses the reference's per-file/per-chunk python loops
  * (`prepare_weaviate_data_chunks` /root/reference/llmcore/cms/
  * sharepointutils.py:300-329 and `weaviate_vector_data_preparation`
  * :331-408) as ONE declarative plan:
  *
  *   read → clean(F5) → posexplode(chunk G2) → n_tokens(F6) →
  *   chunk_id(F7, deterministic) → embed(F12, deterministic, once per
  *   chunk) → sink
  *
  * No shuffle anywhere — the whole chain is narrow (projections +
  * generator), so it scales linearly with input splits; at 100 TB each
  * task streams its parquet split through whole-stage codegen. The
  * reference's O(n²) pd.concat accumulation (:386-405) and
  * 1-HTTP-call-per-chunk embedding (:377) have no analog here.
  */
object DocPipeline {

  val ChunkWords = 20
  val OverlapFraction = 0.2

  /** documents(doc_id, text, lang, source, n_chars) → chunk/vector rows. */
  def chunks(docs: DataFrame): DataFrame = {
    val cleaned = docs.withColumn("clean_text", TextFunctions.cleanText(col("text")))
    cleaned
      .select(col("doc_id"), col("lang"), col("source"),
        posexplode(Chunkers.chunkFixedWordsIn(docs.sparkSession,
          col("clean_text"), ChunkWords, OverlapFraction))
          .as(Seq("chunk_index", "chunk")))
      .withColumn("chunk_index", col("chunk_index").cast("long"))
      .withColumn("n_tokens", TextFunctions.wordCount(col("chunk")))
      .withColumn("n_bpe_tokens", TextFunctions.bpeTokenCount(col("chunk")))
      .withColumn("chunk_id",
        TextFunctions.chunkId(col("doc_id").cast("string"), col("chunk_index")))
  }

  /** chunk rows + L2-normalized deterministic embedding: `graft_embed`
    * runs once per chunk, inside the fused `graft_l2_normalize`
    * (plan-asserted in PlanSpec). */
  def vectors(docs: DataFrame, dim: Int = Embedders.DefaultDim): DataFrame =
    chunks(docs).withColumn("embedding",
      Embedders.l2Normalize(
        Embedders.deterministicEmbedIn(docs.sparkSession, col("chunk"), dim)))
}
