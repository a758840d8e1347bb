package graft.streaming

import graft.functions.Native
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming contamination pre-filter: the Bloom filter built ONCE from a
  * static eval set (see `Dedup.decontaminationReport`) probes a DOCUMENT
  * STREAM — the "screen the crawl as it lands" deployment of the batch
  * decontamination pipeline.
  *
  * Scale shape: the filter is a fixed few-hundred-KB bitset independent of
  * both corpus and stream size, built DISTRIBUTED over the eval set
  * (mergeable bitset-OR aggregate), materialized once at stream start and
  * inlined as a literal — each task decodes it once and probes it for the
  * stream's lifetime. The probe is a stateless per-row predicate, so the
  * stream needs NO watermark and NO state store, and the overwhelming
  * non-contaminated majority is dropped inside the ingest micro-batch.
  * Survivors (doc_id, shingle hash) feed the exact batch verify join
  * downstream — same no-false-negatives + exact-verify contract as the
  * batch query (`q_decontaminate_bloom`).
  */
object StreamDecontaminate {

  /** Shingle-hash rows of `docs` (batch or stream) that MIGHT collide with
    * the static `eval` relation, per the Bloom pre-filter. Both inputs need
    * `doc_id` + `text`.
    */
  def suspectHits(docs: DataFrame, eval: DataFrame,
                  n: Int = 2, capacity: Int = 400000): DataFrame = {
    def hashes(df: DataFrame) =
      df.select(col("doc_id"), explode(Native.shingleHashes(split(col("text"), " "), n)).as("h"))
    val bf = hashes(eval).agg(Native.bloom(col("h"), capacity, 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)
    hashes(docs).filter(Native.mightContain(lit(bf), col("h")))
  }
}
