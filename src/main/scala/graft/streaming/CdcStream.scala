package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.DedupQueries

/** Streaming novel-chunk gate — dd_cdc's streaming twin: arriving
  * documents are content-defined-chunked AS THEY LAND and each chunk is
  * checked against the corpus chunk store, so an ingest pipeline knows
  * per document how many of its chars are already stored before paying
  * to store them (the incremental form of the batch storage-dedup
  * estimator; restic/borg do exactly this check per backup).
  *
  * Scale shape: chunking is the SAME row-local native kernel the batch
  * operator uses ([[DedupQueries.cdcChunked]] — shared so gate and batch
  * chunk identically), which is what makes the gate STATELESS: no
  * watermark, no state store — the only non-narrow operator is a
  * stream-static left join on the 16-byte fingerprint key against the
  * once-persisted chunk store. Chunk bodies never move: the join carries
  * (fp, chunk_chars) only.
  */
object CdcStream {

  /** per-chunk novelty verdicts. `docs`: streaming (doc_id, ts, text).
    * `corpus`: static (…, text). Returns
    * (doc_id, ts, fp, chunk_chars, known 0/1). The [[GateCaches]] own
    * the persisted chunk store — close them when the gate stops.
    */
  def chunkFlagsScoped(docs: DataFrame, corpus: DataFrame): (DataFrame, GateCaches) = {
    import corpus.sparkSession.implicits._
    val store = DedupQueries.cdcChunked(corpus)
      .select($"fp").distinct()
      .withColumn("known", lit(1L))
      .persist()
    val flags = DedupQueries.cdcChunked(docs)
      .select($"doc_id", $"ts", $"fp", $"chunk_chars")
      .join(store, Seq("fp"), "left")
      .select($"doc_id", $"ts", $"fp", $"chunk_chars",
        coalesce($"known", lit(0L)).as("known"))
    (flags, new GateCaches(Seq(store)))
  }
}
