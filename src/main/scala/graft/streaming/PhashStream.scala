package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, MultimodalQueries}

/** Streaming perceptual-hash near-dup gate — mm_phash_pairs' streaming
  * twin: each arriving binary payload is phashed AS IT LANDS and probed
  * against the static corpus phash index, so an asset-ingest pipeline
  * flags visual near-duplicates before storing the payload.
  *
  * The phash here is computed ROW-LOCALLY (bit b set iff more than half
  * the row's 4-gram hashes have bit b set — exactly the batch
  * operator's sum(±1) > 0 rule, which is order-independent, so the two
  * forms are bit-identical; StreamPhashSpec asserts it per asset).
  * Row-locality is what makes the gate STATELESS apart from the
  * watermark-bounded pair dedup: the batch side computes the same
  * signature via a grouped aggregation, but a streaming groupBy would
  * be stateful — the same trade the winnowing gate documents. The gram
  * hash array is materialized once per row and shared by all 32 bit
  * tests. The probe is a stream-static equi join on the (band, 8-bit)
  * key — 4 probes multiplying the tiny arrival side, never the corpus —
  * with an exact hamming ≤ 3 verify on the joined 32-bit signatures.
  */
object PhashStream {

  /** (position[, ts], phash, band, bits) banded rows of a
    * (position[, ts], txt) relation — shared shape for the static index
    * and the arrival side: the batch operator's phash32 kernel
    * (row-local, codegen'd — what keeps the gate stateless) and 4×8-bit
    * bands
    */
  private def banded(p: DataFrame, carry: Seq[String]): DataFrame =
    DedupQueries.bitBands(MultimodalQueries.phashed(p, carry), "phash", 4, 8)

  /** near-dup flags. `assets`: streaming (position, ts, txt). `corpus`:
    * static (position, txt). Returns (position, ts, match_pos, hamming).
    */
  def flags(assets: DataFrame, corpus: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    flagsScoped(assets, corpus, watermark)._1

  def flagsScoped(assets: DataFrame, corpus: DataFrame,
      watermark: String = "1 hour"): (DataFrame, GateCaches) = {
    import corpus.sparkSession.implicits._
    val idx = banded(corpus, Seq("position")).persist()
    val out = DedupQueries.bitBandJoin(banded(assets, Seq("position", "ts")), idx, "phash")
      .filter(col("a.position") =!= col("b.position"))
      .filter($"hamming" <= 3)
      .select(col("a.position").as("position"), col("a.ts").as("ts"),
        col("b.position").as("match_pos"), $"hamming")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("position", "match_pos")
    (out, new GateCaches(Seq(idx)))
  }
}
