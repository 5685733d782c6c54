package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.VectorOps
import graft.queries.DedupQueries

/** Streaming vector-similarity gate — dd_embed_lsh's stream twin: each
  * ARRIVING embedding is checked against the existing corpus's
  * hyperplane-LSH index and flagged with every corpus vector whose exact
  * quantized cosine clears the threshold. The embed-and-check-on-arrival
  * step of an ingest pipeline (near-dup refusal, similarity alerting)
  * without re-running the corpus-wide batch join.
  *
  * Scale shape: the streaming side is entirely NARROW and stateless —
  * quantization and the banding signature are per-row expressions (the
  * native HyperplaneBands codegen expression needs no aggregation), and
  * the multi-probe explode emits tables·(bits+1) rows per arrival.
  * Candidates come from a stream-static equi join against the persisted
  * corpus band table; verification is a second stream-static join to the
  * corpus vectors plus a per-row exact integer dot product. The only
  * stateful operator is the final watermark-bounded pair dedup (a pair
  * colliding in several probe tables would otherwise flag repeatedly).
  * The scoped overload hands back the [[GateCaches]] owning the
  * persisted corpus index relations — close it when the gate stops (the
  * plain overload leaves the scope to the caller's clearCache).
  */
object VectorStream {

  private val Bits = 8

  /** `arrivals`: streaming with (vec_id, embedding, ts). `corpus`:
    * static with (vec_id, embedding). Returns (vec_id, ts, match_vec,
    * cos_ppm) for every corpus vector above `thresholdPpm`. Banding is
    * the batch index's, at a fixed 8 bits.
    */
  def simFlags(arrivals: DataFrame, corpus: DataFrame,
      thresholdPpm: Long = 350000, watermark: String = "1 hour"): DataFrame =
    simFlagsScoped(arrivals, corpus, thresholdPpm, watermark)._1

  def simFlagsScoped(arrivals: DataFrame, corpus: DataFrame,
      thresholdPpm: Long = 350000, watermark: String = "1 hour"): (DataFrame, GateCaches) = {
    import corpus.sparkSession.implicits._
    def banded(vecs: DataFrame, cols: Column*) = VectorOps.withHyperplaneBands(
      VectorOps.quantize(vecs).select(cols: _*), DedupQueries.EmbedLshTables, Bits)
    val e = banded(corpus, $"vec_id", $"q", $"nn").persist()
    val bands = DedupQueries.embedExactBands(e).persist() // corpus: exact bands
    val probes = DedupQueries.embedProbes( // arrivals: multi-probe
      banded(arrivals, $"vec_id", $"ts", $"q", $"nn"), Bits, Seq("ts", "q", "nn"))
    val flagged = DedupQueries.embedCollisions(probes, bands)
      .filter($"va" =!= $"vb")
      .join(e.select($"vec_id".as("vb"), $"q".as("qb"), $"nn".as("nb")), Seq("vb"))
      .withColumn("cos_ppm", VectorOps.cosPpm(VectorOps.dotCol($"q", $"qb"), $"nn", $"nb"))
      .filter($"cos_ppm" >= thresholdPpm)
      .select($"va".as("vec_id"), $"ts", $"vb".as("match_vec"), $"cos_ppm")
    // pair dedup: multi-table probe collisions flag a pair repeatedly;
    // cos_ppm and ts are functions of the pair, so which duplicate
    // survives is immaterial. Streaming needs the watermark-bounded
    // form; the same gate evaluated over a batch left side (the spec's
    // truth path) uses plain dropDuplicates — identical semantics.
    val deduped =
      if (arrivals.isStreaming)
        flagged.withWatermark("ts", watermark)
          .dropDuplicatesWithinWatermark("vec_id", "match_vec")
      else flagged.dropDuplicates("vec_id", "match_vec")
    (deduped, new GateCaches(Seq(e, bands)))
  }
}
