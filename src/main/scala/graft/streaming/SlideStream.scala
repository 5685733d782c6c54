package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.CurationQueries

/** Streaming sliding-window exact-substring gate — dd_slide's streaming
  * twin: arriving documents are cut into stride-1 SlideLen-token window
  * hashes AS THEY LAND and each window is checked against the corpus
  * window store, so an ingest pipeline sees per document which exact
  * spans (at ANY token offset) it already holds — before admitting the
  * doc. The offset-invariance is the point: a grid-segment gate misses
  * a copy shifted by a few tokens; this one cannot (SlideDedupSpec's
  * batch argument, inherited verbatim because gate and batch share the
  * window builder).
  *
  * Scale shape: the window build is the SAME row-local codegen'd pass
  * the batch operator uses ([[CurationQueries.slideWindows]]), which is
  * what makes the gate STATELESS — no watermark, no state store; the
  * only non-narrow operator is a stream-static left join on the
  * 16-byte window hash against the once-persisted corpus store. Text
  * never moves: the join carries (doc_id, win_idx, h) only.
  */
object SlideStream {

  /** per-window verdicts. `docs`: streaming (doc_id, ts, text).
    * `corpus`: static (…, doc_id, text). Returns
    * (doc_id, win_idx, h, known 0/1). Docs shorter than SlideLen tokens
    * emit no windows (nothing to match at this granularity). The
    * [[GateCaches]] own the persisted window store — close them when the
    * gate stops.
    */
  def windowFlagsScoped(docs: DataFrame, corpus: DataFrame): (DataFrame, GateCaches) = {
    import corpus.sparkSession.implicits._
    val store = CurationQueries.slideWindows(corpus)
      .select($"h").distinct()
      .withColumn("known", lit(1L))
      .persist()
    val flags = CurationQueries.slideWindows(docs)
      .join(store, Seq("h"), "left")
      .select($"doc_id", $"win_idx", $"h",
        coalesce($"known", lit(0L)).as("known"))
    (flags, new GateCaches(Seq(store)))
  }
}
