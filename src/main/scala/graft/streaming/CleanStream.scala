package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{CorpusLshIndex, DedupQueries, SamplingQueries, TextQueries}

/** Ownership handle for a streaming gate's persisted STATIC side (the
  * corpus index relations every micro-batch reuses). The gate's plan
  * holds these caches for its whole run; close() releases them when the
  * stream is torn down — without it, a long-lived session cycling gates
  * accumulates pinned blocks (the cache-scope contract CacheScopeSpec
  * enforces for the batch operators).
  */
final class GateCaches private[streaming] (cached: Seq[DataFrame]) extends AutoCloseable {
  override def close(): Unit = cached.foreach(_.unpersist(): Unit)
}

/** Streaming head of the corpus-cleaning pipeline: documents tailed from
  * a topic are quality-gated and exactly deduplicated AS THEY ARRIVE,
  * instead of in a nightly batch over the full corpus.
  *
  * Scale shape: the quality gate is the same codegen'd narrow pass the
  * batch pipeline uses (TextQueries.qualityScored — shared so both grade
  * documents identically), and the exact dedup is
  * dropDuplicatesWithinWatermark on the content fingerprint, whose state
  * is bounded by the watermark horizon, not the stream length. The LSH
  * near-dup stage deliberately stays a batch compaction over the cleaned
  * output (pipe_clean_corpus): its band self-join needs a corpus-wide
  * candidate set, and keeping that as streaming state would grow without
  * bound — the standard split between a streaming ingest gate and a
  * periodic wide-join compaction.
  */
object CleanStream {

  /** `docs`: streaming DataFrame with (doc_id, text, source, ts).
    * Returns the kept documents (append mode): quality ≥ 0.55 and the
    * first arrival of each exact content fingerprint within the
    * watermark horizon.
    */
  def cleanedDocs(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    TextQueries.qualityScored(docs)
      .filter(floor(col("score") * lit(1000000.0) + lit(0.5)).cast("long") >= 550000)
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select(col("doc_id"), col("source"), col("text"), col("ts"))

  /** Stream-vs-static NEAR-dup gate — the streaming twin of
    * dd_incremental's near path: each arriving document is checked
    * against the EXISTING corpus's LSH index and flagged with every
    * corpus doc whose verified n-gram jaccard meets the threshold.
    *
    * Scale shape: the streaming side is entirely NARROW — per-row
    * shingle arrays and per-row minhash band keys (the same
    * array_min/transform signature builder the batch chain uses; no
    * streaming aggregation, no unbounded state). Candidates come from a
    * stream-static equi join against the corpus band table, verification
    * from a second stream-static join to the corpus shingle arrays plus
    * a per-row array_intersect — both stateless. The only stateful
    * operator is the final dropDuplicatesWithinWatermark (a pair that
    * collides in several bands would otherwise flag more than once),
    * whose state is bounded by the watermark horizon. The static index
    * is persisted here so every micro-batch reuses it; close the
    * returned [[GateCaches]] when the stream stops (the plain overload
    * leaves the scope to the caller's clearCache, as before).
    *
    * `docs`: streaming (doc_id, text, ts). `corpus`: static
    * (doc_id, text). Returns (doc_id, ts, match_doc, jaccard_ppm).
    */
  def nearDupFlags(docs: DataFrame, corpus: DataFrame,
      thresholdPpm: Long = 400000, watermark: String = "1 hour"): DataFrame =
    nearDupFlagsScoped(docs, corpus, thresholdPpm, watermark)._1

  def nearDupFlagsScoped(docs: DataFrame, corpus: DataFrame,
      thresholdPpm: Long = 400000, watermark: String = "1 hour"): (DataFrame, GateCaches) = {
    import corpus.sparkSession.implicits._
    val arrC = DedupQueries.shingleArrays(corpus).persist()
    val bandsC = DedupQueries.bandArrays(arrC)
      .select($"doc_id", $"band", $"bkey").persist()
    val bandsN = DedupQueries.bandArrays(
      docs.withColumn("tk", split($"text", " +"))
        .withColumn("ss", expr(DedupQueries.shingleExpr))
        .select($"doc_id", $"ts", $"ss"))
    val flags = bandsN.as("n").join(bandsC.as("c"),
        col("n.band") === col("c.band") && col("n.bkey") === col("c.bkey") &&
          col("n.doc_id") =!= col("c.doc_id"))
      .select(col("n.doc_id").as("doc_id"), col("n.ts").as("ts"),
        col("n.ss").as("sa"), col("c.doc_id").as("match_doc"))
      .join(arrC.select($"doc_id".as("match_doc"), $"ss".as("sb")), Seq("match_doc"))
      .withColumn("n_int", size(array_intersect($"sa", $"sb")).cast("long"))
      .withColumn("jaccard_ppm", DedupQueries.jaccardPpm)
      .filter($"jaccard_ppm" >= thresholdPpm)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id", "match_doc")
      .select($"doc_id", $"ts", $"match_doc", $"jaccard_ppm")
    (flags, new GateCaches(Seq(arrC, bandsC)))
  }

  /** Streaming DECONTAMINATION gate — dd_decontam's stream twin: each
    * arriving training document is flagged the moment it shares an
    * 8-token shingle with the benchmark/eval set, BEFORE it can enter a
    * training mix. The bench set is indexed once (per-shingle min bench
    * doc — the same index dd_decontam builds) and persisted; arrivals
    * explode their own shingles (narrow, per-row) into a stream-static
    * equi join against it. No streaming aggregation: the output is the
    * distinct (doc, bench_doc) contamination pair relation, deduped by
    * the watermark-bounded dropDuplicates — the same stateless shape as
    * [[nearDupFlags]], so state never grows with the corpus.
    *
    * `docs`: streaming (doc_id, text, ts). `bench`: static
    * (doc_id, text). Returns (doc_id, ts, bench_doc).
    */
  def decontamFlags(docs: DataFrame, bench: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    decontamFlagsScoped(docs, bench, watermark)._1

  def decontamFlagsScoped(docs: DataFrame, bench: DataFrame,
      watermark: String = "1 hour"): (DataFrame, GateCaches) = {
    import bench.sparkSession.implicits._
    val benchIdx = DedupQueries.shingleArrays(bench)
      .select($"doc_id".as("bd"), explode($"ss").as("s"))
      .groupBy($"s").agg(min($"bd").as("bench_doc"))
      .persist()
    val flags = docs.withColumn("tk", split($"text", " +"))
      .withColumn("ss", expr(DedupQueries.shingleExpr))
      .select($"doc_id", $"ts", explode($"ss").as("s"))
      .join(benchIdx, Seq("s"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id", "bench_doc")
      .select($"doc_id", $"ts", $"bench_doc")
    (flags, new GateCaches(Seq(benchIdx)))
  }

  /** Streaming WINNOWING gate — dd_winnow's stream twin: each arriving
    * document is flagged the moment one of its winnowing fingerprints
    * appears in the static corpus index, i.e. the moment it provably
    * shares a >= 11-char substring with an indexed document whose
    * fingerprint posting list is below the boilerplate cap. The corpus
    * side is fingerprinted once ([[DedupQueries.winnowSigs]] — the SAME
    * row-local selection the batch operator uses, so gate and batch
    * nominate identically) with posting lists capped at 15 corpus docs
    * (16 including the arrival, the batch rule's cap applied to the
    * probe-vs-corpus form). The arrival side is stateless by
    * construction: winnowing is row-local array math, the probe is a
    * stream-static equi join on the 8-byte fingerprint key — the only
    * state is the watermark-bounded pair dedup.
    *
    * `docs`: streaming (doc_id, text, ts). `corpus`: static
    * (doc_id, text). Returns (doc_id, ts, match_doc). The
    * [[GateCaches]] own the persisted fingerprint postings — close them
    * when the gate stops.
    */
  def winnowFlagsScoped(docs: DataFrame, corpus: DataFrame,
      watermark: String = "1 hour"): (DataFrame, GateCaches) = {
    import corpus.sparkSession.implicits._
    val sigC = DedupQueries.winnowSigs(corpus)
      .select($"doc_id".as("match_doc"), $"fp").distinct().persist()
    val postings = sigC
      .join(sigC.groupBy($"fp").agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs" <= 15).select($"fp"), Seq("fp"))
      .persist()
    val flags = DedupQueries.winnowSigs(docs)
      .select($"doc_id", $"ts", $"fp")
      .join(postings, Seq("fp"))
      .filter($"doc_id" =!= $"match_doc")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id", "match_doc")
      .select($"doc_id", $"ts", $"match_doc")
    (flags, new GateCaches(Seq(sigC, postings)))
  }

  /** Streaming BLOOM pre-screen gate — dd_bloom's stream twin: every
    * arriving document is screened against the corpus membership bloom
    * (k=3 md5-derived positions in an m=65536 space) BEFORE any
    * corpus-sized work happens. The bloom side is a ≤m-row broadcast
    * relation probed by three stateless per-position left joins (no
    * streaming aggregation, no watermark state at all); only the
    * bloom-POSITIVE minority reaches the corpus-sized fingerprint
    * verify join, and the bloom-negative majority is emitted as clean
    * outright — sound because a bloom miss PROVES non-membership (the
    * no-false-negative law AnalyticsOpsSpec asserts for the batch twin).
    * That screened-before-joined shape is the entire point of a bloom
    * gate at 100 TB: the expensive join's input is duplicates + the
    * m-governed false-positive sliver, never the stream.
    *
    * `docs`: streaming (doc_id, text, ts). `corpus`: static
    * (doc_id, text). Returns (doc_id, ts, bloom_hit, exact_dup,
    * verdict) with dd_bloom's verdict domain. The [[GateCaches]] own the
    * persisted fingerprint/bit relations — close them when the gate
    * stops.
    */
  def bloomFlagsScoped(docs: DataFrame, corpus: DataFrame): (DataFrame, GateCaches) = {
    import corpus.sparkSession.implicits._
    val normFp = DedupQueries.normFpCol(col("text"))
    def pos(j: Int) = expr(
      s"CAST(conv(substring(md5(concat(fp, '#$j')), 1, 8), 16, 10) AS BIGINT) % 65536")
    val corpusFp = corpus.select(normFp.as("fp")).distinct().persist()
    val bits = corpusFp
      .select(explode(array((1 to 3).map(pos): _*)).as("p")).distinct().persist()
    var cur = docs.select($"doc_id", $"ts", normFp.as("fp"))
    for (j <- 1 to 3)
      cur = cur.withColumn(s"pos$j", pos(j))
        .join(broadcast(bits.select($"p".as(s"pos$j")).withColumn(s"h$j", lit(1L))),
          Seq(s"pos$j"), "left")
    val flagged = cur.withColumn("bloom_hit",
      $"h1".isNotNull && $"h2".isNotNull && $"h3".isNotNull)
    val out = Seq($"doc_id", $"ts", $"bloom_hit", $"exact_dup")
    val screened = flagged.filter($"bloom_hit")
      .join(corpusFp.withColumn("dup", lit(1L)), Seq("fp"), "left")
      .withColumn("exact_dup", $"dup".isNotNull)
      .select(out: _*)
    val clean = flagged.filter(!$"bloom_hit")
      .withColumn("exact_dup", lit(false))
      .select(out: _*)
    val verdicts = screened.unionByName(clean)
      .withColumn("verdict",
        when($"exact_dup", "true_dup").when($"bloom_hit", "false_pos")
          .otherwise("clean"))
    (verdicts, new GateCaches(Seq(corpusFp, bits)))
  }

  /** Self-MAINTAINING near-dup gate — the crawl-loop closure of
    * [[nearDupFlags]]: each micro-batch is (1) flagged against the
    * materialized corpus LSH index and (2) APPENDED to it
    * (CorpusLshIndex.append), so later arrivals dedup against earlier
    * stream arrivals, not just the static corpus — the invariant a
    * stream-static join alone cannot give (its static side is frozen at
    * query start). foreachBatch is the right Spark shape: inside it the
    * micro-batch is a static DataFrame, so the BATCH candidate/verify
    * chain runs as-is against the bucketed index tables, and the append
    * keeps "index == everything seen so far" as durable cross-batch
    * state (no unbounded executor state — the index is a table).
    *
    * The flags are the append's own cross pairs (batch × pre-append
    * index), read through its `onPairs` hook: each batch is shingled,
    * banded and verified once, and one whose `onBatch` throws is not
    * appended.
    *
    * `docs`: streaming (doc_id, text, …) with doc_ids disjoint from the
    * corpus and each other. `onBatch` receives each micro-batch's flag
    * relation (doc_id, match_doc, jaccard_ppm); the frame is valid only
    * during the call (its cached pairs are released when it returns).
    * Returns the started query (caller stops it).
    */
  def indexMaintainingNearDup(docs: DataFrame, d: String,
      thresholdPpm: Long = 400000)(onBatch: DataFrame => Unit) = {
    docs.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
      val s = batch.sparkSession
      import s.implicits._
      val b = batch.select($"doc_id", $"text").persist()
      val ids = b.select($"doc_id")
      // pairs with exactly one endpoint in the batch, batch doc first
      try CorpusLshIndex.append(s, d, b, onPairs = pairs =>
        onBatch(pairs.filter($"jaccard_ppm" >= thresholdPpm)
          .select(explode(array(struct($"doc_a".as("doc_id"), $"doc_b".as("match_doc")),
            struct($"doc_b".as("doc_id"), $"doc_a".as("match_doc")))).as("p"), $"jaccard_ppm")
          .select($"p.doc_id", $"p.match_doc", $"jaccard_ppm")
          .join(ids, Seq("doc_id"), "left_semi")
          .join(ids.select($"doc_id".as("match_doc")), Seq("match_doc"), "left_anti")
          .select($"doc_id", $"match_doc", $"jaccard_ppm"))
      ) finally b.unpersist(): Unit
    }.start()
  }

  /** Streaming mixture gate — samp_stratified's per-stratum rate
    * selection applied to a LIVE stream: arriving docs are kept iff
    * their deterministic id-hash clears the stratum's threshold
    * target·2³²  div n, where n comes from a STATIC corpus profile
    * (the reference mix the stream is being rebalanced toward).
    *
    * Scale shape: entirely STATELESS — the per-stratum thresholds are a
    * tiny static agg joined by broadcast, the selection a narrow filter;
    * no watermark, no streaming state at all. Because the hash and the
    * threshold arithmetic are shared with the batch operator
    * (SamplingQueries.docHash), a doc admitted here is exactly the doc
    * the nightly batch sampler would admit — the stream gate and the
    * batch re-run can never disagree on membership.
    *
    * `docs`: streaming with (doc_id, lang, …). `corpus`: static with
    * (lang) — the profile source. Passes every input column through.
    */
  def mixtureGate(docs: DataFrame, corpus: DataFrame, targetPerStratum: Long): DataFrame = {
    import corpus.sparkSession.implicits._
    val thresholds = corpus.groupBy($"lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("thr", expr(s"($targetPerStratum * ${SamplingQueries.hashSpace}) div n"))
      .select($"lang", $"thr")
    docs.withColumn("__h", SamplingQueries.docHash)
      .join(broadcast(thresholds), Seq("lang"))
      .filter($"__h" < $"thr")
      .drop("__h", "thr")
  }

  /** Streaming upsample gate — samp_upsample's twin: each arriving doc
    * is emitted 0..k times according to its source's milli-epoch factor
    * from the STATIC corpus profile (base copies for everyone, one
    * extra for the deterministic hash slice selected by the fractional
    * remainder). Stateless: a broadcast factor join plus a bounded
    * per-row explode — no watermark, no streaming state. Shares the
    * hash and threshold arithmetic with the batch operator, so the
    * emitted (doc, copy) multiset is id-identical to a batch re-run.
    *
    * `docs`: streaming with (doc_id, source, …). `corpus`: static with
    * (source). Output adds (copies, copy).
    */
  def upsampleGate(docs: DataFrame, corpus: DataFrame, targetPerSource: Long): DataFrame = {
    import corpus.sparkSession.implicits._
    val factors = corpus.groupBy($"source")
      .agg(count(lit(1)).as("n"))
      .withColumn("milli", expr(s"($targetPerSource * 1000) div n"))
      .select($"source", $"milli")
    docs.withColumn("__h", SamplingQueries.docHash)
      .join(broadcast(factors), Seq("source"))
      .withColumn("copies",
        (expr("milli div 1000") +
          when($"__h" < expr(s"(milli % 1000) * ${SamplingQueries.hashSpace} div 1000"), 1L)
            .otherwise(0L)).cast("long"))
      .filter($"copies" > 0)
      .withColumn("copy", explode(expr("sequence(1L, copies)")))
      .drop("__h", "milli")
  }

  /** Streaming PII-SCRUB gate — txt_scrub's stream twin: every arriving
    * document's text is redacted (emails/URLs/long digit runs → typed
    * masks, in txt_scrub's pass order) BEFORE it is written anywhere
    * downstream — redact-at-ingest is the only shape that guarantees raw
    * PII never lands in a durable sink. Entirely STATELESS: three
    * chained codegen'd regexp passes plus a mask count, no watermark,
    * no state store; the transform is the SAME column expression the
    * batch operator uses, so stream and batch scrub byte-identically
    * (StreamScrubSpec).
    *
    * `docs`: streaming (doc_id, text, ...). Passes every other column
    * through; replaces `text` with the scrubbed form and adds n_masks.
    */
  def scrubGate(docs: DataFrame): DataFrame =
    docs
      .withColumn("text", TextQueries.scrubbed(col("text")))
      .withColumn("n_masks",
        size(expr(s"regexp_extract_all(text, '${TextQueries.MaskAlt}', 0)")).cast("long"))

  /** Streaming QUALITY-WEIGHTED sampling gate — the streaming twin of
    * samp_quality: each arriving document is accepted with probability
    * quality/2, decided by the deterministic md5 hash (keep iff
    * h·2·10⁶ < quality_ppm·2³², integer on both sides). Entirely
    * STATELESS — one narrow per-row projection, no watermark, no state
    * store — so the gate adds nothing to a stream's state footprint and
    * its verdicts are id-identical to the batch sampler on the same
    * rows (StreamQualitySampleSpec).
    *
    * `docs`: streaming (doc_id, text, source, ...). Returns
    * (doc_id, source, q_ppm, keep).
    */
  def qualitySampleGate(docs: DataFrame): DataFrame =
    TextQueries.qualityScored(docs)
      .withColumn("q_ppm",
        floor(col("score") * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("keep",
        SamplingQueries.docHash * lit(2000000L) <
          col("q_ppm") * lit(SamplingQueries.hashSpace))
      .select(col("doc_id"), col("source"), col("q_ppm"), col("keep"))
}
