package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** SURVEY §2.E — deduplication over `documents` (+ `embeddings` for the
  * embedding-cosine variant).
  *
  * Scale shapes (the part that must survive 100 TB):
  *  - exact/normalized dedup: one hash-groupBy — a single partial-agg
  *    shuffle on the content hash.
  *  - MinHash/LSH: shingle→signature is a narrow per-doc pass; the only
  *    wide stage is the band-bucket self-join, and candidate verification
  *    (dd_jaccard) touches only within-bucket pairs.
  *  - SimHash: signatures come from ONE aggregation with 32 conditional
  *    sums — no per-bit row explosion.
  *  - embedding near-dup: vectors are quantized to integer micro-units so
  *    dot products are exact integers — bit-identical on any engine, any
  *    partitioning, any summation order.
  *
  * All "random" hash families are md5-derived, which is what makes every
  * operator here exactly reproducible in the DuckDB oracle.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  private val Perms = 12 // minhash permutations
  private val BandRows = 3 // rows per LSH band → 4 bands
  /** dd_containment keeps pairs where |A∩B| / min(|A|,|B|) ≥ 0.6 */
  private val ContainmentThresholdPpm = 600000L

  /** distinct word-3-shingle array from a token-array column `tk` —
    * the ONE shingle recipe, shared by the batch chain and the streaming
    * near-dup gate so the two can never drift.
    *
    * Docs under 3 tokens have no 3-shingle: guard the sequence() so it
    * never counts DOWN into negative indices (Spark generates a
    * descending sequence when stop < start; under ANSI mode tk[-1]
    * throws INVALID_ARRAY_INDEX) — mirrors DuckDB's empty range(1, n-1).
    */
  private[graft] val shingleExpr: String =
    "array_distinct(if(size(tk) < 3, array(), " +
      "transform(sequence(0, size(tk) - 3), i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2]))))"

  /** Per-doc winnowing fingerprints (dd_winnow's selection, shared with
    * the streaming winnow gate): ONE generated call into the native
    * linear rolling-hash kernel (functions.WinnowFps — Karp-Rabin
    * polynomial mod 2⁴⁰−87 over code points, min per 4-window, tie →
    * rightmost via the packed h·2²² + (2²²−1 − pos) key). ZERO shuffle
    * and zero window operator: selection happens inside the row that
    * carries the text, which is both the 100 TB shape (nothing moves
    * until the 8-byte fps do) and what lets the same code run on an
    * unbounded stream (row-local expressions are stateless; a per-doc
    * window would be unsupported there). Docs shorter than k+w−1 = 11
    * normalized chars have no full window and yield no fingerprints.
    * Adds `fp` (exploded, duplicates removed per doc), drops nothing
    * else.
    */
  private[graft] def winnowSigs(docs: DataFrame): DataFrame =
    docs
      .withColumn("nt", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .filter(length(col("nt")) >= 11)
      .withColumn("fp", explode(
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.WinnowFps(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("nt"))))))
      .drop("nt")

  /** Content-defined chunk rows of any (…, text) relation — the ONE
    * chunking recipe (normalize, length ≥ 8 guard, native CdcChunks
    * kernel), shared by the batch dd_cdc estimator and the streaming
    * novel-chunk gate so the two can never drift. Adds (fp, chunk_chars)
    * per exploded chunk; keeps every input column; drops the chunk body
    * after fingerprinting (nothing downstream ever shuffles text).
    */
  private[graft] def cdcChunked(docs: DataFrame): DataFrame =
    docs
      .withColumn("nt", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .filter(length(col("nt")) >= 8)
      .withColumn("ch", explode(
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.CdcChunks(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("nt"))))))
      .withColumn("fp", md5(col("ch")))
      .withColumn("chunk_chars", length(col("ch")).cast("long"))
      .drop("nt", "ch")

  /** per-doc DISTINCT word-3-shingle array (doc_id, ss) — fully narrow:
    * the dedup is `array_distinct` on the not-yet-exploded array, so the
    * whole shingle build costs ZERO shuffles (the earlier form shuffled
    * every shingle STRING through a collect_set groupBy just to dedup;
    * the downstream signature aggregation shuffles anyway, and after md5
    * it carries 8-byte hashes instead of shingle text).
    */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", split($"text", " +").as("tk"))
      .select($"doc_id", expr(shingleExpr).as("ss"))
  }

  /** exploded (doc_id, s) form over any (doc_id, text) relation (kept
    * for the jaccard oracle's shingle-row twin and edge-case specs; the
    * engine-side chain now works on the un-exploded arrays throughout)
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    shingleArrays(docs).select($"doc_id", explode($"ss").as("s"))
  }

  /** SimHash band-width scale rule: the fingerprint is 4 bands of
    * bandBits each (pigeonhole: hamming ≤ 3 ⇒ at least one exact band),
    * with bandBits = clamp(ceil(log2(n/8)), 8, 16) — i.e. ~constant
    * expected band-bucket occupancy, the same rule as embedLshBitsFor.
    * At the fixed 4×8-bit width the band join's candidate mass grows
    * quadratically (the amp=100 probe measured dd_simhash_pairs at
    * 53 s — 5.7× over linear — from exactly this); log-scaled bands
    * keep it ~n·log n up to the 64-bit cap (Google's production
    * simhash width), past which combinatorial band blocks would be the
    * next step. The thresholds are INTEGER doubling comparisons, not a
    * float ceil(log2): Math.log(x)/Math.log(2) lands 1 ulp HIGH at exact
    * powers of two (log2(512) = 9.000000000000002 → ceil 10), so a float
    * rule widens one step early at n = 8·2^k while any SQL replay using
    * a native log2 does not — the integer walk is engine-replayable
    * exactly, and the SQL oracle mirrors it as a CASE over COUNT(*)
    * (sf0.1's 5000 docs → 10-bit bands, caught by the sf0.1 replay when
    * the oracle was still the static 32-bit form).
    */
  private[graft] def simhashBandBits(n: Long): Int = {
    var bits = 8
    var cap = 2048L // 8 * 2^8: occupancy target 8 at the 8-bit floor
    while (n > cap && bits < 16) { bits += 1; cap *= 2 }
    bits
  }

  /** the SQL twin of [[simhashBandBits]]·4 — the fingerprint WIDTH as a
    * CASE over the corpus count, shared by the dd_simhash oracles
    */
  private def simhashWidthSql: String = {
    val cases = (9 to 15).map(b =>
      s"WHEN n <= ${2048L << (b - 8)} THEN ${4 * b}").mkString(" ")
    s"CASE WHEN n <= 2048 THEN 32 $cases ELSE 64 END"
  }

  /** 4·bandBits-wide SimHash per doc: token hash bits weighted ±1 and
    * re-signed — ONE aggregation with width conditional sums. Bits 0-31
    * come from md5 hex chars 1-8 exactly as the 32-bit form did (the
    * oracle-checked widths are bit-identical to the old build); wider
    * fingerprints extend with chars 9-16.
    */
  private def simhashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val width = 4 * simhashBandBits(t(s, d, "documents").count())
    // token index: doc_id bucketing feeds the per-doc bit-sum groupBy
    // with NO shuffle (the one wide stage this signature build had)
    val toks = CorpusTokenIndex.tokens(s, d)
      .select($"doc_id", $"tok")
      .withColumn("v", conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long"))
      .withColumn("v2", conv(substring(md5($"tok"), 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until width).map { b =>
      val src = if (b < 32) $"v" else $"v2"
      sum(when(shiftright(src, b % 32).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$b")
    }
    val sig = (0 until width).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", sig.as("simhash"))
  }

  /** survivors of quality gate → exact keep-first → LSH near-dup removal,
    * with text retained (shared by pipe_clean_corpus and pipe_pack_corpus)
    */
  private def cleanedCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = TextQueries.qualityScored(t(s, d, "documents"))
      .filter(floor($"score" * lit(1000000.0) + lit(0.5)).cast("long") >= 550000)
      .select($"doc_id", $"source", $"text")
    val keepFirst = q.groupBy(md5($"text").as("f")).agg(min($"doc_id").as("doc_id"))
    // kept1 feeds BOTH the loser semi-joins and the final anti-join —
    // persist it so the quality scan + keep-first groupBy run once
    // (cache is scoped per query by the harness's clearCache)
    val kept1 = q.join(keepFirst.select($"doc_id"), Seq("doc_id"), "left_semi").persist()
    // near-dup losers among the survivors, read from the shared index:
    // per-doc signatures depend only on the doc's own text, so the
    // candidate pairs WITHIN kept1 are exactly the corpus-wide candidate
    // pairs whose both endpoints survived — two semi-joins against the
    // (tiny) materialized jac relation replace re-shingling the corpus
    val ids = kept1.select($"doc_id")
    val losers = CorpusLshIndex.jaccard(s, d)
      .join(ids.select($"doc_id".as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select($"doc_id".as("doc_b")), Seq("doc_b"), "left_semi")
      .filter($"jaccard_ppm" >= 400000)
      .select($"doc_b".as("doc_id")).distinct()
    kept1.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Dispatcher: verified duplicate-pair graphs are usually FAR smaller
    * than the corpus (they are the duplicates), so below
    * `SmallGraphEdges` edges (≈16 MB of longs on the driver — the same
    * budget as the topic publish-name broadcast) the components come
    * from a driver-side union-find: exact same answer, none of the
    * propagation loop's per-round job overhead (measured 3.5 s → the
    * candidate-generation cost alone at sf0.1, where the whole pair
    * graph is a few hundred edges). Past the threshold the distributed
    * pointer-jumping loop takes over — both paths are proven equal on
    * random graphs in ComponentsSpec.
    */
  private[graft] val SmallGraphEdges = 1000000L

  /** the normalized-exact content fingerprint (case/whitespace folded)
    * dd_exact_norm / dd_exact_cross group on — exposed so the streaming
    * ExactCrossStream gate fingerprints arrivals IDENTICALLY to the
    * batch operator (the cdcChunked sharing rule)
    */
  private[graft] def normFpCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.NormFp(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** dd_exact_cross's base relation — per-(fingerprint, source) document
    * counts, the ONLY corpus-sized state the cross-source pair
    * arithmetic needs (pairs are c₁·c₂ / C(c,2) over these counts, never
    * a row-level self-join); doubles as the streaming gate's static
    * store
    */
  private[graft] def exactCrossCounts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(normFpCol($"text").as("fp"), $"source")
      .groupBy($"fp", $"source").agg(count(lit(1)).as("c"))
  }

  /** pipe_datacard's mixture base — per-(source, lang) document and
    * token-mass counts. Shared VERBATIM by the batch data card and the
    * streaming source-mix monitor (graft.streaming.DatacardStream): on a
    * streaming relation the same groupBy is a bounded streaming
    * aggregation (state = the |sources|·|langs| key space, never
    * documents), which is what makes the datacard aggregation provable
    * in both modes.
    */
  private[graft] def datacardMixCounts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"source", coalesce($"lang", lit("")).as("lang"),
        size(split($"text", " +")).cast("long").as("n_tok"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("c"), sum($"n_tok").as("tok"))
  }

  /** compose the data card's mixture columns from a
    * [[datacardMixCounts]] snapshot — per source: doc/token mass,
    * distinct languages, majority language + exact ppm with the
    * (count desc, lang) tie-break. Bounded input (|sources|·|langs|
    * rows), so the rank window is bounded too.
    */
  private[graft] def datacardMixture(mc: DataFrame): DataFrame = {
    import mc.sparkSession.implicits._
    val w = Window.partitionBy($"source").orderBy($"c".desc, $"lang")
    // both legs derive from the same mc relation — alias-qualify the
    // self-join (a bare Seq("source") join fails attribute dedup when mc
    // is a table snapshot, e.g. the streaming monitor's memory sink)
    val g = mc.groupBy($"source")
      .agg(sum($"c").as("n_docs"), sum($"tok").as("n_tokens")).alias("g")
    mc.withColumn("n_langs", count(lit(1)).over(Window.partitionBy($"source")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"source".as("src"), $"n_langs", $"lang".as("top_lang"), $"c".as("top_c"))
      .alias("rk")
      .join(g, col("rk.src") === col("g.source"))
      .select(col("g.source").as("source"), $"n_docs", $"n_tokens", $"n_langs",
        $"top_lang", expr("(top_c * 1000000) div n_docs").as("top_lang_ppm"))
  }

  /** the duplicate-pair graph dd_cluster / dd_canonical resolve: exact
    * dups (normalized-fingerprint groups, star edges to the min id) plus
    * verified near-dups (LSH candidates at jaccard ≥ 0.4)
    */
  private def duplicateEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = t(s, d, "documents")
    val fp = docs.select($"doc_id",
      normFpCol($"text").as("fp"))
    val keep = fp.groupBy($"fp").agg(min($"doc_id").as("keep"))
    val exactE = fp.join(keep, Seq("fp")).filter($"doc_id" =!= $"keep")
      .select($"keep".as("a"), $"doc_id".as("b"))
    val nearE = CorpusLshIndex.jaccard(s, d)
      .filter($"jaccard_ppm" >= 400000)
      .select($"doc_a".as("a"), $"doc_b".as("b"))
    exactE.unionByName(nearE)
  }

  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e0 = edges.localCheckpoint(true)
    if (e0.count() <= SmallGraphEdges) {
      val pairs = e0.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .groupBy(find).values.flatMap { members =>
          val label = members.min
          members.map(v => (v, label, members.size.toLong))
        }.toSeq
      s.createDataFrame(rows).toDF("doc_id", "cluster_id", "n_members")
        .orderBy($"doc_id")
    } else componentsByPropagation(e0)
  }

  /** Connected components of an undirected edge list (a, b) by
    * min-label propagation WITH pointer jumping: each round every node
    * takes the min over its own label, its neighbors' labels, and the
    * label OF its label (path halving). The jump makes rounds O(log
    * diameter) instead of O(diameter) — a pure neighbor walk needs as
    * many rounds as the longest chain, and near-dup chains (doc i ~
    * doc i+1 in versioned or sliding content) can be arbitrarily long;
    * with the jump, 25 rounds cover diameters past 2^25 (ComponentsSpec
    * proves a 200-node path converges). Returns (doc_id, cluster_id =
    * min member, n_members), one row per clustered doc.
    *
    * Each round CUTS LINEAGE with an eager localCheckpoint instead of
    * persist/unpersist: round r's plan references round r-1, so
    * unpersisting the previous labels invalidates the new cache (Spark
    * re-cache-on-unpersist semantics) and every action re-runs the
    * whole round chain — measured 0.8 s per re-read vs ~0.1 s
    * checkpointed, 22 s vs ~4 s for dd_cluster at sf0.1. The checkpoint
    * also keeps the plan O(1) per round instead of growing. (On a
    * multi-executor cluster, swap for reliable checkpoint() if executor
    * loss during the loop must be survivable — the loop is
    * deterministic, so a rerun is also correct.) Convergence is the
    * monotone checksum sum(label): labels only ever decrease, so an
    * unchanged sum IS a fixpoint — one scalar action per round instead
    * of a changed-rows join.
    */
  private[graft] def componentsByPropagation(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // materialize the (tiny) pair list before symmetrizing: `edges`
    // appears on both sides of the union below, and an unmaterialized
    // plan would run its whole producing tail once per side
    val e = edges.localCheckpoint(true)
    // hash-partition on the probe key BEFORE persisting: every
    // propagation round joins on a, so the cached edge table satisfies
    // the join's distribution and only the (shrinking) label side
    // shuffles per round
    val sym = e.unionByName(e.select($"b".as("a"), $"a".as("b")))
      .distinct().repartition(col("a")).persist()
    var labels = sym.select($"a".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("cluster"))
      .localCheckpoint(true)
    var checksum = labels.agg(coalesce(sum($"cluster"), lit(0L)))
      .head().getLong(0)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 25) {
      val viaEdges = labels.join(sym, $"doc_id" === $"a")
        .select($"b".as("doc_id"), $"cluster")
      val viaLabels = labels.as("x")
        .join(labels.as("y"), col("x.cluster") === col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id"), col("y.cluster").as("cluster"))
      val next = labels.unionByName(viaEdges).unionByName(viaLabels)
        .groupBy($"doc_id").agg(min($"cluster").as("cluster"))
        .localCheckpoint(true)
      val c2 = next.agg(coalesce(sum($"cluster"), lit(0L))).head().getLong(0)
      labels = next
      converged = c2 == checksum
      checksum = c2
      rounds += 1
    }
    sym.unpersist()
    val sizes = labels.groupBy($"cluster").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, Seq("cluster"))
      .select($"doc_id", $"cluster".as("cluster_id"), $"n_members")
      .orderBy($"doc_id")
  }

  private[graft] def jaccardOf(arr: DataFrame): DataFrame = {
    val s = arr.sparkSession
    import s.implicits._
    jaccardFor(arr, candidatesFrom(arr.select($"doc_id", explode($"ss").as("s"))))
  }

  /** The bit-band rule (dd_simhash_pairs, mm_phash_*, PhashStream):
    * one (…, band INT, bits LONG) row per band i < k, bits = (h >> i·b) &
    * (2^b − 1) of the long hash column `h`, every input column passed
    * through. Hashes within hamming k−1 share a band (pigeonhole). A
    * literal struct array: a transform(sequence) lambda is interpreted.
    */
  private[graft] def bitBands(df: DataFrame, h: String, k: Int, b: Int): DataFrame = {
    val keys = (0 until k).map(i => struct(lit(i).cast("int").as("band"),
      shiftright(col(h), i * b).bitwiseAND(lit((1L << b) - 1)).as("bits")))
    val passThrough = df.columns.map(col).toSeq
    df.select(passThrough :+ explode(array(keys: _*)).as("bb"): _*)
      .select(passThrough ++ Seq(col("bb.band").as("band"), col("bb.bits").as("bits")): _*)
  }

  /** every (band, bits) collision of two [[bitBands]] relations, aliased
    * `a`/`b`, with hamming = bit_count(a.h xor b.h); the caller keeps its
    * pair filter, radius cut and distinct
    */
  private[graft] def bitBandJoin(l: DataFrame, r: DataFrame, h: String): DataFrame =
    l.as("a").join(r.as("b"), col("a.band") === col("b.band") && col("a.bits") === col("b.bits"))
      .withColumn("hamming", bit_count(col(s"a.$h").bitwiseXOR(col(s"b.$h"))).cast("long"))

  /** exact (doc_a, doc_b, jaccard_ppm) of a candidate relation over
    * `arr`, the shingle arrays from shingleArrays. The wide work tracks
    * the CANDIDATES, not the corpus (the round-2 exploded-shingle join
    * took 35 s at sf0.1 for 31 output pairs).
    */
  private[graft] def jaccardFor(arr: DataFrame, cand: DataFrame): DataFrame =
    candidateSets(arr, cand)
      .select(col("doc_a"), col("doc_b"), jaccardPpm.as("jaccard_ppm"))

  /** `cand` (doc_a, doc_b, …) plus endpoint arrays `sa`/`sb` from `arr`
    * (semi-filtered to candidate docs first) and n_int = |sa ∩ sb|; a
    * candidate with an endpoint missing from `arr` is dropped
    */
  private[graft] def candidateSets(arr: DataFrame, cand: DataFrame): DataFrame = {
    val s = arr.sparkSession
    import s.implicits._
    val candDocs = cand.select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
    val sets = arr.join(candDocs, Seq("doc_id"), "left_semi")
    cand
      .join(sets.select($"doc_id".as("doc_a"), $"ss".as("sa")), Seq("doc_a"))
      .join(sets.select($"doc_id".as("doc_b"), $"ss".as("sb")), Seq("doc_b"))
      .withColumn("n_int", size(array_intersect($"sa", $"sb")).cast("long"))
  }

  /** jaccard ppm of arrays `sa`, `sb` with |sa ∩ sb| = `n_int` */
  private[graft] val jaccardPpm: Column =
    floor(col("n_int") / (size(col("sa")) + size(col("sb")) - col("n_int")) *
      lit(1000000.0) + lit(0.5)).cast("long")

  /** minhash permutation j: linear map of the shingle's single md5-derived
    * 60-bit value, reduced mod the Mersenne prime 2^31-1. One md5 per
    * shingle (not per shingle×perm) and one groupBy with Perms min-aggs
    * (not a Perms× row explosion) — at 100 TB that's the difference
    * between shuffling |shingles| rows and shuffling 12·|shingles|.
    */
  private val P = 2147483647L
  private val OphK = 16 // one-permutation minhash buckets
  private def permA(j: Int): Long = 2L * j + 1
  private def permB(j: Int): Long = 12582917L * (j + 1)

  /** LSH band keys per doc from the EXPLODED shingle relation
    * (doc_id, s): band key = md5 of the band's minhashes joined in
    * permutation order. This is the BATCH form: md5-per-shingle runs in
    * codegen'd projections and the 12 min-aggs are one codegen'd hash
    * aggregation with map-side partial combine — the shuffle carries
    * per-doc partial minima (O(|docs|) per map task), not the shingle
    * rows. The per-row variant below (`bandArrays`) computes identical
    * signatures without any aggregation; it exists for streaming, where
    * a groupBy would be stateful — but Spark's higher-order functions
    * are CodegenFallback (interpreted per element), measured ~10× slower
    * per document, so batch stays on this form.
    */
  private[graft] def bandsFrom(sh: DataFrame): DataFrame =
    bandsOfSigs(signaturesFrom(sh))

  /** per-doc minhash signature columns (doc_id, h0..h{Perms-1}) from the
    * exploded shingle relation — one codegen'd hash aggregation with
    * map-side partial combine
    */
  private[graft] def signaturesFrom(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val hashed = sh.withColumn("x31",
      conv(substring(md5($"s"), 1, 15), 16, 10).cast("long") % P)
    val minAggs = (0 until Perms).map { j =>
      min((lit(permA(j)) * $"x31" + lit(permB(j))) % P).as(s"h$j")
    }
    hashed.groupBy($"doc_id").agg(minAggs.head, minAggs.tail: _*)
  }

  /** The minhash band-key rule (SQL twin: `lshCtes`): Perms/`rows`
    * bands of `rows` consecutive minhashes `h(j)`, keyed by the md5 of
    * their ","-joined values — an array<struct<band, bkey>> to explode
    */
  private def bandKeys(rows: Int)(h: Int => Column): Column =
    array((0 until Perms / rows).map { b =>
      val parts = (0 until rows).map(r => h(b * rows + r).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", parts: _*)).as("bkey"))
    }: _*)

  /** (doc_id, band, bkey) from the signature relation */
  private[graft] def bandsOfSigs(sigs: DataFrame, rows: Int = BandRows): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    sigs.select($"doc_id", explode(bandKeys(rows)(j => col(s"h$j"))).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
  }

  /** The same LSH band keys computed PER ROW from the shingle-array
    * relation (…, ss): minhash h_j = array_min over the j-th permutation
    * of each shingle's md5-derived value. No aggregation anywhere, so it
    * runs on a STREAMING relation (stateless); every non-ss input column
    * passes through (the streaming gate carries event time and the
    * shingle set into its verify join). Micro-batches are small, so the
    * interpreted higher-order functions are not a bottleneck there.
    * StreamNearDupSpec proves this form and the batch form agree.
    */
  private[graft] def bandArrays(arr: DataFrame): DataFrame = {
    val s = arr.sparkSession
    import s.implicits._
    val xs = transform($"ss",
      sh => conv(substring(md5(sh), 1, 15), 16, 10).cast("long") % P)
    def h(j: Int) =
      array_min(transform($"xs", x => (lit(permA(j)) * x + lit(permB(j))) % P))
    val passThrough = arr.columns.filterNot(_ == "ss").map(col).toSeq
    arr.filter(size($"ss") > 0)
      .withColumn("xs", xs)
      .withColumn("bb", explode(bandKeys(BandRows)(h)))
      .select((passThrough :+ $"ss") ++
        Seq($"bb.band".as("band"), $"bb.bkey".as("bkey")): _*)
  }

  /** candidate pairs (a < b) sharing at least one LSH band bucket. The
    * band table feeds both sides of the self-join — persist it so the
    * shingle→minhash chain runs once, not twice.
    */
  private def candidatesFrom(sh: DataFrame): DataFrame =
    pairsOfBands(bandsFrom(sh).persist())

  /** distinct (doc_a < doc_b) pairs sharing a band bucket — the one wide
    * stage of every LSH chain
    */
  private[graft] def pairsOfBands(b: DataFrame): DataFrame =
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** a band bucket above this occupancy is "hot": its m²/2 within-bucket
    * pairs would otherwise materialize in ONE task (boilerplate shingles
    * — the skew AQE can't re-split here because the join feeds the
    * distinct aggregation keyed the same way)
    */
  private[graft] val HotBucketOccupancy = 1000L

  /** salt fan-out for hot buckets */
  private[graft] val BandSalts = 16

  /** Skew-aware twin of [[pairsOfBands]]: IDENTICAL output pair set
    * (SkewBandJoinSpec), bounded per-task work. Buckets are split by
    * occupancy (one partial agg on the band keys — exchange-free over
    * the bucketed index table): the cold majority takes the plain
    * self-join; each hot bucket's probe side is salted `salts` ways by
    * doc-id hash and its build side replicated per salt, so the m²
    * within-bucket pair generation spreads over `salts` tasks instead of
    * straggling on one. The union is de-duplicated once at the end (a
    * pair colliding in a hot AND a cold band would otherwise double).
    */
  private[graft] def pairsOfBandsSkewAware(b: DataFrame,
      hot: Long = HotBucketOccupancy, salts: Int = BandSalts): DataFrame = {
    val s = b.sparkSession
    import s.implicits._
    val hotKeys = b.groupBy($"band", $"bkey")
      .agg(count(lit(1)).as("__occ"))
      .filter($"__occ" > hot)
      .select($"band", $"bkey")
    val cold = b.join(hotKeys, Seq("band", "bkey"), "left_anti")
    val hotRows = b.join(hotKeys, Seq("band", "bkey"), "left_semi")
    def pairsNoDistinct(a: DataFrame, bb: DataFrame, extra: Seq[String]): DataFrame = {
      val keys = Seq("band", "bkey") ++ extra
      val cond = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col("a.doc_id") < col("b.doc_id")
      a.as("a").join(bb.as("b"), cond)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    }
    val probe = hotRows.withColumn("__salt", pmod(hash($"doc_id"), lit(salts)))
    val build = hotRows.withColumn("__salt", explode(expr(s"sequence(0, ${salts - 1})")))
    pairsNoDistinct(cold, cold, Nil)
      .unionByName(pairsNoDistinct(probe, build, Seq("__salt")))
      .distinct()
  }

  val queries: Map[String, Q] = Map(
    // exact dedup: content-hash groups, keep-first; per-source summary
    "dd_exact" -> { (s, d) =>
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"source", md5($"text").as("f"))
        .agg(count(lit(1)).as("n"), min($"doc_id").as("keep"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_groups"), sum($"n").as("n_docs"),
          sum($"n" - 1).as("n_dups"), sum($"keep").as("keep_sum"))
        .orderBy($"source")
    },

    // normalized exact dedup (casefold + whitespace collapse before hash)
    "dd_exact_norm" -> { (s, d) =>
      import s.implicits._
      t(s, d, "documents")
        .groupBy($"source", normFpCol($"text").as("f"))
        .agg(count(lit(1)).as("n"), min($"doc_id").as("keep"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_groups"), sum($"n").as("n_docs"),
          sum($"n" - 1).as("n_dups"), sum($"keep").as("keep_sum"))
        .orderBy($"source")
    },

    // cross-source duplication matrix: LSH near-dup candidate pairs
    // rolled up by (source, source) — the "who mirrors whom" audit that
    // decides which sources to drop or down-weight before training
    // (exact-duplicate fingerprints never cross sources in practice;
    // near-dup candidates do). Scale shape: the candidate generator is
    // the same single-wide-stage LSH band join as dd_minhash; the source
    // attribution is two equi-joins against the (doc_id, source)
    // projection, and the final aggregation is |sources|² rows.
    "dd_source_overlap" -> { (s, d) =>
      import s.implicits._
      val docs = t(s, d, "documents")
      val cand = CorpusLshIndex.candidates(s, d)
      val src = docs.select($"doc_id", $"source")
      cand
        .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), Seq("doc_a"))
        .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), Seq("doc_b"))
        .select(least($"sa", $"sb").as("source_a"), greatest($"sa", $"sb").as("source_b"))
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_candidate_pairs"))
        .orderBy($"source_a", $"source_b")
    },

    // MinHash+LSH candidate pairs
    "dd_minhash" -> { (s, d) => CorpusLshIndex.candidates(s, d) },

    // source-level minhash sketch algebra (the mergeable-summary law
    // applied to SETS: the minhash of a union is the element-wise min
    // of the minhashes) — each source's 12-perm signature is the min of
    // its docs' signatures read from the materialized index, pairwise
    // source similarity estimated as agreeing-perm share and reported
    // NEXT TO the exact shingle-set jaccard so the estimator's error is
    // visible (the txt_cms/q34 estimate-vs-truth pattern). Why it
    // matters at 100 TB: the per-source sketch is 12 longs that merge
    // across any partitioning — comparing two crawls' content overlap
    // costs an exchange of 12·|sources| longs, not a shingle join; the
    // exact side here is the calibration harness you run once at small
    // scale to trust the sketch at large. Scale shape: sketch side is
    // two chained partial aggs ((doc → source) min-merge); the exact
    // side shuffles distinct (source, shingle) rows once; both pair
    // relations are |sources|²-bounded by construction.
    "dd_minhash_merge" -> { (s, d) =>
      import s.implicits._
      val src = t(s, d, "documents").select($"doc_id", $"source")
      val sigs = CorpusLshIndex.sigs(s, d).join(src, Seq("doc_id"))
      val mins = (0 until Perms).map(j => min(col(s"h$j")).as(s"h$j"))
      val srcSig = sigs.groupBy($"source").agg(mins.head, mins.tail: _*)
      val a = srcSig.select($"source".as("source_a") +:
        (0 until Perms).map(j => col(s"h$j").as(s"a$j")): _*)
      val b = srcSig.select($"source".as("source_b") +:
        (0 until Perms).map(j => col(s"h$j").as(s"b$j")): _*)
      val agree = (0 until Perms)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      // exact twin: distinct (source, shingle) → per-source set sizes +
      // pairwise intersections (posting lists bounded by |sources|)
      val ssh = CorpusLshIndex.shingles(s, d)
        .select($"doc_id", explode($"ss").as("sg"))
        .join(src, Seq("doc_id"))
        .select($"source", $"sg").distinct().persist()
      val sizes = ssh.groupBy($"source").agg(count(lit(1)).as("nsh"))
      val inter = ssh.select($"source".as("source_a"), $"sg")
        .join(ssh.select($"source".as("source_b"), $"sg"), Seq("sg"))
        .filter($"source_a" < $"source_b")
        .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("ni"))
      // inequality-only pairing of two |sources|-row aggregates: broadcast
      // one side so the planner emits a bounded-build nested-loop join,
      // never a CartesianProduct (the audit's absolute no)
      a.join(broadcast(b), $"source_a" < $"source_b")
        .withColumn("n_agree", agree)
        .join(inter, Seq("source_a", "source_b"), "left")
        .join(sizes.select($"source".as("source_a"), $"nsh".as("na")), Seq("source_a"))
        .join(sizes.select($"source".as("source_b"), $"nsh".as("nb")), Seq("source_b"))
        .withColumn("ni", coalesce($"ni", lit(0L)))
        .select($"source_a", $"source_b", $"n_agree",
          expr(s"(n_agree * 1000000) div $Perms").as("est_jaccard_ppm"),
          expr("(ni * 1000000) div (na + nb - ni)").as("exact_jaccard_ppm"))
        .orderBy($"source_a", $"source_b")
    },

    // 32-bit SimHash fingerprints — one aggregation, 32 conditional sums
    "dd_simhash" -> { (s, d) => simhashes(s, d) },

    // hamming-radius candidate pairs over the SimHash fingerprints: 4
    // bands of 8 bits → any pair within hamming 3 shares at least one
    // exact band (pigeonhole), so the band equi-join is a LOSSLESS
    // candidate generator; the residual bit_count(xor) verifies. The n²
    // comparison never happens — only within-band pairs are evaluated.
    "dd_simhash_pairs" -> { (s, d) =>
      import s.implicits._
      val bb = simhashBandBits(t(s, d, "documents").count())
      val banded = bitBands(simhashes(s, d).persist(), "simhash", 4, bb)
      bitBandJoin(banded, banded, "simhash")
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), $"hamming")
        // hamming is a function of the pair, so filtering BEFORE the
        // distinct drops the out-of-radius majority from the dedup
        // shuffle instead of carrying every within-band collision
        .filter($"hamming" <= 3)
        .distinct()
    },

    // truncation-duplicate detection: doc A is an exact token-PREFIX of
    // doc B (the crawl-truncation / re-fetch-longer pattern that Jaccard
    // under-scores when the length gap is large and containment needs
    // shingle overlap to even nominate). Candidates: equality on the
    // md5 of the first 16 tokens — one narrow hash + one equi self-join
    // keyed on that hash (bucket occupancy bounds the wide work, never
    // all-pairs); verify: exact array-slice equality per candidate.
    "dd_prefix" -> { (s, d) =>
      import s.implicits._
      val K = 16
      val tk = t(s, d, "documents")
        .select($"doc_id", split($"text", " +").as("tk"))
        .withColumn("n_tok", size($"tk").cast("long"))
        .filter($"n_tok" >= K)
        .withColumn("pref", md5(concat_ws(" ", expr(s"slice(tk, 1, $K)"))))
      val a = tk.select($"doc_id".as("doc_short"), $"n_tok".as("n_short"),
        $"tk".as("tk_a"), $"pref")
      val b = tk.select($"doc_id".as("doc_long"), $"n_tok".as("n_long"),
        $"tk".as("tk_b"), $"pref")
      a.join(b, Seq("pref"))
        .filter($"n_short" < $"n_long" ||
          ($"n_short" === $"n_long" && $"doc_short" < $"doc_long"))
        .filter(expr("slice(tk_b, 1, CAST(n_short AS INT)) = tk_a"))
        .select($"doc_short", $"doc_long", $"n_short", $"n_long")
        .orderBy($"doc_short", $"doc_long")
    },

    // winnowing fingerprint near-dup candidates (the MOSS local
    // selection scheme; Schleimer/Wilkerson/Aiken SIGMOD'03): per doc,
    // hash every 8-char gram of the normalized text, slide a 4-gram
    // window and keep the minimum hash per window (tie → RIGHTMOST
    // occurrence, the paper's rule). The winnowing guarantee — any
    // shared substring of >= k+w-1 = 11 chars yields a shared selected
    // fingerprint — makes this the substring-sensitive complement to
    // shingled minhash (which nominates on set overlap, not contiguity).
    // Selection is row-local (winnowSigs): the packed-BIGINT sliding
    // min runs in array expressions inside the row that carries the
    // text — no window operator, no selection shuffle (40-bit hash +
    // 22-bit position; docs cap at 4M chars — a corpus with longer docs
    // raises the split, not this packing). Cross-doc:
    // fingerprint posting lists capped at 16 docs (boilerplate guard —
    // the same frequency cap every inverted-index nominator here uses),
    // pair counts via one equi self-join on the fingerprint key. The
    // corpus text never shuffles: grams, hashes and selection are all
    // doc-local projections/windows; only 8-byte fingerprints move.
    "dd_winnow" -> { (s, d) =>
      import s.implicits._
      val sig = winnowSigs(t(s, d, "documents").select($"doc_id", $"text"))
        .select($"doc_id", $"fp")
        .distinct()
        .persist() // feeds the posting-list cap AND both join sides
      val capped = sig.groupBy($"fp").agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs".between(2, 16))
        .select($"fp")
      sig.join(capped, Seq("fp"))
        .select($"fp", $"doc_id".as("doc_a"))
        .join(sig.select($"fp", $"doc_id".as("doc_b")), Seq("fp"))
        .filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared_fps"))
        .orderBy($"shared_fps".desc, $"doc_a", $"doc_b")
        .limit(30)
    },

    // content-defined chunking dedup estimator (the LBFS/rsync/restic
    // storage-dedup layer, measured per source): chunk every normalized
    // doc at content-defined boundaries (native CdcChunks kernel — the
    // same Karp-Rabin polynomial as dd_winnow, cut where the 8-gram
    // hash ≡ 0 mod 64, expected chunk ≈ 64 chars), fingerprint chunks,
    // and report how many stored chars a chunk-store would save per
    // source. Content-defined (not fixed-width) boundaries are the
    // point: an insert/delete only re-chunks its neighborhood, so
    // shifted copies still dedup — the property that makes this the
    // storage-layer complement of the similarity dedups above. Scale
    // shape: chunking is row-local inside the row that carries the
    // text; the shuffle carries (source, 16-byte fp, len) with
    // map-side combine — never chunk bodies; output is |sources| rows.
    "dd_cdc" -> { (s, d) =>
      import s.implicits._
      cdcChunked(t(s, d, "documents"))
        .select($"source", $"fp", $"chunk_chars".as("len"))
        .groupBy($"source", $"fp")
        .agg(count(lit(1)).as("n"), max($"len").as("chunk_len"))
        .groupBy($"source")
        .agg(sum($"n").as("n_chunks"), count(lit(1)).as("n_distinct"),
          sum($"n" * $"chunk_len").as("total_chars"),
          sum($"chunk_len").as("distinct_chars"))
        .withColumn("saved_ppm",
          expr("((total_chars - distinct_chars) * 1000000) div total_chars"))
        .orderBy($"source")
    },

    // cross-source shared-chunk matrix (the chunk-level "who shares
    // storage with whom": dd_cdc measures WITHIN-source dedup, this
    // measures ACROSS — syndication/boilerplate shows up as chunk mass
    // two sources would co-store). Distinct (source, chunk-fp) rows
    // self-joined on the 16-byte fp — posting lists bounded by
    // |sources|, chunk bodies never shuffle; output |source-pairs| rows
    // with shared chunk count and chars.
    "dd_cdc_cross" -> { (s, d) =>
      import s.implicits._
      val ch = cdcChunked(t(s, d, "documents"))
        .groupBy($"source", $"fp").agg(max($"chunk_chars").as("len"))
        .persist() // both sides of the pair join
      ch.select($"source".as("source_a"), $"fp", $"len")
        .join(ch.select($"source".as("source_b"), $"fp"), Seq("fp"))
        .filter($"source_a" < $"source_b")
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_shared_chunks"), sum($"len").as("shared_chars"))
        .filter($"n_shared_chunks" >= 2)
        .orderBy($"source_a", $"source_b")
    },

    // LSH band-configuration tuning curve (the text-side sibling of
    // ann_ivf_recall): re-band the SAME materialized 12-perm minhash
    // signature as 6x2 / 4x3 / 3x4 (bands x rows) and report candidate
    // volume, verified-true count and precision per configuration — the
    // table that tells an operator which (b, r) to run BEFORE paying a
    // corpus-scale dedup pass at the wrong operating point. Reads the
    // once-built signature + shingle relations (no re-shingling, no
    // re-hashing); each config is a band self-join on its own keys +
    // the candidate-bounded jaccard verify. Nesting law (r=3 and r=4
    // candidates are subsets of r=2, because every wider band contains
    // an aligned 2-row band) is asserted in LshCurveSpec.
    "dd_lsh_curve" -> { (s, d) =>
      import s.implicits._
      val sigs = CorpusLshIndex.sigs(s, d)
      val arr = CorpusLshIndex.shingles(s, d) // (doc_id, ss) distinct arrays
      val rows = Seq(2, 3, 4).map { r =>
        // every signed doc has a shingle array: one row per candidate
        jaccardFor(arr, pairsOfBands(bandsOfSigs(sigs, r)))
          .agg(count(lit(1)).as("n_candidates"),
            coalesce(sum(when($"jaccard_ppm" >= 400000, 1L).otherwise(0L)), lit(0L)).as("n_true"))
          .select(lit(r.toLong).as("band_rows"), lit((Perms / r).toLong).as("n_bands"),
            $"n_candidates", $"n_true",
            expr("CASE WHEN n_candidates = 0 THEN 0 " +
              "ELSE (n_true * 1000000) div n_candidates END").as("precision_ppm"))
      }
      rows.reduce(_ unionByName _).orderBy($"band_rows")
    },

    // per-source exact-duplication rate (the data-card dup stat): docs,
    // distinct normalized fingerprints, dup mass in ppm — which sources
    // are mirror-heavy before any pair-level work is spent on them.
    // Two chained partial aggs on (source, 16-byte fp); text never
    // shuffles.
    "dd_dup_rate" -> { (s, d) =>
      import s.implicits._
      t(s, d, "documents")
        .select($"source",
          normFpCol($"text").as("fp"))
        .groupBy($"source", $"fp").agg(count(lit(1)).as("n"))
        .groupBy($"source")
        .agg(sum($"n").as("n_docs"), count(lit(1)).as("n_distinct"),
          sum($"n" - 1).as("n_dups"))
        .withColumn("dup_ppm", expr("(n_dups * 1000000) div n_docs"))
        .orderBy($"source")
    },

    // cross-source duplicate-cluster audit (the SYNDICATION detector on
    // top of dd_cluster's components: a cluster confined to one source
    // is a template to trim; one spanning sources is a mirror network
    // to dedup corpus-wide — opposite remediations dd_cluster_hist's
    // size axis can't separate): one summary row — clusters, cross-
    // source clusters + exact ppm, the widest span, and the doc mass
    // sitting in cross-source clusters. Scale shape: the component
    // relation is duplicate-proportional; one co-keyed source join, a
    // per-cluster agg, a 1-row rollup.
    "dd_cluster_sources" -> { (s, d) =>
      import s.implicits._
      val comp = connectedComponents(duplicateEdges(s, d))
      val per = comp
        .join(t(s, d, "documents").select($"doc_id", $"source"), Seq("doc_id"))
        .groupBy($"cluster_id")
        .agg(count(lit(1)).as("size"), countDistinct($"source").as("n_sources"))
      per.agg(count(lit(1)).as("n_clusters"),
          sum(when($"n_sources" >= 2, 1L).otherwise(0L)).as("n_cross_source"),
          max($"n_sources").as("max_sources"),
          sum(when($"n_sources" >= 2, $"size").otherwise(0L)).as("docs_in_cross"))
        .withColumn("cross_ppm", expr("(n_cross_source * 1000000) div n_clusters"))
    },

    // shingle-set size distribution in power-of-2 bands — the dedup
    // cost model's input (candidate generation and verify both scale
    // with per-doc shingle counts; a band profile says whether the
    // corpus is short-doc-heavy, where minhash estimates degrade, or
    // carries megadocs that dominate verify time). Reads the
    // materialized sh relation, one doc-keyed partial agg, ≤64-band
    // rollup; docs too short to shingle land in band −1 so the profile
    // always accounts for every document.
    "dd_shingle_stats" -> { (s, d) =>
      import s.implicits._
      val cnt = CorpusLshIndex.shingles(s, d)
        .select($"doc_id", size($"ss").cast("long").as("n_sh"))
      t(s, d, "documents").select($"doc_id")
        .join(cnt, Seq("doc_id"), "left")
        .withColumn("n_sh", coalesce($"n_sh", lit(0L)))
        .withColumn("band", expr(
          "CASE WHEN n_sh = 0 THEN CAST(-1 AS BIGINT) ELSE CAST(length(bin(n_sh)) - 1 AS BIGINT) END"))
        .groupBy($"band")
        .agg(count(lit(1)).as("n_docs"), min($"n_sh").as("min_sh"), max($"n_sh").as("max_sh"))
        .orderBy($"band")
    },

    // per-source NEAR-duplication rate — dd_dup_rate's verified-pair
    // counterpart (a source can be exact-dup clean while mirroring
    // paraphrased/near-identical pages): docs touching ≥1 verified
    // near-dup pair at the pipe's removal threshold (jaccard ≥ 0.4 —
    // the same cutoff cleanedCorpus drops at, so this IS the rate that
    // stage will act on), exact ppm per source. Scale shape: reads the
    // materialized candidate-proportional jac relation, explodes its
    // endpoints (2 rows per pair), one distinct + one LEFT join onto
    // the narrow (doc_id, source) projection — corpus text untouched.
    "dd_near_rate" -> { (s, d) =>
      import s.implicits._
      val involved = CorpusLshIndex.jaccard(s, d)
        .filter($"jaccard_ppm" >= 400000)
        .select(explode(array($"doc_a", $"doc_b")).as("doc_id"))
        .distinct()
        .withColumn("hit", lit(1L))
      t(s, d, "documents").select($"doc_id", $"source")
        .join(involved, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"hit".isNotNull, 1L).otherwise(0L)).as("n_near_dup"))
        .withColumn("near_ppm", expr("(n_near_dup * 1000000) div n_docs"))
        .orderBy($"source")
    },

    // near-dup pairs crossed with LANGUAGE labels — the langid-noise /
    // translation-contamination detector (emb_cross_label's shingle-side
    // form): a near-identical pair claiming two different languages is
    // either a mislabeled doc the langid stage should have caught or
    // boilerplate that survives translation — both things a per-language
    // training mix must not double-count. Canonicalized (lo, hi) label
    // pairs over the verified jac relation at the pipe's removal
    // threshold. Scale shape: candidate-bounded pair relation joined
    // twice to the narrow (doc_id, lang) projection on the doc_id key,
    // ≤|langs|² output.
    "dd_cross_lang" -> { (s, d) =>
      import s.implicits._
      val langs = t(s, d, "documents").select($"doc_id", $"lang")
      CorpusLshIndex.jaccard(s, d)
        .filter($"jaccard_ppm" >= 400000)
        .join(langs.select($"doc_id".as("doc_a"), $"lang".as("lang_a")), Seq("doc_a"))
        .join(langs.select($"doc_id".as("doc_b"), $"lang".as("lang_b")), Seq("doc_b"))
        .select(least($"lang_a", $"lang_b").as("lang_lo"),
          greatest($"lang_a", $"lang_b").as("lang_hi"))
        .groupBy($"lang_lo", $"lang_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_cross", ($"lang_lo" =!= $"lang_hi").cast("long"))
        .orderBy($"lang_lo", $"lang_hi")
    },

    // pipeline observability: the cleaning funnel's stage-by-stage doc
    // and token mass (raw → quality gate → exact dedup → near dedup) in
    // ONE report — what a curation run logs so a silent stage collapse
    // (over-aggressive gate, broken dedup) is visible before training.
    // Same composed plan as pipe_clean_corpus; each stage count is a
    // partial agg over that stage's relation.
    // ONE corpus pass: a narrow per-doc relation (token count, quality
    // verdict, content fingerprint — no text) feeds all four stage
    // aggregations; the earlier form re-tokenized the text once per
    // stage. Near-dup losers come from the materialized LSH index.
    "pipe_report" -> { (s, d) =>
      import s.implicits._
      val perDoc = TextQueries.qualityScored(t(s, d, "documents"))
        .withColumn("text_clean", TextQueries.scrubbed($"text"))
        .select($"doc_id",
          size(split($"text", " +")).cast("long").as("n_tok"),
          (floor($"score" * lit(1000000.0) + lit(0.5)).cast("long") >= 550000).as("q_ok"),
          md5($"text").as("f"),
          size(expr(s"regexp_extract_all(text_clean, '${TextQueries.MaskAlt}', 0)"))
            .cast("long").as("n_masks"))
        .persist()
      val qd = perDoc.filter($"q_ok")
      val keepFirst = qd.groupBy($"f").agg(min($"doc_id").as("doc_id"))
      val kept1 = qd.join(keepFirst.select($"doc_id"), Seq("doc_id"), "left_semi")
        .select($"doc_id", $"n_tok", $"n_masks").persist()
      val ids = kept1.select($"doc_id")
      val losers = CorpusLshIndex.jaccard(s, d)
        .join(ids.select($"doc_id".as("doc_a")), Seq("doc_a"), "left_semi")
        .join(ids.select($"doc_id".as("doc_b")), Seq("doc_b"), "left_semi")
        .filter($"jaccard_ppm" >= 400000)
        .select($"doc_b".as("doc_id")).distinct()
      val cleaned = kept1.join(losers, Seq("doc_id"), "left_anti")
      def stage(n: Long, name: String, df: DataFrame): DataFrame =
        df.agg(
          coalesce(sum($"n_tok"), lit(0L)).as("n_tokens"),
          count(lit(1)).as("n_docs"))
          .select(lit(n).as("stage"), lit(name).as("stage_name"), $"n_docs", $"n_tokens")
      // stage 5 is a TRANSFORM, not a filter: its pair reports docs
      // touched / spans redacted (what a curation run logs for scrub)
      // rather than survivors / token mass — nothing is dropped
      val scrubRow = cleaned.agg(
        coalesce(sum(when($"n_masks" > 0, 1L).otherwise(0L)), lit(0L)).as("n_docs"),
        coalesce(sum($"n_masks"), lit(0L)).as("n_tokens"))
        .select(lit(5L).as("stage"), lit("scrub").as("stage_name"), $"n_docs", $"n_tokens")
      stage(1, "raw", perDoc)
        .unionByName(stage(2, "quality", qd))
        .unionByName(stage(3, "exact_dedup", kept1))
        .unionByName(stage(4, "near_dedup", cleaned))
        .unionByName(scrubRow)
        .orderBy($"stage")
    },

    // train/eval leakage audit: a deterministic 10% hash split plays the
    // held-out eval set; every near-dup pair CROSSING the split (band
    // candidates eval×train, jaccard-verified ≥ 0.4) is a leak that
    // inflates eval scores. Per leaked eval doc: leak count, worst
    // offending train doc, max jaccard. Scale shape: same one-wide-stage
    // band join as dd_incremental, keyed work ∝ eval-side bucket
    // occupancy — never corpus²; exact dups surface automatically (they
    // share every band and verify at 1e6 ppm).
    "dd_leakage" -> { (s, d) =>
      import s.implicits._
      // Cross-split candidates are a FILTER over the materialized index:
      // band collision is symmetric, so the eval×train band-join pairs
      // are exactly the corpus candidate pairs with one endpoint on each
      // side of the split — re-orient each verified pair so doc_a is the
      // eval doc. No shingle, signature, or band relation is rebuilt.
      val ea = SamplingQueries.hashOf($"doc_a") % 10 === 0
      val eb = SamplingQueries.hashOf($"doc_b") % 10 === 0
      val leaks = CorpusLshIndex.jaccard(s, d)
        .filter($"jaccard_ppm" >= 400000)
        .filter(ea =!= eb)
        .select(when(ea, $"doc_a").otherwise($"doc_b").as("doc_a"),
          when(ea, $"doc_b").otherwise($"doc_a").as("doc_b"), $"jaccard_ppm")
      val w = Window.partitionBy($"doc_a").orderBy($"jaccard_ppm".desc, $"doc_b")
      val worst = leaks.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_a", $"doc_b".as("worst_train"), $"jaccard_ppm".as("max_jaccard_ppm"))
      leaks.groupBy($"doc_a").agg(count(lit(1)).as("n_leaks"))
        .join(worst, Seq("doc_a"))
        .select($"doc_a".as("eval_doc"), $"n_leaks", $"worst_train", $"max_jaccard_ppm")
        .orderBy($"eval_doc")
    },

    // jaccard histogram over the LSH candidate relation (50k-ppm bins) —
    // the text-side threshold-selection audit (emb_sim_hist's twin):
    // where does the near-dup mass sit before you commit to a cutoff.
    // Same single-wide-stage candidate generator; the rollup is a
    // partial agg on ≤ 21 bins.
    "dd_jaccard_hist" -> { (s, d) =>
      import s.implicits._
      CorpusLshIndex.jaccard(s, d)
        .withColumn("bin", expr("(jaccard_ppm - pmod(jaccard_ppm, 50000)) div 50000"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_pairs"),
          min($"jaccard_ppm").as("min_ppm"), max($"jaccard_ppm").as("max_ppm"))
        .withColumn("lo_ppm", $"bin" * lit(50000L))
        .select($"bin", $"lo_ppm", $"n_pairs", $"min_ppm", $"max_ppm")
        .orderBy($"bin")
    },

    // exact n-gram Jaccard on the LSH candidates (integer set arithmetic,
    // parts-per-million output)
    "dd_jaccard" -> { (s, d) => CorpusLshIndex.jaccard(s, d) },

    // asymmetric containment on the LSH candidates: C = |A∩B| / min(|A|,
    // |B|). Jaccard misses subset-inclusion dups — a doc quoted whole
    // inside a 10× larger doc has J ≈ 0.1 but C = 1.0 — and those are
    // exactly the template/boilerplate-wrapped repeats a curation pass
    // must catch. Same candidate-proportional scale shape as dd_jaccard:
    // the wide work touches only within-bucket pairs, never the corpus.
    "dd_containment" -> { (s, d) =>
      import s.implicits._
      candidateSets(CorpusLshIndex.shingles(s, d), CorpusLshIndex.candidates(s, d))
        .select($"doc_a", $"doc_b",
          size($"sa").cast("long").as("n_a"), size($"sb").cast("long").as("n_b"),
          floor($"n_int" / least(size($"sa"), size($"sb")) * lit(1000000.0) + lit(0.5))
            .cast("long").as("containment_ppm"))
        .filter($"containment_ppm" >= ContainmentThresholdPpm)
        .orderBy($"doc_a", $"doc_b")
    },

    // minhash-estimator calibration: for every LSH candidate pair, the
    // jaccard ESTIMATE from signature agreement (matching perms / Perms —
    // the quantity LSH banding actually thresholds on) next to the exact
    // jaccard and the absolute error. The audit that tells you whether
    // Perms is large enough for the corpus before trusting the estimator
    // at 100 TB, where exact verification of every pair is unaffordable.
    // Scale shape: the signature relation is reused for banding AND
    // agreement (persisted; O(|docs|) rows), the exact side is the same
    // candidate-proportional verify as dd_jaccard.
    "dd_minhash_est" -> { (s, d) =>
      import s.implicits._
      // signatures, candidates AND the exact jaccard all come from the
      // materialized index — the only work left is the (tiny,
      // candidate-proportional) signature-agreement join
      val sigs = CorpusLshIndex.sigs(s, d)
      val agree = (0 until Perms).map { j =>
        when(col(s"sa.h$j") === col(s"sb.h$j"), 1L).otherwise(0L)
      }.reduce(_ + _)
      CorpusLshIndex.jaccard(s, d)
        .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
        .withColumn("agree", agree)
        .select($"doc_a", $"doc_b",
          expr(s"(agree * 1000000) div $Perms").as("est_ppm"),
          $"jaccard_ppm", abs(expr(s"(agree * 1000000) div $Perms") - $"jaccard_ppm").as("err_ppm"))
        .orderBy($"doc_a", $"doc_b")
    },

    // cross-source EXACT-duplicate pairs — the syndication map
    // (dd_cluster_sources counts clusters that straddle sources;
    // this names WHICH source pairs share byte-identical documents and
    // how many — the mirror-site/re-crawl ledger that decides which
    // source of a pair gets dropped wholesale): canonical (lo, hi)
    // source pairs over md5-fingerprint groups. Pair counts are pure
    // arithmetic over per-(fp, source) COUNTS — cross-source pairs =
    // c₁·c₂, within-source = C(c,2) — so there is NO row-level
    // self-join anywhere: a hot normalized fingerprint (the
    // all-whitespace/template group, millions deep at web scale) costs
    // one aggregate row, never m² pairs. Scale shape: two chained
    // partial aggs ((fp, source) then fp), a per-fp ordered
    // source-combination explode bounded by |sources|² whatever the
    // group size, ≤|sources|² output.
    "dd_exact_cross" -> { (s, d) =>
      import s.implicits._
      val cnt = exactCrossCounts(t(s, d, "documents"))
      cnt.groupBy($"fp")
        .agg(sort_array(collect_list(struct($"source", $"c"))).as("sc"))
        .select(explode(expr(
          """flatten(transform(sc, (a, i) ->
            |  transform(slice(sc, i + 1, size(sc) - i), b ->
            |    named_struct('src_lo', a.source, 'src_hi', b.source,
            |      'n_pairs', CASE WHEN b.source = a.source
            |        THEN (a.c * (a.c - 1)) div 2 ELSE a.c * b.c END))))"""
            .stripMargin)).as("p"))
        .select($"p.src_lo".as("src_lo"), $"p.src_hi".as("src_hi"),
          $"p.n_pairs".as("n_pairs"))
        .filter($"n_pairs" > 0)
        .groupBy($"src_lo", $"src_hi")
        .agg(sum($"n_pairs").as("n_pairs"))
        .withColumn("is_cross", ($"src_lo" =!= $"src_hi").cast("long"))
        .orderBy($"src_lo", $"src_hi")
    },

    // signature-width accuracy curve — dd_minhash_est audits the 12-perm
    // estimate; this sweeps prefix widths 4/8/12 so the width is CHOSEN
    // from measurement, not folklore (signature bytes scale index cost
    // linearly at 100 TB; the 1/√w error law says where the spend stops
    // paying). One signature-agreement join computes all three widths;
    // the per-width mean error is a floored exact division. Candidate-
    // proportional work end to end, 3-row output.
    "dd_minhash_width" -> { (s, d) =>
      import s.implicits._
      val sigs = CorpusLshIndex.sigs(s, d)
      def agreeN(n: Int) = (0 until n).map { j =>
        when(col(s"sa.h$j") === col(s"sb.h$j"), 1L).otherwise(0L)
      }.reduce(_ + _)
      CorpusLshIndex.jaccard(s, d)
        .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
        .withColumn("a4", agreeN(4)).withColumn("a8", agreeN(8))
        .withColumn("a12", agreeN(12))
        .select($"jaccard_ppm", explode(expr(
          """array(named_struct('width', 4L, 'est', (a4 * 1000000) div 4),
            |      named_struct('width', 8L, 'est', (a8 * 1000000) div 8),
            |      named_struct('width', 12L, 'est', (a12 * 1000000) div 12))""".stripMargin)).as("x"))
        .select($"x.width".as("width"), abs($"x.est" - $"jaccard_ppm").as("err"))
        .groupBy($"width")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(err) div count(1)").as("mean_err_ppm"),
          max($"err").as("max_err_ppm"))
        .orderBy($"width")
    },

    // one-permutation minhash (Li/Owen/Zhang's OPH): ONE hash
    // evaluation per shingle routed to bucket h mod 16, each bucket
    // keeping its min — at 100 TB the signature pass costs one hash
    // sweep instead of dd_minhash's Perms sweeps. Empty buckets borrow
    // from the next non-empty bucket cyclically (rotation
    // densification), so every doc carries a full 16-slot signature.
    // Accuracy is audited exactly like dd_minhash_est: slot agreement
    // on the SAME candidate pairs beside their exact jaccard. Scale
    // shape: one narrow hash pass + a (doc, bucket) partial agg; the
    // densify join and the agreement join are doc-/candidate-
    // proportional (≤ 16 slots per doc, the bucket spine is a
    // constant-16 explode).
    "dd_oph" -> { (s, d) =>
      import s.implicits._
      val hashed = CorpusLshIndex.shingles(s, d)
        .select($"doc_id", explode($"ss").as("s"))
        .withColumn("x31",
          conv(substring(md5($"s"), 1, 15), 16, 10).cast("long") % P)
      val pres = hashed
        .groupBy($"doc_id", ($"x31" % OphK).as("b"))
        .agg(min($"x31").as("mn"))
      // cyclic borrow: duplicate present buckets at b and b+16, each
      // target slot takes the value of the nearest present slot ≥ it.
      // Implemented as a window AS-OF FILL (r15): target slots (mn
      // null) union the present slots, one per-doc ordered pass, and
      // first(mn, ignoreNulls) over [current, unbounded following)
      // reads the mn of the smallest present slot ≥ the target —
      // exactly min_by(mn, p2) over p2 >= tb, because present slots
      // are unique per doc (b < OphK, so b and b+OphK never collide)
      // and a doc always has a present slot ≥ any target (b+OphK ≥
      // OphK > tb). The former join form expanded each doc to
      // |targets|·|present slots| rows (≤ 512/doc) before filtering;
      // the union is ≤ 3·OphK rows/doc and shuffles once on doc_id.
      // Same-JVM A/B (3 rounds, interleaved, dd_minhash control flat):
      // 1.15-1.30 → 0.40-0.44 s; exceptAll 0/0 both ways.
      val targets = pres.select($"doc_id").distinct()
        .select($"doc_id", explode(sequence(lit(0L), lit(OphK - 1L))).as("slot"))
        .select($"doc_id", $"slot", lit(null).cast("long").as("mn"),
          lit(1).as("is_target"))
      val presrows = pres
        .select($"doc_id", $"b".as("slot"), $"mn", lit(0).as("is_target"))
        .unionByName(pres
          .select($"doc_id", ($"b" + OphK).as("slot"), $"mn", lit(0).as("is_target")))
      // at equal slot the target sorts FIRST (is_target desc) so its
      // forward frame includes the same-slot present row (p2 >= tb is
      // inclusive)
      val wFill = Window.partitionBy($"doc_id")
        .orderBy($"slot".asc, $"is_target".desc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val dens = targets.unionByName(presrows)
        .withColumn("sig", first($"mn", ignoreNulls = true).over(wFill))
        .filter($"is_target" === 1)
        .select($"doc_id", $"slot".as("tb"), $"sig")
      CorpusLshIndex.jaccard(s, d)
        .join(dens.select($"doc_id".as("doc_a"), $"tb", $"sig".as("siga")),
          Seq("doc_a"))
        .join(dens.select($"doc_id".as("doc_b"), $"tb", $"sig".as("sigb")),
          Seq("doc_b", "tb"))
        .groupBy($"doc_a", $"doc_b")
        .agg(sum(when($"siga" === $"sigb", 1L).otherwise(0L)).as("n_agree"),
          max($"jaccard_ppm").as("jaccard_ppm"))
        .select($"doc_a", $"doc_b", $"n_agree",
          expr(s"(n_agree * 1000000) div $OphK").as("est_ppm"),
          $"jaccard_ppm",
          abs(expr(s"(n_agree * 1000000) div $OphK") - $"jaccard_ppm")
            .as("err_ppm"))
        .orderBy($"doc_a", $"doc_b")
    },

    // text-LSH band-health monitor (ann_band_stats' twin for the
    // shingle-minhash index — run BEFORE a corpus-scale dedup pass):
    // per band, bucket count, max occupancy and the implied candidate
    // pair mass Σ c(c−1)/2 — a hot band here is exactly what the
    // skew-aware join exists for, and watching cand_pairs grow
    // super-linearly is the earliest warning the banding parameters
    // need rescaling. Scale shape: reads the materialized band table,
    // one (band, bkey) partial agg, final agg on the |bands| key space.
    "dd_band_stats" -> { (s, d) =>
      import s.implicits._
      val occ = CorpusLshIndex.bands(s, d)
        .groupBy($"band", $"bkey").agg(count(lit(1)).as("c"))
      occ.groupBy($"band".cast("long").as("band"))
        .agg(sum($"c").as("n_docs"), count(lit(1)).as("n_buckets"),
          max($"c").as("max_bucket"),
          expr("CAST(SUM((c * (c - 1)) div 2) AS BIGINT)").as("cand_pairs"))
        .withColumn("occupancy_ppm", expr("(n_docs * 1000000) div n_buckets"))
        .orderBy($"band")
    },

    // end-to-end corpus cleaning: quality gate → exact dedup (keep-first)
    // → LSH near-dup removal (drop the later doc of each verified pair)
    // → PII scrub of the survivors (txt_scrub's passes — redaction runs
    // LAST so the regexp work is paid only for text that ships).
    // The flagship composition — each stage is one of the operators above,
    // chained without materializing anything but the shingle set.
    "pipe_clean_corpus" -> { (s, d) =>
      import s.implicits._
      cleanedCorpus(s, d)
        .withColumn("text_clean", TextQueries.scrubbed($"text"))
        .select($"doc_id", $"source",
          size(expr(s"regexp_extract_all(text_clean, '${TextQueries.MaskAlt}', 0)"))
            .cast("long").as("n_masks"))
    },

    // ...and the capstone composition: the cleaned corpus packed into
    // 512-token training bins per source (clean → dedup → pack) — the
    // full prep a pretraining dataloader consumes. One extra windowed
    // running sum over the (already small) survivor set.
    "pipe_pack_corpus" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      cleanedCorpus(s, d)
        .select($"source", $"doc_id", size(split($"text", " +")).cast("long").as("n_tok"))
        .withColumn("bin", floor((sum($"n_tok").over(w) - $"n_tok") / lit(512L)).cast("long"))
        .groupBy($"source", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"source", $"bin")
    },

    // the full training-mix composition: quality gate → exact dedup →
    // LSH near-dup removal (cleanedCorpus — the pipe_clean chain) →
    // water-filling budget solve over the CLEANED per-source profile
    // (samp_waterfill's closed form) → per-source admission in doc_id
    // order until the allocation is spent (samp_token_budget's straddle
    // rule: a doc is admitted iff its running offset starts under the
    // allocation) → the final mixture manifest a training run logs:
    // per source, cleaned docs/tokens, allocated tokens, admitted
    // docs/tokens. Scale shape: everything after cleaning runs on the
    // |sources|-row profile except the admission window (per-source
    // running sum over survivors — txt_pack_bins' documented shape).
    "pipe_train_mix" -> { (s, d) =>
      import s.implicits._
      val budget = 8000L
      val clean = cleanedCorpus(s, d)
        .select($"source", $"doc_id",
          size(split($"text", " +")).cast("long").as("n_tok"))
        .persist() // feeds the profile AND the admission window
      val prof = clean.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      val wSolve = Window.orderBy($"n_tokens", $"source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      val solved = prof
        .withColumn("cum", sum($"n_tokens").over(wSolve))
        .withColumn("i",
          row_number().over(Window.orderBy($"n_tokens", $"source")).cast("long"))
        .withColumn("s_total", count(lit(1)).over(wAll))
        .withColumn("feasible", expr(
          s"cum + (s_total - i) * n_tokens <= $budget"))
      val cap = solved
        .agg(coalesce(
          max(when($"feasible", expr(
            s"if(i = s_total, n_tokens, ($budget - cum) div (s_total - i))"))),
          expr(s"$budget div max(s_total)")).as("cap"))
      val alloc = prof.crossJoin(broadcast(cap))
        .select($"source", $"n_docs", $"n_tokens",
          least($"n_tokens", $"cap").as("alloc_tokens"))
      val wAdm = Window.partitionBy($"source").orderBy($"doc_id")
      clean
        .withColumn("cum_before", sum($"n_tok").over(wAdm) - $"n_tok")
        .join(broadcast(alloc), Seq("source"))
        .groupBy($"source")
        .agg(max($"n_docs").as("n_docs_clean"),
          max($"n_tokens").as("n_tokens_clean"),
          max($"alloc_tokens").as("alloc_tokens"),
          sum(when($"cum_before" < $"alloc_tokens", 1L).otherwise(0L)).as("n_docs_admitted"),
          coalesce(sum(when($"cum_before" < $"alloc_tokens", $"n_tok")), lit(0L)).as("n_tokens_admitted"))
        .orderBy($"source")
    },

    // embedding-cosine near-dup pairs above threshold, bounded by id-band
    // (bucketized equi join + exact quantized dot products — see VectorOps)
    "dd_embed" -> { (s, d) =>
      import s.implicits._
      graft.operators.VectorOps.bandedCosinePairs(s, d, 100)
        .filter($"cos_ppm" >= 300000)
        .select($"va".as("vec_a"), $"vb".as("vec_b"), $"cos_ppm")
    },

    // INCREMENTAL dedup — the production shape: dedup an incoming batch
    // against the existing corpus without re-clustering the corpus. The
    // "new batch" is the deterministic doc_id % 10 == 0 slice. Exact dups
    // are a fingerprint equi-join new→corpus; near dups are CROSS-SET
    // LSH candidates (band join restricted to new×corpus pairs — wide
    // work proportional to the batch, not the corpus) verified by exact
    // jaccard. Verdict per new doc: exact beats near beats unique, best
    // match = max jaccard with min-doc tie-break.
    "dd_incremental" -> { (s, d) =>
      import s.implicits._
      val docs = t(s, d, "documents")
      val newPred = col("doc_id") % 10 === 0
      val fp = docs.select($"doc_id", normFpCol($"text").as("fp"))
      val exact = fp.filter(newPred).as("n")
        .join(fp.filter(!newPred).as("c"), col("n.fp") === col("c.fp"))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(min(col("c.doc_id")).as("match_doc"))
        .select($"doc_id", lit("exact").as("verdict"), $"match_doc", lit(1000000L).as("jaccard_ppm"))
      // cross-set (new × corpus) verified candidates are a filter over
      // the materialized index — band collision is symmetric, so the
      // new×corpus band-join pairs are exactly the corpus candidate
      // pairs with one endpoint in each set, re-oriented new-side first
      val na = $"doc_a" % 10 === 0
      val nb = $"doc_b" % 10 === 0
      val w = Window.partitionBy($"doc_a").orderBy($"jaccard_ppm".desc, $"doc_b")
      val near = CorpusLshIndex.jaccard(s, d)
        .filter($"jaccard_ppm" >= 400000)
        .filter(na =!= nb)
        .select(when(na, $"doc_a").otherwise($"doc_b").as("doc_a"),
          when(na, $"doc_b").otherwise($"doc_a").as("doc_b"), $"jaccard_ppm")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_a".as("doc_id"), lit("near").as("verdict"),
          $"doc_b".as("match_doc"), $"jaccard_ppm")
      val nearOnly = near.join(exact.select($"doc_id"), Seq("doc_id"), "left_anti")
      val unique = docs.filter(newPred).select($"doc_id")
        .join(exact.select($"doc_id").unionByName(near.select($"doc_id")), Seq("doc_id"), "left_anti")
        .select($"doc_id", lit("unique").as("verdict"),
          lit(-1L).as("match_doc"), lit(0L).as("jaccard_ppm"))
      exact.unionByName(nearOnly).unionByName(unique).orderBy($"doc_id")
    },

    // BENCHMARK DECONTAMINATION — the eval-set overlap scrub every
    // training pipeline runs before a model sees the corpus: flag any
    // training document sharing at least one word-3-shingle with the
    // held-out benchmark slice (here the deterministic doc_id % 17
    // slice stands in for the eval set). Scale shape: the benchmark
    // side is pre-aggregated to ONE row per distinct shingle (keeping
    // its min source doc) BEFORE the join — joining raw shingle rows
    // explodes to |train occurrences| × |bench docs| for every common
    // phrase (measured 18.8 s vs 1.4 s at sf0.1); with the index
    // deduped, join output is bounded by the train shingle rows, and
    // min-over-shingles of the per-shingle min is the same global min.
    // The index is small and AQE-broadcastable, but carries no forced
    // hint (it scales with the slice — the round-3 OOM lesson). Since
    // (doc_id, s) is distinct by construction, the per-doc overlap
    // count is a plain count — no count_distinct expand.
    // The shingle arrays come from the materialized index: both slices
    // scan a bucketed parquet relation instead of re-running the
    // interpreted shingle expression per slice (the pre-index form
    // needed a persist as an optimizer barrier for exactly that reason).
    "dd_decontam" -> { (s, d) =>
      import s.implicits._
      val sh = CorpusLshIndex.shingles(s, d)
        .select($"doc_id", explode($"ss").as("s"))
      val benchIdx = sh.filter($"doc_id" % 17 === 0)
        .groupBy($"s").agg(min($"doc_id").as("bd"))
      val train = sh.filter($"doc_id" % 17 =!= 0)
      train.join(benchIdx, Seq("s"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_overlap"), min($"bd").as("bench_doc"))
        .orderBy($"doc_id")
    },

    // DUPLICATE-CLUSTER resolution — the step after pair generation that a
    // production dedup actually ships: near-dup pairs only say "a looks
    // like b"; to keep exactly one survivor per duplicate GROUP you need
    // the connected components of the pair graph (a~b, b~c ⇒ {a,b,c} is
    // one cluster even if a and c never collided). Edges = normalized
    // exact-dup star edges (keep-first ↔ dup) ∪ LSH+jaccard-verified
    // near-dup pairs. Components by min-label propagation: labels start as
    // own doc_id, each round every node takes the min label over itself
    // and its neighbors, until a round changes nothing. Rounds needed =
    // graph diameter — for dup clusters that is small (they are
    // near-cliques: most members collide pairwise in some LSH band), so
    // the loop is a handful of self-terminating equi-join rounds, each a
    // bounded shuffle on doc_id — no CartesianProduct, no driver-side
    // graph. Convergence is detected by the monotone checksum sum(label):
    // labels only ever decrease, so an unchanged sum IS a fixpoint — one
    // scalar action per round instead of a changed-rows join. (For
    // adversarial long-chain graphs the same loop takes the
    // large-star/small-star form — alternate join orders, same primitive;
    // dup graphs don't need it.) Output: every clustered doc with its
    // cluster id (= min member) and cluster size.
    "dd_cluster" -> { (s, d) =>
      connectedComponents(duplicateEdges(s, d))
    },

    // duplicate-cluster SIZE histogram (the dedup report's headline
    // distribution: is duplication a long tail of pairs or a few huge
    // boilerplate families? pair-heavy corpora dedup cheaply, one
    // 10⁵-member cluster means a template leak): per cluster size, the
    // cluster count, the doc mass it holds, and the REMOVAL mass
    // (size−1 per cluster — what canonicalization deletes), shares in
    // exact ppm. Scale shape: the |clustered-docs| component relation
    // collapses to one row per cluster (a distinct), then a
    // |sizes|-row agg with a broadcast 1-row corpus total.
    "dd_cluster_hist" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val comp = connectedComponents(duplicateEdges(s, d))
      val clusters = comp.select($"cluster_id", $"n_members").distinct()
      val tot = t(s, d, "documents").agg(count(lit(1)).as("t"))
      clusters.groupBy($"n_members".as("size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", $"size" * $"n_clusters")
        .withColumn("n_removed", ($"size" - 1) * $"n_clusters")
        .crossJoin(broadcast(tot))
        .select($"size", $"n_clusters", $"n_docs", $"n_removed",
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_removed) div CAST(t AS DECIMAL(38,0))")
            .as("removed_share_ppm"))
        .orderBy($"size")
    },

    // quality-aware canonicalization: duplicate clusters (dd_cluster's
    // exact+near edge graph) resolved by keeping the BEST-quality member
    // instead of the min id — what a curation pipeline actually ships
    // (the freshest/cleanest copy, not the accidental first crawl).
    // Scale shape: the ranking window runs ONLY over clustered docs
    // (duplicate graphs ≪ corpus); the untouched majority joins back as
    // self-canonical via one anti-join, so no corpus-wide window exists.
    "dd_canonical" -> { (s, d) =>
      import s.implicits._
      val comp = connectedComponents(duplicateEdges(s, d))
        .select($"doc_id", $"cluster_id")
      val q = TextQueries.qualityScored(t(s, d, "documents"))
        .select($"doc_id",
          floor($"score" * lit(1000000.0) + lit(0.5)).cast("long").as("quality_ppm"))
      val clustered = q.join(comp, Seq("doc_id"))
      val w = Window.partitionBy($"cluster_id").orderBy($"quality_ppm".desc, $"doc_id")
      val withRn = clustered.withColumn("rn", row_number().over(w))
      val canon = withRn.filter($"rn" === 1)
        .select($"cluster_id", $"doc_id".as("canonical_doc"))
      val clusteredOut = withRn.join(canon, Seq("cluster_id"))
        .select($"doc_id", $"cluster_id", $"quality_ppm", $"canonical_doc",
          when($"doc_id" === $"canonical_doc", 1L).otherwise(0L).as("kept"))
      val singles = q.join(comp.select($"doc_id"), Seq("doc_id"), "left_anti")
        .select($"doc_id", $"doc_id".as("cluster_id"), $"quality_ppm",
          $"doc_id".as("canonical_doc"), lit(1L).as("kept"))
      clusteredOut.unionByName(singles).orderBy($"doc_id")
    },

    // keep-policy audit: keep-FIRST (min doc_id — what the cleaning
    // pipe and every streaming dedup gate do, because it needs no
    // second pass) vs keep-BEST-quality (dd_canonical's pick) — per
    // dedup cluster, do the two policies agree, and how much quality
    // does keep-first sacrifice when they don't? The number that
    // decides whether a pipeline should pay for the canonical pass.
    // Scale shape: the shared component dispatch, one per-cluster
    // window + one min-agg + a cluster-keyed join — all bounded by the
    // cluster relation, never the corpus.
    "dd_keep_quality" -> { (s, d) =>
      import s.implicits._
      val comp = connectedComponents(duplicateEdges(s, d))
        .select($"doc_id", $"cluster_id")
      val q = TextQueries.qualityScored(t(s, d, "documents"))
        .select($"doc_id",
          floor($"score" * lit(1000000.0) + lit(0.5)).cast("long").as("quality_ppm"))
      val cl = q.join(comp, Seq("doc_id"))
      val w = Window.partitionBy($"cluster_id").orderBy($"quality_ppm".desc, $"doc_id")
      val best = cl.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"cluster_id", $"doc_id".as("best_doc"), $"quality_ppm".as("best_q"))
      val first = cl.groupBy($"cluster_id").agg(min($"doc_id").as("first_doc"))
      val fq = first.join(
        cl.select($"cluster_id", $"doc_id".as("first_doc"), $"quality_ppm".as("first_q")),
        Seq("cluster_id", "first_doc"))
      best.join(fq, Seq("cluster_id"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when($"best_doc" === $"first_doc", 1L).otherwise(0L)).as("n_agree"),
          sum($"best_q" - $"first_q").as("sl"))
        .select($"n_clusters", $"n_agree",
          expr("(n_agree * 1000000) div n_clusters").as("agree_ppm"),
          expr("sl div n_clusters").as("mean_loss_ppm"))
    },

    // SOFT dedup — duplication-aware mixture reweighting (the D4/SemDeDup
    // alternative to dropping duplicates): instead of keeping one doc per
    // duplicate cluster, every member stays but carries weight 1/|cluster|,
    // so each duplicated passage contributes ONE doc's worth of training
    // mass no matter how many mirrors the crawl found. Per source this
    // reports raw vs effective (weighted) doc and token mass and the
    // resulting downweight ratio — the "how much of this domain is mirror
    // mass" gate that decides whether to re-crawl or re-weight. Integer
    // arithmetic throughout: per-doc weight is floored to ppm
    // (1000000 div n) / token mass to per-mille units, so Spark and the
    // oracle agree exactly at every boundary. Units are chosen for 9.2e18
    // headroom: milli-token mass bounds the corpus at ~1e15 tokens before
    // the sum needs the DECIMAL(38,0) escalation samp_ess already uses.
    // Scale shape: the cluster relation is duplicate-proportional
    // (≪ corpus); the corpus side is one narrow projection + LEFT join on
    // doc_id + one partial agg to |sources| rows. No window, no sort.
    "samp_softdedup" -> { (s, d) =>
      import s.implicits._
      val docs = t(s, d, "documents")
      val comp = connectedComponents(duplicateEdges(s, d))
        .select($"doc_id", $"n_members")
      docs.select($"source", $"doc_id",
          size(split($"text", " +")).cast("long").as("tok"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("n", coalesce($"n_members", lit(1L)))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(expr("CAST(n > 1 AS BIGINT)")).as("n_dup_docs"),
          sum($"tok").as("n_tok"),
          sum(expr("1000000 div n")).as("eff_docs_ppm"),
          sum(expr("(tok * 1000) div n")).as("eff_tok_milli"))
        .withColumn("downweight_ppm", expr("(eff_tok_milli * 1000) div n_tok"))
        .orderBy($"source")
    },

    // CORPUS-WIDE embedding near-dup: hyperplane-LSH candidate buckets +
    // exact quantized-cosine verification — the production composition
    // (dd_embed's id-band is a correctness-testable device; this one finds
    // near-dups anywhere in the corpus). 80 sign bits per vector, banded
    // into 10 independent 8-bit tables; each vector additionally probes
    // the hamming-1 buckets of every table (multi-probe — 9 probes per
    // table trade a constant row-fanout for recall, the same trick as
    // ann_lsh_topk). Hamming-1 collision is symmetric, so probing from
    // the va < vb side only loses nothing. The only wide stages are the
    // per-(table, bits) bucket equi-join and the candidate-proportional
    // verify join — no all-pairs comparison anywhere. At larger corpora,
    // widen bits/table (bucket count should track log2 n) and add tables
    // to hold recall. Oracle: the full banding is REPLAYED in SQL
    // (EmbedPairCtes — planes regenerated from the md5 recipe), so the
    // answer is hash-checked; recall vs exact all-pairs truth and
    // exactness of every emitted cosine are additionally in AnnSpec.
    "dd_embed_lsh" -> { (s, d) => embedLshPairs(s, d) },

    // Bloom-filter pre-screen audit for incremental exact dedup — the
    // shuffle-avoidance pattern a 100 TB crawl loop actually runs: the
    // corpus membership structure is k=3 md5-derived bit positions in an
    // m=65536 space, materialized as a DISTINCT position relation (≤m
    // rows regardless of corpus size) and BROADCAST to the probe side,
    // so screening a new batch never shuffles the corpus. Per probe doc:
    // bloom_hit (all 3 positions set), exact_dup (fingerprint present),
    // and the verdict — false positives are the bloom's documented cost,
    // and the no-false-negative law (exact_dup ⇒ bloom_hit) is asserted
    // in AnalyticsOpsSpec. m is FIXED here so the DuckDB twin replays
    // bit-for-bit; at real scale m tracks corpus cardinality (~10 bits
    // per key for 1% FPR) and the same broadcast bound holds because the
    // position relation never exceeds m rows.
    "dd_bloom" -> { (s, d) => bloomScreen(t(s, d, "documents")) },

    // exact-dup group-size spectrum — "how bad is it" in one curve
    // BEFORE any dedup runs (dd_dup_rate gives the scalar, dd_cluster_hist
    // sizes the exact+near CLUSTERS; this bands the raw normalized-
    // fingerprint groups by ⌊log₂ size⌋, which is where the
    // boilerplate/template mass shows up as fat high bands and decides
    // whether plain exact dedup already reclaims the corpus): per band,
    // groups, docs, implied C(k,2) pair mass, doc ppm share. Scale
    // shape: one fingerprint partial agg (the exactCrossCounts base
    // without the source axis), ≤64-band rollup, broadcast 1-row total.
    // normalization GAIN audit — "was case/whitespace folding worth
    // it": raw byte-identity (md5 of the text as-is) vs the normalized
    // fingerprint, as group/doc/pair counts side by side plus the exact
    // ppm of normalized pairs that only normalization found. One row;
    // both sides are single fingerprint partial aggs (the counts
    // arithmetic, never a pair join). The sf fixtures are dup-free so
    // every count is 0 — Round12Laws4Spec plants the interesting case.
    "dd_norm_gain" -> { (s, d) =>
      import s.implicits._
      def side(fp: org.apache.spark.sql.Column, pfx: String) =
        t(s, d, "documents").select(fp.as("fp"))
          .groupBy($"fp").agg(count(lit(1)).as("k"))
          .agg(sum(when($"k" > 1, 1L).otherwise(0L)).as(s"${pfx}_groups"),
            sum(when($"k" > 1, $"k").otherwise(0L)).as(s"${pfx}_dup_docs"),
            sum(expr("(k * (k - 1)) div 2")).as(s"${pfx}_pairs"))
      side(md5($"text"), "raw").crossJoin(side(normFpCol($"text"), "norm"))
        .withColumn("gain_ppm", expr(
          "((norm_pairs - raw_pairs) * 1000000) div GREATEST(1, norm_pairs)"))
    },

    // per-source data card — the release-notes table every corpus ship
    // has to publish (docs, token mass, exact-dup redundancy, language
    // composition in one row per source; the individual audits exist
    // piecemeal — this is the one a consumer actually reads): exact
    // fingerprint-distinct redundancy ppm, majority language + its ppm
    // with the (count desc, lang) tie-break, distinct languages. Scale
    // shape: two partial aggs onto |sources| and |sources|·|langs| key
    // spaces, a bounded per-source rank window, one co-keyed join.
    "pipe_datacard" -> { (s, d) =>
      import s.implicits._
      val docs = t(s, d, "documents")
      val uniq = docs.select($"source", normFpCol($"text").as("fp"))
        .groupBy($"source").agg(countDistinct($"fp").as("n_unique"))
      datacardMixture(datacardMixCounts(docs))
        .join(uniq, Seq("source"))
        .select($"source", $"n_docs", $"n_tokens", $"n_unique",
          expr("((n_docs - n_unique) * 1000000) div n_docs").as("exact_dup_ppm"),
          $"n_langs", $"top_lang", $"top_lang_ppm")
        .orderBy($"source")
    },

    "dd_fp_sizes" -> { (s, d) =>
      import s.implicits._
      val sizes = t(s, d, "documents")
        .select(normFpCol($"text").as("fp"))
        .groupBy($"fp").agg(count(lit(1)).as("k"))
      val dec = "CAST(1000000 AS DECIMAL(38,0))"
      sizes.withColumn("band", (length(bin($"k")) - 1).cast("long"))
        .groupBy($"band")
        .agg(count(lit(1)).as("n_groups"), sum($"k").as("n_docs"),
          sum(expr("(k * (k - 1)) div 2")).as("n_pairs"))
        .crossJoin(broadcast(sizes.agg(sum($"k").as("t"))))
        .select($"band", $"n_groups", $"n_docs", $"n_pairs",
          expr(s"($dec * n_docs) div CAST(t AS DECIMAL(38,0))")
            .cast("long").as("doc_share_ppm"))
        .orderBy($"band")
    }
  )

  /** dd_bloom body over any (doc_id, text) relation — probe batch is
    * doc_id % 10 == 0 (dd_incremental's convention), corpus the rest.
    * Split out so BloomSpec can drive a corpus whose duplicates actually
    * straddle the batch boundary (the driver fixture's dup groups don't).
    */
  private[graft] def bloomScreen(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val newPred = col("doc_id") % 10 === 0
    val fp = docs.select($"doc_id",
      normFpCol($"text").as("fp"))
    val posd = (1 to 3).map(j => expr(
      s"CAST(conv(substring(md5(concat(fp, '#$j')), 1, 8), 16, 10) AS BIGINT) % 65536")
      .as(s"p$j"))
    val corpusBits = fp.filter(!newPred)
      .select(explode(array(posd: _*)).as("p")).distinct()
      .withColumn("hit", lit(1L))
    val bloom = fp.filter(newPred)
      .select($"doc_id", explode(array(posd: _*)).as("p"))
      .join(broadcast(corpusBits), Seq("p"), "left")
      .groupBy($"doc_id")
      .agg((sum(coalesce($"hit", lit(0L))) === 3L).as("bloom_hit"))
    val exact = fp.filter(newPred)
      .join(fp.filter(!newPred).select($"fp").distinct()
        .withColumn("dup", lit(1L)), Seq("fp"), "left")
      .select($"doc_id", $"dup".isNotNull.as("exact_dup"))
    bloom.join(exact, Seq("doc_id"))
      .select($"doc_id", $"bloom_hit", $"exact_dup",
        when($"exact_dup", "true_dup").when($"bloom_hit", "false_pos")
          .otherwise("clean").as("verdict"))
      .orderBy($"doc_id")
  }

  /** Corpus-scaled band width: bits = max(8, ceil(log2(n/8))), i.e. a
    * CONSTANT expected bucket occupancy (~8) however big the corpus.
    * This is the load-bearing LSH scale rule: at fixed bits, occupancy
    * grows linearly with n and the band join's candidate mass grows
    * QUADRATICALLY — the round-9 amp=100 probe measured exactly that
    * (67 GB of shuffle from 200k vectors at the old fixed 8 bits).
    * With log-scaled bits the mass stays ~n·log n. Every driver-testdata
    * sf lands on the 8-bit floor, so the static SQL oracles (which
    * unroll 8-bit hyperplane constants) replay unchanged; a corpus big
    * enough to widen the bands is exactly the regime the oracle harness
    * never runs at. Per-table recall at a fixed cosine drops as bits
    * grow (p^bits); the hamming-1 multi-probe (whose flip count follows
    * bits) and the 10 tables are the standard compensation.
    */
  private[graft] def embedLshBitsFor(n: Long): Int = {
    // INTEGER doubling walk, same as simhashBandBits: a float
    // ceil(log2) lands 1 ulp HIGH at exact powers of two
    // (log2(256) = 8.000000000000002 → ceil 9), widening one step early
    // at n = 8·2^k and silently diverging from any SQL log2 replay.
    // Capped at 30 bits (≈1B band buckets — past ~8B vectors the next
    // step is more tables, not wider bands).
    var bits = EmbedLshBits
    var cap = 8L << bits // occupancy target 8 at the floor width
    while (n > cap && bits < 30) { bits += 1; cap *= 2 }
    bits
  }

  /** the band width the corpus at `d` was (or would be) indexed with —
    * appends MUST reuse it, so it is a function of the base embeddings
    * table, which is immutable for a given dir
    */
  private[graft] def embedLshBits(s: SparkSession, d: String): Int =
    embedLshBitsFor(t(s, d, "embeddings").count())

  /** (vec_id, q, nn, bands) for any (vec_id, embedding) relation —
    * zero-norm vectors are excluded before pairing: cosine against a
    * zero vector is NaN and ANSI CAST(NaN AS BIGINT) throws (they stay
    * in the corpus — emb_semdedup's left join gives them their own
    * singleton cluster)
    */
  private[graft] def embedBanded(vecs: DataFrame, bits: Int): DataFrame =
    graft.operators.VectorOps.withHyperplaneBands(
      graft.operators.VectorOps.quantize(vecs)
        .select(col("vec_id"), col("q"), col("nn")).filter(col("nn") > 0),
      EmbedLshTables, bits)

  /** exact band per table: (vec_id, tbl, bits) */
  private[graft] def embedExactBands(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // literal per-table struct array instead of the interpreted
    // transform(sequence) lambda (§4): this runs per corpus row inside
    // the embed-pair index build — the unrolled form stays codegen
    val cols = (0 until EmbedLshTables).map(t =>
      struct(lit(t).cast("int").as("tbl"), $"bands".getItem(t).as("bits")))
    e.select($"vec_id", explode(array(cols: _*)).as("bb"))
      .select($"vec_id", $"bb.tbl".as("tbl"), $"bb.bits".as("bits"))
  }

  /** probe set per table: own band + its one-bit flips (hamming-1
    * multi-probe; collision is symmetric, so probing from one side of a
    * pair loses nothing): (vec_id, carry…, tbl, bits)
    */
  private[graft] def embedProbes(e: DataFrame, bits: Int, carry: Seq[String] = Nil): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // unrolled (tbl × {exact, bit-flips}) struct array instead of the
    // nested flatten(transform(transform(...))) interpreted lambdas
    // (§4): Tables·(bits+1) literal structs, same values, same order,
    // all codegen — this is the widest per-row expression of the
    // embed-pair index build
    val cols = for {
      t <- 0 until EmbedLshTables
      k <- -1 until bits
    } yield struct(lit(t).cast("int").as("tbl"),
      (if (k == -1) $"bands".getItem(t)
       else $"bands".getItem(t).bitwiseXOR(lit(1L << k))).as("bits"))
    val keep = $"vec_id" +: carry.map(col)
    e.select(keep :+ explode(array(cols: _*)).as("bb"): _*)
      .select(keep ++ Seq($"bb.tbl".as("tbl"), $"bb.bits".as("bits")): _*)
  }

  /** every (tbl, bits) collision of a probe (vec_id as `va`) with an
    * exact band (vec_id as `vb`), once per table; the caller keeps its
    * pair filter or orientation and distinct
    */
  private[graft] def embedCollisions(probes: DataFrame, bands: DataFrame): DataFrame =
    probes.withColumnRenamed("vec_id", "va")
      .join(bands.withColumnRenamed("vec_id", "vb"), Seq("tbl", "bits"))

  /** exact integer cosine for a (va, vb) candidate relation; endpoint
    * vectors come from `qa` / `qb` relations of (vec_id, q, nn)
    */
  private[graft] def embedVerify(cand: DataFrame, qa: DataFrame, qb: DataFrame): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    val sa = qa.select($"vec_id".as("va"), $"q".as("qa"), $"nn".as("na"))
    val sb = qb.select($"vec_id".as("vb"), $"q".as("qb"), $"nn".as("nb"))
    cand.join(sa, Seq("va")).join(sb, Seq("vb"))
      .withColumn("dot", graft.operators.VectorOps.dotCol(col("qa"), col("qb")))
      .withColumn("cos_ppm", graft.operators.VectorOps.cosPpm($"dot", $"na", $"nb"))
      .select($"va".as("vec_a"), $"vb".as("vec_b"), $"cos_ppm")
  }

  /** exact-verified cosine for EVERY multi-probe LSH candidate pair
    * (vec_a < vec_b), unthresholded, built from scratch — the reference
    * chain the materialized embed-pair index is checked against
    */
  private[graft] def embedLshPairsRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bits = embedLshBits(s, d)
    val e = embedBanded(t(s, d, "embeddings"), bits).persist()
    val cand = embedProbes(e, bits).withColumnRenamed("vec_id", "va")
      .join(embedExactBands(e).withColumnRenamed("vec_id", "vb"), Seq("tbl", "bits"))
      .filter($"va" < $"vb")
      .select($"va", $"vb")
      .distinct()
    embedVerify(cand, e, e)
  }

  /** corpus-wide embedding near-dup pairs (vec_a < vec_b, cos_ppm ≥
    * threshold) — the dd_embed_lsh body, shared with emb_semdedup's
    * cluster-and-keep composition — read from the materialized
    * embed-pair index (built once per corpus; CorpusLshIndex.embedPairs)
    */
  private[graft] def embedLshPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    CorpusLshIndex.embedPairs(s, d)
      .filter($"cos_ppm" >= EmbedLshThresholdPpm)
      .orderBy($"vec_a", $"vec_b")
  }

  private[graft] val EmbedLshTables = 10
  private val EmbedLshBits = 8
  /** near-dup cutoff for dd_embed_lsh (the synthetic corpus's similar
    * pairs live in the 0.35–0.48 cosine range)
    */
  private[graft] val EmbedLshThresholdPpm = 350000

  /** shared oracle CTE bodies (mirror the Spark ops; DuckDB lists are
    * 1-based). `from` is any relation exposing (doc_id, text) — the same
    * chain runs over `documents` for dd_* and over the cleaning
    * pipeline's survivors.
    */
  private def lshCtes(from: String): String = {
    val minCols = (0 until Perms).map { j =>
      s"MIN((${permA(j)} * x31 + ${permB(j)}) % $P) AS h$j"
    }.mkString(",\n    ")
    val bandSelects = (0 until Perms / BandRows).map { b =>
      val parts = (0 until BandRows).map(r => s"CAST(h${b * BandRows + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS band, md5(${parts.mkString(" || ',' || ")}) AS bkey FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(text, ' +') AS tk FROM $from),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' || tk[CAST(i AS INT) + 2] AS s
       |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)),
       |hashed AS (
       |  SELECT doc_id, s, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $P AS x31 FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** DuckDB replay of the embedding quantization + md5-derived ±1
    * hyperplane dot products — the base every embed-LSH oracle shares
    * (the planes are regenerated IN SQL from the same `md5("j:i")` first-
    * byte recipe as VectorOps.hyperplanes, so no literal matrix is
    * embedded). `eq` keeps DuckDB's 1-based dim index; the planes join
    * subtracts 1.
    */
  private[graft] val EmbedBaseCtes: String =
    s"""eq AS (
       |  SELECT vec_id, CAST(i AS INT) AS i,
       |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
       |nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nn FROM eq GROUP BY 1),
       |planes AS (
       |  SELECT CAST(j AS INT) AS j, CAST(i AS INT) AS i,
       |    CASE WHEN CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2) AS INT) < 128
       |         THEN 1 ELSE -1 END AS w
       |  FROM range(0, ${EmbedLshTables * EmbedLshBits}) tj(j), range(0, 64) ti(i)),
       |pdots AS (
       |  SELECT e.vec_id, p.j, CAST(SUM(e.q * p.w) AS BIGINT) AS dot
       |  FROM eq e JOIN planes p ON p.i = e.i - 1
       |  GROUP BY 1, 2)""".stripMargin

  /** ...and the full multi-probe pair replay on top: 10×8-bit band
    * tables, hamming-1 probes, exact integer-cosine verification —
    * `epairs(va, vb, cos_ppm)` is the UNTHRESHOLDED twin of
    * embedLshPairsRaw (zero-norm vectors excluded exactly as the engine
    * does before banding).
    */
  private[graft] val EmbedPairCtes: String =
    s"""$EmbedBaseCtes,
       |ebands AS (
       |  SELECT d.vec_id, CAST(d.j // ${EmbedLshBits} AS INT) AS tbl,
       |    CAST(SUM(CASE WHEN d.dot > 0 THEN CAST(1 << (d.j % ${EmbedLshBits}) AS BIGINT) ELSE 0 END) AS BIGINT) AS bits
       |  FROM pdots d JOIN nrm ON nrm.vec_id = d.vec_id AND nrm.nn > 0
       |  GROUP BY 1, 2),
       |eprobes AS (
       |  SELECT vec_id, tbl,
       |    CAST(CASE WHEN k = -1 THEN bits
       |              ELSE xor(bits, CAST(1 << CAST(k AS INT) AS BIGINT)) END AS BIGINT) AS bits
       |  FROM ebands, range(-1, ${EmbedLshBits}) tk(k)),
       |ecand AS (
       |  SELECT DISTINCT p.vec_id AS va, b.vec_id AS vb
       |  FROM eprobes p JOIN ebands b ON b.tbl = p.tbl AND b.bits = p.bits
       |  WHERE p.vec_id < b.vec_id),
       |epairs AS (
       |  SELECT c.va, c.vb,
       |    CAST(FLOOR(CAST(SUM(ea.q * eb.q) AS BIGINT) / (sqrt(MAX(na.nn)) * sqrt(MAX(nb.nn))) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
       |  FROM ecand c
       |  JOIN eq ea ON ea.vec_id = c.va
       |  JOIN eq eb ON eb.vec_id = c.vb AND eb.i = ea.i
       |  JOIN nrm na ON na.vec_id = c.va
       |  JOIN nrm nb ON nb.vec_id = c.vb
       |  GROUP BY 1, 2)""".stripMargin

  private val SimhashCtes: String = {
    // all 64 bit sums unconditionally (bits 0-31 from md5 chars 1-8,
    // 32-63 from chars 9-16 — simhashes()'s exact sources); the
    // signature then gates each bit on the corpus-derived width, so ONE
    // static SQL replays every simhashBandBits regime
    val bitSums = (0 until 64).map { b =>
      val src = if (b < 32) "v" else "v2"
      s"SUM(CASE WHEN ($src >> ${b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n    ")
    val sig = (0 until 64).map { b =>
      // 1L<<63 has no positive BIGINT literal: both engines add the
      // two's-complement value, and disjoint-bit addition never carries
      val addend = if (b == 63) "-9223372036854775808" else (1L << b).toString
      s"CASE WHEN $b < wdt.w AND b$b > 0 THEN CAST($addend AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok FROM documents),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS v,
       |         CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS v2
       |  FROM toks),
       |wdt AS (
       |  SELECT $simhashWidthSql AS w
       |  FROM (SELECT COUNT(*) AS n FROM documents)),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |sims AS (
       |  SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits, wdt)""".stripMargin
  }

  private val JaccardCtes: String =
    """sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_int
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.doc_a
      |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
      |  GROUP BY c.doc_a, c.doc_b),
      |jacc AS (
      |  SELECT i.doc_a, i.doc_b,
      |    CAST(FLOOR(n_int / CAST(za.n_sh + zb.n_sh - n_int AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS jaccard_ppm
      |  FROM inter i
      |  JOIN sizes za ON za.doc_id = i.doc_a
      |  JOIN sizes zb ON zb.doc_id = i.doc_b)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_exact" ->
      """WITH g AS (
        |  SELECT source, md5(text) AS f, COUNT(*) AS n, MIN(doc_id) AS keep
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(SUM(n - 1) AS BIGINT) AS n_dups, CAST(SUM(keep) AS BIGINT) AS keep_sum
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "dd_exact_norm" ->
      """WITH g AS (
        |  SELECT source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f,
        |    COUNT(*) AS n, MIN(doc_id) AS keep
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(SUM(n - 1) AS BIGINT) AS n_dups, CAST(SUM(keep) AS BIGINT) AS keep_sum
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "dd_source_overlap" ->
      (s"WITH ${lshCtes("documents")},\n" +
        """src AS (SELECT doc_id, source FROM documents)
          |SELECT LEAST(a.source, b.source) AS source_a,
          |  GREATEST(a.source, b.source) AS source_b,
          |  CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs
          |FROM cand
          |JOIN src a ON a.doc_id = cand.doc_a
          |JOIN src b ON b.doc_id = cand.doc_b
          |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),

    "dd_minhash" ->
      (s"WITH ${lshCtes("documents")}\n" +
        "SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b"),

    // same shingle/perm recipe, carried per source: doc sigs min-merge
    // into source sigs (the union law), exact jaccard on distinct
    // (source, shingle) beside the estimate
    "dd_minhash_merge" -> {
      val minCols = (0 until Perms).map { j =>
        s"MIN((${permA(j)} * x31 + ${permB(j)}) % $P) AS h$j"
      }.mkString(",\n    ")
      val srcMin = (0 until Perms).map(j => s"MIN(h$j) AS h$j").mkString(", ")
      val agree = (0 until Perms)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split_regex(text, ' +') AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, source,
         |    tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' || tk[CAST(i AS INT) + 2] AS s
         |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)),
         |hashed AS (
         |  SELECT doc_id, source, s, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $P AS x31 FROM sh),
         |sigs AS (
         |  SELECT doc_id, source,
         |    $minCols
         |  FROM hashed GROUP BY doc_id, source),
         |ssig AS (SELECT source, $srcMin FROM sigs GROUP BY source),
         |ssh AS (SELECT DISTINCT source, s FROM sh),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nsh FROM ssh GROUP BY 1),
         |inter AS (
         |  SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS ni
         |  FROM ssh a JOIN ssh b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b, CAST($agree AS BIGINT) AS n_agree
         |  FROM ssig a JOIN ssig b ON a.source < b.source)
         |SELECT p.source_a, p.source_b, p.n_agree,
         |  CAST((p.n_agree * 1000000) // $Perms AS BIGINT) AS est_jaccard_ppm,
         |  CAST((COALESCE(i.ni, 0) * 1000000) // (sa.nsh + sb.nsh - COALESCE(i.ni, 0)) AS BIGINT) AS exact_jaccard_ppm
         |FROM pairs p
         |LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
         |JOIN sizes sa ON sa.source = p.source_a
         |JOIN sizes sb ON sb.source = p.source_b
         |ORDER BY p.source_a, p.source_b""".stripMargin
    },

    "dd_simhash" ->
      (s"WITH $SimhashCtes\n" +
        "SELECT doc_id, simhash FROM sims ORDER BY doc_id"),

    // oracle pairs via the direct quadratic form — equivalent to the
    // Spark band join because 4×8-bit banding is lossless at radius 3
    "dd_simhash_pairs" ->
      (s"WITH $SimhashCtes\n" +
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    "dd_jaccard" ->
      (s"WITH ${lshCtes("documents")},\n$JaccardCtes\n" +
        "SELECT doc_a, doc_b, jaccard_ppm FROM jacc ORDER BY doc_a, doc_b"),

    "dd_dup_rate" ->
      """WITH f AS (
        |  SELECT source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (SELECT source, fp, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(n - 1) AS BIGINT) AS n_dups,
        |  CAST((SUM(n - 1) * 1000000) // SUM(n) AS BIGINT) AS dup_ppm
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "dd_cluster_sources" ->
      (s"""WITH RECURSIVE ${lshCtes("documents")},
          |$JaccardCtes,
          |fpx AS (
          |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          |  FROM documents),
          |keepx AS (SELECT fp, MIN(doc_id) AS keep FROM fpx GROUP BY fp),
          |exact_e AS (
          |  SELECT k.keep AS a, f.doc_id AS b
          |  FROM fpx f JOIN keepx k ON k.fp = f.fp WHERE f.doc_id <> k.keep),
          |near_e AS (SELECT doc_a AS a, doc_b AS b FROM jacc WHERE jaccard_ppm >= 400000),
          |edges AS (SELECT a, b FROM exact_e UNION SELECT a, b FROM near_e),
          |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
          |reach AS (
          |  SELECT a AS doc, a AS r FROM sym
          |  UNION
          |  SELECT s.b AS doc, reach.r FROM reach JOIN sym s ON s.a = reach.doc),
          |comp AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
          |per AS (
          |  SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS size,
          |    CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources
          |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
          |  GROUP BY 1)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
          |  CAST(SUM(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source,
          |  MAX(n_sources) AS max_sources,
          |  CAST(SUM(CASE WHEN n_sources >= 2 THEN size ELSE 0 END) AS BIGINT) AS docs_in_cross,
          |  CAST((SUM(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS cross_ppm
          |FROM per""".stripMargin),

    "dd_shingle_stats" ->
      (s"WITH ${lshCtes("documents")},\n" +
        """cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
          |j AS (
          |  SELECT d.doc_id, COALESCE(cnt.n_sh, 0) AS n_sh
          |  FROM documents d LEFT JOIN cnt ON cnt.doc_id = d.doc_id),
          |b AS (
          |  SELECT CASE WHEN n_sh = 0 THEN CAST(-1 AS BIGINT)
          |              ELSE CAST(length(bin(n_sh)) - 1 AS BIGINT) END AS band, n_sh
          |  FROM j)
          |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  MIN(n_sh) AS min_sh, MAX(n_sh) AS max_sh
          |FROM b GROUP BY band ORDER BY band""".stripMargin),

    "dd_near_rate" ->
      (s"WITH ${lshCtes("documents")},\n$JaccardCtes,\n" +
        """inv AS (
          |  SELECT DISTINCT doc_id FROM (
          |    SELECT doc_a AS doc_id FROM jacc WHERE jaccard_ppm >= 400000
          |    UNION ALL
          |    SELECT doc_b FROM jacc WHERE jaccard_ppm >= 400000))
          |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(CASE WHEN inv.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
          |  CAST((SUM(CASE WHEN inv.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
          |    // COUNT(*) AS BIGINT) AS near_ppm
          |FROM documents d LEFT JOIN inv ON inv.doc_id = d.doc_id
          |GROUP BY d.source ORDER BY d.source""".stripMargin),

    "dd_cross_lang" ->
      (s"WITH ${lshCtes("documents")},\n$JaccardCtes,\n" +
        """p AS (
          |  SELECT LEAST(da.lang, db.lang) AS lang_lo, GREATEST(da.lang, db.lang) AS lang_hi
          |  FROM jacc j
          |  JOIN documents da ON da.doc_id = j.doc_a
          |  JOIN documents db ON db.doc_id = j.doc_b
          |  WHERE j.jaccard_ppm >= 400000)
          |SELECT lang_lo, lang_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          |  CAST(CASE WHEN lang_lo <> lang_hi THEN 1 ELSE 0 END AS BIGINT) AS is_cross
          |FROM p GROUP BY 1, 2 ORDER BY lang_lo, lang_hi""".stripMargin),

    "pipe_report" ->
      (s"""WITH quality AS (
          |  SELECT doc_id, source, text FROM documents
          |  WHERE CAST(FLOOR(${TextQueries.qualityScoreSql} * 1000000.0 + 0.5) AS BIGINT) >= 550000),
          |keep_first AS (
          |  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
          |kept1 AS (
          |  SELECT q.doc_id, q.source, q.text FROM quality q
          |  JOIN keep_first k ON k.doc_id = q.doc_id),
          |${lshCtes("kept1")},
          |$JaccardCtes,
          |losers AS (SELECT DISTINCT doc_b FROM jacc WHERE jaccard_ppm >= 400000),
          |cleaned AS (
          |  SELECT doc_id, source, text FROM kept1
          |  WHERE doc_id NOT IN (SELECT doc_b FROM losers))
          |SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(COALESCE(SUM(len(string_split_regex(text, ' +'))), 0) AS BIGINT) AS n_tokens
          |FROM documents
          |UNION ALL SELECT 2, 'quality', CAST(COUNT(*) AS BIGINT),
          |  CAST(COALESCE(SUM(len(string_split_regex(text, ' +'))), 0) AS BIGINT) FROM quality
          |UNION ALL SELECT 3, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
          |  CAST(COALESCE(SUM(len(string_split_regex(text, ' +'))), 0) AS BIGINT) FROM kept1
          |UNION ALL SELECT 4, 'near_dedup', CAST(COUNT(*) AS BIGINT),
          |  CAST(COALESCE(SUM(len(string_split_regex(text, ' +'))), 0) AS BIGINT) FROM cleaned
          |UNION ALL SELECT 5, 'scrub',
          |  CAST(COALESCE(SUM(CASE WHEN n_masks > 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
          |  CAST(COALESCE(SUM(n_masks), 0) AS BIGINT)
          |FROM (SELECT CAST(len(regexp_extract_all(${TextQueries.scrubSqlExpr("text")}, '${TextQueries.MaskAlt}')) AS BIGINT) AS n_masks FROM cleaned)
          |ORDER BY stage""".stripMargin),

    "dd_leakage" ->
      (s"WITH ${lshCtes("documents")},\n" +
        """ev AS (
          |  SELECT doc_id FROM documents
          |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0),
          |xc AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          |  WHERE a.doc_id IN (SELECT doc_id FROM ev)
          |    AND b.doc_id NOT IN (SELECT doc_id FROM ev)),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_int
          |  FROM xc c
          |  JOIN sh sa ON sa.doc_id = c.doc_a
          |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
          |  GROUP BY 1, 2),
          |jx AS (
          |  SELECT doc_a, doc_b, jaccard_ppm FROM (
          |    SELECT i.doc_a, i.doc_b,
          |      CAST(FLOOR(n_int / CAST(za.n_sh + zb.n_sh - n_int AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS jaccard_ppm
          |    FROM inter i
          |    JOIN sizes za ON za.doc_id = i.doc_a
          |    JOIN sizes zb ON zb.doc_id = i.doc_b)
          |  WHERE jaccard_ppm >= 400000),
          |r AS (
          |  SELECT doc_a, doc_b, jaccard_ppm,
          |    ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY jaccard_ppm DESC, doc_b) AS rn
          |  FROM jx),
          |cnt AS (SELECT doc_a, CAST(COUNT(*) AS BIGINT) AS n_leaks FROM jx GROUP BY 1)
          |SELECT r.doc_a AS eval_doc, cnt.n_leaks, r.doc_b AS worst_train,
          |  r.jaccard_ppm AS max_jaccard_ppm
          |FROM r JOIN cnt ON cnt.doc_a = r.doc_a
          |WHERE r.rn = 1 ORDER BY eval_doc""".stripMargin),

    "dd_jaccard_hist" ->
      (s"WITH ${lshCtes("documents")},\n$JaccardCtes,\n" +
        """h AS (
          |  SELECT (jaccard_ppm - ((jaccard_ppm % 50000 + 50000) % 50000)) // 50000 AS bin,
          |    jaccard_ppm
          |  FROM jacc)
          |SELECT CAST(bin AS BIGINT) AS bin, CAST(bin * 50000 AS BIGINT) AS lo_ppm,
          |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
          |  CAST(MIN(jaccard_ppm) AS BIGINT) AS min_ppm,
          |  CAST(MAX(jaccard_ppm) AS BIGINT) AS max_ppm
          |FROM h GROUP BY bin ORDER BY bin""".stripMargin),

    "dd_prefix" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS tk,
        |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tok
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, tk, n_tok,
        |    md5(array_to_string(list_slice(tk, 1, 16), ' ')) AS pref
        |  FROM tk WHERE n_tok >= 16)
        |SELECT a.doc_id AS doc_short, b.doc_id AS doc_long,
        |  a.n_tok AS n_short, b.n_tok AS n_long
        |FROM f a JOIN f b ON a.pref = b.pref
        |  AND (a.n_tok < b.n_tok OR (a.n_tok = b.n_tok AND a.doc_id < b.doc_id))
        |WHERE list_slice(b.tk, 1, CAST(a.n_tok AS INT)) = a.tk
        |ORDER BY doc_short, doc_long""".stripMargin,

    // the gram hash is the same Karp-Rabin polynomial the native kernel
    // rolls, unrolled to a Horner chain over ord() code points
    "dd_winnow" ->
      (s"""WITH nd AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |nd2 AS (
         |  SELECT doc_id, nt,
         |    list_transform(range(1, length(nt) + 1), i -> ord(substr(nt, i, 1))) AS cs
         |  FROM nd WHERE length(nt) >= 8),
         |g AS (
         |  SELECT doc_id, i AS pos,
         |    ${(1 to 7).foldLeft("CAST(cs[i] AS BIGINT)")((acc, j) =>
                s"(($acc * 257 + cs[i + $j]) % 1099511627689)")} AS h
         |  FROM nd2, UNNEST(range(1, length(nt) - 6)) AS t(i)),""".stripMargin + "\n" +
      """win AS (
        |  SELECT doc_id, pos,
        |    MIN(h * 4194304 + (4194303 - pos)) OVER (PARTITION BY doc_id
        |      ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS key,
        |    MAX(pos) OVER (PARTITION BY doc_id) - 3 AS last_start
        |  FROM g),
        |sig AS (
        |  SELECT DISTINCT doc_id, key // 4194304 AS fp
        |  FROM win WHERE pos <= last_start),
        |capped AS (
        |  SELECT fp FROM sig GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 16)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS shared_fps
        |FROM sig a JOIN capped c ON c.fp = a.fp
        |JOIN sig b ON b.fp = a.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY shared_fps DESC, doc_a, doc_b LIMIT 30""".stripMargin),

    // the dd_cdc chunk CTEs carried per source, distinct per (source,
    // fp), pair join on fp
    "dd_cdc_cross" ->
      (s"""WITH nd AS (
         |  SELECT doc_id, source, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |nd2 AS (
         |  SELECT doc_id, source, nt,
         |    list_transform(range(1, length(nt) + 1), i -> ord(substr(nt, i, 1))) AS cs
         |  FROM nd WHERE length(nt) >= 8),
         |g AS (
         |  SELECT doc_id, i AS pos,
         |    ${(1 to 7).foldLeft("CAST(cs[i] AS BIGINT)")((acc, j) =>
                s"(($acc * 257 + cs[i + $j]) % 1099511627689)")} AS h
         |  FROM nd2, UNNEST(range(1, length(nt) - 6)) AS t(i)),""".stripMargin + "\n" +
      """bl AS (
        |  SELECT doc_id, COALESCE(list_sort(list(pos) FILTER (h % 64 = 0)), []) AS bp
        |  FROM g GROUP BY doc_id),
        |ch AS (
        |  SELECT nd2.doc_id, nd2.source, nd2.nt,
        |    list_prepend(0, bl.bp) AS starts,
        |    list_append(bl.bp, CAST(length(nd2.nt) AS BIGINT)) AS ends
        |  FROM nd2 JOIN bl ON bl.doc_id = nd2.doc_id),
        |ex AS (
        |  SELECT source,
        |    substr(nt, CAST(starts[CAST(j AS INT)] + 1 AS INT),
        |      CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)] AS INT)) AS chunk
        |  FROM ch, UNNEST(range(1, len(starts) + 1)) AS t(j)),
        |sfp AS (
        |  SELECT source, md5(chunk) AS fp, CAST(MAX(length(chunk)) AS BIGINT) AS len
        |  FROM ex GROUP BY 1, 2)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared_chunks,
        |  CAST(SUM(a.len) AS BIGINT) AS shared_chars
        |FROM sfp a JOIN sfp b ON b.fp = a.fp AND a.source < b.source
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY source_a, source_b""".stripMargin),

    // same nd/g rolling-hash CTEs as dd_winnow (len ≥ 8 instead of 11),
    // boundaries where h % 64 = 0, chunks = substrings between cuts
    "dd_cdc" ->
      (s"""WITH nd AS (
         |  SELECT doc_id, source, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents),
         |nd2 AS (
         |  SELECT doc_id, source, nt,
         |    list_transform(range(1, length(nt) + 1), i -> ord(substr(nt, i, 1))) AS cs
         |  FROM nd WHERE length(nt) >= 8),
         |g AS (
         |  SELECT doc_id, i AS pos,
         |    ${(1 to 7).foldLeft("CAST(cs[i] AS BIGINT)")((acc, j) =>
                s"(($acc * 257 + cs[i + $j]) % 1099511627689)")} AS h
         |  FROM nd2, UNNEST(range(1, length(nt) - 6)) AS t(i)),""".stripMargin + "\n" +
      """bl AS (
        |  SELECT doc_id, COALESCE(list_sort(list(pos) FILTER (h % 64 = 0)), []) AS bp
        |  FROM g GROUP BY doc_id),
        |ch AS (
        |  SELECT nd2.doc_id, nd2.source, nd2.nt,
        |    list_prepend(0, bl.bp) AS starts,
        |    list_append(bl.bp, CAST(length(nd2.nt) AS BIGINT)) AS ends
        |  FROM nd2 JOIN bl ON bl.doc_id = nd2.doc_id),
        |ex AS (
        |  SELECT source,
        |    substr(nt, CAST(starts[CAST(j AS INT)] + 1 AS INT),
        |      CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)] AS INT)) AS chunk
        |  FROM ch, UNNEST(range(1, len(starts) + 1)) AS t(j)),
        |cg AS (
        |  SELECT source, md5(chunk) AS fp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(MAX(length(chunk)) AS BIGINT) AS chunk_len
        |  FROM ex GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(n * chunk_len) AS BIGINT) AS total_chars,
        |  CAST(SUM(chunk_len) AS BIGINT) AS distinct_chars,
        |  CAST(((SUM(n * chunk_len) - SUM(chunk_len)) * 1000000) // SUM(n * chunk_len) AS BIGINT) AS saved_ppm
        |FROM cg GROUP BY source ORDER BY source""".stripMargin),

    // the shared tok/shingle/signature CTEs, then each (b, r) config
    // re-bands the same signature and scores its own candidate set
    "dd_lsh_curve" -> {
      val minCols = (0 until Perms).map { j =>
        s"MIN((${permA(j)} * x31 + ${permB(j)}) % $P) AS h$j"
      }.mkString(",\n    ")
      val configs = Seq(2, 3, 4).map { r =>
        val bandSelects = (0 until Perms / r).map { b =>
          val parts = (0 until r).map(i => s"CAST(h${b * r + i} AS VARCHAR)")
          s"SELECT doc_id, $b AS band, md5(${parts.mkString(" || ',' || ")}) AS bkey FROM sigs"
        }.mkString("\n  UNION ALL\n  ")
        s"""bands$r AS (
           |  $bandSelects),
           |cand$r AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands$r a JOIN bands$r b
           |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |int$r AS (
           |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_int
           |  FROM cand$r c
           |  JOIN sh sa ON sa.doc_id = c.doc_a
           |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
           |  GROUP BY 1, 2),
           |sc$r AS (
           |  SELECT CAST($r AS BIGINT) AS band_rows, CAST(${Perms / r} AS BIGINT) AS n_bands,
           |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
           |    CAST(COALESCE(SUM(CASE WHEN FLOOR(COALESCE(i.n_int, 0)
           |      / CAST(za.n_sh + zb.n_sh - COALESCE(i.n_int, 0) AS DOUBLE)
           |      * 1000000.0 + 0.5) >= 400000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true
           |  FROM cand$r c
           |  LEFT JOIN int$r i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
           |  JOIN sizes za ON za.doc_id = c.doc_a
           |  JOIN sizes zb ON zb.doc_id = c.doc_b)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(text, ' +') AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' || tk[CAST(i AS INT) + 2] AS s
         |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)),
         |hashed AS (
         |  SELECT doc_id, s, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $P AS x31 FROM sh),
         |sigs AS (
         |  SELECT doc_id,
         |    $minCols
         |  FROM hashed GROUP BY doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         |$configs
         |SELECT band_rows, n_bands, n_candidates, n_true,
         |  CASE WHEN n_candidates = 0 THEN 0
         |       ELSE CAST((n_true * 1000000) // n_candidates AS BIGINT) END AS precision_ppm
         |FROM (SELECT * FROM sc2 UNION ALL SELECT * FROM sc3 UNION ALL SELECT * FROM sc4)
         |ORDER BY band_rows""".stripMargin
    },

    "dd_containment" ->
      (s"WITH ${lshCtes("documents")},\n" +
        s"""sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_int
           |  FROM cand c
           |  JOIN sh sa ON sa.doc_id = c.doc_a
           |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
           |  GROUP BY c.doc_a, c.doc_b)
           |SELECT i.doc_a, i.doc_b,
           |  CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
           |  CAST(FLOOR(n_int / CAST(LEAST(za.n_sh, zb.n_sh) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS containment_ppm
           |FROM inter i
           |JOIN sizes za ON za.doc_id = i.doc_a
           |JOIN sizes zb ON zb.doc_id = i.doc_b
           |WHERE FLOOR(n_int / CAST(LEAST(za.n_sh, zb.n_sh) AS DOUBLE) * 1000000.0 + 0.5) >= $ContainmentThresholdPpm
           |ORDER BY doc_a, doc_b""".stripMargin),

    "dd_minhash_est" -> {
      val agreeSum = (0 until Perms)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      (s"WITH ${lshCtes("documents")},\n$JaccardCtes,\n" +
        s"""est AS (
           |  SELECT c.doc_a, c.doc_b,
           |    (($agreeSum) * 1000000) // $Perms AS est_ppm
           |  FROM cand c
           |  JOIN sigs a ON a.doc_id = c.doc_a
           |  JOIN sigs b ON b.doc_id = c.doc_b)
           |SELECT e.doc_a, e.doc_b, CAST(e.est_ppm AS BIGINT) AS est_ppm,
           |  j.jaccard_ppm, CAST(ABS(e.est_ppm - j.jaccard_ppm) AS BIGINT) AS err_ppm
           |FROM est e JOIN jacc j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
           |ORDER BY e.doc_a, e.doc_b""".stripMargin)
    },

    // the same closed form as the Spark side: per-(fp, source) counts,
    // then combinatorial pair arithmetic (cross = c1*c2, within = C(c,2))
    "dd_exact_cross" ->
      """WITH fp AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |    source FROM documents),
        |cnt AS (
        |  SELECT fp, source, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM fp GROUP BY 1, 2),
        |p AS (
        |  SELECT a.source AS src_lo, b.source AS src_hi,
        |    CASE WHEN a.source = b.source THEN (a.c * (a.c - 1)) // 2
        |      ELSE a.c * b.c END AS n_pairs
        |  FROM cnt a JOIN cnt b ON b.fp = a.fp AND b.source >= a.source)
        |SELECT src_lo, src_hi, CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
        |  CAST(CASE WHEN src_lo <> src_hi THEN 1 ELSE 0 END AS BIGINT) AS is_cross
        |FROM p WHERE n_pairs > 0
        |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin,

    // the same agreement join as dd_minhash_est, swept over prefix
    // widths 4/8/12
    "dd_minhash_width" -> {
      def agreeSum(n: Int) = (0 until n)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      (s"WITH ${lshCtes("documents")},\n$JaccardCtes,\n" +
        s"""ag AS (
           |  SELECT j.jaccard_ppm,
           |    (${agreeSum(4)}) AS a4, (${agreeSum(8)}) AS a8, (${agreeSum(12)}) AS a12
           |  FROM jacc j
           |  JOIN sigs a ON a.doc_id = j.doc_a
           |  JOIN sigs b ON b.doc_id = j.doc_b),
           |e AS (
           |  SELECT 4 AS width, ABS((a4 * 1000000) // 4 - jaccard_ppm) AS err FROM ag
           |  UNION ALL
           |  SELECT 8, ABS((a8 * 1000000) // 8 - jaccard_ppm) FROM ag
           |  UNION ALL
           |  SELECT 12, ABS((a12 * 1000000) // 12 - jaccard_ppm) FROM ag)
           |SELECT CAST(width AS BIGINT) AS width, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(err) // COUNT(*) AS BIGINT) AS mean_err_ppm,
           |  CAST(MAX(err) AS BIGINT) AS max_err_ppm
           |FROM e GROUP BY width ORDER BY width""".stripMargin)
    },

    // the same hashed-shingle CTE bucketed mod 16 with the cyclic
    // rotation borrow, agreement on the exact-jaccard candidate pairs
    "dd_oph" ->
      (s"WITH ${lshCtes("documents")},\n$JaccardCtes,\n" +
        s"""oph AS (
           |  SELECT doc_id, x31 % $OphK AS b, MIN(x31) AS mn
           |  FROM hashed GROUP BY 1, 2),
           |oph2 AS (
           |  SELECT doc_id, b AS p2, mn FROM oph
           |  UNION ALL SELECT doc_id, b + $OphK, mn FROM oph),
           |tgt AS (
           |  SELECT d.doc_id, t.tb
           |  FROM (SELECT DISTINCT doc_id FROM oph) d
           |  CROSS JOIN range(0, $OphK) t(tb)),
           |dens AS (
           |  SELECT g.doc_id, g.tb, min_by(o2.mn, o2.p2) AS sig
           |  FROM tgt g JOIN oph2 o2 ON o2.doc_id = g.doc_id AND o2.p2 >= g.tb
           |  GROUP BY 1, 2),
           |est AS (
           |  SELECT j.doc_a, j.doc_b, j.jaccard_ppm,
           |    CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
           |  FROM jacc j
           |  JOIN dens a ON a.doc_id = j.doc_a
           |  JOIN dens b ON b.doc_id = j.doc_b AND b.tb = a.tb
           |  GROUP BY 1, 2, 3)
           |SELECT doc_a, doc_b, n_agree,
           |  CAST((n_agree * 1000000) // $OphK AS BIGINT) AS est_ppm,
           |  jaccard_ppm,
           |  CAST(ABS((n_agree * 1000000) // $OphK - jaccard_ppm) AS BIGINT) AS err_ppm
           |FROM est ORDER BY doc_a, doc_b""".stripMargin),

    // the banding replay rolled up per band, ann_band_stats' shape
    "dd_band_stats" ->
      (s"WITH ${lshCtes("documents")},\n" +
        """occ AS (SELECT band, bkey, COUNT(*) AS c FROM bands GROUP BY 1, 2)
          |SELECT CAST(band AS BIGINT) AS band, CAST(SUM(c) AS BIGINT) AS n_docs,
          |  CAST(COUNT(*) AS BIGINT) AS n_buckets, CAST(MAX(c) AS BIGINT) AS max_bucket,
          |  CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS cand_pairs,
          |  CAST((SUM(c) * 1000000) // COUNT(*) AS BIGINT) AS occupancy_ppm
          |FROM occ GROUP BY 1 ORDER BY band""".stripMargin),

    "pipe_clean_corpus" ->
      (s"""WITH quality AS (
          |  SELECT doc_id, source, text FROM documents
          |  WHERE CAST(FLOOR(${TextQueries.qualityScoreSql} * 1000000.0 + 0.5) AS BIGINT) >= 550000),
          |keep_first AS (
          |  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
          |kept1 AS (
          |  SELECT q.doc_id, q.source, q.text FROM quality q
          |  JOIN keep_first k ON k.doc_id = q.doc_id),
          |${lshCtes("kept1")},
          |$JaccardCtes,
          |losers AS (SELECT DISTINCT doc_b FROM jacc WHERE jaccard_ppm >= 400000),
          |surv AS (
          |  SELECT doc_id, source, ${TextQueries.scrubSqlExpr("text")} AS text_clean
          |  FROM kept1 WHERE doc_id NOT IN (SELECT doc_b FROM losers))
          |SELECT doc_id, source,
          |  CAST(len(regexp_extract_all(text_clean, '${TextQueries.MaskAlt}')) AS BIGINT) AS n_masks
          |FROM surv ORDER BY doc_id""".stripMargin),

    // clean chain + samp_waterfill's solve on the cleaned profile +
    // the admission window, ending in the |sources|-row manifest
    "pipe_train_mix" ->
      (s"""WITH quality AS (
          |  SELECT doc_id, source, text FROM documents
          |  WHERE CAST(FLOOR(${TextQueries.qualityScoreSql} * 1000000.0 + 0.5) AS BIGINT) >= 550000),
          |keep_first AS (
          |  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
          |kept1 AS (
          |  SELECT q.doc_id, q.source, q.text FROM quality q
          |  JOIN keep_first k ON k.doc_id = q.doc_id),
          |${lshCtes("kept1")},
          |$JaccardCtes,
          |losers AS (SELECT DISTINCT doc_b FROM jacc WHERE jaccard_ppm >= 400000),
          |cleaned AS (
          |  SELECT doc_id, source, text FROM kept1
          |  WHERE doc_id NOT IN (SELECT doc_b FROM losers)),
          |dtok AS (
          |  SELECT source, doc_id,
          |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tok
          |  FROM cleaned),
          |prof AS (
          |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          |  FROM dtok GROUP BY 1),
          |solved AS (
          |  SELECT source, n_docs, n_tokens,
          |    CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, source) AS BIGINT) AS cum,
          |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT) AS i,
          |    CAST(COUNT(*) OVER () AS BIGINT) AS s_total
          |  FROM prof),
          |cap AS (
          |  SELECT COALESCE(
          |    MAX(CASE WHEN cum + (s_total - i) * n_tokens <= 8000
          |      THEN CASE WHEN i = s_total THEN n_tokens
          |           ELSE (8000 - cum) // (s_total - i) END END),
          |    8000 // MAX(s_total)) AS cap
          |  FROM solved),
          |alloc AS (
          |  SELECT p.source, p.n_docs, p.n_tokens,
          |    LEAST(p.n_tokens, c.cap) AS alloc_tokens
          |  FROM prof p CROSS JOIN cap c),
          |adm AS (
          |  SELECT d.source, d.doc_id, d.n_tok,
          |    SUM(d.n_tok) OVER (PARTITION BY d.source ORDER BY d.doc_id) - d.n_tok AS cum_before
          |  FROM dtok d)
          |SELECT a.source,
          |  CAST(MAX(al.n_docs) AS BIGINT) AS n_docs_clean,
          |  CAST(MAX(al.n_tokens) AS BIGINT) AS n_tokens_clean,
          |  CAST(MAX(al.alloc_tokens) AS BIGINT) AS alloc_tokens,
          |  CAST(SUM(CASE WHEN a.cum_before < al.alloc_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_admitted,
          |  CAST(COALESCE(SUM(CASE WHEN a.cum_before < al.alloc_tokens THEN a.n_tok END), 0) AS BIGINT) AS n_tokens_admitted
          |FROM adm a JOIN alloc al ON al.source = a.source
          |GROUP BY a.source ORDER BY a.source""".stripMargin),

    "pipe_pack_corpus" ->
      (s"""WITH quality AS (
          |  SELECT doc_id, source, text FROM documents
          |  WHERE CAST(FLOOR(${TextQueries.qualityScoreSql} * 1000000.0 + 0.5) AS BIGINT) >= 550000),
          |keep_first AS (
          |  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
          |kept1 AS (
          |  SELECT q.doc_id, q.source, q.text FROM quality q
          |  JOIN keep_first k ON k.doc_id = q.doc_id),
          |${lshCtes("kept1")},
          |$JaccardCtes,
          |losers AS (SELECT DISTINCT doc_b FROM jacc WHERE jaccard_ppm >= 400000),
          |cleaned AS (
          |  SELECT doc_id, source, text FROM kept1
          |  WHERE doc_id NOT IN (SELECT doc_b FROM losers)),
          |dtok AS (
          |  SELECT source, doc_id,
          |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tok
          |  FROM cleaned),
          |c AS (
          |  SELECT source, doc_id, n_tok,
          |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok AS cum_before
          |  FROM dtok)
          |SELECT source, CAST(cum_before // 512 AS BIGINT) AS bin,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
          |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
          |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin),

    "dd_incremental" ->
      (s"""WITH ${lshCtes("documents")},
          |fpx AS (
          |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          |  FROM documents),
          |ex AS (
          |  SELECT n.doc_id, MIN(c.doc_id) AS match_doc
          |  FROM fpx n JOIN fpx c ON n.fp = c.fp AND n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
          |  GROUP BY n.doc_id),
          |xcand AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_int
          |  FROM xcand c
          |  JOIN sh sa ON sa.doc_id = c.doc_a
          |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
          |  GROUP BY c.doc_a, c.doc_b),
          |jx AS (
          |  SELECT i.doc_a, i.doc_b,
          |    CAST(FLOOR(n_int / CAST(za.n_sh + zb.n_sh - n_int AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS jaccard_ppm
          |  FROM inter i
          |  JOIN sizes za ON za.doc_id = i.doc_a
          |  JOIN sizes zb ON zb.doc_id = i.doc_b),
          |near AS (
          |  SELECT doc_id, match_doc, jaccard_ppm FROM (
          |    SELECT doc_a AS doc_id, doc_b AS match_doc, jaccard_ppm,
          |      ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY jaccard_ppm DESC, doc_b) AS rn
          |    FROM jx WHERE jaccard_ppm >= 400000)
          |  WHERE rn = 1)
          |SELECT doc_id, 'exact' AS verdict, match_doc, CAST(1000000 AS BIGINT) AS jaccard_ppm FROM ex
          |UNION ALL
          |SELECT n.doc_id, 'near', n.match_doc, n.jaccard_ppm FROM near n
          |WHERE n.doc_id NOT IN (SELECT doc_id FROM ex)
          |UNION ALL
          |SELECT d.doc_id, 'unique', CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
          |FROM documents d
          |WHERE d.doc_id % 10 = 0
          |  AND d.doc_id NOT IN (SELECT doc_id FROM ex)
          |  AND d.doc_id NOT IN (SELECT doc_id FROM near)
          |ORDER BY doc_id""".stripMargin),

    "dd_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, ' +') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' || tk[CAST(i AS INT) + 2] AS s
        |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS t(i)),
        |b AS (SELECT doc_id AS bench_doc, s FROM sh WHERE doc_id % 17 = 0),
        |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 17 <> 0)
        |SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.s) AS BIGINT) AS n_overlap,
        |  MIN(b.bench_doc) AS bench_doc
        |FROM tr JOIN b ON b.s = tr.s
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // connected components in SQL: transitive closure via a recursive CTE
    // (reach(doc, r) = "r is connected to doc"), component id = MIN over
    // the closure — the declarative twin of the Spark side's min-label
    // propagation fixpoint.
    "dd_cluster" ->
      (s"""WITH RECURSIVE ${lshCtes("documents")},
          |$JaccardCtes,
          |fpx AS (
          |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          |  FROM documents),
          |keepx AS (SELECT fp, MIN(doc_id) AS keep FROM fpx GROUP BY fp),
          |exact_e AS (
          |  SELECT k.keep AS a, f.doc_id AS b
          |  FROM fpx f JOIN keepx k ON k.fp = f.fp WHERE f.doc_id <> k.keep),
          |near_e AS (SELECT doc_a AS a, doc_b AS b FROM jacc WHERE jaccard_ppm >= 400000),
          |edges AS (SELECT a, b FROM exact_e UNION SELECT a, b FROM near_e),
          |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
          |reach AS (
          |  SELECT a AS doc, a AS r FROM sym
          |  UNION
          |  SELECT s.b AS doc, reach.r FROM reach JOIN sym s ON s.a = reach.doc),
          |comp AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
          |csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM comp GROUP BY 1)
          |SELECT c.doc_id, c.cluster_id, z.n_members
          |FROM comp c JOIN csz z ON z.cluster_id = c.cluster_id
          |ORDER BY c.doc_id""".stripMargin),

    // dd_cluster's component chain folded to one row per cluster, then
    // the size histogram with exact removal-mass shares
    "dd_cluster_hist" ->
      (s"""WITH RECURSIVE ${lshCtes("documents")},
          |$JaccardCtes,
          |fpx AS (
          |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          |  FROM documents),
          |keepx AS (SELECT fp, MIN(doc_id) AS keep FROM fpx GROUP BY fp),
          |exact_e AS (
          |  SELECT k.keep AS a, f.doc_id AS b
          |  FROM fpx f JOIN keepx k ON k.fp = f.fp WHERE f.doc_id <> k.keep),
          |near_e AS (SELECT doc_a AS a, doc_b AS b FROM jacc WHERE jaccard_ppm >= 400000),
          |edges AS (SELECT a, b FROM exact_e UNION SELECT a, b FROM near_e),
          |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
          |reach AS (
          |  SELECT a AS doc, a AS r FROM sym
          |  UNION
          |  SELECT s.b AS doc, reach.r FROM reach JOIN sym s ON s.a = reach.doc),
          |comp AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
          |csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size FROM comp GROUP BY 1),
          |h AS (
          |  SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
          |    CAST(size * COUNT(*) AS BIGINT) AS n_docs,
          |    CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removed
          |  FROM csz GROUP BY size),
          |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents)
          |SELECT size, n_clusters, n_docs, n_removed,
          |  CAST((1000000 * n_removed) // tot.t AS BIGINT) AS removed_share_ppm
          |FROM h, tot ORDER BY size""".stripMargin),

    // dd_cluster's component chain, then per-source raw vs 1/|cluster|-
    // weighted doc/token mass in exact floored integer units.
    "samp_softdedup" ->
      (s"""WITH RECURSIVE ${lshCtes("documents")},
          |$JaccardCtes,
          |fpx AS (
          |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          |  FROM documents),
          |keepx AS (SELECT fp, MIN(doc_id) AS keep FROM fpx GROUP BY fp),
          |exact_e AS (
          |  SELECT k.keep AS a, f.doc_id AS b
          |  FROM fpx f JOIN keepx k ON k.fp = f.fp WHERE f.doc_id <> k.keep),
          |near_e AS (SELECT doc_a AS a, doc_b AS b FROM jacc WHERE jaccard_ppm >= 400000),
          |edges AS (SELECT a, b FROM exact_e UNION SELECT a, b FROM near_e),
          |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
          |reach AS (
          |  SELECT a AS doc, a AS r FROM sym
          |  UNION
          |  SELECT s.b AS doc, reach.r FROM reach JOIN sym s ON s.a = reach.doc),
          |comp AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
          |csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM comp GROUP BY 1),
          |w AS (
          |  SELECT d.source,
          |    CAST(len(string_split_regex(d.text, ' +')) AS BIGINT) AS tok,
          |    COALESCE(z.n_members, 1) AS n
          |  FROM documents d
          |  LEFT JOIN comp c ON c.doc_id = d.doc_id
          |  LEFT JOIN csz z ON z.cluster_id = c.cluster_id)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(CAST(n > 1 AS BIGINT)) AS BIGINT) AS n_dup_docs,
          |  CAST(SUM(tok) AS BIGINT) AS n_tok,
          |  CAST(SUM(1000000 // n) AS BIGINT) AS eff_docs_ppm,
          |  CAST(SUM((tok * 1000) // n) AS BIGINT) AS eff_tok_milli,
          |  CAST((SUM((tok * 1000) // n) * 1000) // SUM(tok) AS BIGINT) AS downweight_ppm
          |FROM w GROUP BY source ORDER BY source""".stripMargin),

    "dd_canonical" ->
      (s"""WITH RECURSIVE ${lshCtes("documents")},
          |$JaccardCtes,
          |fpx AS (
          |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          |  FROM documents),
          |keepx AS (SELECT fp, MIN(doc_id) AS keep FROM fpx GROUP BY fp),
          |exact_e AS (
          |  SELECT k.keep AS a, f.doc_id AS b
          |  FROM fpx f JOIN keepx k ON k.fp = f.fp WHERE f.doc_id <> k.keep),
          |near_e AS (SELECT doc_a AS a, doc_b AS b FROM jacc WHERE jaccard_ppm >= 400000),
          |edges AS (SELECT a, b FROM exact_e UNION SELECT a, b FROM near_e),
          |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
          |reach AS (
          |  SELECT a AS doc, a AS r FROM sym
          |  UNION
          |  SELECT s.b AS doc, reach.r FROM reach JOIN sym s ON s.a = reach.doc),
          |comp AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
          |q AS (
          |  SELECT doc_id,
          |    CAST(FLOOR(${TextQueries.qualityScoreSql} * 1000000.0 + 0.5) AS BIGINT) AS quality_ppm
          |  FROM documents),
          |cl AS (
          |  SELECT q.doc_id, c.cluster_id, q.quality_ppm
          |  FROM q JOIN comp c ON c.doc_id = q.doc_id),
          |canon AS (
          |  SELECT cluster_id, doc_id AS canonical_doc FROM (
          |    SELECT cluster_id, doc_id,
          |      ROW_NUMBER() OVER (PARTITION BY cluster_id
          |        ORDER BY quality_ppm DESC, doc_id) AS rn
          |    FROM cl) WHERE rn = 1)
          |SELECT cl.doc_id, cl.cluster_id, cl.quality_ppm, canon.canonical_doc,
          |  CAST(CASE WHEN cl.doc_id = canon.canonical_doc THEN 1 ELSE 0 END AS BIGINT) AS kept
          |FROM cl JOIN canon ON canon.cluster_id = cl.cluster_id
          |UNION ALL
          |SELECT q.doc_id, q.doc_id, q.quality_ppm, q.doc_id, CAST(1 AS BIGINT)
          |FROM q WHERE q.doc_id NOT IN (SELECT doc_id FROM comp)
          |ORDER BY doc_id""".stripMargin),

    // dd_canonical's component + quality CTEs, then the two keep
    // policies compared per cluster
    "dd_keep_quality" ->
      (s"""WITH RECURSIVE ${lshCtes("documents")},
          |$JaccardCtes,
          |fpx AS (
          |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          |  FROM documents),
          |keepx AS (SELECT fp, MIN(doc_id) AS keep FROM fpx GROUP BY fp),
          |exact_e AS (
          |  SELECT k.keep AS a, f.doc_id AS b
          |  FROM fpx f JOIN keepx k ON k.fp = f.fp WHERE f.doc_id <> k.keep),
          |near_e AS (SELECT doc_a AS a, doc_b AS b FROM jacc WHERE jaccard_ppm >= 400000),
          |edges AS (SELECT a, b FROM exact_e UNION SELECT a, b FROM near_e),
          |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
          |reach AS (
          |  SELECT a AS doc, a AS r FROM sym
          |  UNION
          |  SELECT s.b AS doc, reach.r FROM reach JOIN sym s ON s.a = reach.doc),
          |comp AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
          |q AS (
          |  SELECT doc_id,
          |    CAST(FLOOR(${TextQueries.qualityScoreSql} * 1000000.0 + 0.5) AS BIGINT) AS quality_ppm
          |  FROM documents),
          |cl AS (
          |  SELECT q.doc_id, c.cluster_id, q.quality_ppm
          |  FROM q JOIN comp c ON c.doc_id = q.doc_id),
          |best AS (
          |  SELECT cluster_id, doc_id AS best_doc, quality_ppm AS best_q FROM (
          |    SELECT cluster_id, doc_id, quality_ppm,
          |      ROW_NUMBER() OVER (PARTITION BY cluster_id
          |        ORDER BY quality_ppm DESC, doc_id) AS rn
          |    FROM cl) WHERE rn = 1),
          |fst AS (SELECT cluster_id, MIN(doc_id) AS first_doc FROM cl GROUP BY 1),
          |fq AS (
          |  SELECT f.cluster_id, f.first_doc, cl.quality_ppm AS first_q
          |  FROM fst f JOIN cl ON cl.cluster_id = f.cluster_id AND cl.doc_id = f.first_doc)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
          |  CAST(SUM(CASE WHEN best_doc = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          |  CAST((SUM(CASE WHEN best_doc = first_doc THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS agree_ppm,
          |  CAST(SUM(best_q - first_q) // COUNT(*) AS BIGINT) AS mean_loss_ppm
          |FROM best b JOIN fq ON fq.cluster_id = b.cluster_id""".stripMargin),

    "dd_embed" ->
      """WITH e AS (
        |  SELECT vec_id, i,
        |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, SUM(q * q) AS nn FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.q * b.q) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 100
        |  GROUP BY 1, 2)
        |SELECT va AS vec_a, vb AS vec_b,
        |  CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
        |FROM p JOIN n na ON na.vec_id = p.va JOIN n nb ON nb.vec_id = p.vb
        |WHERE FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) >= 300000
        |ORDER BY vec_a, vec_b""".stripMargin,

    // full banding replay (no longer rows-only): quantize → 80 plane
    // dots → 10×8-bit bands → hamming-1 multi-probe → exact cosine, all
    // regenerated in SQL from the same md5 recipes as the engine
    "dd_embed_lsh" ->
      (s"WITH $EmbedPairCtes\n" +
        s"""SELECT va AS vec_a, vb AS vec_b, cos_ppm FROM epairs
           |WHERE cos_ppm >= $EmbedLshThresholdPpm
           |ORDER BY vec_a, vec_b""".stripMargin),

    "dd_bloom" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |cb AS (
        |  SELECT DISTINCT
        |    CAST('0x' || substr(md5(fp || '#' || j), 1, 8) AS BIGINT) % 65536 AS p
        |  FROM fp, UNNEST([1, 2, 3]) AS t(j) WHERE doc_id % 10 <> 0),
        |probe AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 = 0),
        |pp AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(fp || '#' || j), 1, 8) AS BIGINT) % 65536 AS p
        |  FROM probe, UNNEST([1, 2, 3]) AS t(j)),
        |hits AS (
        |  SELECT pp.doc_id,
        |    SUM(CASE WHEN cb.p IS NOT NULL THEN 1 ELSE 0 END) = 3 AS bloom_hit
        |  FROM pp LEFT JOIN cb ON cb.p = pp.p GROUP BY pp.doc_id),
        |ex AS (
        |  SELECT p.doc_id, (c.fp IS NOT NULL) AS exact_dup
        |  FROM probe p LEFT JOIN
        |    (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0) c
        |    ON c.fp = p.fp)
        |SELECT h.doc_id, h.bloom_hit, e.exact_dup,
        |  CASE WHEN e.exact_dup THEN 'true_dup'
        |       WHEN h.bloom_hit THEN 'false_pos'
        |       ELSE 'clean' END AS verdict
        |FROM hits h JOIN ex e ON e.doc_id = h.doc_id ORDER BY h.doc_id""".stripMargin,

    "dd_norm_gain" ->
      """WITH r AS (
        |  SELECT md5(text) AS fp FROM documents),
        |rg AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS k FROM r GROUP BY 1),
        |ra AS (
        |  SELECT CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS raw_groups,
        |    CAST(SUM(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT) AS raw_dup_docs,
        |    CAST(SUM((k * (k - 1)) // 2) AS BIGINT) AS raw_pairs
        |  FROM rg),
        |m AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |mg AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS k FROM m GROUP BY 1),
        |ma AS (
        |  SELECT CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS norm_groups,
        |    CAST(SUM(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT) AS norm_dup_docs,
        |    CAST(SUM((k * (k - 1)) // 2) AS BIGINT) AS norm_pairs
        |  FROM mg)
        |SELECT raw_groups, raw_dup_docs, raw_pairs, norm_groups, norm_dup_docs, norm_pairs,
        |  CAST(((norm_pairs - raw_pairs) * 1000000) // GREATEST(1, norm_pairs) AS BIGINT) AS gain_ppm
        |FROM ra, ma""".stripMargin,

    "pipe_datacard" ->
      """WITH base AS (
        |  SELECT source, COALESCE(lang, '') AS lang,
        |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tok,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique
        |  FROM base GROUP BY 1),
        |lc AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
        |lr AS (
        |  SELECT source, lang AS top_lang, c AS top_c,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_langs,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
        |  FROM lc)
        |SELECT g.source, g.n_docs, g.n_tokens, g.n_unique,
        |  CAST(((g.n_docs - g.n_unique) * 1000000) // g.n_docs AS BIGINT) AS exact_dup_ppm,
        |  lr.n_langs, lr.top_lang,
        |  CAST((lr.top_c * 1000000) // g.n_docs AS BIGINT) AS top_lang_ppm
        |FROM g JOIN lr ON lr.source = g.source AND lr.rn = 1
        |ORDER BY g.source""".stripMargin,

    "dd_fp_sizes" ->
      """WITH fp AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM documents GROUP BY 1),
        |b AS (
        |  SELECT CAST(length(bin(k)) - 1 AS BIGINT) AS band, k FROM fp),
        |tot AS (SELECT CAST(SUM(k) AS BIGINT) AS t FROM fp)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(k) AS BIGINT) AS n_docs,
        |  CAST(SUM((k * (k - 1)) // 2) AS BIGINT) AS n_pairs,
        |  CAST((CAST(1000000 AS HUGEINT) * SUM(k)) // MAX(tot.t) AS BIGINT) AS doc_share_ppm
        |FROM b, tot GROUP BY band ORDER BY band""".stripMargin
  )
}
