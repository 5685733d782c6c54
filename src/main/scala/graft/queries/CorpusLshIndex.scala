package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Materialized corpus LSH index — built ONCE per corpus per session and
  * read by the whole dedup family (dd_minhash, dd_jaccard, dd_jaccard_hist,
  * dd_minhash_est, dd_containment, dd_source_overlap, dd_leakage,
  * dd_incremental, dd_decontam, dd_cluster, dd_canonical,
  * pipe_clean_corpus / pipe_pack_corpus / pipe_report).
  *
  * Why: the shingle→minhash→band build is the dominant repeated cost of
  * the dedup family — before this index every member rebuilt it from the
  * raw corpus (6+ full builds per suite; the two slowest queries,
  * dd_canonical and dd_leakage, spent 2-3× the family median re-deriving
  * relations dd_cluster / dd_jaccard had just computed). At 100 TB the
  * signature build is a full-corpus pass; paying it once and sharing the
  * result is the difference between one corpus scan and seven. This is
  * the batch twin of the persisted corpus index the streaming near-dup
  * gate already keeps per-run (CleanStream.nearDupFlags).
  *
  * What is stored (all tiny relative to the corpus — hashes and ids,
  * never text except the shingle arrays needed for exact verification):
  *   - sh   (doc_id, ss)                 bucketed by doc_id
  *   - sig  (doc_id, h0..h{P-1})         bucketed by doc_id
  *   - band (doc_id, band, bkey)         bucketed by (band, bkey)
  *   - jac  (doc_a, doc_b, jaccard_ppm)  bucketed by doc_a —
  *     the EXACT n-gram jaccard of every LSH candidate pair
  *     (candidate-proportional: |pairs| tracks the true dup mass,
  *     never corpus²)
  *
  * Bucketing is load-bearing, not decorative: band is bucketed on the
  * band self-join keys, so candidate generation reads co-located buckets
  * with NO exchange (LshIndexSpec proves the shuffle-free plan); sh/sig
  * are bucketed on doc_id, the key of every verification join. Naming,
  * location, appends, compaction and drop follow the [[IndexStore]]
  * contract (family `lsh`, which also holds the token table): a fresh
  * session rebuilds — the same cache-once-per-run contract as the
  * streaming gate's persisted index.
  *
  * Correctness: every derived relation is definitionally identical to
  * the inline chain each query ran before (per-doc signatures depend
  * only on the doc's own text, so filtering the index to any doc subset
  * equals rebuilding the chain on that subset — LshIndexSpec asserts
  * both equalities).
  */
object CorpusLshIndex {

  import IndexStore.{Lsh, bucketed, tag}

  /** Build the four index tables if this session hasn't yet. `jac` is
    * written LAST so its catalog entry marks the whole index committed —
    * a failed partial build re-runs from scratch (every write is
    * Overwrite, so stale on-disk leftovers from a previous JVM are
    * replaced, never read).
    */
  def ensure(s: SparkSession, d: String): Unit = Lsh.synchronized {
    val tg = tag(d)
    if (!Lsh.exists(s, "jac", tg)) {
      def save(df: DataFrame, part: String, bucketCols: String*): DataFrame =
        Lsh.create(s, df, part, tg, bucketed(bucketCols: _*))
      val sh = save(DedupQueries.shingleArrays(t(s, d, "documents")), "sh", "doc_id")
      val sig = save(DedupQueries.signaturesFrom(
        sh.select(col("doc_id"), explode(col("ss")).as("s"))), "sig", "doc_id")
      // bucketed on BOTH self-join keys: co-partition compatibility
      // requires the partitioning to cover every join key (a bkey-only
      // bucketing still shuffles both sides under the default
      // requireAllClusterKeysForCoPartition)
      val band = save(DedupQueries.bandsOfSigs(sig), "band", "band", "bkey")
      // candidate generation is skew-aware: hot buckets (boilerplate
      // shingles) are salted so no single task materializes a bucket's m²
      // pairs; output is identical to the plain self-join
      save(DedupQueries.jaccardFor(sh,
        DedupQueries.pairsOfBandsSkewAware(band)), "jac", "doc_a")
    }
  }

  private def read(s: SparkSession, d: String, part: String): DataFrame = {
    ensure(s, d)
    s.table(Lsh.table(part, tag(d)))
  }

  /** [[IndexStore.Family.refresh]] for this corpus: the append methods
    * refresh their own session; cross-session readers (the
    * self-maintaining streaming gate's root session) call this.
    */
  def refresh(s: SparkSession, d: String): Unit = Lsh.refresh(s, tag(d))

  /** Incrementally extend the text index with a new document batch — the
    * crawl-loop lifecycle at corpus scale: per-doc relations (sh, sig,
    * band) append only the batch's own rows (a signature depends on
    * nothing but the doc's own text), and the pair relation appends only
    * candidates TOUCHING the batch — cross old×new pairs from a band
    * join of the batch against the existing bucketed band table, plus
    * within-batch pairs from the skew-aware self-join. Existing pairs
    * are never recomputed, so an append costs |batch| × bucket
    * occupancy, never a corpus rebuild — at 100 TB that is the
    * difference between a nightly full signature pass and a per-crawl
    * increment. LshIndexSpec proves the appended index is row-identical
    * to a from-scratch build of the union corpus.
    *
    * The new relations are materialized BEFORE any table is mutated
    * (they read the pre-append tables; persisting then forcing them
    * keeps the lazy plans from observing their own appends), and every
    * table appends on its catalog layout, so bucket distribution — what
    * candidate generation and the verify joins rely on — is preserved
    * (each append adds one file per bucket).
    *
    * `newDocs`: (doc_id, text, …) with doc_ids disjoint from the
    * indexed corpus. Session-scoped like the rest of the index: a crash
    * mid-append is repaired by dropping the four tables (ensure then
    * rebuilds from scratch).
    *
    * `onPairs` gets the batch's verified pairs (doc_a < doc_b,
    * jaccard_ppm; every candidate touching the batch), forced, before any
    * table is mutated and cached only during the call; if it throws,
    * nothing is appended.
    */
  def append(s: SparkSession, d: String, newDocs: DataFrame,
      onPairs: DataFrame => Unit = _ => ()): Unit = Lsh.synchronized {
    ensure(s, d)
    val tg = tag(d)
    val shNew = DedupQueries.shingleArrays(newDocs).persist()
    val sigNew = DedupQueries.signaturesFrom(
      shNew.select(col("doc_id"), explode(col("ss")).as("s"))).persist()
    val bandNew = DedupQueries.bandsOfSigs(sigNew).persist()
    val bandOld = s.table(Lsh.table("band", tg))
    val cross = bandNew.as("a").join(bandOld.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val candNew = cross
      .unionByName(DedupQueries.pairsOfBandsSkewAware(bandNew))
      .distinct()
    val shAll = s.table(Lsh.table("sh", tg)).unionByName(shNew)
    val jacNew = DedupQueries.jaccardFor(shAll, candNew).persist()
    try {
      jacNew.count(): Unit // force off the pre-append tables
      onPairs(jacNew)
      Seq(jacNew -> "jac", shNew -> "sh", sigNew -> "sig", bandNew -> "band")
        .foreach { case (df, part) => Lsh.append(s, df, part, tg) }
    } finally Seq(shNew, sigNew, bandNew, jacNew).foreach(_.unpersist())
    refresh(s, d)
  }

  /** The EMBEDDING side of the index: every multi-probe hyperplane-LSH
    * candidate pair with its exact integer cosine, unthresholded —
    * built once per corpus (the quantize → 80-plane banding → probe →
    * verify chain that dd_embed_lsh, emb_semdedup and emb_knn each
    * re-ran per query). Candidate-proportional size, bucketed on vec_a
    * for the downstream joins.
    */
  def embedPairs(s: SparkSession, d: String): DataFrame =
    embedPairsStaged(s, d, (_, _) => ())

  /** [[embedPairs]] with per-stage timing: `onStage` receives
    * (sig | band | verify, seconds) — the scale probe's sub-stage
    * observability for the heaviest amp=100 build (so the NEXT decade's
    * super-linear sub-stage is visible before it flips the total).
    * Relations are identical to embedLshPairsRaw's from-scratch chain
    * (LshIndexSpec proves the table against it); the banded relation is
    * persisted ONCE and shared by both table writes — the eband write
    * used to recompute the whole quantize+signature pass.
    */
  private[graft] def embedPairsStaged(s: SparkSession, d: String,
      onStage: (String, Double) => Unit): DataFrame = Lsh.synchronized {
    val tg = tag(d)
    if (!Lsh.exists(s, "epair", tg)) {
      def timed[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        onStage(name, (System.nanoTime() - t0) / 1e9)
        r
      }
      val bits = DedupQueries.embedLshBits(s, d)
      // sig: quantize + hyperplane signatures, forced once and shared
      val e = timed("sig") {
        val e0 = DedupQueries.embedBanded(t(s, d, "embeddings"), bits).persist()
        e0.count(): Unit
        e0
      }
      try {
      // the exact per-table band relation is materialized beside the
      // pairs: appendEmbeddings joins a new batch's probes against it,
      // so extending the index never re-bands the existing corpus
      timed("band") {
        Lsh.create(s, DedupQueries.embedExactBands(e), "eband", tg, bucketed("tbl", "bits"))
      }
      // verify: hamming-1 multi-probe × exact bands → distinct candidate
      // pairs → exact integer cosine, streamed straight into the bucketed
      // write. The candidate relation is NOT materialized separately —
      // caching it at amp=100 held the whole ×100 pair mass in memory
      // under the verify join (the one consumer) and OOM'd the probe.
      timed("verify") {
        val cand = DedupQueries.embedCollisions(
            DedupQueries.embedProbes(e, bits), DedupQueries.embedExactBands(e))
          .filter(col("va") < col("vb"))
          .select(col("va"), col("vb"))
          .distinct()
        Lsh.create(s, DedupQueries.embedVerify(cand, e, e), "epair", tg, bucketed("vec_a"))
      }
      // finally: a failed band/verify stage (the case the scale probe's
      // fault isolation continues past) must not leave the full banded
      // corpus pinned in the cache manager for the rest of the JVM
      } finally e.unpersist(): Unit
    }
    s.table(Lsh.table("epair", tg))
  }

  /** The embedding-side twin of [[append]]: extend the epair index with a
    * new vector batch — the batch's probes join the materialized eband
    * table for cross old×new candidates (hamming-1 collision is
    * symmetric, so probing only from the new side loses nothing) and its
    * own exact bands for within-batch pairs; verification reads the OLD
    * endpoints' vectors by a candidate-proportional semi-joined scan of
    * the corpus embeddings, never re-banding them. LshIndexSpec proves
    * append == a from-scratch build over the union.
    *
    * `newVecs`: (vec_id, embedding) with vec_ids disjoint from the
    * indexed corpus.
    */
  def appendEmbeddings(s: SparkSession, d: String, newVecs: DataFrame): Unit = Lsh.synchronized {
    embedPairs(s, d): Unit
    val tg = tag(d)
    // the batch MUST band at the INDEX's width (a function of the
    // immutable base embeddings table, not the batch size) or its band
    // values never collide with the stored eband table
    val bits = DedupQueries.embedLshBits(s, d)
    val eNew = DedupQueries.embedBanded(newVecs, bits).persist()
    val bandNew = DedupQueries.embedExactBands(eNew)
    val probesNew = DedupQueries.embedProbes(eNew, bits)
    val bandOld = s.table(Lsh.table("eband", tg))
    val cross = DedupQueries.embedCollisions(probesNew, bandOld) // va new, vb indexed
      .select(least(col("va"), col("vb")).as("va"), greatest(col("va"), col("vb")).as("vb"))
    val within = DedupQueries.embedCollisions(probesNew, bandNew)
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"))
    val cand = cross.unionByName(within).distinct()
    // endpoint vectors: new side from the batch, old side from the corpus
    // embeddings (quantize is a narrow map; the join keeps it
    // candidate-proportional)
    val qAll = graft.operators.VectorOps.quantized(s, d)
      .unionByName(eNew.select(col("vec_id"), col("q"), col("nn")))
    val jacNew = DedupQueries.embedVerify(cand, qAll, qAll).persist()
    try {
      jacNew.count(): Unit // force off the pre-append tables
      Lsh.append(s, jacNew, "epair", tg)
      Lsh.append(s, bandNew, "eband", tg)
    } finally Seq(eNew, jacNew).foreach(_.unpersist())
    refresh(s, d)
  }

  /** Rewrite every index table into fresh single-file-per-bucket form
    * ([[IndexStore.Family.compact]]) — the maintenance op the append path
    * defers: each append adds one file per bucket, so after N appends
    * every bucketed read opens N files per bucket and candidate
    * generation pays N× the listing + open cost; compaction restores
    * fresh-build read shape without re-deriving anything — no shingling,
    * no banding, no verify (LshIndexSpec proves compact == the
    * pre-compact relations, the file collapse, and the post-compact
    * shuffle-free self-join). The pinned relations are all
    * candidate-proportional or per-doc hash tables, never raw corpus
    * text. The token table compacts on its own
    * ([[CorpusTokenIndex.compact]]).
    */
  def compact(s: SparkSession, d: String): Unit = Lsh.synchronized {
    Lsh.compact(s, tag(d), Seq("sh", "sig", "band", "jac", "eband", "epair"))
  }

  /** Drop this corpus dir's `lsh` family — the text, embed-pair AND token
    * tables, catalog entries and files ([[IndexStore.Family.drop]]).
    * Bench's compact-stage side corpus would otherwise leak one index per
    * run under java.io.tmpdir.
    */
  def dropFor(s: SparkSession, d: String): Unit = Lsh.synchronized {
    Lsh.drop(s, tag(d))
  }

  /** Drop ONLY the embedding-side tables (epair + eband) so the staged
    * embed build can re-run for min-of-N stage timing (the scale
    * probe's de-noised passes) without rebuilding the text-side tables. Data
    * files stay in place — both staged writes are Overwrite, and epair
    * (the commit marker) is dropped first so a crash between the two
    * drops still leaves the pair uncommitted, never a fresh epair
    * beside a stale eband.
    */
  private[graft] def dropEmbedPairs(s: SparkSession, d: String): Unit = Lsh.synchronized {
    Lsh.dropTables(s, tag(d), Seq("epair", "eband"))
  }

  /** per-doc DISTINCT word-3-shingle arrays (doc_id, ss) */
  def shingles(s: SparkSession, d: String): DataFrame = read(s, d, "sh")

  /** per-doc minhash signatures (doc_id, h0..h{Perms-1}) */
  def sigs(s: SparkSession, d: String): DataFrame = read(s, d, "sig")

  /** LSH band keys (doc_id, band, bkey) */
  def bands(s: SparkSession, d: String): DataFrame = read(s, d, "band")

  /** exact jaccard_ppm of EVERY LSH candidate pair (doc_a < doc_b) */
  def jaccard(s: SparkSession, d: String): DataFrame = read(s, d, "jac")

  /** distinct LSH candidate pairs (doc_a < doc_b) — the jac table's key
    * set (every candidate doc has a non-empty shingle array by
    * construction, so the verify join drops no pairs)
    */
  def candidates(s: SparkSession, d: String): DataFrame =
    jaccard(s, d).select(col("doc_a"), col("doc_b"))

  /** run candidate generation against the CURRENT band table (the
    * skew-aware bucketed self-join — the read path whose cost appends
    * degrade and compact restores; Bench times this fresh vs appended
    * vs compacted)
    */
  def candidateGen(s: SparkSession, d: String): DataFrame =
    DedupQueries.pairsOfBandsSkewAware(bands(s, d))
}
