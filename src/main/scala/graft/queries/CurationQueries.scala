package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** SURVEY §2.D/E/F — round-5 curation operators: context-window chunking,
  * segment-level dedup audit, int8 embedding quantization, and BPE merge
  * training. All four are oracle-checked (DuckDB twins below).
  *
  * Scale shapes (100 TB):
  *  - txt_chunk / dd_segment: the chunk/segment build is a narrow
  *    codegen'd pass (sequence + slice + md5 per row — no interpreted
  *    lambda in the explode path, the per-chunk hash is the only work);
  *    dd_segment's duplicate detection is two chained partial aggs on a
  *    16-byte hash key, so the shuffle carries hashes, never text.
  *  - emb_quantize: posexplode + two keyed partial aggs on vec_id (the
  *    scale pass and the error pass); the join is vec_id-co-partitioned
  *    with the agg before it, so one shuffle round-trip total. Integer
  *    micro-unit arithmetic keeps every error stat bit-identical on any
  *    engine or partitioning.
  *  - txt_bpe: pair counting runs on the DISTINCT-word relation (weighted
  *    by occurrence count) — the classic BPE-training trick that bounds
  *    the per-round work by |vocab|, not corpus size; each round is one
  *    partial-agg shuffle on the symbol pair + a 1-row TakeOrdered, and
  *    the merge is a broadcast of that single row. Corpus size only
  *    enters through the initial vocab count.
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  /** chunk size / stride (tokens) for txt_chunk */
  private val ChunkLen = 64
  private val ChunkStride = 32

  /** non-overlapping segment width (tokens) for dd_segment */
  private val SegLen = 16

  /** sliding exact-match window width (tokens) for dd_slide */
  private[graft] val SlideLen = 32

  /** stride-1 SlideLen-token window hashes of a (doc_id, text) relation
    * — shared by dd_slide and its streaming gate (SlideStream) so both
    * hash identically. Docs under SlideLen tokens emit nothing.
    *
    * r15: the window fingerprint is the native token-level Karp-Rabin
    * rolling hash ([[graft.functions.SlideWinHashes]] — O(tokens) per
    * doc, 8-byte keys) instead of md5(concat_ws(' ', slice(...))) per
    * exploded position, which re-sliced, re-joined and re-digested
    * ~SlideLen× the corpus bytes and shuffled 32-byte hex strings (the
    * exact production swap the dd_slide scale note promised). Only hash
    * EQUALITY is consumed anywhere (dup detection + the stream gate's
    * store join); distinct windows collide w.p. ~2⁻⁶¹ per pair, and the
    * 3-SF DuckDB replay (which keeps the md5 form) pins that the induced
    * duplicate relation is unchanged on the real corpus
    * (SlideKernelSpec pins it structurally).
    */
  private[graft] def slideWindows(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("tk", split($"text", " +"))
      .filter(size($"tk") >= SlideLen)
      .select($"doc_id", posexplode(
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.SlideWinHashes(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression($"tk"),
            SlideLen))))
      .select($"doc_id", $"pos".cast("long").as("win_idx"), $"col".as("h"))
  }

  /** Total BPE merges learned/applied by txt_bpe / txt_bpe_encode — the
    * Spark loops AND the DuckDB oracle generators both unroll the same
    * rounds, so the full trajectory stays value-checked at any depth.
    *
    * Merges are learned in BATCHED rounds (the standard vocab-scale
    * trick): each round counts pairs ONCE, then selects up to [[BpeBatch]]
    * mutually symbol-disjoint pairs — a pair is selected iff it is the
    * best-ranked pair (count desc, then lex) among ALL pairs sharing
    * either of its symbols, i.e. the local maxima of the conflict graph;
    * winners are provably pairwise disjoint, and the global best pair
    * always wins, so every round makes progress. Selected pairs apply
    * sequentially in rank order within the round. A real tokenizer run
    * (10k+ merges) is then merges/[[BpeBatch]] driver-scheduled rounds,
    * not one round per merge — per-round cost stays vocab-sized either
    * way.
    *
    * 384 = the vocab-scale cap (a round-9 ask): early rounds select
    * fewer than [[BpeBatch]] pairs (round 1's pool is the character
    * alphabet, and winners must be symbol-disjoint), so the cap leaves
    * headroom over the ≥256 merges BpeVocabScaleSpec demonstrates on a
    * rich-vocabulary corpus. The DRIVER testdata corpus cannot reach it
    * — its documents hold only 31 distinct words, so word-level BPE
    * runs dry at ~45 merges; the training loop detects the dry round
    * (no pairs ⇒ every later round is empty too — the global best pair
    * always wins, so a non-empty pair relation always selects) and
    * stops, which keeps the saturated-corpus bench cost at the old
    * 4-round level while a rich corpus gets all 12 rounds. Cost scales
    * with ROUNDS (pair counting + fixed job overhead), not merges.
    */
  private[queries] val BpeMerges = 384

  /** disjoint merges selected per batched round */
  private[queries] val BpeBatch = 32

  /** min-support floor on the pair relation (the standard trainer prune):
    * a pair must occur at least this often to be COUNTED as a merge
    * candidate. The driver-side peel collects the distinct-pair-TYPES
    * relation; without a floor that relation carries the web-scale noise
    * tail (hapax typo pairs) that can never win a merge worth shipping —
    * the floor hardens the driver bound to pruned-pair-types for zero
    * merge-quality cost above it. Applied identically in the Spark pair
    * count, the DuckDB oracle (HAVING in p$r) and the plain-Scala
    * reference, so parity is constructed; BpeVocabScaleSpec proves the
    * selected merges are unchanged on the rich fixture while the
    * collected relation shrinks. A sub-floor round (pairs exist, none
    * reach the floor) selects nothing and therefore stays sub-floor
    * forever — the dry-round early exit remains sound.
    */
  private[queries] val BpeMinPair = 2L

  /** local-maxima PEELING layers per round: one mutual-best pass over a
    * dense pair graph yields only ~|symbols|/2e winners (mutual-best is
    * a sparse matching), far under the [[BpeBatch]] cap — so each round
    * peels up to 8 layers, every layer re-running the SAME mutual-best
    * rule over the pairs whose symbols no earlier layer touched. The
    * union stays pairwise symbol-disjoint (each layer is disjoint
    * internally, and cross-layer pairs can't share a peeled symbol), so
    * the batch-application guarantee is unchanged; the final top-
    * [[BpeBatch]] rank runs over the union. Within a non-empty
    * remainder the global best always wins its layer, so peeling only
    * stops early when the remainder is empty.
    */
  private[queries] val BpeLayers = 8

  private[queries] val BpeRounds: Int = BpeMerges / BpeBatch

  /** One batched round's selection over the weighted word relation: the
    * locally-maximal symbol-disjoint pairs, top [[BpeBatch]] by
    * (count desc, a, b), with their in-round rank rn. Winner-per-symbol is
    * one partial-agg min(struct) — never a vocab-sized window; the only
    * un-partitioned window (rn) runs over the ≤BpeBatch rows a distributed
    * TakeOrdered already bounded. Checkpointed: the relation feeds
    * BpeBatch 1-row extracts plus the merge table, and the cut keeps the
    * per-round driver plan constant-size.
    */
  private def selectBatch(words: DataFrame): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    // ONE distributed pass builds the weighted pair relation; the
    // layered mutual-best peeling then runs DRIVER-side over the
    // collected rows. The pair relation is vocab-sized by construction
    // -- the same bound the previous form already conceded by funnelling
    // it through coalesce(1) -- and 8 layers of eager tiny-plan Spark
    // jobs cost more in fixed job/codegen overhead than the whole
    // selection does in memory (the distributed-peeling form benched
    // txt_bpe at 33 s vs ~3 s; selection is not where distribution buys
    // anything). Cross-engine parity does NOT rest on this code: the
    // DuckDB oracle replays the identical peeling rule in SQL, and
    // CurationOpsSpec/BpeVocabScaleSpec hold it to the independent
    // plain-Scala reference.
    val pairs = pairsOf(words).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("pair_n")))
    def rank(p: (String, String, Long)): (Long, String, String) = (-p._3, p._1, p._2)
    var rem: Seq[(String, String, Long)] = pairs.toSeq
    val selected = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to BpeLayers if rem.nonEmpty) {
      val bySym = scala.collection.mutable.Map.empty[String, (String, String, Long)]
      for (p <- rem; sym <- Set(p._1, p._2))
        if (!bySym.contains(sym) ||
            Ordering[(Long, String, String)].lt(rank(p), rank(bySym(sym)))) bySym(sym) = p
      val layer = rem.filter(p => Set(p._1, p._2).forall(sym => bySym(sym) == p))
      selected ++= layer
      val used = layer.flatMap(p => Seq(p._1, p._2)).toSet
      rem = rem.filter(p => !used(p._1) && !used(p._2))
    }
    val top = selected.result().sortBy(rank).take(BpeBatch)
    top.zipWithIndex.map { case ((a, b, n), i) => (i + 1, a, b, n) }
      .toDF("rn", "a", "b", "pair_n")
  }

  /** fold a column through the round's ≤BpeBatch merges in rank order,
    * as ONE narrow projection of nested literal replaces. The batch
    * relation is checkpointed and ≤BpeBatch rows by construction — the
    * same driver-sized bound as the k-row codebooks — so the merges ride
    * as literals (values, not spliced SQL text — no quoting hazard)
    * instead of per-merge broadcast joins: at BpeBatch=32 the join form
    * cost 64 broadcast-materialization jobs per round and benched
    * txt_bpe 15× over its 8-merge cost; this form is one job per round.
    * Sequential rank-order application is what the oracle replays;
    * pattern "(a)(b)" → "(ab)" over the paren-unit encoding can neither
    * create nor destroy occurrences of a DIFFERENT symbol-disjoint
    * merge, so the fold order only matters within one merge (replace-all
    * left-to-right, identical on both engines).
    */
  private def applyBatchTo(df: DataFrame, top: DataFrame, colName: String): DataFrame = {
    val merges = top.orderBy(col("rn")).collect().map { r =>
      val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
      (s"($a)($b)", s"($a$b)")
    }
    val applied = merges.foldLeft(col(colName)) { case (c, (pat, rep)) =>
      org.apache.spark.sql.functions.replace(c, lit(pat), lit(rep))
    }
    df.withColumn(colName, applied)
  }

  /** apply a round's merges to the weighted word relation (two distinct
    * pre-merge words can collapse onto one post-merge form)
    */
  private def applyBatch(words: DataFrame, top: DataFrame): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    applyBatchTo(words, top, "w").groupBy($"w").agg(sum($"wn").as("wn"))
  }

  /** DuckDB twin of one batched round (selectBatch + applyBatch over
    * w{r-1} → top$r, w$r): winner-per-symbol via a per-symbol window,
    * the disjointness HAVING, the top-BpeBatch rank, and the rank-order
    * replace fold. Every CTE is MATERIALIZED: top$r is referenced
    * 2·BpeBatch+1 times and w$r chains into the next round, so DuckDB's
    * default per-reference inlining would re-expand the whole upstream
    * chain per reference — (2·BpeBatch)^rounds copies of the base scan
    * ("Too many open files" long before any result).
    */
  private def bpeRoundSql(r: Int): String = {
    // per-layer peeling CTEs (the selectBatch twin): layer 1 selects
    // over p$r, layer l > 1 over the pairs whose symbols no earlier
    // layer used; every CTE is MATERIALIZED (multi-referenced — see the
    // round-chain comment above)
    val layerCtes = (1 to BpeLayers).map { l =>
      val src = if (l == 1) s"p$r" else s"rem${r}_$l"
      val remCte =
        if (l == 1) ""
        else {
          val prev = if (l == 2) s"p$r" else s"rem${r}_${l - 1}"
          s"""rem${r}_$l AS MATERIALIZED (
             |  SELECT a, b, pair_n FROM $prev
             |  WHERE a NOT IN (SELECT s FROM used${r}_${l - 1})
             |    AND b NOT IN (SELECT s FROM used${r}_${l - 1})),
             |""".stripMargin
        }
      val carry = if (l > 1) s"UNION ALL SELECT s FROM used${r}_${l - 1}" else ""
      s"""${remCte}sym${r}_$l AS MATERIALIZED (SELECT DISTINCT a, b, pair_n, s
         |          FROM (SELECT a, b, pair_n, unnest([a, b]) AS s FROM $src)),
         |win${r}_$l AS MATERIALIZED (SELECT s, a, b FROM (
         |    SELECT s, a, b, ROW_NUMBER() OVER (PARTITION BY s ORDER BY pair_n DESC, a, b) AS wrn
         |    FROM sym${r}_$l) WHERE wrn = 1),
         |sel${r}_$l AS MATERIALIZED (
         |  SELECT y.a, y.b, y.pair_n
         |  FROM sym${r}_$l y JOIN win${r}_$l x ON y.s = x.s AND y.a = x.a AND y.b = x.b
         |  GROUP BY 1, 2, 3
         |  HAVING COUNT(*) = CASE WHEN y.a = y.b THEN 1 ELSE 2 END),
         |used${r}_$l AS MATERIALIZED (
         |  SELECT DISTINCT s FROM (
         |    SELECT unnest([a, b]) AS s FROM sel${r}_$l
         |    $carry))""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeLayers)
      .map(l => s"SELECT a, b, pair_n FROM sel${r}_$l").mkString(" UNION ALL ")
    s"""p$r AS MATERIALIZED (
       |  SELECT a, b, CAST(SUM(wn) AS BIGINT) AS pair_n FROM (
       |    SELECT w, wn, sym AS a, LEAD(sym) OVER (PARTITION BY w ORDER BY i) AS b
       |    FROM (SELECT w, wn, unnest(regexp_extract_all(w, '\\(([^)]*)\\)', 1)) AS sym,
       |                 generate_subscripts(regexp_extract_all(w, '\\(([^)]*)\\)', 1), 1) AS i
       |          FROM w${r - 1}))
       |  WHERE b IS NOT NULL GROUP BY 1, 2
       |  HAVING SUM(wn) >= $BpeMinPair),
       |$layerCtes,
       |top$r AS MATERIALIZED (
       |  SELECT a, b, pair_n, ROW_NUMBER() OVER (ORDER BY pair_n DESC, a, b) AS rn
       |  FROM (SELECT * FROM ($union) ORDER BY pair_n DESC, a, b LIMIT $BpeBatch)),
       |w$r AS MATERIALIZED (SELECT ${bpeApplySql("w", r)} AS w, CAST(SUM(wn) AS BIGINT) AS wn
       |        FROM w${r - 1} GROUP BY 1)""".stripMargin
  }

  /** fold a SQL expression through round r's merges in rank order —
    * scalar subqueries against top$r, chr(1) as the absent-merge no-op
    * sentinel (the exact twin of applyBatchTo)
    */
  private def bpeApplySql(inner: String, r: Int): String =
    (1 to BpeBatch).foldLeft(inner) { (acc, k) =>
      s"replace($acc, COALESCE((SELECT '(' || a || ')(' || b || ')' FROM top$r WHERE rn = $k), chr(1)), " +
        s"COALESCE((SELECT '(' || a || b || ')' FROM top$r WHERE rn = $k), ''))"
    }

  /** wrapped-symbol encoding for BPE: each symbol is `(sym)`, so the merge
    * of pair (a, b) is the plain string replace `(a)(b)` → `(ab)` with NO
    * shared boundary between adjacent matches — leftmost non-overlapping
    * replace in both engines reproduces the greedy left-to-right BPE merge
    * exactly (a space-separated encoding would share the boundary space
    * and under-merge runs like `a a a a`).
    */
  private def pairsOf(words: DataFrame): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val syms = words
      .select($"w", $"wn", posexplode(expr("regexp_extract_all(w, '\\\\(([^)]*)\\\\)', 1)")))
      .toDF("w", "wn", "i", "a")
    val win = Window.partitionBy($"w").orderBy($"i")
    syms.withColumn("b", lead($"a", 1).over(win))
      .filter($"b".isNotNull)
      .groupBy($"a", $"b")
      .agg(sum($"wn").as("pair_n"))
      // min-support prune BEFORE the driver collect — see BpeMinPair
      .filter($"pair_n" >= BpeMinPair)
  }

  /** Materialized BPE merge artifact — the trained tokenizer as a
    * reusable table, built ONCE per (session, corpus) and read by
    * txt_bpe (renumber), txt_bpe_encode (fold) and txt_bpe_vocab
    * (export): the round-11 artifact ask — training is an expensive
    * corpus-level pass whose product every consumer needs VERBATIM, so
    * it lives in the catalog like the LSH/token/IVF indexes instead of
    * re-deriving per query. Schema (round, rn, a, b, pair_n): round =
    * batched training round, rn = in-round rank, applied sequentially in
    * (round, rn) order. The table is merge-table-sized (≤BpeMerges rows)
    * — the broadcastable tokenizer artifact a 100 TB encode job ships to
    * every executor. Cross-engine parity is unchanged: the DuckDB
    * oracles replay the full training chain in SQL; CurationOpsSpec /
    * BpeVocabScaleSpec hold the artifact to the plain-Scala reference.
    * Stored as `merges` in the [[IndexStore]] `bpe` family.
    */
  private def ensureMerges(s: SparkSession, d: String): Unit = IndexStore.Bpe.synchronized {
    import s.implicits._
    val tg = IndexStore.tag(d)
    if (!IndexStore.Bpe.exists(s, "merges", tg)) {
      var words = CorpusTokenIndex.tokens(s, d)
        .select($"tok")
        .filter(length($"tok") > 0)
        .select(expr("regexp_replace(tok, '(.)', '($1)')").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("wn"))
        .localCheckpoint(true)
      val tops = Seq.newBuilder[DataFrame]
      var round = 1
      var dry = false
      while (round <= BpeRounds && !dry) {
        val top = selectBatch(words)
        // empty round ⇒ pairs ran dry ⇒ all later rounds empty (the
        // global best pair always wins, so non-empty pairs always
        // select); stopping early changes nothing vs the oracle's
        // no-op rounds and keeps a saturated corpus at its dry depth
        dry = top.head(1).isEmpty
        if (!dry) {
          words = applyBatch(words, top).localCheckpoint(true)
          tops += top.select(lit(round.toLong).as("round"), $"rn", $"a", $"b", $"pair_n")
        }
        round += 1
      }
      // a corpus with no adjacent pairs at all yields zero merges — the
      // written empty table still marks the artifact built
      val empty = s.range(0).select(lit(0L).as("round"), lit(0).as("rn"),
        lit("").as("a"), lit("").as("b"), lit(0L).as("pair_n"))
      // ≤BpeMerges rows — one artifact file, like a shipped tokenizer.json
      IndexStore.Bpe.create(s, (empty +: tops.result()).reduce(_.union(_)).coalesce(1),
        "merges", tg, IndexStore.Plain): Unit
    }
  }

  /** the learned merge table (round, rn, a, b, pair_n) — private[graft]
    * so Bench can time the artifact build as setup, not query time
    */
  private[graft] def merges(s: SparkSession, d: String): DataFrame = {
    ensureMerges(s, d)
    s.table(IndexStore.Bpe.table("merges", IndexStore.tag(d)))
  }

  /** the encode map (orig → cur): the corpus's distinct wrapped-word
    * relation folded through the materialized merges in (round, rn)
    * order — shared by txt_bpe_encode and txt_bpe_saturation. The fold
    * is cut per BpeBatch-sized chunk (uncut, ~BpeMerges nested replaces
    * per column blow Catalyst analysis depth at vocab scale); sequential
    * application of the concatenated batches is exactly what the
    * training loop applied, so reading the artifact loses nothing.
    */
  private def encodeMap(s: SparkSession, d: String, wrappedWords: DataFrame): DataFrame = {
    import s.implicits._
    val ms = merges(s, d).orderBy($"round", $"rn").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    var enc = wrappedWords.select($"w").distinct()
      .select($"w".as("orig"), $"w".as("cur")).localCheckpoint(true)
    for (chunk <- ms.grouped(BpeBatch)) {
      val folded = chunk.foldLeft(col("cur")) { case (c, (a, b)) =>
        org.apache.spark.sql.functions.replace(c, lit(s"($a)($b)"), lit(s"($a$b)"))
      }
      enc = enc.withColumn("cur", folded).select($"orig", $"cur")
        .localCheckpoint(true)
    }
    enc
  }

  /** upper-triangle (i ≤ j, 1-based) exact integer Gram cells — shared by
    * emb_gram and the emb_pca1 power iteration. Narrow suffix-slice pair
    * build: d(d+1)/2 rows per vector, no self-join, one (i, j) partial-agg
    * shuffle whose map-side combine caps task output at the cell space.
    */
  private def gramTriangle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.operators.VectorOps.quantized(s, d)
      .select($"vec_id", posexplode($"q"), $"q")
      .toDF("vec_id", "i0", "xi", "q")
      .select($"i0", $"xi", posexplode(expr("slice(q, i0 + 1, size(q) - i0)")))
      .toDF("i0", "xi", "dj", "xj")
      .groupBy(($"i0" + 1).cast("long").as("i"), ($"i0" + $"dj" + 1).cast("long").as("j"))
      .agg(sum($"xi" * $"xj").as("sxy"))
  }

  val queries: Map[String, Q] = Map(
    // overlapping context-window chunking: the long-document → training-
    // context split (size 64 tokens, stride 32). Emits per chunk the token
    // range and a content hash so downstream chunk-level dedup/packing can
    // run without re-reading text.
    "txt_chunk" -> { (s, d) =>
      import s.implicits._
      t(s, d, "documents")
        .withColumn("tk", split($"text", " +"))
        .withColumn("start", explode(expr(s"sequence(0, size(tk) - 1, $ChunkStride)")))
        .select($"doc_id",
          expr(s"CAST(start div $ChunkStride AS BIGINT)").as("chunk_id"),
          $"start".cast("long").as("start_tok"),
          expr(s"CAST(size(slice(tk, start + 1, $ChunkLen)) AS BIGINT)").as("n_tok"),
          md5(expr(s"concat_ws(' ', slice(tk, start + 1, $ChunkLen))")).as("chunk_hash"))
        .orderBy($"doc_id", $"chunk_id")
    },

    // segment-level duplicated-fraction audit (the exact-substring-dedup
    // proxy, RefinedWeb-style): hash non-overlapping 16-token segments,
    // flag segments appearing in 2+ DISTINCT docs, report per doc how much
    // of its token mass is cross-doc duplicated — the signal doc-level
    // dedup misses when only parts of a page are boilerplate.
    "dd_segment" -> { (s, d) =>
      import s.implicits._
      val segs = t(s, d, "documents")
        .withColumn("tk", split($"text", " +"))
        .withColumn("start", explode(expr(s"sequence(0, size(tk) - 1, $SegLen)")))
        .select($"doc_id",
          expr(s"CAST(size(slice(tk, start + 1, $SegLen)) AS BIGINT)").as("seg_tok"),
          md5(expr(s"concat_ws(' ', slice(tk, start + 1, $SegLen))")).as("h"))
        .persist() // feeds the duplicate-hash agg AND the per-doc rollup
      // two-phase ((h, doc) then h) so no EXPAND for the distinct count
      val dup = segs.groupBy($"h", $"doc_id").agg(count(lit(1)).as("k"))
        .groupBy($"h").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2)
        .select($"h", lit(1L).as("isdup"))
      segs.join(dup, Seq("h"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when($"isdup".isNotNull, 1L).otherwise(0L)).as("n_dup_segs"),
          sum($"seg_tok").as("n_tok"),
          sum(when($"isdup".isNotNull, $"seg_tok").otherwise(0L)).as("dup_tok"))
        .withColumn("dup_ppm", expr("(dup_tok * 1000000) div n_tok"))
        .orderBy($"doc_id")
    },

    // maximal duplicated-SPAN extraction (the exact-substring-dedup step
    // after dd_segment's per-segment audit): adjacent cross-doc-duplicated
    // segments merge into maximal runs (islands: seg_idx − row_number is
    // constant within a run), reporting per affected doc how MANY runs it
    // has and how LONG the longest is — ten scattered boilerplate segments
    // and one 160-token mirrored block have the same dup_tok but opposite
    // remediation (trim the template vs drop the page), and only the run
    // structure tells them apart. Scale shape: the segment build and
    // duplicate detection are dd_segment's (hash-keyed partial aggs, text
    // never shuffles); the islands window partitions by doc_id over ONLY
    // the duplicated segments (candidate-proportional), then two keyed
    // partial aggs fold runs → docs.
    "dd_span" -> { (s, d) =>
      import s.implicits._
      val segs = t(s, d, "documents")
        .withColumn("tk", split($"text", " +"))
        .withColumn("start", explode(expr(s"sequence(0, size(tk) - 1, $SegLen)")))
        .select($"doc_id",
          expr(s"CAST(start div $SegLen AS BIGINT)").as("seg_idx"),
          expr(s"CAST(size(slice(tk, start + 1, $SegLen)) AS BIGINT)").as("seg_tok"),
          md5(expr(s"concat_ws(' ', slice(tk, start + 1, $SegLen))")).as("h"))
        .persist() // feeds the duplicate-hash agg AND the islands pass
      // two-phase ((h, doc) then h) so no EXPAND for the distinct count
      val dup = segs.groupBy($"h", $"doc_id").agg(count(lit(1)).as("k"))
        .groupBy($"h").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2)
        .select($"h")
      val w = Window.partitionBy($"doc_id").orderBy($"seg_idx")
      val runs = segs.join(dup, Seq("h"))
        .withColumn("grp", $"seg_idx" - row_number().over(w))
        .groupBy($"doc_id", $"grp")
        .agg(count(lit(1)).as("run_segs"), sum($"seg_tok").as("run_tok"))
      runs.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_runs"),
          max($"run_segs").as("max_run_segs"),
          max($"run_tok").as("max_run_tok"),
          sum($"run_tok").as("dup_tok"))
        .orderBy($"doc_id")
    },

    // Sliding exact-substring dedup (the Lee et al. "Deduplicating
    // Training Data" granularity dd_segment's fixed 16-token grid cannot
    // reach): hash EVERY SlideLen-token window at stride 1, so an exact
    // duplicated block is caught at ANY token offset — a copy shifted by
    // 1..15 tokens misaligns every grid segment and dd_segment reports
    // nothing, while here every interior window of the block still
    // matches (SlideDedupSpec proves exactly that case). Windows in ≥2
    // distinct docs fold into per-doc runs of consecutive window
    // indices; a run of r windows covers an r+SlideLen-1-token duplicated
    // span. Scale shape: the window build is a narrow codegen'd pass
    // (sequence + slice + md5), the duplicate test is two chained
    // partial aggs on the 16-byte hash (text never shuffles), and the
    // islands window partitions by doc_id over ONLY duplicated windows.
    // Cost vs dd_segment: ~SlideLen× the hashed bytes — the price of
    // offset-invariance; a production pass would swap the per-window md5
    // for a token-level Karp-Rabin rolling hash (the dd_winnow kernel's
    // trick) to get back to O(corpus) hashing.
    "dd_slide" -> { (s, d) =>
      import s.implicits._
      val win = slideWindows(t(s, d, "documents"))
        .persist() // feeds the duplicate-hash agg AND the islands pass
      // two-phase ((h, doc) then h) so no EXPAND for the distinct count
      val dup = win.groupBy($"h", $"doc_id").agg(count(lit(1)).as("k"))
        .groupBy($"h").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2)
        .select($"h")
      val w = Window.partitionBy($"doc_id").orderBy($"win_idx")
      val runs = win.join(dup, Seq("h"))
        .withColumn("grp", $"win_idx" - row_number().over(w))
        .groupBy($"doc_id", $"grp")
        .agg(count(lit(1)).as("run_wins"))
      runs.groupBy($"doc_id")
        .agg(sum($"run_wins").as("n_dup_wins"),
          count(lit(1)).as("n_runs"),
          max($"run_wins" + lit(SlideLen - 1L)).as("max_span_tok"),
          // spans of runs separated by short gaps can overlap by up to
          // SlideLen-1 tokens; the sum is the per-run span total, not a
          // disjoint-coverage claim
          sum($"run_wins" + lit(SlideLen - 1L)).as("dup_tok"))
        .orderBy($"doc_id")
    },

    // int8 symmetric quantization audit: per-vector scale = max |component|
    // in micro-units, codes = round-to-nearest(q·127/scale) — the storage
    // shape a 100 TB embedding corpus actually ships. Reports exact integer
    // reconstruction error (in micro·127 units) so a quantization rollout
    // can be gated on measured error, not hope. Round-half-up division is
    // floor((2a+b)/2b), kept engine-exact via the subtract-pmod floor-div.
    "emb_quantize" -> { (s, d) =>
      import s.implicits._
      val e = t(s, d, "embeddings")
        .select($"vec_id", posexplode($"embedding"))
        .toDF("vec_id", "i", "x")
        .withColumn("qv", expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"))
      val sc = e.groupBy($"vec_id").agg(max(abs($"qv")).as("scale"))
      e.join(sc, Seq("vec_id"))
        .withColumn("num", lit(254L) * $"qv" + $"scale")
        .withColumn("code", when($"scale" === 0L, lit(0L))
          .otherwise(expr("(num - pmod(num, 2 * scale)) div (2 * scale)")))
        .withColumn("err", abs(lit(127L) * $"qv" - $"code" * $"scale"))
        .groupBy($"vec_id", $"scale")
        .agg(count(lit(1)).as("n_dims"),
          sum($"err").as("sum_abs_err"),
          max($"err").as("max_err"))
        .withColumn("err_ppm", when($"scale" === 0L, lit(0L))
          .otherwise(expr("(sum_abs_err * 1000000) div (127 * scale * n_dims)")))
        .select($"vec_id", $"scale", $"n_dims", $"sum_abs_err", $"max_err", $"err_ppm")
        .orderBy($"vec_id")
    },

    // mixture-composition report (the "data card" of a training corpus):
    // per (source, lang) doc/token counts plus exact ppm shares of the
    // corpus totals — the table a mixture-rebalancing run starts from.
    // The totals relation is ONE row joined on a constant key (a hash
    // join, not a nested loop), so the plan is two partial aggs over one
    // narrow scan at any corpus size.
    "samp_mixture" -> { (s, d) =>
      import s.implicits._
      val base = t(s, d, "documents")
        .select($"source", $"lang", size(split($"text", " +")).cast("long").as("ntok"))
      val grp = base.groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
      val tot = base.agg(count(lit(1)).as("t_docs"), sum($"ntok").as("t_tokens"))
        .withColumn("k", lit(1))
      grp.withColumn("k", lit(1)).join(broadcast(tot), Seq("k"))
        .withColumn("doc_share_ppm", expr("(n_docs * 1000000) div t_docs"))
        .withColumn("tok_share_ppm", expr("(n_tokens * 1000000) div t_tokens"))
        .select($"source", $"lang", $"n_docs", $"n_tokens", $"doc_share_ppm", $"tok_share_ppm")
        .orderBy($"source", $"lang")
    },

    // cosine-similarity histogram over the banded pair relation — the
    // threshold-selection audit run BEFORE committing to a near-dup
    // cutoff: 50k-ppm bins with pair counts and per-bin extremes.
    // cos_ppm can be negative, so the bin is the exact FLOOR division
    // (subtract-positive-remainder on both engines). Reuses the
    // id-banded equi-join pair generator — candidate-proportional,
    // never all-pairs.
    "emb_sim_hist" -> { (s, d) =>
      import s.implicits._
      graft.operators.VectorOps.bandedCosinePairs(s, d, 100)
        .withColumn("bin", expr("(cos_ppm - pmod(cos_ppm, 50000)) div 50000"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_pairs"), min($"cos_ppm").as("min_ppm"), max($"cos_ppm").as("max_ppm"))
        .withColumn("lo_ppm", $"bin" * lit(50000L))
        .select($"bin", $"lo_ppm", $"n_pairs", $"min_ppm", $"max_ppm")
        .orderBy($"bin")
    },

    // BPE encode (the apply side of txt_bpe): fold the MATERIALIZED
    // merge artifact over every corpus token and report per doc the
    // post-merge subword count vs the character count — the
    // compression-ratio signal that decides whether a learned vocab is
    // worth shipping. Reads the artifact instead of re-training (the
    // round-11 ask): the encode map is the distinct-word relation folded
    // through the ≤BpeMerges collected merges in (round, rn) order —
    // sequential application of the concatenated per-round batches is
    // EXACTLY what the per-round training loop applied, so the fold
    // factors out of training verbatim (and the oracle's per-round
    // encode CTEs replay the same order). The fold is cut per
    // BpeBatch-sized chunk: uncut, ~BpeMerges nested replaces per
    // column blow Catalyst analysis depth at vocab scale.
    "txt_bpe_encode" -> { (s, d) =>
      import s.implicits._
      val toks = CorpusTokenIndex.tokens(s, d)
        .select($"doc_id", $"tok")
        .filter(length($"tok") > 0)
        .select($"doc_id", expr("regexp_replace(tok, '(.)', '($1)')").as("w"),
          length($"tok").cast("long").as("nch"))
      val enc = encodeMap(s, d, toks)
      toks.join(enc, toks("w") === enc("orig"))
        .withColumn("n_sym", expr("CAST(size(regexp_extract_all(cur, '\\\\(([^)]*)\\\\)', 1)) AS BIGINT)"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"), sum($"nch").as("n_chars"), sum($"n_sym").as("n_subtok"))
        .withColumn("subtok_ppm", expr("(n_subtok * 1000000) div n_chars"))
        .orderBy($"doc_id")
    },

    // tokenizer fit BY SOURCE — the compression each corpus slice gets
    // from the trained merge table (txt_bpe_encode reports per doc;
    // mixtures are negotiated per SOURCE: a slice whose gain sags is
    // out-of-domain for the tokenizer and will pay more tokens per char
    // at training time; txt_fertility is the per-language view): per
    // source, tokens, chars, BPE symbols, and the exact ppm of chars
    // SAVED. Same encode map (built once per corpus), one source-keyed
    // rollup.
    "txt_bpe_gain" -> { (s, d) =>
      import s.implicits._
      val toks = CorpusTokenIndex.tokens(s, d)
        .select($"source", $"tok")
        .filter(length($"tok") > 0)
        .select($"source", expr("regexp_replace(tok, '(.)', '($1)')").as("w"),
          length($"tok").cast("long").as("nch"))
      val enc = encodeMap(s, d, toks)
      toks.join(enc, toks("w") === enc("orig"))
        .withColumn("n_sym", expr("CAST(size(regexp_extract_all(cur, '\\\\(([^)]*)\\\\)', 1)) AS BIGINT)"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tok"), sum($"nch").as("n_chars"), sum($"n_sym").as("n_subtok"))
        .withColumn("gain_ppm", expr("((n_chars - n_subtok) * 1000000) div n_chars"))
        .orderBy($"source")
    },

    // BPE merge training in BpeRounds BATCHED rounds (the tokenizer-
    // training core at vocab scale): each round counts adjacent symbol
    // pairs ONCE over the weighted distinct-word relation, selects up to
    // BpeBatch locally-maximal symbol-disjoint pairs (see BpeMerges
    // doc), applies them in rank order, repeats. Output = the learned
    // merge table, rnk = contiguous global merge index in application
    // order, pair_n = the pair's count at its round's START. Each
    // round's top/words are localCheckpoint-CUT — the uncut lineage
    // doubles per round (words_r feeds pair counting AND the merge), so
    // the cut is what keeps the driver-side plan linear in rounds; it
    // also leaves no cache-manager residue (CacheScopeSpec). The final
    // renumbering window is un-partitioned but runs over ≤BpeMerges
    // rows by construction (the union of BpeRounds limit-BpeBatch
    // selections).
    "txt_bpe" -> { (s, d) =>
      import s.implicits._
      // read the materialized artifact (training runs once per corpus —
      // see ensureMerges); the renumbering window is un-partitioned but
      // runs over ≤BpeMerges rows by construction
      merges(s, d)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"round", $"rn")).cast("long"))
        .select($"rnk", $"a", $"b", concat($"a", $"b").as("merged"), $"pair_n")
        .orderBy($"rnk")
    },

    // BPE merge-saturation profile per source — the vocab-fit audit the
    // compression ratio alone hides: the share of token OCCURRENCES the
    // learned merges collapse to a SINGLE symbol (fully-merged tokens
    // cost one id at training time; a source whose saturation lags the
    // corpus is the one paying the fragmentation). Reads the
    // materialized artifact through the shared encode map; per-source
    // exact ppm. Scale shape: the encode map is vocab-sized, the join
    // is on the wrapped word form, one |sources|-row rollup.
    "txt_bpe_saturation" -> { (s, d) =>
      import s.implicits._
      val toks = CorpusTokenIndex.tokens(s, d)
        .select($"source", $"tok")
        .filter(length($"tok") > 0)
        .select($"source", expr("regexp_replace(tok, '(.)', '($1)')").as("w"))
      val enc = encodeMap(s, d, toks)
        .withColumn("n_sym",
          expr("CAST(size(regexp_extract_all(cur, '\\\\(([^)]*)\\\\)', 1)) AS BIGINT)"))
      toks.join(enc, toks("w") === enc("orig"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tok"),
          sum(when($"n_sym" === 1L, 1L).otherwise(0L)).as("n_saturated"))
        .withColumn("sat_ppm", expr("(n_saturated * 1000000) div n_tok"))
        .select($"source", $"n_tok", $"n_saturated", $"sat_ppm")
        .orderBy($"source")
    },

    // tokenizer artifact EXPORT — the reusable vocab a downstream
    // tokenizer actually loads (the tokenizer.json shape): base-alphabet
    // characters get ids 0..|chars|-1 in lexical order, the learned
    // merges follow in global rank order — both assignments
    // deterministic pure functions of the corpus, so the export is
    // byte-reproducible on any engine. rnk carries the merge rank (0 for
    // base chars). Scale shape: the alphabet agg is |chars|-bounded off
    // the token index, the merge side reads the ≤BpeMerges artifact, and
    // the two windows run over those bounded relations only.
    "txt_bpe_vocab" -> { (s, d) =>
      import s.implicits._
      val chars = CorpusTokenIndex.tokens(s, d)
        .filter(length($"tok") > 0)
        .select(explode(expr("regexp_extract_all(tok, '(.)', 1)")).as("token"))
        .distinct()
        .withColumn("id", row_number().over(Window.orderBy($"token")).cast("long") - 1L)
        .select($"id", $"token", lit("char").as("kind"), lit(0L).as("rnk"))
      val nChars = chars.agg(count(lit(1)).as("nc")).withColumn("k", lit(1))
      val m = merges(s, d)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"round", $"rn")).cast("long"))
        .withColumn("k", lit(1))
        .join(broadcast(nChars), Seq("k"))
        .select(($"nc" + $"rnk" - 1L).as("id"), concat($"a", $"b").as("token"),
          lit("merge").as("kind"), $"rnk")
      chars.unionByName(m).orderBy($"id")
    },

    // exact corpus dispersion — the mean squared pairwise L2 distance
    // over ALL ordered vector pairs WITHOUT any pair relation: the
    // moment identity Σ_{i≠j}‖x_i−x_j‖² = 2n·Σ‖x_i‖² − 2‖Σx_i‖² turns
    // the O(n²) pair sum into two corpus aggregates (per-dim component
    // sums + per-vector norms) — the collapse-detection number an
    // embedding pipeline watches (dispersion → 0 means the encoder
    // degenerated) at any corpus size for one narrow pass. Exact
    // integer micro²-units end to end (DECIMAL(38,0)/HUGEINT sums, one
    // floor division); mean_sq_norm and msd_q stay under 2⁵³ so the
    // driver's float compare is exact. Scale shape: two partial aggs
    // (dim-keyed and vec-keyed), two 1-row joins on a constant key.
    "emb_dispersion" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = t(s, d, "embeddings")
        .select($"vec_id", posexplode($"embedding"))
        .toDF("vec_id", "i", "x")
        .withColumn("qv", expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"))
      val vecsq = e.groupBy($"i").agg(sum($"qv".cast(dec)).as("sv"))
        .agg(sum($"sv" * $"sv").as("s_vecsq")).withColumn("k", lit(1))
      val tot = e.groupBy($"vec_id").agg(sum($"qv" * $"qv").as("nn"))
        .agg(count(lit(1)).as("n_vecs"), sum($"nn".cast(dec)).as("s_norm"))
        .withColumn("k", lit(1))
      tot.join(broadcast(vecsq), Seq("k"))
        .select($"n_vecs",
          expr("CAST(s_norm div n_vecs AS BIGINT)").as("mean_sq_norm"),
          expr("CAST((2 * (CAST(n_vecs AS DECIMAL(38,0)) * s_norm - s_vecsq)) div (CAST(n_vecs AS DECIMAL(38,0)) * (n_vecs - 1)) AS BIGINT)")
            .as("msd_q"))
    },

    // exact integer Gram matrix over the quantized corpus (the PCA /
    // whitening prep): upper-triangle (i ≤ j) sums of cross products plus
    // per-dimension sums and the vector count, so covariance is
    // cov(i,j) = (sxy − sxi·sxj/n)/n downstream with no further scan.
    // Scale shape: the pair build is NARROW — explode dim i, then explode
    // the suffix slice of the SAME row's array (d(d+1)/2 rows per vector,
    // no self-join, no pre-shuffle) — and the only shuffle is the (i, j)
    // partial agg whose map-side combine caps each task's output at the
    // d² cell space. Bit budget: |q| ≤ 1e6 ⇒ |q·q| ≤ 1e12, so int64 sums
    // hold to ~9e6 worst-case vectors per cell; past that, re-scale the
    // quantization unit or accumulate per-partition Grams in DECIMAL.
    "emb_gram" -> { (s, d) =>
      import s.implicits._
      val q = graft.operators.VectorOps.quantized(s, d).select($"vec_id", $"q")
      val prods = gramTriangle(s, d)
      val sums = q.select(posexplode($"q")).toDF("i0", "x")
        .groupBy(($"i0" + 1).cast("long").as("i"))
        .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
      prods
        .join(sums.select($"i", $"sx".as("sxi"), $"n"), Seq("i"))
        .join(sums.select($"i".as("j"), $"sx".as("sxj")), Seq("j"))
        .select($"i", $"j", $"sxy", $"sxi", $"sxj", $"n")
        .orderBy($"i", $"j")
    },

    // per-dimension embedding health audit (dead/degenerate-dimension
    // detector): exact integer count/sum/sum-of-squares/min/max/zero
    // count per dimension, with floor-div mean and mean-square — the
    // pre-flight check before trusting 100 TB of vectors to PCA or ANN.
    // One (dim)-keyed partial-agg shuffle; output is d rows. Bit budget:
    // Σq² per dim ≤ n·1e12 — int64-safe to ~9e6 vectors per dimension,
    // past that re-scale the quantization unit (same knob as emb_gram).
    // whitening transform audit (the feature-standardization step a
    // training pipeline applies before distance-based ops so no single
    // dimension dominates): per-dim global mean/variance over the
    // quantized corpus, every component standardized to
    // z = ((q − mean)·10³) div sd with sd = floor(√var) ≥ 1 — IEEE sqrt
    // of an exactly-representable integer is correctly rounded in both
    // engines, so the transform replays bit-for-bit. Output is the
    // |dims|-row audit of the WHITENED distribution (mean_z ≈ 0,
    // msq_z ≈ 10⁶ when var ≫ 1) — the check that the transform actually
    // standardized. Scale shape: stats are one (dim) partial agg
    // (|dims| rows, broadcast back), the transform a narrow pass, the
    // audit a second |dims|-row agg — the corpus never shuffles.
    "emb_whiten" -> { (s, d) =>
      import s.implicits._
      val e = t(s, d, "embeddings")
        .select(posexplode($"embedding")).toDF("i0", "x")
        .select(($"i0" + 1).cast("long").as("i"),
          expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)").as("qv"))
      val stats = e.groupBy($"i")
        .agg(count(lit(1)).as("n"), sum($"qv").as("sx"), sum($"qv" * $"qv").as("sxx"))
        .withColumn("mean_q", expr("(sx - pmod(sx, n)) div n"))
        .withColumn("var_q", expr("greatest(1L, sxx div n - mean_q * mean_q)"))
        .withColumn("sd", expr("greatest(1L, CAST(FLOOR(sqrt(var_q)) AS BIGINT))"))
        .select($"i", $"mean_q", $"var_q", $"sd")
      e.join(broadcast(stats), Seq("i"))
        .withColumn("z", expr("((qv - mean_q) * 1000) div sd"))
        .groupBy($"i")
        .agg(max($"mean_q").as("mean_q"), max($"sd").as("sd"),
          count(lit(1)).as("n"),
          expr("(sum(z) - pmod(sum(z), count(1))) div count(1)").as("mean_z"),
          expr("sum(z * z) div count(1)").as("msq_z"))
        .orderBy($"i")
    },

    "emb_dim_stats" -> { (s, d) =>
      import s.implicits._
      t(s, d, "embeddings")
        .select(posexplode($"embedding")).toDF("i0", "x")
        .withColumn("qv", expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"))
        .groupBy(($"i0" + 1).cast("long").as("i"))
        .agg(count(lit(1)).as("n"), sum($"qv").as("sx"), sum($"qv" * $"qv").as("sxx"),
          min($"qv").as("min_q"), max($"qv").as("max_q"),
          sum(when($"qv" === 0L, 1L).otherwise(0L)).as("n_zero"))
        .withColumn("mean_micro", expr("(sx - pmod(sx, n)) div n"))
        .withColumn("msq_micro2", expr("(sxx - pmod(sxx, n)) div n"))
        .orderBy($"i")
    },

    // per-label centroid geometry: exact integer centroids (floor-div of
    // the per-(label, dim) sums) and their pairwise cosine — the
    // label-space audit that flags collapsing or duplicated classes
    // before training on them. Scale shape: one (label, dim) partial-agg
    // shuffle over the corpus; everything after runs on |labels|·d rows.
    // Centroids are re-quantized to micro-units (|c| ≤ 1e6) so the
    // pairwise dot stays inside int64 at ANY corpus size — the raw sum
    // vectors would overflow past ~9e6 vectors per label.
    "emb_centroid_cos" -> { (s, d) =>
      import s.implicits._
      val c = t(s, d, "embeddings")
        .select($"label".cast("long").as("label"), posexplode($"embedding"))
        .toDF("label", "i", "x")
        .withColumn("qv", expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"))
        .groupBy($"label", $"i")
        .agg(sum($"qv").as("sx"), count(lit(1)).as("n"))
        .withColumn("c", expr("(sx - pmod(sx, n)) div n"))
        .select($"label", $"i", $"c")
      val dots = c.select($"label".as("la"), $"i", $"c".as("ca"))
        .join(c.select($"label".as("lb"), $"i", $"c".as("cb")), Seq("i"))
        .filter($"la" < $"lb")
        .groupBy($"la", $"lb").agg(sum($"ca" * $"cb").as("dot"))
      val norms = c.groupBy($"label").agg(sum($"c" * $"c").as("nn"))
      dots
        .join(norms.select($"label".as("la"), $"nn".as("na")), Seq("la"))
        .join(norms.select($"label".as("lb"), $"nn".as("nb")), Seq("lb"))
        .filter($"na" > 0 && $"nb" > 0)
        .select($"la", $"lb",
          graft.operators.VectorOps.cosPpm($"dot", $"na", $"nb").as("cos_ppm"))
        .orderBy($"la", $"lb")
    },

    // vector-norm histogram (the normalization-drift audit run before
    // trusting any cosine machinery: unit-normalized embeddings pile
    // into the 0.9–1.1 buckets, a second mode or a fat bucket-0 tail
    // means an upstream encoder change or zero vectors): exact integer
    // micro-norm floor(√nn) — IEEE sqrt of an exactly-representable
    // int64, deterministic on every engine — bucketed in 0.1 steps.
    // Scale shape: one narrow per-row kernel + a partial agg onto the
    // ~dozen-bucket key space; the corpus never shuffles.
    "emb_norm_hist" -> { (s, d) =>
      import s.implicits._
      graft.operators.VectorOps.quantized(s, d)
        .select(expr("CAST(FLOOR(sqrt(nn)) AS BIGINT)").as("norm_micro"))
        .groupBy(expr("norm_micro div 100000").as("bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          min($"norm_micro").as("min_norm_micro"),
          max($"norm_micro").as("max_norm_micro"))
        .orderBy($"bucket")
    },

    // top principal direction by 3 integer power-iteration rounds over
    // the exact Gram matrix (the PCA head on emb_gram's shoulders): each
    // round is w = G·v, then an exact floor-div renormalization to
    // |v| ≤ 100 (q = ceil(max|w|/100), v' = ⌊w/q⌋ — identical integers on
    // any engine, no float norm, no sqrt). Emits every round's vector so
    // intermediate drift is caught, not just the fixpoint.
    // Scale shape: the corpus is touched ONCE (the distributed Gram
    // build — the only pass whose cost scales with data); the d²-cell
    // matrix is then DRIVER-SIZED BY CONSTRUCTION (64×64 here, any
    // practical d² ≪ corpus), so the rounds run as exact local integer
    // arithmetic — the same dispatcher rationale as dd_cluster's
    // union-find fast path (a chained-DataFrame loop on 64-row
    // relations measured 7.9 s of pure scheduling overhead at sf0.1;
    // this form is the Gram cost plus microseconds). The DuckDB oracle
    // replays the identical arithmetic as unrolled CTEs. Bit budget:
    // |w| ≤ d·|G|max·100 ≈ 6e17 at sf0.1 — inside int64, and the
    // renormalization divides before anything multiplies again.
    "emb_pca1" -> { (s, d) =>
      import s.implicits._
      val tri = gramTriangle(s, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val dims = tri.collect { case (i, j, _) if i == j => i }.sorted
      // EMPTY corpus: no gram matrix, no dimensions — a well-formed
      // empty answer instead of empty.max on the first power round
      if (dims.isEmpty)
        Seq.empty[(Long, Long, Long, Long)].toDF("i", "v1", "v2", "v3")
      else {
      val g = tri
        .flatMap { case (i, j, x) =>
          if (i == j) Seq((i, j, x)) else Seq((i, j, x), (j, i, x)) }
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
      var v = dims.map(i => i -> 100L).toMap
      val rounds = (1 to 3).map { _ =>
        val w = dims.map(i => i -> g(i).map { case (j, x) => x * v(j) }.sum).toMap
        val m = w.values.map(math.abs).max
        v =
          if (m == 0L) dims.map(i => i -> 0L).toMap
          else {
            val q = 1L + (m - 1L) / 100L
            dims.map(i => i -> math.floorDiv(w(i), q)).toMap
          }
        v
      }
      dims.map(i => (i, rounds(0)(i), rounds(1)(i), rounds(2)(i))).toSeq
        .toDF("i", "v1", "v2", "v3")
        .orderBy($"i")
      }
    }
  )

  private def segCte(width: Int): String =
    s"""g AS (SELECT doc_id, string_split_regex(text, ' +') AS tk FROM documents),
       |segs AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS start_tok,
       |    list_slice(tk, CAST(i AS INT) + 1, CAST(i AS INT) + $width) AS ck
       |  FROM g, UNNEST(range(0, len(tk), ${if (width == ChunkLen) ChunkStride else width})) AS u(i))""".stripMargin

  val oracles: Map[String, String] = Map(
    "txt_chunk" ->
      s"""WITH ${segCte(ChunkLen)}
         |SELECT doc_id, CAST(start_tok // $ChunkStride AS BIGINT) AS chunk_id, start_tok,
         |  CAST(len(ck) AS BIGINT) AS n_tok,
         |  md5(array_to_string(ck, ' ')) AS chunk_hash
         |FROM segs ORDER BY doc_id, chunk_id""".stripMargin,

    "dd_segment" ->
      s"""WITH ${segCte(SegLen)}
         |, hashed AS (
         |  SELECT doc_id, CAST(len(ck) AS BIGINT) AS seg_tok,
         |    md5(array_to_string(ck, ' ')) AS h
         |  FROM segs),
         |dup AS (
         |  SELECT h FROM (SELECT h, doc_id FROM hashed GROUP BY 1, 2)
         |  GROUP BY h HAVING COUNT(*) >= 2)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
         |  CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
         |  CAST(SUM(seg_tok) AS BIGINT) AS n_tok,
         |  CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN seg_tok ELSE 0 END) AS BIGINT) AS dup_tok,
         |  CAST((SUM(CASE WHEN dup.h IS NOT NULL THEN seg_tok ELSE 0 END) * 1000000) // SUM(seg_tok) AS BIGINT) AS dup_ppm
         |FROM hashed LEFT JOIN dup ON dup.h = hashed.h
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dd_span" ->
      s"""WITH ${segCte(SegLen)}
         |, hashed AS (
         |  SELECT doc_id, CAST(start_tok // $SegLen AS BIGINT) AS seg_idx,
         |    CAST(len(ck) AS BIGINT) AS seg_tok,
         |    md5(array_to_string(ck, ' ')) AS h
         |  FROM segs),
         |dup AS (
         |  SELECT h FROM (SELECT h, doc_id FROM hashed GROUP BY 1, 2)
         |  GROUP BY h HAVING COUNT(*) >= 2),
         |isl AS (
         |  SELECT doc_id, seg_idx, seg_tok,
         |    seg_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seg_idx) AS grp
         |  FROM hashed JOIN dup USING (h)),
         |runs AS (
         |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run_segs,
         |    CAST(SUM(seg_tok) AS BIGINT) AS run_tok
         |  FROM isl GROUP BY 1, 2)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
         |  CAST(MAX(run_segs) AS BIGINT) AS max_run_segs,
         |  CAST(MAX(run_tok) AS BIGINT) AS max_run_tok,
         |  CAST(SUM(run_tok) AS BIGINT) AS dup_tok
         |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dd_slide" ->
      s"""WITH win AS MATERIALIZED (
         |  SELECT doc_id, CAST(start AS BIGINT) AS win_idx,
         |    md5(array_to_string(tk[CAST(start + 1 AS INT):CAST(start + $SlideLen AS INT)], ' ')) AS h
         |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS tk FROM documents
         |        WHERE len(string_split_regex(text, ' +')) >= $SlideLen),
         |       UNNEST(range(0, len(tk) - $SlideLen + 1)) AS t(start)),
         |dup AS (
         |  SELECT h FROM (SELECT h, doc_id FROM win GROUP BY 1, 2)
         |  GROUP BY h HAVING COUNT(*) >= 2),
         |isl AS (
         |  SELECT doc_id, win_idx,
         |    win_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win_idx) AS grp
         |  FROM win JOIN dup USING (h)),
         |runs AS (
         |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run_wins
         |  FROM isl GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(run_wins) AS BIGINT) AS n_dup_wins,
         |  CAST(COUNT(*) AS BIGINT) AS n_runs,
         |  CAST(MAX(run_wins + ${SlideLen - 1}) AS BIGINT) AS max_span_tok,
         |  CAST(SUM(run_wins + ${SlideLen - 1}) AS BIGINT) AS dup_tok
         |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)),
        |sc AS (SELECT vec_id, MAX(ABS(qv)) AS scale FROM e GROUP BY 1),
        |c AS (
        |  SELECT e.vec_id, sc.scale, e.qv,
        |    CASE WHEN sc.scale = 0 THEN 0
        |         ELSE ((254 * e.qv + sc.scale)
        |               - (((254 * e.qv + sc.scale) % (2 * sc.scale) + 2 * sc.scale) % (2 * sc.scale)))
        |              // (2 * sc.scale) END AS code
        |  FROM e JOIN sc USING (vec_id)),
        |err AS (
        |  SELECT vec_id, scale, ABS(127 * qv - code * scale) AS err FROM c)
        |SELECT vec_id, CAST(scale AS BIGINT) AS scale, CAST(COUNT(*) AS BIGINT) AS n_dims,
        |  CAST(SUM(err) AS BIGINT) AS sum_abs_err, CAST(MAX(err) AS BIGINT) AS max_err,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE CAST((SUM(err) * 1000000) // (127 * scale * COUNT(*)) AS BIGINT) END AS err_ppm
        |FROM err GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin,

    "samp_mixture" ->
      """WITH base AS (
        |  SELECT source, lang,
        |    CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS ntok
        |  FROM documents),
        |grp AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(ntok) AS BIGINT) AS n_tokens
        |  FROM base GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS t_docs,
        |    CAST(SUM(ntok) AS BIGINT) AS t_tokens FROM base)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST((n_docs * 1000000) // t_docs AS BIGINT) AS doc_share_ppm,
        |  CAST((n_tokens * 1000000) // t_tokens AS BIGINT) AS tok_share_ppm
        |FROM grp, tot ORDER BY source, lang""".stripMargin,

    "emb_sim_hist" ->
      """WITH e AS (
        |  SELECT vec_id, i,
        |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, SUM(q * q) AS nn FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.q * b.q) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 100
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
        |  FROM p JOIN n na ON na.vec_id = p.va JOIN n nb ON nb.vec_id = p.vb),
        |binned AS (
        |  SELECT cos_ppm,
        |    (cos_ppm - (((cos_ppm % 50000) + 50000) % 50000)) // 50000 AS bin
        |  FROM c)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(bin * 50000 AS BIGINT) AS lo_ppm,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(MIN(cos_ppm) AS BIGINT) AS min_ppm, CAST(MAX(cos_ppm) AS BIGINT) AS max_ppm
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,

    "txt_bpe_encode" -> {
      // the encode fold is CHAINED per-round CTEs, not one giant nested
      // expression: at 320 merges a single fold nests ~2 levels per
      // merge and crosses DuckDB's max_expression_depth; per-round CTEs
      // cap the depth at 2·BpeBatch and mirror the Spark loop's
      // per-round checkpoint structure exactly
      val encCtes = (1 to BpeRounds).map(r =>
        s"enc$r AS MATERIALIZED (SELECT orig, ${bpeApplySql("cur", r)} AS cur FROM enc${r - 1})")
        .mkString(",\n")
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_replace(tok, '(.)', '(\\1)', 'g') AS w,
         |    CAST(length(tok) AS BIGINT) AS nch
         |  FROM (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM toks GROUP BY 1),
         |${(1 to BpeRounds).map(bpeRoundSql).mkString(",\n")},
         |enc0 AS (SELECT w AS orig, w AS cur FROM w0),
         |$encCtes,
         |enc AS (SELECT orig, cur FROM enc$BpeRounds)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  CAST(SUM(nch) AS BIGINT) AS n_chars,
         |  CAST(SUM(len(regexp_extract_all(enc.cur, '\\(([^)]*)\\)', 1))) AS BIGINT) AS n_subtok,
         |  CAST((SUM(len(regexp_extract_all(enc.cur, '\\(([^)]*)\\)', 1))) * 1000000) // SUM(nch) AS BIGINT) AS subtok_ppm
         |FROM toks JOIN enc ON enc.orig = toks.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // the txt_bpe_encode replay with source carried through and a
    // per-source rollup
    "txt_bpe_gain" -> {
      val encCtes = (1 to BpeRounds).map(r =>
        s"enc$r AS MATERIALIZED (SELECT orig, ${bpeApplySql("cur", r)} AS cur FROM enc${r - 1})")
        .mkString(",\n")
      s"""WITH toks AS (
         |  SELECT source, regexp_replace(tok, '(.)', '(\\1)', 'g') AS w,
         |    CAST(length(tok) AS BIGINT) AS nch
         |  FROM (SELECT source, unnest(string_split_regex(text, ' +')) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM toks GROUP BY 1),
         |${(1 to BpeRounds).map(bpeRoundSql).mkString(",\n")},
         |enc0 AS (SELECT w AS orig, w AS cur FROM w0),
         |$encCtes,
         |enc AS (SELECT orig, cur FROM enc$BpeRounds)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  CAST(SUM(nch) AS BIGINT) AS n_chars,
         |  CAST(SUM(len(regexp_extract_all(enc.cur, '\\(([^)]*)\\)', 1))) AS BIGINT) AS n_subtok,
         |  CAST(((SUM(nch) - SUM(len(regexp_extract_all(enc.cur, '\\(([^)]*)\\)', 1)))) * 1000000) // SUM(nch) AS BIGINT) AS gain_ppm
         |FROM toks JOIN enc ON enc.orig = toks.w
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "txt_bpe" -> {
      val picks = (1 to BpeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, rn, a, b, pair_n FROM top$r")
        .mkString("\nUNION ALL ")
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT regexp_replace(tok, '(.)', '(\\1)', 'g') AS w, CAST(COUNT(*) AS BIGINT) AS wn
         |  FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY 1),
         |${(1 to BpeRounds).map(bpeRoundSql).mkString(",\n")},
         |u AS ($picks)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, rn) AS BIGINT) AS rnk,
         |  a, b, a || b AS merged, pair_n
         |FROM u ORDER BY rnk""".stripMargin
    },

    "txt_bpe_saturation" -> {
      // the txt_bpe_encode chain with source carried through, rolled to
      // the per-source single-symbol share
      val encCtes = (1 to BpeRounds).map(r =>
        s"enc$r AS MATERIALIZED (SELECT orig, ${bpeApplySql("cur", r)} AS cur FROM enc${r - 1})")
        .mkString(",\n")
      s"""WITH toks AS (
         |  SELECT source, regexp_replace(tok, '(.)', '(\\1)', 'g') AS w
         |  FROM (SELECT source, unnest(string_split_regex(text, ' +')) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM toks GROUP BY 1),
         |${(1 to BpeRounds).map(bpeRoundSql).mkString(",\n")},
         |enc0 AS (SELECT w AS orig, w AS cur FROM w0),
         |$encCtes,
         |enc AS (
         |  SELECT orig,
         |    CAST(len(regexp_extract_all(cur, '\\(([^)]*)\\)', 1)) AS BIGINT) AS n_sym
         |  FROM enc$BpeRounds)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  CAST(SUM(CASE WHEN enc.n_sym = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
         |  CAST((SUM(CASE WHEN enc.n_sym = 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS sat_ppm
         |FROM toks JOIN enc ON enc.orig = toks.w
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "txt_bpe_vocab" -> {
      // the txt_bpe training chain replayed verbatim, then the vocab
      // assembly: lexical char ids, then merges offset by |chars|
      val picks = (1 to BpeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, rn, a, b, pair_n FROM top$r")
        .mkString("\nUNION ALL ")
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT regexp_replace(tok, '(.)', '(\\1)', 'g') AS w, CAST(COUNT(*) AS BIGINT) AS wn
         |  FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY 1),
         |${(1 to BpeRounds).map(bpeRoundSql).mkString(",\n")},
         |u AS ($picks),
         |m AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, rn) AS BIGINT) AS rnk,
         |             a || b AS merged FROM u),
         |chars AS (
         |  SELECT DISTINCT token FROM (
         |    SELECT unnest(regexp_extract_all(tok, '(.)', 1)) AS token
         |    FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok FROM documents)
         |    WHERE length(tok) > 0)),
         |cid AS (SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) - 1 AS id
         |        FROM chars),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM chars)
         |SELECT id, token, 'char' AS kind, CAST(0 AS BIGINT) AS rnk FROM cid
         |UNION ALL
         |SELECT nc.n + m.rnk - 1 AS id, m.merged AS token, 'merge' AS kind, m.rnk FROM m, nc
         |ORDER BY id""".stripMargin
    },

    "emb_dispersion" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings),
        |vs AS (
        |  SELECT SUM(sv * sv) AS s_vecsq FROM (
        |    SELECT CAST(SUM(qv) AS HUGEINT) AS sv FROM e GROUP BY i)),
        |nt AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, SUM(nn) AS s_norm FROM (
        |    SELECT vec_id, CAST(SUM(qv * qv) AS HUGEINT) AS nn FROM e GROUP BY vec_id))
        |SELECT n_vecs,
        |  CAST(s_norm // n_vecs AS BIGINT) AS mean_sq_norm,
        |  CAST((2 * (n_vecs * s_norm - s_vecsq)) // (CAST(n_vecs AS HUGEINT) * (n_vecs - 1)) AS BIGINT) AS msd_q
        |FROM nt, vs""".stripMargin,

    "emb_gram" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings),
        |s AS (SELECT i, CAST(SUM(qv) AS BIGINT) AS sx, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1),
        |p AS (
        |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS sxy
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j, p.sxy,
        |  si.sx AS sxi, sj.sx AS sxj, si.n AS n
        |FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j
        |ORDER BY i, j""".stripMargin,

    // z's integral divide truncates toward zero in BOTH engines (same
    // semantics, same sign handling); the mean_z divide uses the
    // subtract-remainder floor form on both sides
    "emb_whiten" ->
      """WITH e AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings),
        |s AS (
        |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(qv) AS BIGINT) AS sx, CAST(SUM(qv * qv) AS BIGINT) AS sxx
        |  FROM e GROUP BY i),
        |st AS (
        |  SELECT i, (sx - ((sx % n + n) % n)) // n AS mean_q, n FROM s),
        |st2 AS (
        |  SELECT st.i, st.mean_q,
        |    GREATEST(1, CAST(FLOOR(sqrt(GREATEST(1, s.sxx // s.n - st.mean_q * st.mean_q))) AS BIGINT)) AS sd
        |  FROM st JOIN s ON s.i = st.i),
        |z AS (
        |  SELECT e.i, st2.mean_q, st2.sd,
        |    ((e.qv - st2.mean_q) * 1000) // st2.sd AS z
        |  FROM e JOIN st2 ON st2.i = e.i)
        |SELECT i, CAST(MAX(mean_q) AS BIGINT) AS mean_q, CAST(MAX(sd) AS BIGINT) AS sd,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST((SUM(z) - ((SUM(z) % COUNT(*) + COUNT(*)) % COUNT(*))) // COUNT(*) AS BIGINT) AS mean_z,
        |  CAST(SUM(z * z) // COUNT(*) AS BIGINT) AS msq_z
        |FROM z GROUP BY i ORDER BY i""".stripMargin,

    "emb_dim_stats" ->
      """WITH e AS (
        |  SELECT generate_subscripts(embedding, 1) AS i,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings),
        |s AS (
        |  SELECT CAST(i AS BIGINT) AS i, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(qv) AS BIGINT) AS sx, CAST(SUM(qv * qv) AS BIGINT) AS sxx,
        |    CAST(MIN(qv) AS BIGINT) AS min_q, CAST(MAX(qv) AS BIGINT) AS max_q,
        |    CAST(SUM(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM e GROUP BY i)
        |SELECT i, n, sx, sxx, min_q, max_q, n_zero,
        |  CAST((sx - ((sx % n + n) % n)) // n AS BIGINT) AS mean_micro,
        |  CAST((sxx - ((sxx % n + n) % n)) // n AS BIGINT) AS msq_micro2
        |FROM s ORDER BY i""".stripMargin,

    "emb_centroid_cos" ->
      """WITH e AS (
        |  SELECT CAST(label AS BIGINT) AS label, generate_subscripts(embedding, 1) AS i,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings),
        |s AS (
        |  SELECT label, i, CAST(SUM(qv) AS BIGINT) AS sx, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT label, i, (sx - ((sx % n + n) % n)) // n AS c FROM s),
        |dt AS (
        |  SELECT a.label AS la, b.label AS lb, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        |  FROM c a JOIN c b ON a.i = b.i AND a.label < b.label GROUP BY 1, 2),
        |nrm AS (SELECT label, CAST(SUM(c * c) AS BIGINT) AS nn FROM c GROUP BY 1)
        |SELECT dt.la, dt.lb,
        |  CAST(FLOOR(dt.dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
        |FROM dt JOIN nrm na ON na.label = dt.la JOIN nrm nb ON nb.label = dt.lb
        |WHERE na.nn > 0 AND nb.nn > 0
        |ORDER BY la, lb""".stripMargin,

    // the same micro-quantization, exact int64 norm, IEEE sqrt floor
    "emb_norm_hist" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nn FROM e GROUP BY 1),
        |nm AS (SELECT CAST(FLOOR(sqrt(nn)) AS BIGINT) AS norm_micro FROM n)
        |SELECT CAST(norm_micro // 100000 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(MIN(norm_micro) AS BIGINT) AS min_norm_micro,
        |  CAST(MAX(norm_micro) AS BIGINT) AS max_norm_micro
        |FROM nm GROUP BY 1 ORDER BY bucket""".stripMargin,

    "emb_pca1" -> {
      def round(r: Int): String =
        s"""w$r AS (
           |  SELECT gm.i, CAST(SUM(gm.sxy * v${r - 1}.v) AS BIGINT) AS w
           |  FROM gm JOIN v${r - 1} ON v${r - 1}.i = gm.j GROUP BY 1),
           |m$r AS (SELECT CAST(MAX(ABS(w)) AS BIGINT) AS m FROM w$r),
           |v$r AS (
           |  SELECT i, CASE WHEN m = 0 THEN 0
           |                 ELSE (w - ((w % q + q) % q)) // q END AS v
           |  FROM (SELECT i, w, m, 1 + (m - 1) // 100 AS q FROM w$r, m$r))""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
         |  FROM embeddings),
         |tri AS (
         |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS sxy
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2),
         |gm AS (SELECT i, j, sxy FROM tri
         |       UNION ALL SELECT j AS i, i AS j, sxy FROM tri WHERE i <> j),
         |v0 AS (SELECT i, CAST(100 AS BIGINT) AS v FROM (SELECT DISTINCT i FROM tri)),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT CAST(v1.i AS BIGINT) AS i, CAST(v1.v AS BIGINT) AS v1,
         |  CAST(v2.v AS BIGINT) AS v2, CAST(v3.v AS BIGINT) AS v3
         |FROM v1 JOIN v2 ON v2.i = v1.i JOIN v3 ON v3.i = v1.i
         |ORDER BY i""".stripMargin
    }
  )
}
