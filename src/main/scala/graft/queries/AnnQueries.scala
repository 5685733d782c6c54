package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** SURVEY §2.F — similarity search over `embeddings` (64-dim float).
  *
  * Vectors are quantized to integer micro-units (floor(x*1e6+0.5)) so the
  * dot products and norms are exact integers: cosine is then a
  * deterministic double on every engine — which is what lets the exact
  * operators (brute-force top-k, banded pair similarity) be oracle-checked
  * value-for-value.
  *
  * Scale shapes: brute-force broadcasts the (small) query set against the
  * corpus — a map-only pass plus one per-query top-k; LSH and IVF both
  * shuffle once on their bucket key and then work within buckets. The
  * approximate variants are deterministic (md5-derived planes / seed
  * centroids), so their bucketing is REPLAYED in the DuckDB oracles and
  * hash-checked like everything else — AnnSpec additionally asserts
  * recall against the exact all-pairs truth. Every operator in this
  * family is value-checked.
  */
object AnnQueries {
  type Q = (SparkSession, String) => DataFrame

  private[queries] val NumQueries = 5 // query set: vec_id < 5
  private[queries] val TopK = 5
  private val Hyperplanes = 8 // LSH signature bits
  private val Dims = 64
  private[queries] val CentroidStep = 100 // IVF seed-step FLOOR: vec_id % step == 0

  /** IVF nlist scale rule: step(n) = max(100, round(sqrt(5n))), so the
    * centroid count n/step tracks ~0.45·sqrt(n) instead of n/100. At a
    * FIXED step, nlist grows linearly and the broadcast
    * nearest-centroid assignment costs n·nlist = n²/step — the
    * quadratic curve the amp=100 probe exists to catch (its embed-LSH
    * twin measured 67 GB of shuffle from the same mistake). sqrt-scaled
    * nlist keeps assignment ~n^1.5 work with a sqrt-sized broadcast.
    * Every driver-testdata sf (500/2000 vectors) lands on the 100
    * floor, so the static SQL oracles (which unroll `% 100`) replay
    * unchanged; bigger corpora get wider steps deterministically.
    */
  private[graft] def centroidStepFor(n: Long): Long =
    // floor(x+0.5), NOT Math.round: written to be the literal twin of
    // the SQL form in [[CentroidStepSql]] (sqrt is correctly rounded
    // per IEEE 754 on both engines, floor/+ are exact, so the twin is
    // constructed parity rather than empirical)
    math.max(CentroidStep.toLong, math.floor(math.sqrt(5.0 * n) + 0.5).toLong)

  /** SQL twin of [[centroidStepFor]] — a scalar subquery over COUNT(*),
    * so every IVF oracle tracks the sqrt scale rule at ANY fixture
    * size instead of silently diverging past the 100-step floor (the
    * dd_simhash sf0.1 lesson: the fixture's 2000 vectors sat on the
    * boundary only by round(sqrt(5·2000)) == 100 exactly)
    */
  private[queries] val CentroidStepSql: String =
    s"(SELECT GREATEST($CentroidStep, CAST(FLOOR(sqrt(5.0 * COUNT(*)) + 0.5) AS BIGINT)) " +
      "FROM embeddings)"

  /** the step the corpus at `d` is (or would be) indexed with — a
    * function of the immutable embeddings table, so appends and every
    * query family agree
    */
  private[graft] def centroidStep(s: SparkSession, d: String): Long =
    centroidStepFor(graft.Tables.t(s, d, "embeddings").count())
  private val KmeansK = 8 // k-means clusters (seeds: vec_id < k)
  private val KmeansIters = 3 // fixed Lloyd rounds (deterministic, SQL-replayable)
  private val RpPlanes = 16 // emb_rp: Johnson–Lindenstrauss projection dims
  private val FpsK = 6 // emb_fps: greedy k-center picks (seed + 5 rounds)
  private val RangeTau = 250000L // ann_range: cosine radius (0.25 in ppm)
  private val MmrPool = 20 // emb_mmr: relevance candidates re-ranked per query
  private val MmrK = 5 // emb_mmr: diversified picks emitted per query

  private def quantized(s: SparkSession, d: String): DataFrame =
    graft.operators.VectorOps.quantized(s, d)

  /** cosine-rankable corpus: quantized minus zero-norm rows — a zero
    * vector has no direction, so no cosine relation (brute, LSH probe,
    * IVF assignment) can rank it; excluded at the source under the same
    * `nn > 0` rule emb_mahal / dd_embed already apply, and every
    * affected oracle mirrors the filter. */
  private def unit(s: SparkSession, d: String): DataFrame =
    quantized(s, d).filter(col("nn") > 0)

  /** emb_knn's exact edge definition — each vector's top-5
    * LSH-discovered neighbors by (cos_ppm desc, neighbor) — shared by
    * emb_knn, emb_lof and ann_reciprocal so the three can never drift
    * on k, tie-break or candidate source. Returns (vec_id, neighbor,
    * cos_ppm, rnk); [[KnnEdgeCtes]] is its SQL twin.
    * (emb_hard_negatives is NOT this relation: it ranks after its
    * label filter.)
    */
  private def knnEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = CorpusLshIndex.embedPairs(s, d)
    val sym = pairs.select($"vec_a".as("vec_id"), $"vec_b".as("neighbor"), $"cos_ppm")
      .unionByName(pairs.select($"vec_b".as("vec_id"), $"vec_a".as("neighbor"), $"cos_ppm"))
    val w = Window.partitionBy($"vec_id").orderBy($"cos_ppm".desc, $"neighbor")
    sym.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 5)
  }

  /** SQL twin of [[knnEdges]]: banding replay → symmetrized pairs →
    * per-vector top-5 as the `knn5(vec_id, neighbor, cos_ppm, rnk)` CTE
    */
  private lazy val KnnEdgeCtes: String =
    s"""${DedupQueries.EmbedPairCtes},
       |sym AS (
       |  SELECT va AS vec_id, vb AS neighbor, cos_ppm FROM epairs
       |  UNION ALL SELECT vb, va, cos_ppm FROM epairs),
       |knn5 AS (
       |  SELECT vec_id, neighbor, cos_ppm, rnk FROM (
       |    SELECT vec_id, neighbor, cos_ppm,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_ppm DESC, neighbor) AS rnk
       |    FROM sym) WHERE rnk <= 5)""".stripMargin

  private val dotExpr = graft.operators.VectorOps.dotExpr
  import graft.operators.VectorOps.{cosPpm, dotCol}

  /** The exact cosine top-[[TopK]] every ANN search ends in: each candidate
    * pair of `cand` (query `qid`, `qa`, `na`; corpus `cid`, `qb`, `nb`)
    * other than a query with itself is scored `cos_ppm`
    * ([[graft.operators.VectorOps.cosPpm]]), ranked per `partitionCols` by
    * (`cos_ppm` desc, `cid`) and cut at TopK. Returns (`partitionCols`…,
    * `rnk`, `cid`, `cos_ppm`), unordered.
    */
  private def cosineTopk(cand: DataFrame, partitionCols: String*): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col("cos_ppm").desc, col("cid"))
    cand.filter(col("cid") =!= col("qid"))
      .withColumn("dot", dotCol(col("qa"), col("qb")))
      .withColumn("cos_ppm", cosPpm(col("dot"), col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopK)
      .select((partitionCols ++ Seq("rnk", "cid", "cos_ppm")).map(col): _*)
  }

  /** exact brute-force cosine top-k: broadcast the query set, one narrow
    * pass over the corpus, per-query top-k window (shared with
    * ann_recall_eval as the ground-truth side)
    */
  private def bruteTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = unit(s, d)
    val qs = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"))
    val corpus = e.select($"vec_id".as("cid"), $"q".as("qb"), $"nn".as("nb"))
    cosineTopk(corpus.crossJoin(broadcast(qs)), "qid").orderBy($"qid", $"rnk")
  }

  /** LSH (random-hyperplane) bucketed ANN top-k: signature = sign bits
    * of the 8 plane dot products; multi-probe — each query also probes
    * the 8 buckets one bit-flip away, trading 9 broadcast probes for
    * recall (same trick scales to 100 TB: probes multiply the tiny query
    * side, never the corpus). Shared with ann_recall_eval.
    */
  private def lshTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = graft.operators.VectorOps.withHyperplaneSig(unit(s, d), Hyperplanes, Dims)
    val qs = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"), $"sig")
      .withColumn("probe", explode(expr(
        s"concat(array(sig), transform(sequence(0, ${Hyperplanes - 1}), j -> sig ^ shiftleft(1L, j)))")))
      .drop("sig")
    val corpus = e.select($"vec_id".as("cid"), $"q".as("qb"), $"nn".as("nb"), $"sig".as("probe"))
    cosineTopk(corpus.join(broadcast(qs), Seq("probe")), "qid").orderBy($"qid", $"rnk")
  }

  /** The PQ scan of ann_pq_topk and ann_ivf_pq (FAISS IndexPQ's ADC):
    * 8 subspaces of 8 dims, codewords = the subvectors of vec_id < 16 (a
    * deterministic codebook, no training); each corpus vector encoded to
    * its nearest codeword per subspace (ties to the smaller code), a
    * per-query LUT of subvector-to-codeword distances, the ADC shortlist
    * (top 5·k by summed LUT distance, ties by cid) and an exact L2
    * re-rank of the shortlist on the quantized vectors. `cand` (`qid`,
    * `cid`) restricts the ADC scan to those pairs, cell restriction
    * first (the IVF probe); `None` scans every corpus vector but the
    * query itself. Returns (qid, rnk, cid, dist) ordered.
    */
  private def pqTopk(s: SparkSession, d: String, cand: Option[DataFrame]): DataFrame = {
    import s.implicits._
    val (m, subDim, nCodes, shortlist) = (8, 8, 16, 5 * TopK)
    val e = quantized(s, d)
    val subs = e.select($"vec_id", explode(expr(
      s"transform(sequence(0, ${m - 1}), m -> struct(m AS sub, slice(q, m * $subDim + 1, $subDim) AS sv))")).as("x"))
      .select($"vec_id", $"x.sub".as("sub"), $"x.sv".as("sv"))
    val codebook = subs.filter($"vec_id" < nCodes)
      .select($"vec_id".as("code"), $"sub", $"sv".as("cv"))
    def sqDist = expr("aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
    val codes = subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("dist", sqDist)
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"dist", $"code")).as("mn"))
      .select($"vec_id".as("cid"), $"sub", $"mn.code".as("code"))
    val lut = subs.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("qid"), $"sub", $"sv")
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("qdist", sqDist)
      .select($"qid", $"sub", $"code", $"qdist")
    val scanned = cand.fold(codes.join(broadcast(lut), Seq("sub", "code")).filter($"cid" =!= $"qid"))(
      c => codes.join(c, Seq("cid")).join(broadcast(lut), Seq("qid", "sub", "code")))
    val wAdc = Window.partitionBy($"qid").orderBy($"adist".asc, $"cid")
    val short = scanned
      .groupBy($"qid", $"cid")
      .agg(sum($"qdist").as("adist"))
      .withColumn("srnk", row_number().over(wAdc))
      .filter($"srnk" <= shortlist)
      .select($"qid", $"cid")
    // exact re-rank of the shortlist on the original quantized vectors
    val wExact = Window.partitionBy($"qid").orderBy($"dist".asc, $"cid")
    broadcast(short)
      .join(e.select($"vec_id".as("cid"), $"q".as("qb")), Seq("cid"))
      .join(broadcast(e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"q".as("qa"))), Seq("qid"))
      .withColumn("dist", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .withColumn("rnk", row_number().over(wExact).cast("long"))
      .filter($"rnk" <= TopK)
      .select($"qid", $"rnk", $"cid", $"dist")
      .orderBy($"qid", $"rnk")
  }

  val queries: Map[String, Q] = Map(
    // exact brute-force cosine top-k: broadcast the query set, one narrow
    // pass over the corpus, per-query top-k window
    "ann_brute_topk" -> { (s, d) => bruteTopk(s, d) },

    // LSH (random-hyperplane) bucketed ANN: signature = sign bits of the
    // 8 plane dot products; multi-probe — each query also probes the 8
    // buckets one bit-flip away, trading 9 broadcast probes for recall
    // (same trick scales to 100 TB: probes multiply the tiny query side,
    // never the corpus). Oracle: full signature replay; recall in AnnSpec.
    "ann_lsh_topk" -> { (s, d) => lshTopk(s, d) },

    // in-engine recall@k evaluation of the LSH index against the exact
    // brute-force truth — the eval harness every ANN deployment needs
    // before trusting an index at scale. Both sides are the shared
    // deterministic top-k builders, the comparison one k·|queries|-row
    // LEFT join; fully value-checked (both pipelines replay in the
    // oracle, so recall itself is an exact integer, not a spec bound).
    "ann_recall_eval" -> { (s, d) =>
      import s.implicits._
      val b = bruteTopk(s, d).select($"qid", $"cid")
      val l = lshTopk(s, d).select($"qid", $"cid").withColumn("hit", lit(1L))
      b.join(l, Seq("qid", "cid"), "left")
        .groupBy($"qid")
        .agg(sum(coalesce($"hit", lit(0L))).as("n_hits"))
        .select($"qid", $"n_hits",
          expr(s"(n_hits * 1000000) div $TopK").as("recall_ppm"))
        .orderBy($"qid")
    },

    // IVF nprobe recall curve — the cost/recall tuning table an IVF
    // deployment reads before fixing its probe count: recall@k vs the
    // exact brute truth at nprobe = 1, 2, 4. Like ann_recall_eval, both
    // pipelines are deterministic and replay in the oracle — the curve
    // is exact integers, not a spec bound; the per-query monotonicity
    // law recall(4) >= recall(2) >= recall(1) is additionally asserted
    // in RecallCurveSpec.
    // Scale shape (r14): the corpus-side cell assignment comes from the
    // materialized [[EmbIvfIndex]] posting lists (same frozen seeds and
    // tie-break — IvfIndexSpec proves the index assignment row-identical
    // to the inline rule ann_ivf_topk keeps), PARTITION-PRUNED to the
    // ≤|queries|·4 probed cells, so the query never recomputes or even
    // scans the full corpus assignment; only the 5 query vectors are
    // ranked against the codebook. The 1/2/4 sweep is ONE pass — nprobe
    // exploded into the probe set, per-(nprobe,qid) top-k in a single
    // join + window + agg instead of three (58 → 28 plan Exchanges).
    // The remaining corpus pass is the exact brute-force truth itself.
    "ann_ivf_recall" -> { (s, d) =>
      import s.implicits._
      val qasgn = EmbIvfIndex.rank(unit(s, d).filter($"vec_id" < NumQueries), EmbIvfIndex.cents(s, d), 4)
        .select($"vec_id", $"q", $"nn", $"cent_id", $"crnk")
        // ranked once: probe list + pruning ids + sweep points. r15
        // (ADVICE): localCheckpoint, NOT persist — the construct-time
        // collect below forces materialization either way, and composed
        // callers (ann_operating_point re-invokes this builder) would
        // leak one pinned cache entry per invocation; checkpoint blocks
        // are context-cleaned when the result drops (the q46 contract).
        .localCheckpoint(true)
      val cells = EmbIvfIndex.probedCells(s, d, qasgn)
      val truth = bruteTopk(s, d).select($"qid", $"cid").localCheckpoint(true)
      val probes = qasgn
        .withColumn("nprobe", explode(expr("array(1L, 2L, 4L)")))
        .filter($"crnk" <= $"nprobe")
        .select($"nprobe", $"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"), $"cent_id")
      val top = cosineTopk(cells.join(broadcast(probes), Seq("cent_id")), "nprobe", "qid")
        .select($"nprobe", $"qid", $"cid").withColumn("hit", lit(1L))
      truth.withColumn("nprobe", explode(expr("array(1L, 2L, 4L)")))
        .join(top, Seq("nprobe", "qid", "cid"), "left")
        .groupBy($"nprobe", $"qid")
        .agg(sum(coalesce($"hit", lit(0L))).as("n_hits"))
        .select($"nprobe", $"qid", $"n_hits",
          expr(s"(n_hits * 1000000) div $TopK").as("recall_ppm"))
        .orderBy($"nprobe", $"qid")
    },

    // IVF-style ANN: cells = nearest of the deterministic seed centroids
    // (vec_id % 100 == 0); queries probe their 2 nearest cells. Oracle:
    // full assignment replay (deterministic seeds + tie-breaks).
    "ann_ivf_topk" -> { (s, d) =>
      import s.implicits._
      val e = unit(s, d)
      val cents = e.filter($"vec_id" % centroidStep(s, d) === 0)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"nn".as("nc"))
      val cells = EmbIvfIndex.rank(e, cents, 1)
        .select($"vec_id".as("cid"), $"q".as("qb"), $"nn".as("nb"), $"cent_id")
      val probes = EmbIvfIndex.rank(e.filter($"vec_id" < NumQueries), cents, 2)
        .select($"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"), $"cent_id")
      cosineTopk(cells.join(broadcast(probes), Seq("cent_id")), "qid").orderBy($"qid", $"rnk")
    },

    // the SAME IVF semantics served from the materialized
    // [[EmbIvfIndex]] — the deploy shape: frozen codebook broadcast to
    // rank each query's cells, the ≤|queries|·nprobe probed cell ids
    // collected (bounded by construction — the partition-pruning driver
    // list every IVF serving system builds), and the posting-list scan
    // PARTITION-PRUNED to exactly those cells' directories — at 100 TB
    // the scan touches nprobe/|cells| of the corpus, not the corpus.
    // Output is row-identical to ann_ivf_topk (same seeds, same
    // assignment, same ranking — IvfIndexSpec proves equality AND the
    // pruned file count), so it shares ann_ivf_topk's oracle verbatim.
    "ann_ivf_index" -> { (s, d) =>
      import s.implicits._
      val probes = EmbIvfIndex.rank(unit(s, d).filter($"vec_id" < NumQueries), EmbIvfIndex.cents(s, d), 2)
        .select($"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"), $"cent_id")
      cosineTopk(EmbIvfIndex.probedCells(s, d, probes).join(broadcast(probes), Seq("cent_id")), "qid")
        .orderBy($"qid", $"rnk")
    },

    // exact pairwise cosine above threshold within an id-band, aggregated
    // per vector (bucketized equi join — the 100 TB-safe shape; VectorOps)
    "ann_pair_sim" -> { (s, d) =>
      import s.implicits._
      graft.operators.VectorOps.bandedCosinePairs(s, d, 100)
        .filter($"cos_ppm" >= 250000)
        .groupBy($"va".as("vec_id"))
        .agg(count(lit(1)).as("n_similar"), max($"cos_ppm").as("max_cos_ppm"))
        .orderBy($"vec_id")
    },

    // k-means (Lloyd) over the quantized vectors — deterministic end to
    // end so the full iteration chain replays in SQL: seeds = the first
    // KmeansK vec_ids, exactly KmeansIters assignment/update rounds,
    // integer arithmetic throughout (squared euclidean distance on
    // quantized ints; centroid update = per-dimension FLOOR division
    // implemented as (s - pmod(s, n)) div n: BOTH Spark's `div` and
    // DuckDB's `//` truncate toward zero, so subtracting the positive
    // remainder first makes the division exact — hence floor — in both
    // engines, identical on negative sums). Scale shape: each round broadcasts the k-row centroid
    // relation against the corpus (map-side assignment — the BNLJ is the
    // deliberate tiny-side pattern, same as ann_ivf_topk), then one
    // partial-agg shuffle of 64 longs per cluster for the update. Output:
    // per-cluster membership + inertia of the final assignment.
    "emb_kmeans" -> { (s, d) =>
      import s.implicits._
      val e = quantized(s, d).select($"vec_id", $"q").persist()
      def assigned(cents: DataFrame): DataFrame =
        e.join(broadcast(cents), lit(true))
          // native L2 kernel directly: round-2+ centroid arrays come
          // from collect_list+transform whose TYPE admits null elements,
          // so the optimizer rewrite can't prove the fast form — the
          // checked kernel is still one generated loop
          .withColumn("dist", graft.operators.VectorOps.l2Col($"q", $"cq"))
          .groupBy($"vec_id")
          .agg(min(struct($"dist", $"cid", $"q")).as("m"))
          .select($"vec_id", $"m.cid".as("cid"), $"m.dist".as("dist"), $"m.q".as("q"))
      def updated(asg: DataFrame): DataFrame =
        asg.select($"cid", posexplode($"q"))
          .toDF("cid", "i", "x")
          .groupBy($"cid", $"i")
          .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
          .withColumn("c", expr("(sx - pmod(sx, n)) div n"))
          .groupBy($"cid")
          .agg(expr("transform(array_sort(collect_list(struct(i, c))), p -> p.c)").as("cq"))
      var cents = e.filter($"vec_id" < KmeansK).select($"vec_id".as("cid"), $"q".as("cq"))
      var asg: DataFrame = assigned(cents)
      for (_ <- 2 to KmeansIters) {
        cents = updated(asg)
        asg = assigned(cents)
      }
      asg.groupBy($"cid")
        .agg(count(lit(1)).as("n_members"), sum($"dist").as("inertia"))
        .orderBy($"cid")
    },

    // centroid-distance outlier pruning (the SemDeDup/SSL-prototypes
    // data-pruning signal): each vector's squared distance to its nearest
    // seed centroid; the 20 farthest vectors are the prune candidates a
    // curation pass reviews. Scale shape: one broadcast of the k-row
    // centroid relation (same deliberate tiny-side BNLJ as emb_kmeans),
    // one partial-agg argmin, and a TakeOrdered top-k — never a global
    // window or sort of the corpus.
    "emb_outliers" -> { (s, d) =>
      import s.implicits._
      val e = quantized(s, d)
      val cents = e.filter($"vec_id" < KmeansK).select($"vec_id".as("cid"), $"q".as("cq"))
      e.join(broadcast(cents), lit(true))
        .withColumn("dist", expr(
          "aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
        .groupBy($"vec_id")
        .agg(min(struct($"dist", $"cid")).as("m"))
        .select($"vec_id", $"m.cid".as("cid"), $"m.dist".as("dist"))
        .orderBy($"dist".desc, $"vec_id")
        .limit(20)
    },

    // cluster-balanced sampling (the diversity-preserving corpus
    // subsetting step: cap every embedding cluster at the same budget so
    // the head cluster can't dominate the sample): nearest-seed-centroid
    // assignment (emb_outliers' broadcast argmin), then the cap smallest
    // (md5, vec_id) per cluster with cap = total div 2k — data-derived,
    // so the budget tracks corpus size. Selection behind the q35
    // Chernoff threshold pre-filter: md5 orders uniformly, so rows whose
    // first 16 hash bits clear 8x the cap-th position can never be
    // selected — the per-cluster ranking window carries O(cap) rows, not
    // the corpus (at 100 TB the k-partition window funnel this would
    // otherwise be is the difference between megabytes and the dataset).
    // Exactness is gated, not assumed: two k-row scalar aggregates
    // (k = 8 clusters, bounded by construction) check each cluster has
    // >= min(cap, n_c) survivors and fall back to the unfiltered path.
    "samp_cluster" -> { (s, d) =>
      import s.implicits._
      val e = quantized(s, d).select($"vec_id", $"q")
      val cents = e.filter($"vec_id" < KmeansK).select($"vec_id".as("cid"), $"q".as("cq"))
      val asg = e.join(broadcast(cents), lit(true))
        .withColumn("dist", graft.operators.VectorOps.l2Col($"q", $"cq"))
        .groupBy($"vec_id").agg(min(struct($"dist", $"cid")).as("m"))
        .select($"vec_id", $"m.cid".as("cid"))
        .withColumn("h", md5($"vec_id".cast("string")))
        // assignment feeds the scalar guards, the pre-filter AND the
        // membership report; localCheckpoint so no cache-manager residue
        .localCheckpoint(true)
      val byCid = asg.groupBy($"cid").agg(count(lit(1)).as("nc"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val total = byCid.map(_._2).sum
      val cap = math.max(1L, total / (2L * KmeansK))
      val hSpace16 = 65536L
      val thr = byCid.map { case (c, n) =>
        c -> math.min(hSpace16, (8L * cap * hSpace16) / math.max(1L, n) + 1L) }.toMap
      val thrCol = byCid.foldLeft(lit(hSpace16)) { case (acc, (c, _)) =>
        when($"cid" === c, lit(thr(c))).otherwise(acc) }
      val pre = asg.filter(
        expr("CAST(conv(substring(h, 1, 4), 16, 10) AS BIGINT)") < thrCol)
      val preOk = pre.groupBy($"cid").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val enough = byCid.forall { case (c, n) =>
        preOk.getOrElse(c, 0L) >= math.min(cap, n) }
      val base = if (enough) pre else asg
      val w = Window.partitionBy($"cid").orderBy($"hv", $"vec_id")
      val kept = base
        .withColumn("hv", expr("CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= cap)
      asg.groupBy($"cid").agg(count(lit(1)).as("n_members"))
        .join(kept.groupBy($"cid").agg(count(lit(1)).as("n_kept"),
          min($"vec_id").as("min_kept"), max($"vec_id").as("max_kept")), Seq("cid"))
        .select($"cid", $"n_members", $"n_kept", $"min_kept", $"max_kept")
        .orderBy($"cid")
    },

    // PQ codebook distortion audit (the index-quality monitor a PQ
    // deployment watches for drift: if the corpus distribution moves
    // away from the codebook, ADC ranking quality silently decays
    // before recall evals catch it): per subspace, the floored mean /
    // max / exact-hit-count of the squared encode error over the whole
    // corpus. Same deterministic codebook as ann_pq_topk (first 16
    // vectors' subvectors), so the audit replays exactly in the oracle.
    // Scale shape: one broadcast of the 128-row codebook, per-(vector,
    // subspace) argmin partial agg, then an 8-row report; the error
    // accumulator runs in DECIMAL(38,0) (HUGEINT oracle-side) — a
    // cluster-scale corpus overflows int64 on the sum.
    "emb_pq_distortion" -> { (s, d) =>
      import s.implicits._
      val (m, subDim, nCodes) = (8, 8, 16)
      val e = quantized(s, d)
      val subs = e.select($"vec_id", explode(expr(
        s"transform(sequence(0, ${m - 1}), m -> struct(m AS sub, slice(q, m * $subDim + 1, $subDim) AS sv))")).as("x"))
        .select($"vec_id", $"x.sub".as("sub"), $"x.sv".as("sv"))
      val codebook = subs.filter($"vec_id" < nCodes)
        .select($"vec_id".as("code"), $"sub", $"sv".as("cv"))
      subs.join(broadcast(codebook), Seq("sub"))
        .withColumn("dist", expr(
          "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
        .groupBy($"vec_id", $"sub")
        .agg(min($"dist").as("err"))
        .groupBy($"sub".cast("long").as("sub"))
        .agg(count(lit(1)).as("n_vecs"),
          expr("CAST(sum(CAST(err AS DECIMAL(38,0))) div count(1) AS BIGINT)").as("mean_err"),
          max($"err").as("max_err"),
          sum(when($"err" === 0L, 1L).otherwise(0L)).as("n_exact"))
        .orderBy($"sub")
    },

    // PQ code-USAGE balance per subspace — the codebook-health audit
    // beside emb_pq_distortion's error view: distortion says how far
    // vectors sit from their codeword, this says whether the 16 codes
    // are actually SHARED (dead codes waste index bits; a dominant code
    // collapses ADC resolution — the k-means-retrain trigger FAISS
    // monitors as imbalance). Per subspace: codes used, top-code share
    // ppm, usage entropy in exact integer micro-nats (ln_micro) and its
    // ppm of the ln 16 ceiling. Same deterministic codebook as
    // ann_pq_topk, same argmin tie-break (dist, code), so the oracle
    // replays the encode bit-for-bit. Scale shape: broadcast 128-row
    // codebook, per-(vector, subspace) argmin partial agg, ≤8×16-row
    // usage relation, 8-row report.
    "emb_pq_code_balance" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val (m, subDim, nCodes) = (8, 8, 16)
      val e = quantized(s, d)
      val subs = e.select($"vec_id", explode(expr(
        s"transform(sequence(0, ${m - 1}), m -> struct(m AS sub, slice(q, m * $subDim + 1, $subDim) AS sv))")).as("x"))
        .select($"vec_id", $"x.sub".as("sub"), $"x.sv".as("sv"))
      val codebook = subs.filter($"vec_id" < nCodes)
        .select($"vec_id".as("code"), $"sub", $"sv".as("cv"))
      val usage = subs.join(broadcast(codebook), Seq("sub"))
        .withColumn("dist", expr(
          "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
        .groupBy($"vec_id", $"sub")
        .agg(min(struct($"dist", $"code")).as("mn"))
        .groupBy($"sub".cast("long").as("sub"), $"mn.code".as("code"))
        .agg(count(lit(1)).as("n"))
      usage
        .groupBy($"sub")
        .agg(count(lit(1)).as("n_used"), sum($"n").as("n_vecs"), max($"n").as("max_n"),
          sum($"n".cast(dec) * expr("ln_micro(n)")).as("sln"))
        .withColumn("entropy_micro",
          expr("ln_micro(n_vecs) - (sln div CAST(n_vecs AS DECIMAL(38,0)))").cast("long"))
        .withColumn("top_share_ppm", expr("(max_n * 1000000) div n_vecs"))
        .withColumn("balance_ppm",
          expr(s"(entropy_micro * 1000000) div ${graft.functions.FixedLnOps.lnMicro(nCodes)}"))
        .select($"sub", $"n_used", $"n_vecs", $"max_n", $"top_share_ppm",
          $"entropy_micro", $"balance_ppm")
        .orderBy($"sub")
    },

    // label-centroid STABILITY across corpus halves — the drift monitor
    // a centroid-tagging deployment watches (emb_centroid_confusion
    // asks "do centroids separate labels"; this asks "is the centroid
    // itself an artifact of the sample?" — a label whose even-half and
    // odd-half centroids diverge is too sparse or too mixed to tag
    // with): per label, member counts of each half and the exact
    // integer cosine between the two half-centroids (emb_kmeans'
    // floor-mean update per (label, half, dim), so the whole audit
    // replays in SQL). Scale shape: one partial agg onto the
    // (labels × 2 × 64) key space, a label-keyed 64-row join, |labels|
    // output.
    "emb_centroid_drift" -> { (s, d) =>
      import s.implicits._
      val lab = t(s, d, "embeddings").select($"vec_id", $"label".cast("long").as("label"))
      val cent = quantized(s, d).join(lab, Seq("vec_id"))
        .withColumn("half", pmod($"vec_id", lit(2L)))
        .select($"label", $"half", $"vec_id", posexplode($"q").as(Seq("i", "v")))
        .groupBy($"label", $"half", $"i")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .withColumn("c", expr("(sv - pmod(sv, n)) div n"))
      val a = cent.filter($"half" === 0)
        .select($"label", $"i", $"c".as("ca"), $"n".as("n_even"))
      val b = cent.filter($"half" === 1)
        .select($"label", $"i", $"c".as("cb"), $"n".as("n_odd"))
      // full-outer half-join: a label whose members all land in ONE
      // vec_id parity half must surface as a row with NULL cos_ppm
      // (maximally unstable), never vanish via an inner join; and an
      // all-zero half-centroid (na/nb = 0) gets an explicit NULL
      // instead of engine-dependent 0/0 behavior
      a.join(b, Seq("label", "i"), "full_outer")
        .groupBy($"label")
        .agg(coalesce(max($"n_even"), lit(0L)).as("n_even"),
          coalesce(max($"n_odd"), lit(0L)).as("n_odd"),
          sum($"ca" * $"cb").as("dot"),
          sum($"ca" * $"ca").as("na"), sum($"cb" * $"cb").as("nb"))
        .select($"label", $"n_even", $"n_odd",
          when($"na".isNull || $"nb".isNull || $"na" === 0 || $"nb" === 0,
            lit(null).cast("long"))
            .otherwise(cosPpm($"dot", $"na", $"nb")).as("cos_ppm"))
        .orderBy($"label")
    },

    // label-balance audit — the class-imbalance one-number every
    // supervised/eval split should report (emb_label_stats lists the
    // per-label rows; this scores the DISTRIBUTION: entropy vs the
    // ln|labels| ceiling, e^H effective classes — the rd_group_entropy
    // pattern on the label axis): exact integer micro-nats via
    // ln_micro, DECIMAL(38,0) sums, FixedLnSql replay. One |labels|
    // partial agg, 1-row report.
    "emb_label_balance" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      t(s, d, "embeddings")
        .groupBy($"label".cast("long").as("label")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_labels"), sum($"n").as("n_vecs"),
          max($"n").as("max_label"),
          sum($"n".cast(dec) * expr("ln_micro(n)")).as("sln"))
        .withColumn("entropy_micro",
          expr("ln_micro(n_vecs) - (sln div CAST(n_vecs AS DECIMAL(38,0)))").cast("long"))
        .withColumn("balance_ppm",
          when($"n_labels" === 1, 0L)
            .otherwise(expr("(entropy_micro * 1000000) div ln_micro(n_labels)")))
        .select($"n_labels", $"n_vecs", $"max_label", $"entropy_micro", $"balance_ppm")
    },

    // label-centroid tagging audit (the classifier-free domain tagger a
    // curation pipeline runs when real labels exist only for a slice:
    // assign every vector to its nearest LABEL centroid and confront
    // the assignment with the true label as a confusion matrix — a
    // diagonal-heavy matrix says centroid tagging is good enough to
    // label the unlabeled remainder; confused label pairs say where it
    // is not). Centroids are exact integer floor-means per (label, dim)
    // — the emb_kmeans update formula — so the whole matrix replays in
    // the oracle. Scale shape: one partial agg onto the (labels x 64)
    // key space, one broadcast of the |labels|-row centroid relation,
    // one argmin partial agg, then a tiny-key matrix agg.
    "emb_centroid_confusion" -> { (s, d) =>
      import s.implicits._
      val e = quantized(s, d)
      val lab = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"))
      val el = e.join(lab, Seq("vec_id"))
        .select($"vec_id", $"label", $"q")
        .persist() // feeds the centroid build AND the assignment pass
      val cents = el.select($"label".as("alabel"), posexplode($"q"))
        .toDF("alabel", "i", "x")
        .groupBy($"alabel", $"i")
        .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
        .withColumn("c", expr("(sx - pmod(sx, n)) div n"))
        .groupBy($"alabel")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), p -> p.c)").as("cq"))
      el.join(broadcast(cents), lit(true))
        .withColumn("dist", graft.operators.VectorOps.l2Col($"q", $"cq"))
        .groupBy($"vec_id", $"label")
        .agg(min(struct($"dist", $"alabel")).as("m"))
        .select($"label".as("true_label"), $"m.alabel".as("assigned_label"))
        .groupBy($"true_label", $"assigned_label")
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy($"true_label", $"assigned_label")
    },

    // cross-label near-dup audit (split/domain contamination at the
    // embedding level: near-identical vectors straddling a label
    // boundary are exactly how eval answers leak into training data):
    // the materialized LSH near-dup pairs joined to their labels, kept
    // where the labels differ, aggregated per canonicalized label pair.
    // Scale shape: reads the once-built CorpusLshIndex pair relation —
    // no new pair generation — plus two equi joins on vec_id and a
    // partial agg on the tiny label-pair key space.
    "emb_cross_label" -> { (s, d) =>
      import s.implicits._
      val lab = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"))
      DedupQueries.embedLshPairs(s, d)
        .join(lab.select($"vec_id".as("vec_a"), $"label".as("la")), Seq("vec_a"))
        .join(lab.select($"vec_id".as("vec_b"), $"label".as("lb")), Seq("vec_b"))
        .filter($"la" =!= $"lb")
        .select(least($"la", $"lb").as("label_lo"),
          greatest($"la", $"lb").as("label_hi"), $"cos_ppm")
        .groupBy($"label_lo", $"label_hi")
        .agg(count(lit(1)).as("n_pairs"), max($"cos_ppm").as("max_cos_ppm"))
        .orderBy($"label_lo", $"label_hi")
    },

    // product-quantization ANN over the whole corpus ([[pqTopk]]). At
    // corpus scale the encode is one shuffle of 8 ints per vector, the
    // ADC scan shuffles O(vectors x queries) tiny rows with map-side
    // combine, and the re-rank is a broadcast of the tiny shortlist.
    // Oracle: full replay; recall + shortlist exactness additionally
    // asserted in AnnSpec.
    "ann_pq_topk" -> { (s, d) => pqTopk(s, d, None) },

    // IVF-PQ composed index scan — the production ANN shape (FAISS
    // IndexIVFPQ): the coarse quantizer (ann_ivf_topk's deterministic
    // cells, cosine assignment, nprobe=2) restricts the search to the
    // probed cells' members FIRST, then PQ asymmetric-distance ranking
    // (ann_pq_topk's 8×8 codes + query LUT) runs only inside those
    // cells, and full-precision math touches nothing but the ≤5k-row
    // shortlist in the exact re-rank. Scale shape — why this beats
    // either index alone at 100 TB: the ADC join's corpus side is cut
    // to the probed cells BEFORE any distance work (codes ⋈ candidate
    // cids, AQE-broadcastable candidate list), the LUT is
    // |queries|·8·16 rows (always broadcast), and the shuffle carries
    // (qid, cid, partial adist) triples with map-side combine — never
    // vectors. Fully deterministic (same seeds as the parents), so the
    // whole composition replays in the oracle.
    "ann_ivf_pq" -> { (s, d) =>
      import s.implicits._
      // r14: the coarse assignment is served from the materialized
      // [[EmbIvfIndex]] posting lists (same frozen seeds + tie-break;
      // IvfIndexSpec pins index == inline assignment), so the composed
      // scan never recomputes the corpus×codebook ranking — only the
      // |queries| probe vectors are ranked. The cells read is pruned to
      // the probed cells' partitions and to (cid, cent_id).
      val probes = EmbIvfIndex.rank(unit(s, d).filter($"vec_id" < NumQueries), EmbIvfIndex.cents(s, d), 2)
        .select($"vec_id".as("qid"), $"cent_id")
        // ranked once, read twice (pruning ids + the candidate join);
        // blocks context-cleaned when the result drops
        .localCheckpoint(true)
      val cand = EmbIvfIndex.probedCells(s, d, probes).select($"cid", $"cent_id")
        .join(broadcast(probes), Seq("cent_id"))
        .filter($"cid" =!= $"qid")
        .select($"qid", $"cid")
      pqTopk(s, d, Some(cand))
    },

    // per-label embedding cluster statistics — the k-means E-step summary
    // a label-balance / cluster-quality audit runs over training vectors:
    // per-dimension component sums (= unnormalized centroid), squared
    // centroid norm, and total vector energy, all as EXACT integers over
    // the quantized vectors (sum-of-sums is associative, so partial aggs
    // shuffle 64 longs per label regardless of corpus size)
    "emb_label_stats" -> { (s, d) =>
      import s.implicits._
      val lab = t(s, d, "embeddings").select($"vec_id", $"label".cast("long").as("label"))
      val qe = quantized(s, d).join(lab, Seq("vec_id"))
      val perDim = qe.select($"label", posexplode($"q"))
        .toDF("label", "dim", "qv")
        .groupBy($"label", $"dim")
        .agg(sum($"qv").as("sd"))
      val cent = perDim.groupBy($"label").agg(sum($"sd" * $"sd").as("centroid_dot"))
      val norms = qe.groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"), sum($"nn").as("sum_norm2"))
      norms.join(cent, Seq("label"))
        .select($"label", $"n_vecs", $"sum_norm2", $"centroid_dot")
        .orderBy($"label")
    },

    // per-label diagonal-Mahalanobis OOD scoring (the label-noise /
    // out-of-distribution audit a labeled embedding corpus runs before
    // training: a vector far from its OWN label's distribution in
    // variance-normalized units is a suspect label or an outlier —
    // complements emb_outliers, which measures unnormalized distance to
    // global seed centroids, and emb_cross_label, which compares AGAINST
    // other labels). Integer-exact: per-(label, dim) floor-div mean and
    // variance (the kmeans pmod/div trick, so negative sums floor
    // identically in both engines), z²-term = ((q−mean)²·10³) div var,
    // summed per vector → z2_milli; top-20 most OOD. Scale shape: the
    // stats relation is |labels|·d rows regardless of corpus size
    // (broadcast), scoring is one narrow pass + a vec_id partial agg,
    // top-20 via TakeOrdered — never a global sort.
    "emb_mahal" -> { (s, d) =>
      import s.implicits._
      val lab = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"))
      val qe = quantized(s, d).join(lab, Seq("vec_id"))
        .select($"vec_id", $"label", posexplode($"q"))
        .toDF("vec_id", "label", "i0", "qv")
        .persist() // feeds the stats build AND the scoring pass
      val stats = qe.groupBy($"label", $"i0")
        .agg(count(lit(1)).as("n"), sum($"qv").as("sx"),
          sum($"qv" * $"qv").as("sxx"))
        .withColumn("mean_q", expr("(sx - pmod(sx, n)) div n"))
        .withColumn("msq", expr("(sxx - pmod(sxx, n)) div n"))
        .withColumn("var_q", expr("greatest(1L, msq - mean_q * mean_q)"))
        .select($"label", $"i0", $"mean_q", $"var_q")
      qe.join(broadcast(stats), Seq("label", "i0"))
        .withColumn("z", expr("((qv - mean_q) * (qv - mean_q) * 1000) div var_q"))
        .groupBy($"vec_id", $"label")
        .agg(sum($"z").as("z2_milli"))
        .orderBy($"z2_milli".desc, $"vec_id")
        .limit(20)
    },

    // SemDeDup end-to-end: embedding near-dup pairs (hyperplane-LSH +
    // exact quantized cosine, dd_embed_lsh's chain) → connected
    // components → keep exactly the min-id vector of every duplicate
    // cluster. One row per corpus vector with its cluster and verdict —
    // the semantic-dedup capstone composition. Oracle: full banding
    // replay + recursive-CTE closure; SemDedupSpec additionally asserts
    // the keep-one-per-cluster laws. Scale shape: pairs are candidate-proportional, the
    // component step dispatches tiny graphs to a driver union-find
    // (duplicate graphs ≪ corpus) with the distributed loop as the
    // general path, and the final join is one shuffle on vec_id.
    "emb_semdedup" -> { (s, d) =>
      import s.implicits._
      val pairs = DedupQueries.embedLshPairs(s, d)
        .select($"vec_a".as("a"), $"vec_b".as("b"))
      val comp = DedupQueries.connectedComponents(pairs)
        .select($"doc_id".as("vec_id"), $"cluster_id")
      t(s, d, "embeddings").select($"vec_id")
        .join(comp, Seq("vec_id"), "left")
        .withColumn("cluster_id", coalesce($"cluster_id", $"vec_id"))
        .withColumn("kept", when($"vec_id" === $"cluster_id", 1L).otherwise(0L))
        .orderBy($"vec_id")
    },

    // k-NN graph construction (the SemDeDup / graph-clustering primitive):
    // every vector's top-5 LSH-discovered neighbors by exact cosine —
    // ann_lsh_topk generalized from a query set to ALL vectors. Oracle:
    // full banding replay; KnnGraphSpec measures recall against the
    // exact all-pairs truth in the cosine regime the buckets are tuned
    // for.
    // Scale shape: candidates come from the one-wide-stage multi-probe
    // band join (never all-pairs); the per-vector top-k is a window over
    // each vector's OWN candidates — parallelism = |vectors|.
    "emb_knn" -> { (s, d) =>
      import s.implicits._
      knnEdges(s, d)
        .select($"vec_id", $"rnk".cast("long").as("rnk"), $"neighbor", $"cos_ppm")
        .orderBy($"vec_id", $"rnk")
    },

    // connected components of the strongest-MUTUAL-kNN backbone (the
    // cluster discovery emb_kmeans presupposes k for: mutual top-5
    // edges — a in b's top-5 AND b in a's — are the density-robust
    // skeleton, but the FULL mutual graph chains through hubs into one
    // giant blob at any realistic corpus; keeping the ⌊|V|/2⌋ strongest
    // mutual edges by exact cosine is the standard backbone cut that
    // leaves actual structure): the shared knnEdges relation (same
    // k/tie-break as emb_knn / ann_reciprocal), mutuality as one self
    // left-semi join on the aggregated edge list, a DISTRIBUTED top-K
    // (TakeOrderedAndProject with the unique (cos desc, a, b) order —
    // no global shuffle), then the SAME dispatching components
    // machinery dd_cluster uses (driver union-find ≤1e6 edges,
    // distributed pointer-jumping above). The edge budget also bounds
    // the oracle's recursive reach CTE: components are ≤K+1 nodes, so
    // the closure is replayable where the unbounded blob OOMed DuckDB
    // at sf0.1.
    // IVF operating-point table — the tuning decision ann_ivf_recall's
    // quality curve and ann_probe_cost's spend curve exist FOR, made in
    // one relation (a serving config is a (nprobe, recall, cost) row
    // somebody picked; this picks it deterministically: the smallest
    // nprobe whose mean recall clears 800000 ppm, falling back to the
    // largest swept): per nprobe, query count, exact floor-mean
    // recall@k ppm and floor-mean corpus-scanned ppm, chosen flag.
    // Scale shape: pure composition of the two parent queries' bounded
    // outputs (|nprobe|·|queries| rows) + a 1-row cells total — the
    // corpus-side work is exactly the parents', nothing new shuffles.
    "ann_operating_point" -> { (s, d) =>
      import s.implicits._
      val rec = queries("ann_ivf_recall")(s, d)
        .groupBy($"nprobe")
        .agg(count(lit(1)).as("n_queries"), sum($"n_hits").as("hits"))
      val cost = queries("ann_probe_cost")(s, d)
        .filter($"nprobe".isin(1L, 2L, 4L))
        .groupBy($"nprobe").agg(sum($"n_scanned").as("scanned"))
      val nvec = EmbIvfIndex.cells(s, d).agg(count(lit(1)).as("n_vectors"))
      val u = rec.join(cost, Seq("nprobe"))
        .crossJoin(broadcast(nvec))
        .select($"nprobe", $"n_queries",
          expr(s"(hits * 1000000) div ($TopK * n_queries)").as("mean_recall_ppm"),
          expr("(scanned * 1000000) div (n_queries * n_vectors)").as("mean_scan_ppm"))
      val pick = u.agg(coalesce(
        min(when($"mean_recall_ppm" >= 800000L, $"nprobe")),
        max($"nprobe")).as("pick"))
      u.crossJoin(broadcast(pick))
        .select($"nprobe", $"n_queries", $"mean_recall_ppm", $"mean_scan_ppm",
          ($"nprobe" === $"pick").cast("long").as("chosen"))
        .orderBy($"nprobe")
    },

    // k-NN in-degree (hubness) spectrum — the high-dimensional
    // pathology audit every embedding space needs before its k-NN graph
    // is trusted (in high dims a few hub vectors appear in EVERYONE's
    // top-k while antihubs appear in nobody's; recall evals, semdedup
    // and graph clustering all silently degrade on a hubby space): per
    // in-degree value, vectors at that in-degree + ppm share, zero-
    // in-degree antihubs included via the left join against the corpus
    // id column. Scale shape: one partial agg over the materialized knn5
    // edges, a vec_id-co-keyed left join, bounded histogram rollup.
    "emb_hubness" -> { (s, d) =>
      import s.implicits._
      val deg = knnEdges(s, d)
        .groupBy($"neighbor").agg(count(lit(1)).as("indeg"))
        .select($"neighbor".as("vec_id"), $"indeg")
      val j = quantized(s, d).select($"vec_id")
        .join(deg, Seq("vec_id"), "left")
        .select(coalesce($"indeg", lit(0L)).as("indeg"))
      j.groupBy($"indeg").agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(j.agg(count(lit(1)).as("t"))))
        .select($"indeg", $"n_vecs",
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_vecs) div CAST(t AS DECIMAL(38,0))")
            .cast("long").as("share_ppm"))
        .orderBy($"indeg")
    },

    "emb_knn_cc" -> { (s, d) =>
      import s.implicits._
      val k = knnEdges(s, d).select($"vec_id", $"neighbor", $"cos_ppm")
      val rev = k.select($"neighbor".as("vec_id"), $"vec_id".as("neighbor"))
      val budget = math.min(t(s, d, "embeddings").count() / 2, Int.MaxValue.toLong)
      val mutual = k.join(rev, Seq("vec_id", "neighbor"), "left_semi")
        .filter($"vec_id" < $"neighbor")
        .orderBy($"cos_ppm".desc, $"vec_id", $"neighbor")
        .limit(budget.toInt)
        .select($"vec_id".as("a"), $"neighbor".as("b"))
      DedupQueries.connectedComponents(mutual)
        .select(col("doc_id").as("vec_id"), col("cluster_id"), col("n_members"))
        .orderBy(col("vec_id"))
    },

    // hard-negative mining (contrastive-training batch construction): for
    // each vector, the single most-similar LSH-discovered neighbor with a
    // DIFFERENT label — the "looks the same, labeled differently" example
    // a triplet/InfoNCE loss learns the most from. emb_knn restricted to
    // cross-label edges at rank 1. Oracle: full banding replay (shared
    // EmbedPairCtes) + the label join in SQL.
    // Scale shape: candidates come from the materialized LSH pair index
    // (never all-pairs); the two label joins are vec_id-keyed against the
    // embeddings table's 2 narrow columns; the top-1 is a window over each
    // vector's own cross-label candidates — parallelism = |vectors|.
    "emb_hard_negatives" -> { (s, d) =>
      import s.implicits._
      val lab = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"))
      val pairs = CorpusLshIndex.embedPairs(s, d)
      val sym = pairs.select($"vec_a".as("vec_id"), $"vec_b".as("neg_id"), $"cos_ppm")
        .unionByName(pairs.select($"vec_b".as("vec_id"), $"vec_a".as("neg_id"), $"cos_ppm"))
      val w = Window.partitionBy($"vec_id").orderBy($"cos_ppm".desc, $"neg_id")
      sym.join(lab, Seq("vec_id"))
        .join(lab.select($"vec_id".as("neg_id"), $"label".as("neg_label")), Seq("neg_id"))
        .filter($"label" =!= $"neg_label")
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" === 1)
        .select($"vec_id", $"label", $"neg_id", $"neg_label", $"cos_ppm")
        .orderBy($"vec_id")
    },

    // Johnson–Lindenstrauss random-projection sketch: each quantized
    // vector projected onto RpPlanes md5-derived ±1 hyperplanes — the
    // dimensionality-reduction pass that turns a 64-dim corpus into a
    // 16-dim sketch (plus the packed sign signature, which is exactly the
    // hyperplane-LSH key). Emits per vector the packed sig, the projected
    // squared norm (the JL-preserved quantity) and the true squared norm,
    // all exact integers. Scale shape: the plane matrix is RpPlanes×Dims
    // rows — broadcast at any corpus size; projection is one partial-agg
    // shuffle on (vec_id, j) then (vec_id): both keyed on the vector id,
    // so the work is embarrassingly parallel and output is O(|vectors|).
    "emb_rp" -> { (s, d) =>
      import s.implicits._
      val hp = graft.operators.VectorOps.hyperplanes(RpPlanes, Dims)
      val planes = (for { j <- 0 until RpPlanes; i <- 0 until Dims }
        yield (j.toLong, i.toLong, hp(j)(i).toLong)).toDF("j", "i", "sign")
      val qe = quantized(s, d)
      val per = qe.select($"vec_id", posexplode($"q"))
        .toDF("vec_id", "i", "qv")
        .join(broadcast(planes), Seq("i"))
        .groupBy($"vec_id", $"j")
        .agg(sum($"qv" * $"sign").as("p"))
      per.groupBy($"vec_id")
        .agg(
          sum(when($"p" > 0, expr("shiftleft(1L, CAST(j AS INT))")).otherwise(lit(0L)))
            .as("sketch_sig"),
          sum($"p" * $"p").as("proj_norm2"))
        .join(qe.select($"vec_id", $"nn"), Seq("vec_id"))
        .orderBy($"vec_id")
    },

    // HYBRID retrieval — the RAG-curation fusion query: lexical token-set
    // overlap and embedding cosine scored together (equal-weight ppm sum)
    // for the 5 query docs against the whole corpus, top-10 per query.
    // documents.doc_id and embeddings.vec_id are the same key, so each
    // candidate carries its token set and its quantized vector through
    // ONE broadcast probe: the corpus pass is narrow (array_intersect on
    // in-row arrays + the native integer dot), the only wide op is the
    // per-query top-k window over a 5×|corpus| relation whose partitions
    // are query-bounded. Both signals are exact integers (ppm), so the
    // fused ranking is engine-exact and fully oracle-checked — no other
    // operator in the family mixes modalities.
    "ann_hybrid" -> { (s, d) =>
      import s.implicits._
      val toks = t(s, d, "documents")
        .select($"doc_id", array_distinct(split($"text", " +")).as("ts"))
      val e = quantized(s, d)
      val joined = toks.join(e, $"doc_id" === $"vec_id")
      val corpus = joined
        .select($"doc_id".as("cid"), $"ts".as("tb"), $"q".as("qb"), $"nn".as("nb"))
      val qs = joined.filter($"doc_id" < NumQueries)
        .select($"doc_id".as("qid"), $"ts".as("ta"), $"q".as("qa"), $"nn".as("na"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"cid")
      corpus.join(broadcast(qs), $"cid" =!= $"qid")
        .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("long"))
        .withColumn("uni",
          size($"ta").cast("long") + size($"tb").cast("long") - $"inter")
        .withColumn("lex_ppm", expr("(inter * 1000000) div greatest(1L, uni)"))
        .withColumn("dot", graft.operators.VectorOps.dotCol(col("qa"), col("qb")))
        .withColumn("cos_ppm", cosPpm($"dot", $"na", $"nb"))
        .withColumn("score", $"lex_ppm" + $"cos_ppm")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 10)
        .select($"qid", $"rnk", $"cid", $"score", $"lex_ppm", $"cos_ppm")
        .orderBy($"qid", $"rnk")
    },

    // farthest-point (greedy k-center) DIVERSITY sampling — the coreset
    // selector: seed at vec_id 0, then k-1 rounds of "add the vector
    // farthest from everything selected so far". The gap column is the
    // selection-time min squared distance — the k-center coverage radius
    // ladder, the quantity the 2-approximation guarantee is stated on.
    // The trajectory is INCREMENTAL (the canonical greedy k-center
    // recurrence): the candidate set carries last round's gap, and each
    // round joins against ONLY the newest center — gap' = least(gap,
    // d²(v, newest)) — so total distance evals are O(k·n), not O(k²·n).
    // Scale shape per round: a 1-row broadcast, one narrow map over the
    // candidates (native integer L2 kernel), and a distributed top-1
    // (TakeOrdered) — never an all-pairs relation, never a re-scan of
    // the selected set. Integer distances on quantized vectors make
    // every round engine-exact, so the full greedy trajectory replays in
    // the DuckDB oracle (k-1 unrolled CTE rounds, pair dists only from
    // the ≤ k selected rows). k defaults to FpsK and is overridable via
    // spark.conf "graft.fps.k" (the oracle replays the default only).
    "emb_fps" -> { (s, d) =>
      import s.implicits._
      val k = s.conf.getOption("graft.fps.k").map(_.toInt).getOrElse(FpsK)
      val e = quantized(s, d).select($"vec_id", $"q").persist()
      try {
        val seed = e.filter($"vec_id" === 0).select($"q".as("nq"))
        var cand = e.filter($"vec_id" =!= 0)
          .join(broadcast(seed), lit(true))
          .select($"vec_id", $"q",
            graft.operators.VectorOps.l2Col($"q", $"nq").as("gap"))
          .localCheckpoint(true)
        var sel = s.range(1)
          .select(lit(1L).as("rnk"), lit(0L).as("vec_id"), lit(0L).as("gap"))
        for (r <- 2 to k) {
          val pick = cand.orderBy($"gap".desc, $"vec_id").limit(1)
            .select(lit(r.toLong).as("rnk"), $"vec_id", $"gap", $"q")
            .localCheckpoint(true)
          sel = sel.unionByName(pick.drop("q"))
          cand = fpsUpdate(cand, pick).localCheckpoint(true)
        }
        sel.orderBy($"rnk")
      } finally e.unpersist()
    },

    // RANGE (radius) search — the fixed-threshold twin of top-k
    // retrieval: every corpus vector within cosine ≥ τ of each query.
    // The shape retrieval systems use for "all sufficiently-similar"
    // queries (dedup candidates, recall-complete retrieval) where k is
    // unknown a priori. Scale shape: the BEST possible — one broadcast
    // of the fixed query slice, one narrow codegen'd pass over the
    // corpus (native integer dot), a selective filter; no window, no
    // shuffle, no per-query state at all. Output order (qid, cos desc,
    // cid) is a result sort of the τ-bounded match set, not a
    // corpus-sized sort.
    // LSH band-health monitor (the operational audit for the
    // corpus-scaled band-width rule): per hash table, the bucket count,
    // worst bucket, mean occupancy and the exact candidate-pair mass
    // Σ c·(c−1)/2 the band join will generate — the dashboard row that
    // says "your bands are too narrow for this corpus" BEFORE a dedup
    // run writes 67 GB of shuffle (the amp=100 probe's round-9
    // finding). Scale shape: one (tbl, bits) partial agg over the
    // banded relation, then a |tables|-row rollup; nothing pair-shaped
    // is ever materialized.
    "ann_band_stats" -> { (s, d) =>
      import s.implicits._
      val bands = DedupQueries.embedExactBands(DedupQueries.embedBanded(
        t(s, d, "embeddings"), DedupQueries.embedLshBits(s, d)))
      val occ = bands.groupBy($"tbl", $"bits").agg(count(lit(1)).as("c"))
      occ.groupBy($"tbl".cast("long").as("tbl"))
        .agg(sum($"c").as("n_vectors"),
          count(lit(1)).as("n_buckets"),
          max($"c").as("max_bucket"),
          expr("CAST(SUM((c * (c - 1)) div 2) AS BIGINT)").as("cand_pairs"))
        .withColumn("occupancy_ppm", expr("(n_vectors * 1000000) div n_buckets"))
        .orderBy($"tbl")
    },

    "ann_range" -> { (s, d) =>
      import s.implicits._
      val e = unit(s, d)
      val qs = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"))
      val corpus = e.select($"vec_id".as("cid"), $"q".as("qb"), $"nn".as("nb"))
      corpus.join(broadcast(qs), $"cid" =!= $"qid")
        .withColumn("dot", graft.operators.VectorOps.dotCol(col("qa"), col("qb")))
        .withColumn("cos_ppm", cosPpm($"dot", $"na", $"nb"))
        .filter($"cos_ppm" >= RangeTau)
        .select($"qid", $"cid", $"cos_ppm")
        .orderBy($"qid", $"cos_ppm".desc, $"cid")
    },

    // MMR (maximal marginal relevance) DIVERSIFIED retrieval — re-rank
    // the top-[[MmrPool]] relevance candidates so each next result
    // balances relevance against redundancy with what's already shown:
    // pick r maximizes 7·rel − 3·max-sim-to-selected (λ=0.7 in tenths,
    // integer-exact). The query-anchored diversity twin of emb_fps (same
    // incremental recurrence — msim' = greatest(msim, sim-to-newest) —
    // so each round joins ONLY the newest picks, O(k·pool) sim evals).
    // Scale shape: the pool derivation is the brute broadcast pass +
    // per-query top-20 window (bounded at 20·|queries| rows by
    // construction, then localCheckpoint-pinned), and every MMR round
    // operates on that fixed-size relation — corpus size only ever
    // touches the one narrow relevance pass.
    "emb_mmr" -> { (s, d) =>
      import s.implicits._
      val e = unit(s, d)
      val qs = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"))
      val corpus = e.select($"vec_id".as("cid"), $"q".as("qb"), $"nn".as("nb"))
      val wrel = Window.partitionBy($"qid").orderBy($"rel_ppm".desc, $"cid")
      val pool = corpus.join(broadcast(qs), $"cid" =!= $"qid")
        .withColumn("dot", graft.operators.VectorOps.dotCol(col("qa"), col("qb")))
        .withColumn("rel_ppm", cosPpm($"dot", $"na", $"nb"))
        .withColumn("rr", row_number().over(wrel))
        .filter($"rr" <= MmrPool)
        .select($"qid", $"cid", $"qb", $"nb", $"rel_ppm")
        .localCheckpoint(true) // ≤ MmrPool·NumQueries rows by construction
      var pick = pool
        .withColumn("rn", row_number().over(wrel))
        .filter($"rn" === 1)
        .select($"qid", $"cid", $"qb", $"nb", $"rel_ppm")
        .localCheckpoint(true)
      var out = pick.select($"qid", lit(1L).as("rnk"), $"cid", $"rel_ppm",
        lit(0L).as("msim_ppm"))
      def newest(p: DataFrame) =
        p.select($"qid", $"cid".as("pid"), $"qb".as("pq"), $"nb".as("pn"))
      var cand = pool.join(newest(pick), Seq("qid"))
        .filter($"cid" =!= $"pid")
        .withColumn("msim_ppm",
          cosPpm(graft.operators.VectorOps.dotCol($"qb", $"pq"), $"nb", $"pn"))
        .select($"qid", $"cid", $"qb", $"nb", $"rel_ppm", $"msim_ppm")
        .localCheckpoint(true)
      val wmmr = Window.partitionBy($"qid")
        .orderBy(($"rel_ppm" * 7 - $"msim_ppm" * 3).desc, $"cid")
      for (r <- 2 to MmrK) {
        val pr = cand.withColumn("rn", row_number().over(wmmr))
          .filter($"rn" === 1)
          .select($"qid", $"cid", $"qb", $"nb", $"rel_ppm", $"msim_ppm")
          .localCheckpoint(true)
        out = out.unionByName(
          pr.select($"qid", lit(r.toLong).as("rnk"), $"cid", $"rel_ppm", $"msim_ppm"))
        if (r < MmrK)
          cand = cand.join(newest(pr), Seq("qid"))
            .filter($"cid" =!= $"pid")
            .withColumn("msim_ppm", greatest($"msim_ppm",
              cosPpm(graft.operators.VectorOps.dotCol($"qb", $"pq"), $"nb", $"pn")))
            .select($"qid", $"cid", $"qb", $"nb", $"rel_ppm", $"msim_ppm")
            .localCheckpoint(true)
      }
      out.orderBy($"qid", $"rnk")
    },

    // simplified silhouette (cluster-quality audit of the seed
    // partition): per vector a = L2² to its own (nearest) centroid and
    // b = L2² to the runner-up centroid; since b ≥ a by construction the
    // per-point score (b−a)·10⁶ div b lives in [0, 10⁶] and every step
    // is integer-exact (no negative floor-division parity questions).
    // Per-cluster mean/min/max silhouette says which clusters are
    // well-separated BEFORE a curation pass trusts their labels.
    // Scale shape: one broadcast of the k-row centroid relation (the
    // deliberate tiny-side BNLJ, same as emb_kmeans/emb_outliers), a
    // per-vector k-element sorted array (k = 8, constant), one cid
    // partial agg — the corpus never shuffles wide.
    "emb_silhouette" -> { (s, d) =>
      import s.implicits._
      val e = quantized(s, d).select($"vec_id", $"q")
      val cents = e.filter($"vec_id" < KmeansK).select($"vec_id".as("cid"), $"q".as("cq"))
      val ab = e.join(broadcast(cents), lit(true))
        .withColumn("dist", graft.operators.VectorOps.l2Col($"q", $"cq"))
        .groupBy($"vec_id")
        .agg(sort_array(collect_list(struct($"dist", $"cid"))).as("arr"))
        .select($"vec_id",
          expr("arr[0].cid").as("cid"),
          expr("arr[0].dist").as("a"),
          expr("arr[1].dist").as("b"))
      // L2² of ±10⁶-quantized 64-dim vectors reaches ~2.6·10¹⁴, so the
      // ×10⁶ ppm scaling is DECIMAL(38,0)-guarded (a long product wraps)
      ab.withColumn("sil", when($"b" > 0,
          expr("""(CAST(b - a AS DECIMAL(38,0)) * 1000000)
                  div CAST(b AS DECIMAL(38,0))""")).otherwise(lit(0L)))
        .groupBy($"cid")
        .agg(count(lit(1)).as("n_members"),
          // DECIMAL-guarded sum: sil ≤ 10⁶, so a long Σ wraps past
          // ~9·10¹² cluster members (DuckDB sums to HUGEINT already)
          expr("SUM(CAST(sil AS DECIMAL(38,0))) div COUNT(*)").as("mean_sil_ppm"),
          min($"sil").as("min_sil_ppm"),
          max($"sil").as("max_sil_ppm"))
        .orderBy($"cid")
    },

    // density-based outlier factor (the simplified LOF of Breunig et
    // al.: a point is suspicious when its k-distance is large RELATIVE
    // to its neighbors' k-distances — catches local outliers a global
    // centroid distance like emb_outliers misses): per vector the
    // 5-distance (cosine distance of its rank-5 emb_knn edge; its
    // last edge when the LSH candidates run short of 5) over the
    // mean 5-distance of its neighbors, exact ppm via
    // (10⁶·kdist·k) div Σ neighbor-kdist. Top-20 shortlist, unique-key
    // tie-break. Scale shape: edges come from the materialized LSH pair
    // index (never all-pairs); kdist is one vec_id partial agg of the
    // |V|·5 edge list; the neighbor lookup is one equi-join of that
    // narrow list against the |V|-row kdist relation.
    "emb_lof" -> { (s, d) =>
      import s.implicits._
      val knn = knnEdges(s, d)
        .select($"vec_id", $"neighbor", (lit(1000000L) - $"cos_ppm").as("dist"))
      val kd = knn.groupBy($"vec_id")
        .agg(max($"dist").as("kdist"), count(lit(1)).as("k"))
      val snk = knn
        .join(kd.select($"vec_id".as("neighbor"), $"kdist".as("nkdist")), Seq("neighbor"))
        .groupBy($"vec_id")
        .agg(sum($"nkdist").as("snk"))
      kd.join(snk, Seq("vec_id"))
        .select($"vec_id", $"kdist",
          when($"snk" > 0, expr("(1000000 * kdist * k) div snk"))
            .otherwise(lit(1000000L)).as("lof_ppm"))
        .orderBy($"lof_ppm".desc, $"vec_id")
        .limit(20)
    },

    // kNN-graph reciprocity audit (the hubness diagnostic: asymmetric
    // top-k edges mark hub vectors that appear in everyone's neighbor
    // list but reciprocate few — a known failure signal for ANN-graph
    // clustering and semdedup): of each vector's top-5 edges (emb_knn's
    // exact definition), the per-label fraction whose REVERSE edge is
    // also a top-5 edge, in exact ppm. Scale shape: candidates come from
    // the materialized LSH pair index (never all-pairs); the reverse
    // probe is a self equi-join of the |V|·5 edge list on the flipped
    // key — one shuffle of a narrow 2-column relation; label join is
    // vec_id-keyed; final agg is |labels| rows.
    "ann_reciprocal" -> { (s, d) =>
      import s.implicits._
      val knn = knnEdges(s, d).select($"vec_id", $"neighbor")
      val rev = knn.select($"neighbor".as("vec_id"), $"vec_id".as("neighbor"),
        lit(1L).as("has_rev"))
      val lab = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"))
      knn.join(rev, Seq("vec_id", "neighbor"), "left")
        .join(lab, Seq("vec_id"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_edges"),
          sum(coalesce($"has_rev", lit(0L))).as("n_reciprocal"))
        .select($"label", $"n_edges", $"n_reciprocal",
          // DECIMAL-guarded: a per-label edge count past ~9·10¹² would
          // wrap the 10⁶ ppm product in a long (DuckDB side sums to
          // HUGEINT already)
          expr("""(CAST(1000000 AS DECIMAL(38,0)) * n_reciprocal)
                  div CAST(n_edges AS DECIMAL(38,0))""").as("recip_ppm"))
        .orderBy($"label")
    },

    // label-separability AUC (how well does "cosine to the label's
    // centroid" retrieve that label's members? — the exact Mann-Whitney
    // readout a curation pipeline runs before trusting centroid scores
    // for routing or filtering): for every label, score EVERY vector by
    // its cosine to that label's exact integer centroid, then compute
    // the in-label-vs-rest AUC from the score histogram with exact
    // rational tie handling (ties contribute 1/2 — the 2× numerator
    // stays integer). Scale shape: one (label, dim) partial agg for
    // centroids, a |labels|-row broadcast against the corpus for
    // scoring, then everything runs on the per-label SCORE HISTOGRAM
    // (≤ 2·10⁶ distinct ppm values per label by construction) — the
    // rank sums never sort the corpus.
    "emb_ood_auc" -> { (s, d) =>
      import s.implicits._
      val lab = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"))
      val el = graft.operators.VectorOps.quantized(s, d)
        .join(lab, Seq("vec_id"))
      val cents = el.select($"label".as("clabel"), posexplode($"q"))
        .toDF("clabel", "i", "x")
        .groupBy($"clabel", $"i")
        .agg(sum($"x").as("sx"), count(lit(1)).as("cn0"))
        .withColumn("c", expr("(sx - pmod(sx, cn0)) div cn0"))
        .groupBy($"clabel")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), p -> p.c)").as("cq"))
        .withColumn("cnn", graft.operators.VectorOps.dotCol($"cq", $"cq"))
        .filter($"cnn" > 0)
      val scored = el.filter($"nn" > 0)
        .join(broadcast(cents), lit(true))
        .withColumn("dot", graft.operators.VectorOps.dotCol($"q", $"cq"))
        .select($"clabel", $"label",
          cosPpm($"dot", $"nn", $"cnn").as("score"))
      val h = scored.groupBy($"clabel", $"score")
        .agg(sum(when($"label" === $"clabel", 1L).otherwise(0L)).as("np"),
          sum(when($"label" =!= $"clabel", 1L).otherwise(0L)).as("nng"))
      val wBelow = Window.partitionBy($"clabel").orderBy($"score")
        .rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("below", coalesce(sum($"nng").over(wBelow), lit(0L)))
        .groupBy($"clabel")
        .agg(sum($"np").as("n_pos"), sum($"nng").as("n_neg"),
          // 2× the Mann-Whitney numerator, DECIMAL-widened: below·np is
          // an n²-scale product that wraps a long past ~3·10⁹ vectors
          sum($"np".cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            (lit(2).cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"below" + $"nng"))
            .as("num2"))
        .filter($"n_pos" > 0 && $"n_neg" > 0)
        .select($"clabel".as("label"), $"n_pos", $"n_neg",
          expr("""(CAST(1000000 AS DECIMAL(38,0)) * num2)
                  div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)""").as("auc_ppm"))
        .orderBy($"label")
    },

    // semi-hard triplet mining readout (the metric-learning curation
    // staple: for each anchor, the best same-label neighbor is the
    // positive, the best cross-label neighbor the negative; a POSITIVE
    // margin means the negative is semi-hard — below the positive but
    // present in the k-NN list — while a non-positive margin flags a
    // hard negative outranking the anchor's own class): per-label
    // counts and exact floor-mean/min/max of the pos−neg cosine margin
    // over emb_knn's shared edge relation. Scale shape: two vec_id
    // equi-joins onto the |V|·5 edge list, a per-anchor partial agg,
    // then a |labels|-row final agg.
    "emb_triplet" -> { (s, d) =>
      import s.implicits._
      val lab = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"))
      val per = knnEdges(s, d)
        .join(lab.select($"vec_id", $"label".as("la")), Seq("vec_id"))
        .join(lab.select($"vec_id".as("neighbor"), $"label".as("ln")), Seq("neighbor"))
        .groupBy($"vec_id", $"la")
        .agg(max(when($"ln" === $"la", $"cos_ppm")).as("pos_cos"),
          max(when($"ln" =!= $"la", $"cos_ppm")).as("neg_cos"))
        .filter($"pos_cos".isNotNull && $"neg_cos".isNotNull)
        .withColumn("margin", $"pos_cos" - $"neg_cos")
      per.groupBy($"la")
        .agg(count(lit(1)).as("n_anchors"),
          sum(when($"margin" > 0, 1L).otherwise(0L)).as("n_semi_hard"),
          // margins can be negative: floor-div (not Spark's
          // truncating div) so both engines round the mean the same way
          sum($"margin".cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sm"),
          min($"margin").as("min_margin_ppm"),
          max($"margin").as("max_margin_ppm"))
        .select($"la".as("label"), $"n_anchors", $"n_semi_hard",
          expr("CAST((sm - pmod(sm, n_anchors)) div n_anchors AS BIGINT)")
            .as("mean_margin_ppm"),
          $"min_margin_ppm", $"max_margin_ppm")
        .orderBy($"label")
    },

    // IVF posting-list balance audit (dd_band_stats' sibling for the
    // served vector index: partition pruning only pays if cells are
    // balanced — one fat cell means most probes scan most of the
    // corpus): per cell, its population and ppm share of the indexed
    // corpus, read straight from the materialized EmbIvfIndex cells
    // directory. Scale shape: one cent_id partial agg over the posting
    // lists + a broadcast 1-row total; |cells| ~ √n rows by the nlist
    // scale rule.
    "ann_cell_stats" -> { (s, d) =>
      import s.implicits._
      val occ = EmbIvfIndex.cells(s, d)
        .groupBy($"cent_id").agg(count(lit(1)).as("n_vecs"))
      val tot = occ.agg(sum($"n_vecs").as("t"))
      occ.crossJoin(broadcast(tot))
        .select($"cent_id", $"n_vecs",
          // DECIMAL-guarded: a corpus past ~9·10¹² vectors would wrap
          // the 10⁶ product in a long
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_vecs) div CAST(t AS DECIMAL(38,0))")
            .as("share_ppm"))
        .orderBy($"cent_id")
    },

    // per-label classification MARGIN audit — the "are these labels
    // linearly recoverable from the embeddings" readiness check before
    // training a probe head: each vector's cosine to its OWN label
    // centroid minus its best OTHER-label centroid (positive = the label
    // is geometrically honest; a label whose min margin is deeply
    // negative contains mislabeled or boundary vectors). Centroids are
    // per-dim SUMS, not means — cosine is scale-invariant, so the sum
    // vector gives the identical angle with zero division rounding.
    // Scale shape: the (label, dim) centroid relation is
    // |labels|·dims-bounded and broadcasts; the per-(vec, label) dot is
    // one partial agg off the dim-keyed join; nn joins co-keyed on
    // vec_id; the rollup is |labels| rows. DECIMAL-guarded sums; the
    // mean uses the subtract-pmod floor (margins can be negative).
    "emb_label_margin" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = t(s, d, "embeddings")
        .select($"vec_id", $"label".cast("long").as("label"), posexplode($"embedding"))
        .toDF("vec_id", "label", "i", "x")
        .withColumn("qv", expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"))
      val cdim = e.groupBy($"label".as("clabel"), $"i").agg(sum($"qv").as("sv"))
      val cnorm = cdim.groupBy($"clabel").agg(sum($"sv".cast(dec) * $"sv").as("nc"))
      val nn = e.groupBy($"vec_id").agg(sum($"qv" * $"qv").as("nn"))
      val dots = e
        .join(broadcast(cdim), Seq("i"))
        .groupBy($"vec_id", $"label", $"clabel")
        .agg(sum($"qv".cast(dec) * $"sv").as("dot"))
      val cos = dots
        .join(nn, Seq("vec_id"))
        .join(broadcast(cnorm), Seq("clabel"))
        .withColumn("c_ppm", expr(
          "CAST(FLOOR(CAST(dot AS DOUBLE) / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)"))
      cos.groupBy($"vec_id", $"label")
        .agg(max(when($"clabel" === $"label", $"c_ppm")).as("own"),
          max(when($"clabel" =!= $"label", $"c_ppm")).as("best_other"))
        .select($"label", ($"own" - $"best_other").as("margin"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"), min($"margin").as("min_margin_ppm"),
          sum($"margin").as("sm"))
        .withColumn("mean_margin_ppm", expr("(sm - pmod(sm, n_vecs)) div n_vecs"))
        .select($"label", $"n_vecs", $"min_margin_ppm", $"mean_margin_ppm")
        .orderBy($"label")
    },

    // IVF probe COST curve — the spend side of ann_ivf_recall's quality
    // curve (the (nprobe, recall, cost) operating table is what actually
    // picks a serving config): per query and nprobe ∈ 1..4, how many
    // posting-list rows the pruned scan touches and the exact ppm of the
    // corpus that is. Scale shape: the probe ranking is the serving
    // path's broadcast-codebook argsort (√n relation), cell sizes are a
    // |cells|-row aggregate of the partition-pruned index, and the sweep
    // explodes 4 rows per (query, probe) — |queries|·nprobe² bounded.
    "ann_probe_cost" -> { (s, d) =>
      import s.implicits._
      val probes = EmbIvfIndex.rank(unit(s, d).filter($"vec_id" < NumQueries), EmbIvfIndex.cents(s, d), 4)
        .select($"vec_id".as("qid"), $"cent_id", $"crnk")
      val sizes = EmbIvfIndex.cells(s, d)
        .groupBy($"cent_id").agg(count(lit(1)).as("cell_n"))
      val tot = sizes.agg(sum($"cell_n").as("n_vectors")).withColumn("k", lit(1))
      probes
        .withColumn("nprobe", explode(expr("sequence(1L, 4L)")))
        .filter($"crnk" <= $"nprobe")
        .join(broadcast(sizes), Seq("cent_id"))
        .groupBy($"nprobe", $"qid")
        .agg(count(lit(1)).as("n_cells"), sum($"cell_n").as("n_scanned"))
        .withColumn("k", lit(1)).join(broadcast(tot), Seq("k"))
        .select($"nprobe", $"qid", $"n_cells", $"n_scanned",
          expr("(n_scanned * 1000000) div n_vectors").as("scan_ppm"))
        .orderBy($"nprobe", $"qid")
    },

    // per-cell geometric tightness of the IVF index — the quantization-
    // error monitor beside ann_cell_stats' occupancy view: each member's
    // exact cosine to its OWN centroid (the c_ppm the assignment
    // maximized), rolled to per-cell worst member + floor mean. A cell
    // whose min_cos_ppm sags is where IVF pruning starts lying (members
    // far from the centroid are the ones a probe misses) — the signal
    // that triggers a re-train or a cell split. Scale shape: the
    // partition-pruned cells directory joins the broadcast √n-sized
    // codebook on cent_id, one narrow codegen dot per member, a
    // |cells|-row rollup; the mean uses the subtract-pmod floor (cosines
    // can be negative).
    "emb_cell_radius" -> { (s, d) =>
      import s.implicits._
      EmbIvfIndex.cells(s, d)
        .join(broadcast(EmbIvfIndex.cents(s, d)), Seq("cent_id"))
        .withColumn("c_ppm", cosPpm(dotCol($"q", $"qc"), $"nn", $"nc"))
        .groupBy($"cent_id")
        .agg(count(lit(1)).as("n_vecs"), min($"c_ppm").as("min_cos_ppm"),
          sum($"c_ppm").as("sc"))
        .withColumn("mean_cos_ppm", expr("(sc - pmod(sc, n_vecs)) div n_vecs"))
        .select($"cent_id", $"n_vecs", $"min_cos_ppm", $"mean_cos_ppm")
        .orderBy($"cent_id")
    },

    // per-cell label purity of the IVF index — the clustering-quality
    // audit with GROUND-TRUTH labels (emb_silhouette scores geometry;
    // this scores agreement with the labels the corpus actually
    // carries): per posting-list cell, its label entropy + majority
    // share. Exact integer micro-nats via ln_micro. Scale shape: the
    // partition-pruned cells directory joins the (vec_id, label)
    // projection co-keyed on vec_id, one (cell, label) partial agg
    // (≤ cells·|labels| rows), then a |cells|-row rollup.
    "emb_cell_purity" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      EmbIvfIndex.cells(s, d)
        .select($"cent_id", $"vec_id")
        .join(t(s, d, "embeddings").select($"vec_id", $"label".cast("long").as("label")),
          Seq("vec_id"))
        .groupBy($"cent_id", $"label").agg(count(lit(1)).as("c"))
        .groupBy($"cent_id").agg(
          sum($"c").as("n_vecs"),
          count(lit(1)).as("n_labels"),
          max($"c").as("top_n"),
          sum($"c".cast(dec) * expr("ln_micro(c)")).as("slc"))
        .withColumn("entropy_micro",
          expr("ln_micro(n_vecs) - (slc div CAST(n_vecs AS DECIMAL(38,0)))").cast("long"))
        .withColumn("purity_ppm", expr("(top_n * 1000000) div n_vecs"))
        .select($"cent_id", $"n_vecs", $"n_labels", $"entropy_micro", $"purity_ppm")
        .orderBy($"cent_id")
    },

    // IVF balance score — ann_cell_stats' one-number summary: the
    // entropy of the cell-occupancy distribution against its ln(nlist)
    // ceiling (balance_ppm → 10⁶ means probes prune uniformly;
    // a skewed index wastes its nprobe budget on megacells and the
    // serving-path pruning guarantee decays). Exact integer micro-nats
    // via the native ln_micro kernel + DECIMAL(38,0) sums; the oracle
    // replays the full IVF recipe AND the integer ln steps, so parity
    // is constructed. Scale shape: one |cells|-row aggregate of the
    // partition-pruned index, then a 1-row rollup.
    "ann_cell_entropy" -> { (s, d) =>
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      EmbIvfIndex.cells(s, d)
        .groupBy($"cent_id").agg(count(lit(1)).as("n_vecs"))
        .agg(count(lit(1)).as("n_cells"),
          sum($"n_vecs").as("n_vectors"),
          max($"n_vecs").as("max_cell"),
          sum($"n_vecs".cast(dec) * expr("ln_micro(n_vecs)")).as("sln"))
        .withColumn("entropy_micro",
          expr("ln_micro(n_vectors) - (sln div CAST(n_vectors AS DECIMAL(38,0)))").cast("long"))
        .withColumn("balance_ppm",
          when($"n_cells" === 1, 0L)
            .otherwise(expr("(entropy_micro * 1000000) div ln_micro(n_cells)")))
        .select($"n_cells", $"n_vectors", $"max_cell", $"entropy_micro", $"balance_ppm")
    }
  )

  /** One incremental FPS round: gap' = least(gap, d²(v, newest)). The
    * ONLY join is against the 1-row newest-center relation (FpsSpec
    * proves the plan shape), so a full k-center run costs O(k·n)
    * distance evals — the canonical greedy recurrence.
    */
  private[queries] def fpsUpdate(cand: DataFrame, pick: DataFrame): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand
      .join(broadcast(pick.select($"vec_id".as("nid"), $"q".as("nq"))), lit(true))
      .filter($"vec_id" =!= $"nid")
      .select($"vec_id", $"q",
        least($"gap", graft.operators.VectorOps.l2Col($"q", $"nq")).as("gap"))
  }

  private val QuantCte =
    """WITH e AS (
      |  SELECT vec_id, i,
      |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
      |n AS (SELECT vec_id, SUM(q * q) AS nn FROM e GROUP BY 1)
      |""".stripMargin

  /** The nearest-centroid replay of [[EmbIvfIndex.rank]] over [[QuantCte]]:
    * `cents` (the seed ids, vec_id % step == 0), `cdots` (every vector's
    * exact dot with every seed) and `asgn` (vec_id, cent_id, crnk): the
    * cells in max-cosine order, ties to the smaller cent_id. `crnk <= 1`
    * is the cell assignment, `crnk <= nprobe` a query's probe set.
    */
  private val IvfCellsCte: String = QuantCte +
    s""", cents AS (SELECT vec_id AS cent_id FROM n WHERE vec_id % $CentroidStepSql = 0 AND nn > 0),
       |cdots AS (
       |  SELECT a.vec_id, c.cent_id, SUM(a.q * b.q) AS dot
       |  FROM e a
       |  JOIN e b ON b.i = a.i
       |  JOIN cents c ON c.cent_id = b.vec_id
       |  GROUP BY 1, 2),
       |asgn AS (
       |  SELECT d.vec_id, d.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
       |      CAST(FLOOR(d.dot / (sqrt(nv.nn) * sqrt(nc.nn)) * 1000000.0 + 0.5) AS BIGINT) DESC,
       |      d.cent_id) AS crnk
       |  FROM cdots d
       |  JOIN n nv ON nv.vec_id = d.vec_id AND nv.nn > 0
       |  JOIN n nc ON nc.vec_id = d.cent_id)""".stripMargin

  /** SQL twin of [[pqTopk]] from the codebook on: `sub`, `cdist`, `codes`
    * and `lut` (the encode and the query LUT), then `adc` — the caller's
    * (qid, cid, adist) CTE, which decides the pairs scanned — then the
    * `short` list, the exact `ex` re-rank and the final top-k.
    */
  private def pqOracle(adc: String): String =
    s"""sub AS (
       |  SELECT vec_id, CAST((i - 1) // 8 AS INT) AS sub, CAST((i - 1) % 8 AS INT) AS pos, q
       |  FROM e),
       |cdist AS (
       |  SELECT a.vec_id, a.sub, c.vec_id AS code, CAST(SUM((a.q - c.q) * (a.q - c.q)) AS BIGINT) AS dist
       |  FROM sub a JOIN sub c ON c.sub = a.sub AND c.pos = a.pos AND c.vec_id < 16
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id AS cid, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
       |    FROM cdist) WHERE rn = 1),
       |lut AS (SELECT vec_id AS qid, sub, code, dist AS qdist FROM cdist WHERE vec_id < $NumQueries),
       |""".stripMargin + adc +
      s""",
         |short AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS srnk
         |    FROM adc) WHERE srnk <= ${5 * TopK}),
         |ex AS (
         |  SELECT s.qid, s.cid, CAST(SUM((ea.q - eb.q) * (ea.q - eb.q)) AS BIGINT) AS dist
         |  FROM short s
         |  JOIN e ea ON ea.vec_id = s.qid
         |  JOIN e eb ON eb.vec_id = s.cid AND eb.i = ea.i
         |  GROUP BY 1, 2)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, dist FROM (
         |  SELECT qid, cid, dist,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk
         |  FROM ex) WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin

  /** emb_fps oracle: the greedy trajectory unrolled — round r computes
    * pair distances ONLY from the ≤ k selected rows (never all-pairs, so
    * the replay stays cheap at the driver's sf0.01), takes the min per
    * unselected vector, and picks the argmax with the vec_id tie-break.
    */
  private def FpsOracle: String = {
    val rounds = (2 to FpsK).map { r =>
      val p = r - 1
      s"""d$p AS (
         |  SELECT b.vec_id AS v, a.vec_id AS c, SUM((a.q - b.q) * (a.q - b.q)) AS dd
         |  FROM e a JOIN s$p s ON a.vec_id = s.vec_id JOIN e b ON b.i = a.i
         |  GROUP BY 1, 2),
         |md$p AS (
         |  SELECT v, MIN(dd) AS mind FROM d$p
         |  WHERE v NOT IN (SELECT vec_id FROM s$p) GROUP BY v),
         |p$r AS (SELECT v AS vec_id, mind FROM md$p ORDER BY mind DESC, v LIMIT 1),
         |s$r AS (SELECT vec_id FROM s$p UNION ALL SELECT vec_id FROM p$r)""".stripMargin
    }.mkString(",\n")
    val picks = (2 to FpsK).map(r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, CAST(mind AS BIGINT) FROM p$r")
      .mkString("\n")
    QuantCte + ", s1 AS (SELECT CAST(0 AS BIGINT) AS vec_id),\n" + rounds +
      "\nSELECT CAST(1 AS BIGINT) AS rnk, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS gap\n" +
      picks + "\nORDER BY rnk"
  }

  /** emb_mmr oracle: pool + pool-internal pair sims, then MmrK−1 unrolled
    * greedy rounds. Max-sim-over-selected per round equals the Spark
    * side's incremental greatest() chain, so every pick and its
    * selection-time msim replay exactly.
    */
  private def MmrOracle: String = {
    val rounds = (2 to MmrK).map { r =>
      val p = r - 1
      s"""m$p AS (
         |  SELECT po.qid, po.cid, po.rel_ppm, MAX(ps.sim) AS msim
         |  FROM pool po
         |  JOIN ps ON ps.qid = po.qid AND ps.ca = po.cid
         |  JOIN s$p sel ON sel.qid = ps.qid AND sel.cid = ps.cb
         |  WHERE NOT EXISTS (SELECT 1 FROM s$p x WHERE x.qid = po.qid AND x.cid = po.cid)
         |  GROUP BY 1, 2, 3),
         |p$r AS (
         |  SELECT qid, cid, rel_ppm, msim FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY qid ORDER BY rel_ppm * 7 - msim * 3 DESC, cid) AS rn
         |    FROM m$p) WHERE rn = 1),
         |s$r AS (SELECT qid, cid FROM s$p UNION ALL SELECT qid, cid FROM p$r)""".stripMargin
    }.mkString(",\n")
    val picks = (2 to MmrK).map(r =>
      s"UNION ALL SELECT qid, CAST($r AS BIGINT) AS rnk, cid, rel_ppm, CAST(msim AS BIGINT) FROM p$r")
      .mkString("\n")
    QuantCte +
      s""", dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.q * b.q) AS dot
         |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < $NumQueries AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |rel AS (
         |  SELECT qid, cid,
         |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS rel_ppm
         |  FROM dots JOIN n na ON na.vec_id = dots.qid AND na.nn > 0
         |    JOIN n nb ON nb.vec_id = dots.cid AND nb.nn > 0),
         |pool AS (
         |  SELECT qid, cid, rel_ppm FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY qid ORDER BY rel_ppm DESC, cid) AS rr FROM rel)
         |  WHERE rr <= $MmrPool),
         |pd AS (
         |  SELECT p1.qid, p1.cid AS ca, p2.cid AS cb, SUM(ea.q * eb.q) AS dot
         |  FROM pool p1 JOIN pool p2 ON p2.qid = p1.qid AND p2.cid <> p1.cid
         |  JOIN e ea ON ea.vec_id = p1.cid
         |  JOIN e eb ON eb.vec_id = p2.cid AND eb.i = ea.i
         |  GROUP BY 1, 2, 3),
         |ps AS (
         |  SELECT qid, ca, cb,
         |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS sim
         |  FROM pd JOIN n na ON na.vec_id = pd.ca JOIN n nb ON nb.vec_id = pd.cb),
         |p1 AS (
         |  SELECT qid, cid, rel_ppm FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY qid ORDER BY rel_ppm DESC, cid) AS rn FROM pool)
         |  WHERE rn = 1),
         |s1 AS (SELECT qid, cid FROM p1),
         |$rounds
         |SELECT qid, CAST(1 AS BIGINT) AS rnk, cid, rel_ppm, CAST(0 AS BIGINT) AS msim_ppm
         |FROM p1
         |$picks
         |ORDER BY qid, rnk""".stripMargin
  }

  // ann_ivf_index is definitionally ann_ivf_topk served from the
  // materialized index — one oracle, two queries
  val oracles: Map[String, String] = baseOracles +
    ("ann_ivf_index" -> baseOracles("ann_ivf_topk"))

  private lazy val baseOracles: Map[String, String] = Map(
    "emb_fps" -> FpsOracle,

    // the emb_outliers assignment CTEs, runner-up rank kept, integer
    // silhouette per point then per-cluster integer means
    "emb_silhouette" -> (QuantCte +
      s""", c0 AS (SELECT vec_id AS cid, i, q AS c FROM e WHERE vec_id < $KmeansK),
         |d1 AS (
         |  SELECT e.vec_id, c.cid, SUM((e.q - c.c) * (e.q - c.c)) AS d
         |  FROM e JOIN c0 c ON c.i = e.i GROUP BY 1, 2),
         |r AS (
         |  SELECT vec_id, cid, CAST(d AS BIGINT) AS d,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |  FROM d1),
         |s AS (
         |  SELECT a.vec_id, a.cid,
         |    CASE WHEN b.d > 0 THEN (CAST(b.d - a.d AS HUGEINT) * 1000000) // b.d
         |         ELSE 0 END AS sil
         |  FROM (SELECT vec_id, cid, d FROM r WHERE rn = 1) a
         |  JOIN (SELECT vec_id, d FROM r WHERE rn = 2) b ON a.vec_id = b.vec_id)
         |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(SUM(sil) // COUNT(*) AS BIGINT) AS mean_sil_ppm,
         |  CAST(MIN(sil) AS BIGINT) AS min_sil_ppm,
         |  CAST(MAX(sil) AS BIGINT) AS max_sil_ppm
         |FROM s GROUP BY cid ORDER BY cid""".stripMargin),

    // emb_knn's banding replay: k-distances from the rank-5 edges, the
    // neighbor mean via one equi-join, exact ppm ratio
    "emb_lof" ->
      (s"WITH $KnnEdgeCtes,\n" +
        """knn AS (
          |  SELECT vec_id, neighbor, 1000000 - cos_ppm AS dist FROM knn5),
          |kd AS (
          |  SELECT vec_id, MAX(dist) AS kdist, COUNT(*) AS k
          |  FROM knn GROUP BY 1),
          |sn AS (
          |  SELECT knn.vec_id, SUM(n.kdist) AS snk
          |  FROM knn JOIN kd n ON n.vec_id = knn.neighbor GROUP BY 1)
          |SELECT kd.vec_id, CAST(kd.kdist AS BIGINT) AS kdist,
          |  CAST(CASE WHEN sn.snk > 0 THEN (1000000 * kd.kdist * kd.k) // sn.snk
          |       ELSE 1000000 END AS BIGINT) AS lof_ppm
          |FROM kd JOIN sn ON sn.vec_id = kd.vec_id
          |ORDER BY lof_ppm DESC, kd.vec_id LIMIT 20""".stripMargin),

    // emb_knn's banding replay, self-joined on the flipped edge
    "ann_reciprocal" ->
      (s"WITH $KnnEdgeCtes,\n" +
        """knn AS (SELECT vec_id, neighbor FROM knn5),
          |j AS (
          |  SELECT k.vec_id, k.neighbor,
          |    CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END AS has_rev
          |  FROM knn k
          |  LEFT JOIN knn r ON r.vec_id = k.neighbor AND r.neighbor = k.vec_id)
          |SELECT CAST(label AS BIGINT) AS label,
          |  CAST(COUNT(*) AS BIGINT) AS n_edges,
          |  CAST(SUM(has_rev) AS BIGINT) AS n_reciprocal,
          |  CAST((1000000 * SUM(has_rev)) // COUNT(*) AS BIGINT) AS recip_ppm
          |FROM j JOIN embeddings e ON e.vec_id = j.vec_id
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // exact integer centroids (the emb_centroid_cos floor-div formula),
    // every (vector, label) cosine, then the Mann-Whitney rank sum off
    // the per-label score histogram with the exact 2× tie numerator
    "emb_ood_auc" -> (QuantCte +
      """, lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |cs AS (
        |  SELECT l.label AS clabel, e.i, CAST(SUM(e.q) AS BIGINT) AS sx,
        |    CAST(COUNT(*) AS BIGINT) AS cn0
        |  FROM e JOIN lab l ON l.vec_id = e.vec_id GROUP BY 1, 2),
        |cc AS (SELECT clabel, i, (sx - ((sx % cn0 + cn0) % cn0)) // cn0 AS c FROM cs),
        |cnn AS (SELECT clabel, CAST(SUM(c * c) AS BIGINT) AS cnn FROM cc GROUP BY 1),
        |sc AS (
        |  SELECT l.label, c.clabel,
        |    CAST(FLOOR(CAST(SUM(e.q * c.c) AS BIGINT)
        |      / (sqrt(MAX(n.nn)) * sqrt(MAX(cnn.cnn))) * 1000000.0 + 0.5) AS BIGINT) AS score
        |  FROM e
        |  JOIN lab l ON l.vec_id = e.vec_id
        |  JOIN n ON n.vec_id = e.vec_id AND n.nn > 0
        |  JOIN cc c ON c.i = e.i
        |  JOIN cnn ON cnn.clabel = c.clabel AND cnn.cnn > 0
        |  GROUP BY l.label, c.clabel, e.vec_id),
        |h AS (
        |  SELECT clabel, score,
        |    CAST(SUM(CASE WHEN label = clabel THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN label = clabel THEN 0 ELSE 1 END) AS BIGINT) AS nng
        |  FROM sc GROUP BY 1, 2),
        |wd AS (
        |  SELECT clabel, np, nng,
        |    COALESCE(SUM(nng) OVER (PARTITION BY clabel ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM h),
        |agg AS (
        |  SELECT clabel AS label, SUM(np) AS n_pos, SUM(nng) AS n_neg,
        |    SUM(np * (2 * below + nng)) AS num2
        |  FROM wd GROUP BY 1)
        |SELECT label, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST((1000000 * num2) // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
        |FROM agg WHERE n_pos > 0 AND n_neg > 0 ORDER BY label""".stripMargin),

    // emb_knn's banding replay joined to anchor/neighbor labels: best
    // same-label vs best cross-label neighbor per anchor, floor-mean of
    // the margin so negative sums round identically on both engines
    "emb_triplet" ->
      (s"WITH $KnnEdgeCtes,\n" +
        """lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
          |pa AS (
          |  SELECT k.vec_id, la.label AS la,
          |    MAX(CASE WHEN lb.label = la.label THEN k.cos_ppm END) AS pos_cos,
          |    MAX(CASE WHEN lb.label <> la.label THEN k.cos_ppm END) AS neg_cos
          |  FROM knn5 k
          |  JOIN lab la ON la.vec_id = k.vec_id
          |  JOIN lab lb ON lb.vec_id = k.neighbor
          |  GROUP BY 1, 2),
          |m AS (
          |  SELECT la, pos_cos - neg_cos AS margin FROM pa
          |  WHERE pos_cos IS NOT NULL AND neg_cos IS NOT NULL),
          |g AS (
          |  SELECT la AS label, CAST(COUNT(*) AS BIGINT) AS n_anchors,
          |    CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_semi_hard,
          |    SUM(margin) AS sm,
          |    CAST(MIN(margin) AS BIGINT) AS min_margin_ppm,
          |    CAST(MAX(margin) AS BIGINT) AS max_margin_ppm
          |  FROM m GROUP BY 1)
          |SELECT label, n_anchors, n_semi_hard,
          |  CAST((sm - ((sm % n_anchors + n_anchors) % n_anchors)) // n_anchors AS BIGINT)
          |    AS mean_margin_ppm,
          |  min_margin_ppm, max_margin_ppm
          |FROM g ORDER BY label""".stripMargin),

    // the ann_ivf_topk assignment CTEs rolled up per cell
    "ann_cell_stats" -> (IvfCellsCte +
      s""",
         |g AS (
         |  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |  FROM asgn WHERE crnk <= 1 GROUP BY 1),
         |tot AS (SELECT SUM(n_vecs) AS t FROM g)
         |SELECT g.cent_id, g.n_vecs,
         |  CAST((1000000 * g.n_vecs) // tot.t AS BIGINT) AS share_ppm
         |FROM g, tot ORDER BY g.cent_id""".stripMargin),

    // the cell-stats assignment recipe joined to the label column, per-
    // cell label entropy via the FixedLnSql integer steps
    "emb_label_margin" -> (QuantCte +
      """, lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |cdim AS (
        |  SELECT l.label AS clabel, e.i, CAST(SUM(e.q) AS BIGINT) AS sv
        |  FROM e JOIN lab l ON l.vec_id = e.vec_id GROUP BY 1, 2),
        |cnorm AS (SELECT clabel, SUM(CAST(sv AS HUGEINT) * sv) AS nc FROM cdim GROUP BY 1),
        |dots AS (
        |  SELECT e.vec_id, c.clabel, SUM(CAST(e.q AS HUGEINT) * c.sv) AS dot
        |  FROM e JOIN cdim c ON c.i = e.i GROUP BY 1, 2),
        |cosr AS (
        |  SELECT d.vec_id, d.clabel, l.label,
        |    CAST(FLOOR(CAST(d.dot AS DOUBLE) / (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(cn.nc AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS c_ppm
        |  FROM dots d
        |  JOIN n ON n.vec_id = d.vec_id
        |  JOIN cnorm cn ON cn.clabel = d.clabel
        |  JOIN lab l ON l.vec_id = d.vec_id),
        |per AS (
        |  SELECT vec_id, label,
        |    MAX(CASE WHEN clabel = label THEN c_ppm END)
        |      - MAX(CASE WHEN clabel <> label THEN c_ppm END) AS margin
        |  FROM cosr GROUP BY 1, 2),
        |g AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    MIN(margin) AS min_margin_ppm, SUM(margin) AS sm
        |  FROM per GROUP BY 1)
        |SELECT label, n_vecs, min_margin_ppm,
        |  CAST((sm - ((sm % n_vecs + n_vecs) % n_vecs)) // n_vecs AS BIGINT) AS mean_margin_ppm
        |FROM g ORDER BY label""".stripMargin),

    "ann_probe_cost" -> (IvfCellsCte +
      s""",
         |sizes AS (
         |  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS cell_n
         |  FROM asgn WHERE crnk <= 1 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cell_n) AS BIGINT) AS n_vectors FROM sizes),
         |probes AS (
         |  SELECT vec_id AS qid, cent_id, crnk FROM asgn
         |  WHERE crnk <= 4 AND vec_id < $NumQueries),
         |sweep AS (
         |  SELECT v.np AS nprobe, p.qid, p.cent_id
         |  FROM probes p JOIN (VALUES (1), (2), (3), (4)) v(np) ON p.crnk <= v.np)
         |SELECT CAST(nprobe AS BIGINT) AS nprobe, qid,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(z.cell_n) AS BIGINT) AS n_scanned,
         |  CAST((SUM(z.cell_n) * 1000000) // tot.n_vectors AS BIGINT) AS scan_ppm
         |FROM sweep JOIN sizes z USING (cent_id) CROSS JOIN tot
         |GROUP BY nprobe, qid, tot.n_vectors
         |ORDER BY nprobe, qid""".stripMargin),

    "emb_cell_radius" -> (QuantCte +
      s""", cents AS (SELECT vec_id AS cent_id FROM n WHERE vec_id % $CentroidStepSql = 0 AND nn > 0),
         |cdots AS (
         |  SELECT a.vec_id, c.cent_id, SUM(a.q * b.q) AS dot
         |  FROM e a
         |  JOIN e b ON b.i = a.i
         |  JOIN cents c ON c.cent_id = b.vec_id
         |  GROUP BY 1, 2),
         |asgn AS (
         |  SELECT d.vec_id, d.cent_id,
         |    CAST(FLOOR(d.dot / (sqrt(nv.nn) * sqrt(nc.nn)) * 1000000.0 + 0.5) AS BIGINT) AS c_ppm,
         |    ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
         |      CAST(FLOOR(d.dot / (sqrt(nv.nn) * sqrt(nc.nn)) * 1000000.0 + 0.5) AS BIGINT) DESC,
         |      d.cent_id) AS crnk
         |  FROM cdots d
         |  JOIN n nv ON nv.vec_id = d.vec_id AND nv.nn > 0
         |  JOIN n nc ON nc.vec_id = d.cent_id),
         |g AS (
         |  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |    MIN(c_ppm) AS min_cos_ppm, SUM(c_ppm) AS sc
         |  FROM asgn WHERE crnk <= 1 GROUP BY 1)
         |SELECT cent_id, n_vecs, min_cos_ppm,
         |  CAST((sc - ((sc % n_vecs + n_vecs) % n_vecs)) // n_vecs AS BIGINT) AS mean_cos_ppm
         |FROM g ORDER BY cent_id""".stripMargin),

    "emb_cell_purity" -> {
      val (lnG, lastG) = FixedLnSql.chain("cl", "cpa", Seq("cent_id"), Seq("c"))
      val (lnP, lastP) = FixedLnSql.chain("per", "cpb",
        Seq("cent_id", "n_labels", "top_n", "slc"), Seq("n_vecs"))
      IvfCellsCte +
        s""",
           |cl AS (
           |  SELECT g.cent_id, CAST(emb.label AS BIGINT) AS label,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM asgn g JOIN embeddings emb ON emb.vec_id = g.vec_id
           |  WHERE g.crnk <= 1 GROUP BY 1, 2),
           |$lnG,
           |per AS (
           |  SELECT cent_id, CAST(SUM(c) AS BIGINT) AS n_vecs,
           |    CAST(COUNT(*) AS BIGINT) AS n_labels,
           |    CAST(MAX(c) AS BIGINT) AS top_n,
           |    SUM(CAST(c AS HUGEINT) * ln_c) AS slc
           |  FROM $lastG GROUP BY 1),
           |$lnP
           |SELECT cent_id, n_vecs, n_labels,
           |  CAST(ln_n_vecs - (slc // n_vecs) AS BIGINT) AS entropy_micro,
           |  CAST((top_n * 1000000) // n_vecs AS BIGINT) AS purity_ppm
           |FROM $lastP ORDER BY cent_id""".stripMargin
    },

    // the cell-stats recipe rolled into the 1-row balance score, with
    // the integer ln steps replayed by FixedLnSql
    "ann_cell_entropy" -> {
      val (lnG, lastG) = FixedLnSql.chain("g", "cea", Seq("cent_id"), Seq("n_vecs"))
      val (lnP, lastP) = FixedLnSql.chain("per", "ceb",
        Seq("max_cell", "sln"), Seq("n_cells", "n_vectors"))
      IvfCellsCte +
        s""",
           |g AS (
           |  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
           |  FROM asgn WHERE crnk <= 1 GROUP BY 1),
           |$lnG,
           |per AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           |    CAST(SUM(n_vecs) AS BIGINT) AS n_vectors,
           |    CAST(MAX(n_vecs) AS BIGINT) AS max_cell,
           |    SUM(CAST(n_vecs AS HUGEINT) * ln_n_vecs) AS sln
           |  FROM $lastG),
           |$lnP
           |SELECT n_cells, n_vectors, max_cell,
           |  CAST(ln_n_vectors - (sln // n_vectors) AS BIGINT) AS entropy_micro,
           |  CASE WHEN n_cells = 1 THEN 0
           |    ELSE CAST(((ln_n_vectors - (sln // n_vectors)) * 1000000) // ln_n_cells AS BIGINT)
           |  END AS balance_ppm
           |FROM $lastP""".stripMargin
    },

    // band replay (the dd_embed_lsh CTE chain) rolled up per table
    "ann_band_stats" -> (s"WITH ${DedupQueries.EmbedPairCtes},\n" +
      """occ AS (SELECT tbl, bits, COUNT(*) AS c FROM ebands GROUP BY 1, 2)
        |SELECT CAST(tbl AS BIGINT) AS tbl, CAST(SUM(c) AS BIGINT) AS n_vectors,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets, CAST(MAX(c) AS BIGINT) AS max_bucket,
        |  CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS cand_pairs,
        |  CAST((SUM(c) * 1000000) // COUNT(*) AS BIGINT) AS occupancy_ppm
        |FROM occ GROUP BY 1 ORDER BY tbl""".stripMargin),

    // brute replay thresholded at the radius instead of ranked
    "ann_range" -> (QuantCte +
      s""", dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.q * b.q) AS dot
         |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < $NumQueries AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |sims AS (
         |  SELECT qid, cid,
         |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
         |  FROM dots JOIN n na ON na.vec_id = dots.qid AND na.nn > 0
         |    JOIN n nb ON nb.vec_id = dots.cid AND nb.nn > 0)
         |SELECT qid, cid, cos_ppm FROM sims WHERE cos_ppm >= $RangeTau
         |ORDER BY qid, cos_ppm DESC, cid""".stripMargin),

    // the greedy MMR trajectory unrolled (the emb_fps oracle pattern,
    // query-anchored): pool = per-query top-20 relevance replay, pool-
    // internal pair sims computed once, then each round takes the max
    // sim against the selected set and the (7·rel − 3·msim, cid) argmax
    "emb_mmr" -> MmrOracle,
    // full multi-probe banding replay (shared CTEs with dd_embed_lsh —
    // DedupQueries.EmbedPairCtes regenerates the planes in SQL): the
    // UNTHRESHOLDED pair set symmetrized into the per-vector top-5
    // the ivf_recall + probe_cost CTE chains joined to per-nprobe means
    "ann_operating_point" -> (IvfCellsCte +
      s""",
         |cells AS (SELECT vec_id AS cid, cent_id FROM asgn WHERE crnk <= 1),
         |sizes AS (
         |  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS cell_n
         |  FROM asgn WHERE crnk <= 1 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cell_n) AS BIGINT) AS n_vectors FROM sizes),
         |bdots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
         |  FROM e a JOIN e b ON b.i = a.i AND a.vec_id < $NumQueries AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |bsims AS (
         |  SELECT qid, cid,
         |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
         |  FROM bdots JOIN n na ON na.vec_id = bdots.qid AND na.nn > 0
         |    JOIN n nb ON nb.vec_id = bdots.cid AND nb.nn > 0),
         |btop AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS rnk
         |    FROM bsims) WHERE rnk <= $TopK),
         |""".stripMargin +
      Seq(1, 2, 4).map { np =>
        s"""qp$np AS (SELECT vec_id AS qid, cent_id FROM asgn
           |  WHERE crnk <= $np AND vec_id < $NumQueries),
           |ic$np AS (
           |  SELECT q.qid, cl.cid FROM qp$np q JOIN cells cl ON cl.cent_id = q.cent_id
           |  WHERE cl.cid <> q.qid),
           |ip$np AS (
           |  SELECT c.qid, c.cid,
           |    CAST(FLOOR(CAST(SUM(ea.q * eb.q) AS BIGINT) / (sqrt(MAX(na.nn)) * sqrt(MAX(nb.nn))) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
           |  FROM ic$np c
           |  JOIN e ea ON ea.vec_id = c.qid
           |  JOIN e eb ON eb.vec_id = c.cid AND eb.i = ea.i
           |  JOIN n na ON na.vec_id = c.qid
           |  JOIN n nb ON nb.vec_id = c.cid
           |  GROUP BY 1, 2),
           |it$np AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS rnk
           |    FROM ip$np) WHERE rnk <= $TopK),
           |u$np AS (
           |  SELECT CAST($np AS BIGINT) AS nprobe,
           |    CAST(COUNT(DISTINCT b.qid) AS BIGINT) AS n_queries,
           |    CAST(SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |    (SELECT CAST(SUM(z.cell_n) AS BIGINT) FROM qp$np p JOIN sizes z ON z.cent_id = p.cent_id) AS scanned
           |  FROM btop b LEFT JOIN it$np t ON t.qid = b.qid AND t.cid = b.cid)""".stripMargin
      }.mkString(",\n") +
      s"""
         |, uni AS (
         |  SELECT nprobe, n_queries,
         |    (hits * 1000000) // ($TopK * n_queries) AS mean_recall_ppm,
         |    (scanned * 1000000) // (n_queries * tot.n_vectors) AS mean_scan_ppm
         |  FROM (SELECT * FROM u1 UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM u4), tot),
         |pick AS (
         |  SELECT COALESCE(MIN(CASE WHEN mean_recall_ppm >= 800000 THEN nprobe END),
         |    MAX(nprobe)) AS pick FROM uni)
         |SELECT nprobe, n_queries, CAST(mean_recall_ppm AS BIGINT) AS mean_recall_ppm,
         |  CAST(mean_scan_ppm AS BIGINT) AS mean_scan_ppm,
         |  CAST(CASE WHEN nprobe = pick.pick THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM uni, pick ORDER BY nprobe""".stripMargin),

    // knn5 in-degree + the zero-degree antihubs from the embeddings ids
    "emb_hubness" ->
      (s"WITH $KnnEdgeCtes,\n" +
        """deg AS (
          |  SELECT neighbor AS vec_id, CAST(COUNT(*) AS BIGINT) AS indeg
          |  FROM knn5 GROUP BY 1),
          |j AS (
          |  SELECT COALESCE(deg.indeg, 0) AS indeg
          |  FROM embeddings e LEFT JOIN deg ON deg.vec_id = e.vec_id),
          |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM j)
          |SELECT CAST(indeg AS BIGINT) AS indeg, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          |  CAST((CAST(1000000 AS HUGEINT) * COUNT(*)) // MAX(tot.t) AS BIGINT) AS share_ppm
          |FROM j, tot GROUP BY indeg ORDER BY indeg""".stripMargin),

    "emb_knn" ->
      (s"WITH $KnnEdgeCtes\n" +
        """SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, neighbor, cos_ppm
          |FROM knn5 ORDER BY vec_id, rnk""".stripMargin),

    // the same knn5 relation, mutual edges, the identical top-K backbone
    // cut (subquery LIMIT), recursive min-label reach
    "emb_knn_cc" ->
      (s"WITH RECURSIVE $KnnEdgeCtes,\n" +
        """ke AS (SELECT vec_id, neighbor, cos_ppm FROM knn5),
          |mutk AS (
          |  SELECT k1.vec_id AS a, k1.neighbor AS b, k1.cos_ppm
          |  FROM ke k1 JOIN ke k2
          |    ON k2.vec_id = k1.neighbor AND k2.neighbor = k1.vec_id
          |  WHERE k1.vec_id < k1.neighbor),
          |mut AS MATERIALIZED (
          |  SELECT a, b FROM mutk
          |  ORDER BY cos_ppm DESC, a, b
          |  LIMIT (SELECT COUNT(*) // 2 FROM embeddings)),
          |msym AS MATERIALIZED (
          |  SELECT a, b FROM mut UNION SELECT b AS a, a AS b FROM mut),
          |reach AS (
          |  SELECT a AS v, a AS r FROM msym
          |  UNION
          |  SELECT s.b AS v, reach.r FROM reach JOIN msym s ON s.a = reach.v),
          |comp AS (SELECT v AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
          |csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
          |        FROM comp GROUP BY 1)
          |SELECT c.vec_id, c.cluster_id, z.n_members
          |FROM comp c JOIN csz z ON z.cluster_id = c.cluster_id
          |ORDER BY c.vec_id""".stripMargin),

    // the same symmetrized replay joined to labels, cross-label rank 1
    "emb_hard_negatives" ->
      (s"WITH ${DedupQueries.EmbedPairCtes},\n" +
        """sym AS (
          |  SELECT va AS vec_id, vb AS neg_id, cos_ppm FROM epairs
          |  UNION ALL SELECT vb, va, cos_ppm FROM epairs),
          |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
          |rk AS (
          |  SELECT s.vec_id, a.label, s.neg_id, b.label AS neg_label, s.cos_ppm,
          |    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY s.cos_ppm DESC, s.neg_id) AS rn
          |  FROM sym s
          |  JOIN lab a ON a.vec_id = s.vec_id
          |  JOIN lab b ON b.vec_id = s.neg_id
          |  WHERE a.label <> b.label)
          |SELECT vec_id, label, neg_id, neg_label, cos_ppm FROM rk WHERE rn = 1
          |ORDER BY vec_id""".stripMargin),

    // ...the thresholded pairs resolved to clusters by the same
    // recursive-CTE transitive closure as dd_cluster, keep-min verdicts
    "emb_semdedup" ->
      (s"WITH RECURSIVE ${DedupQueries.EmbedPairCtes},\n" +
        s"""ep AS (SELECT va AS a, vb AS b FROM epairs
           |  WHERE cos_ppm >= ${DedupQueries.EmbedLshThresholdPpm}),
           |sym2 AS (SELECT a, b FROM ep UNION SELECT b AS a, a AS b FROM ep),
           |reach AS (
           |  SELECT a AS doc, a AS r FROM sym2
           |  UNION
           |  SELECT s.b AS doc, reach.r FROM reach JOIN sym2 s ON s.a = reach.doc),
           |comp AS (SELECT doc AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY doc)
           |SELECT em.vec_id, COALESCE(c.cluster_id, em.vec_id) AS cluster_id,
           |  CAST(CASE WHEN em.vec_id = COALESCE(c.cluster_id, em.vec_id) THEN 1 ELSE 0 END AS BIGINT) AS kept
           |FROM embeddings em LEFT JOIN comp c ON c.vec_id = em.vec_id
           |ORDER BY em.vec_id""".stripMargin),

    // single-table 8-bit signature replay: the first 8 planes of the
    // shared base, queries probe own bucket + 8 one-bit flips, exact
    // cosine, per-query top-k (NO zero-norm exclusion — the engine's
    // withHyperplaneSig runs on the unfiltered corpus)
    "ann_lsh_topk" ->
      (s"WITH ${DedupQueries.EmbedBaseCtes},\n" +
        s"""sig AS (
           |  SELECT vec_id,
           |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(1 << (j % $Hyperplanes) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
           |  FROM pdots WHERE j < $Hyperplanes GROUP BY 1),
           |qpro AS (
           |  SELECT vec_id AS qid,
           |    CAST(CASE WHEN k = -1 THEN sig
           |              ELSE xor(sig, CAST(1 << CAST(k AS INT) AS BIGINT)) END AS BIGINT) AS probe
           |  FROM sig, range(-1, $Hyperplanes) tk(k)
           |  WHERE vec_id < $NumQueries),
           |cand2 AS (
           |  SELECT DISTINCT q.qid, c.vec_id AS cid
           |  FROM qpro q JOIN sig c ON c.sig = q.probe
           |  WHERE c.vec_id <> q.qid),
           |pair2 AS (
           |  SELECT c.qid, c.cid,
           |    CAST(FLOOR(CAST(SUM(ea.q * eb.q) AS BIGINT) / (sqrt(MAX(na.nn)) * sqrt(MAX(nb.nn))) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
           |  FROM cand2 c
           |  JOIN eq ea ON ea.vec_id = c.qid
           |  JOIN eq eb ON eb.vec_id = c.cid AND eb.i = ea.i
           |  JOIN nrm na ON na.vec_id = c.qid AND na.nn > 0
           |  JOIN nrm nb ON nb.vec_id = c.cid AND nb.nn > 0
           |  GROUP BY 1, 2),
           |rk2 AS (
           |  SELECT qid, cid, cos_ppm,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS BIGINT) AS rnk
           |  FROM pair2)
           |SELECT qid, rnk, cid, cos_ppm FROM rk2 WHERE rnk <= $TopK
           |ORDER BY qid, rnk""".stripMargin),

    // recall@k as an exact value: BOTH pipelines (LSH probe chain and
    // the brute truth) replay on the shared eq/nrm relations, then one
    // LEFT join counts the overlap per query
    "ann_recall_eval" ->
      (s"WITH ${DedupQueries.EmbedBaseCtes},\n" +
        s"""sig AS (
           |  SELECT vec_id,
           |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(1 << (j % $Hyperplanes) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
           |  FROM pdots WHERE j < $Hyperplanes GROUP BY 1),
           |qpro AS (
           |  SELECT vec_id AS qid,
           |    CAST(CASE WHEN k = -1 THEN sig
           |              ELSE xor(sig, CAST(1 << CAST(k AS INT) AS BIGINT)) END AS BIGINT) AS probe
           |  FROM sig, range(-1, $Hyperplanes) tk(k)
           |  WHERE vec_id < $NumQueries),
           |cand2 AS (
           |  SELECT DISTINCT q.qid, c.vec_id AS cid
           |  FROM qpro q JOIN sig c ON c.sig = q.probe
           |  WHERE c.vec_id <> q.qid),
           |pair2 AS (
           |  SELECT c.qid, c.cid,
           |    CAST(FLOOR(CAST(SUM(ea.q * eb.q) AS BIGINT) / (sqrt(MAX(na.nn)) * sqrt(MAX(nb.nn))) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
           |  FROM cand2 c
           |  JOIN eq ea ON ea.vec_id = c.qid
           |  JOIN eq eb ON eb.vec_id = c.cid AND eb.i = ea.i
           |  JOIN nrm na ON na.vec_id = c.qid AND na.nn > 0
           |  JOIN nrm nb ON nb.vec_id = c.cid AND nb.nn > 0
           |  GROUP BY 1, 2),
           |ltop AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS rnk
           |    FROM pair2) WHERE rnk <= $TopK),
           |bdots AS (
           |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
           |  FROM eq a JOIN eq b ON b.i = a.i AND a.vec_id < $NumQueries AND b.vec_id <> a.vec_id
           |  GROUP BY 1, 2),
           |bsims AS (
           |  SELECT qid, cid,
           |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
           |  FROM bdots JOIN nrm na ON na.vec_id = bdots.qid AND na.nn > 0
           |    JOIN nrm nb ON nb.vec_id = bdots.cid AND nb.nn > 0),
           |btop AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS rnk
           |    FROM bsims) WHERE rnk <= $TopK)
           |SELECT b.qid, CAST(COUNT(l.cid) AS BIGINT) AS n_hits,
           |  CAST((COUNT(l.cid) * 1000000) // $TopK AS BIGINT) AS recall_ppm
           |FROM btop b LEFT JOIN ltop l ON l.qid = b.qid AND l.cid = b.cid
           |GROUP BY b.qid ORDER BY b.qid""".stripMargin),

    // PQ replay: the codebook is DETERMINISTIC (codewords = subvectors
    // of vec_id < 16 — no iteration), so encode, per-query LUT, ADC
    // shortlist and exact re-rank all replay in SQL
    // both engines truncate integral division toward zero, so the
    // subtract-positive-remainder form makes the mean an exact floor on
    // each (sxx is nonnegative — plain // is already floor there)
    "emb_mahal" -> (QuantCte +
      """, lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |qe AS (SELECT e.vec_id, lab.label, e.i, e.q FROM e JOIN lab USING (vec_id)),
        |st AS (
        |  SELECT label, i, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS BIGINT) AS sx, CAST(SUM(q * q) AS BIGINT) AS sxx
        |  FROM qe GROUP BY 1, 2),
        |st2 AS (
        |  SELECT label, i, (sx - ((sx % n) + n) % n) // n AS mean_q,
        |    GREATEST(1, sxx // n -
        |      ((sx - ((sx % n) + n) % n) // n) * ((sx - ((sx % n) + n) % n) // n)) AS var_q
        |  FROM st),
        |z AS (
        |  SELECT qe.vec_id, qe.label,
        |    ((qe.q - st2.mean_q) * (qe.q - st2.mean_q) * 1000) // st2.var_q AS zt
        |  FROM qe JOIN st2 ON st2.label = qe.label AND st2.i = qe.i)
        |SELECT vec_id, label, CAST(SUM(zt) AS BIGINT) AS z2_milli
        |FROM z GROUP BY 1, 2 ORDER BY z2_milli DESC, vec_id LIMIT 20""".stripMargin),

    // IVF-PQ composition: the IVF cell/probe CTEs restrict the candidate
    // pairs, the PQ code/LUT CTEs rank them by ADC, exact re-rank last
    "ann_ivf_pq" -> (IvfCellsCte +
      s""",
         |cells AS (SELECT vec_id AS cid, cent_id FROM asgn WHERE crnk <= 1),
         |qprobes AS (SELECT vec_id AS qid, cent_id FROM asgn WHERE crnk <= 2 AND vec_id < $NumQueries),
         |cand AS (
         |  SELECT q.qid, cl.cid FROM qprobes q JOIN cells cl ON cl.cent_id = q.cent_id
         |  WHERE cl.cid <> q.qid),
         |""".stripMargin + pqOracle(
        """adc AS (
          |  SELECT ca.qid, ca.cid, CAST(SUM(l.qdist) AS BIGINT) AS adist
          |  FROM cand ca
          |  JOIN codes c ON c.cid = ca.cid
          |  JOIN lut l ON l.qid = ca.qid AND l.sub = c.sub AND l.code = c.code
          |  GROUP BY 1, 2)""".stripMargin)),

    "ann_pq_topk" -> (QuantCte + ", " + pqOracle(
      """adc AS (
        |  SELECT l.qid, c.cid, CAST(SUM(l.qdist) AS BIGINT) AS adist
        |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
        |  WHERE c.cid <> l.qid
        |  GROUP BY 1, 2)""".stripMargin)),

    // IVF replay: deterministic seed centroids (vec_id % step), nearest-
    // cell assignment by max cosine with centroid-id tie-break, queries
    // probe their 2 nearest cells, exact cosine on the probed cells
    "ann_ivf_topk" -> (IvfCellsCte +
      s""",
         |cells AS (SELECT vec_id AS cid, cent_id FROM asgn WHERE crnk <= 1),
         |qprobes AS (SELECT vec_id AS qid, cent_id FROM asgn WHERE crnk <= 2 AND vec_id < $NumQueries),
         |icand AS (
         |  SELECT q.qid, cl.cid FROM qprobes q JOIN cells cl ON cl.cent_id = q.cent_id
         |  WHERE cl.cid <> q.qid),
         |ipair AS (
         |  SELECT c.qid, c.cid,
         |    CAST(FLOOR(CAST(SUM(ea.q * eb.q) AS BIGINT) / (sqrt(MAX(na.nn)) * sqrt(MAX(nb.nn))) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
         |  FROM icand c
         |  JOIN e ea ON ea.vec_id = c.qid
         |  JOIN e eb ON eb.vec_id = c.cid AND eb.i = ea.i
         |  JOIN n na ON na.vec_id = c.qid
         |  JOIN n nb ON nb.vec_id = c.cid
         |  GROUP BY 1, 2),
         |irk AS (
         |  SELECT qid, cid, cos_ppm,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS BIGINT) AS rnk
         |  FROM ipair)
         |SELECT qid, rnk, cid, cos_ppm FROM irk WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin),

    // the IVF CTEs ranked to crnk <= 4 once, then each sweep point
    // re-filters the probe set and scores against the brute truth
    "ann_ivf_recall" -> (IvfCellsCte +
      s""",
         |cells AS (SELECT vec_id AS cid, cent_id FROM asgn WHERE crnk <= 1),
         |bdots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot
         |  FROM e a JOIN e b ON b.i = a.i AND a.vec_id < $NumQueries AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |bsims AS (
         |  SELECT qid, cid,
         |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
         |  FROM bdots JOIN n na ON na.vec_id = bdots.qid AND na.nn > 0
         |    JOIN n nb ON nb.vec_id = bdots.cid AND nb.nn > 0),
         |btop AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS rnk
         |    FROM bsims) WHERE rnk <= $TopK),
         |""".stripMargin +
      Seq(1, 2, 4).map { np =>
        s"""qp$np AS (SELECT vec_id AS qid, cent_id FROM asgn
           |  WHERE crnk <= $np AND vec_id < $NumQueries),
           |ic$np AS (
           |  SELECT q.qid, cl.cid FROM qp$np q JOIN cells cl ON cl.cent_id = q.cent_id
           |  WHERE cl.cid <> q.qid),
           |ip$np AS (
           |  SELECT c.qid, c.cid,
           |    CAST(FLOOR(CAST(SUM(ea.q * eb.q) AS BIGINT) / (sqrt(MAX(na.nn)) * sqrt(MAX(nb.nn))) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
           |  FROM ic$np c
           |  JOIN e ea ON ea.vec_id = c.qid
           |  JOIN e eb ON eb.vec_id = c.cid AND eb.i = ea.i
           |  JOIN n na ON na.vec_id = c.qid
           |  JOIN n nb ON nb.vec_id = c.cid
           |  GROUP BY 1, 2),
           |it$np AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS rnk
           |    FROM ip$np) WHERE rnk <= $TopK),
           |r$np AS (
           |  SELECT CAST($np AS BIGINT) AS nprobe, b.qid,
           |    CAST(SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |  FROM btop b LEFT JOIN it$np t ON t.qid = b.qid AND t.cid = b.cid
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n") +
      s"""
         |SELECT nprobe, qid, n_hits,
         |  CAST((n_hits * 1000000) // $TopK AS BIGINT) AS recall_ppm
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r4)
         |ORDER BY nprobe, qid""".stripMargin),

    // subspace split on the flat (vec_id, i, q) relation: sub = (i-1)//8,
    // codebook = the first 16 vectors, per-(vector, subspace) min over
    // the 16 candidate distances
    "emb_pq_distortion" -> (QuantCte +
      """, sd AS (
        |  SELECT a.vec_id, c.vec_id AS code, (a.i - 1) // 8 AS sub,
        |    SUM((a.q - c.q) * (a.q - c.q)) AS dist
        |  FROM e a
        |  JOIN e c ON c.i = a.i AND c.vec_id < 16
        |  GROUP BY 1, 2, 3),
        |enc AS (SELECT vec_id, sub, MIN(dist) AS err FROM sd GROUP BY 1, 2)
        |SELECT CAST(sub AS BIGINT) AS sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CAST(err AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_err,
        |  CAST(MAX(err) AS BIGINT) AS max_err,
        |  CAST(SUM(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        |FROM enc GROUP BY sub ORDER BY sub""".stripMargin),

    // the ann_pq_topk codes CTE (same argmin tie-break), a (sub, code)
    // usage agg, then the ln_micro chains replay the entropy exactly
    "emb_pq_code_balance" -> {
      val (lnU, lastU) = FixedLnSql.chain("u", "pba", Seq("sub", "code"), Seq("n"))
      val (lnG, lastG) = FixedLnSql.chain("g", "pbb",
        Seq("sub", "n_used", "max_n", "sln"), Seq("n_vecs"))
      QuantCte +
        s""", sub AS (
           |  SELECT vec_id, CAST((i - 1) // 8 AS INT) AS sub, CAST((i - 1) % 8 AS INT) AS pos, q
           |  FROM e),
           |cdist AS (
           |  SELECT a.vec_id, a.sub, c.vec_id AS code, CAST(SUM((a.q - c.q) * (a.q - c.q)) AS BIGINT) AS dist
           |  FROM sub a JOIN sub c ON c.sub = a.sub AND c.pos = a.pos AND c.vec_id < 16
           |  GROUP BY 1, 2, 3),
           |codes AS (
           |  SELECT vec_id, sub, code FROM (
           |    SELECT vec_id, sub, code,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
           |    FROM cdist) WHERE rn = 1),
           |u AS (SELECT sub, code, CAST(COUNT(*) AS BIGINT) AS n FROM codes GROUP BY 1, 2),
           |$lnU,
           |g AS (
           |  SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_used, CAST(SUM(n) AS BIGINT) AS n_vecs,
           |    CAST(MAX(n) AS BIGINT) AS max_n, SUM(CAST(n AS HUGEINT) * ln_n) AS sln
           |  FROM $lastU GROUP BY sub),
           |$lnG
           |SELECT CAST(sub AS BIGINT) AS sub, n_used, n_vecs, max_n,
           |  CAST((max_n * 1000000) // n_vecs AS BIGINT) AS top_share_ppm,
           |  CAST(ln_n_vecs - (sln // CAST(n_vecs AS HUGEINT)) AS BIGINT) AS entropy_micro,
           |  CAST(((ln_n_vecs - (sln // CAST(n_vecs AS HUGEINT))) * 1000000) // ${graft.functions.FixedLnOps.lnMicro(16)} AS BIGINT) AS balance_ppm
           |FROM $lastG ORDER BY sub""".stripMargin
    },

    // the emb_kmeans floor-mean centroid per (label, half, dim), then
    // the exact cosine between each label's half-centroids
    "emb_centroid_drift" -> (QuantCte +
      """, l AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |cd AS (
        |  SELECT l.label, ((e.vec_id % 2) + 2) % 2 AS half, e.i,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    (CAST(SUM(e.q) AS BIGINT) - (((CAST(SUM(e.q) AS BIGINT) % COUNT(*)) + COUNT(*)) % COUNT(*))) // COUNT(*) AS c
        |  FROM e JOIN l ON l.vec_id = e.vec_id GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT COALESCE(a.label, b.label) AS label,
        |    a.n AS n_even, b.n AS n_odd, a.c AS ca, b.c AS cb
        |  FROM (SELECT * FROM cd WHERE half = 0) a
        |  FULL OUTER JOIN (SELECT * FROM cd WHERE half = 1) b
        |    ON b.label = a.label AND b.i = a.i)
        |SELECT label, CAST(COALESCE(MAX(n_even), 0) AS BIGINT) AS n_even,
        |  CAST(COALESCE(MAX(n_odd), 0) AS BIGINT) AS n_odd,
        |  CASE WHEN SUM(ca * ca) IS NULL OR SUM(cb * cb) IS NULL
        |      OR SUM(ca * ca) = 0 OR SUM(cb * cb) = 0 THEN NULL
        |    ELSE CAST(FLOOR(SUM(ca * cb) / (sqrt(SUM(ca * ca)) * sqrt(SUM(cb * cb))) * 1000000.0 + 0.5) AS BIGINT)
        |  END AS cos_ppm
        |FROM j GROUP BY label ORDER BY label""".stripMargin),

    // per-label counts through the ln_micro chains (the rd_group_entropy
    // oracle pattern on the label axis)
    "emb_label_balance" -> {
      val (lnG, lastG) = FixedLnSql.chain("g", "lba", Seq("label"), Seq("n"))
      val (lnP, lastP) = FixedLnSql.chain("per", "lbb",
        Seq("max_label", "sln"), Seq("n_vecs", "n_labels"))
      s"""WITH g AS (
         |  SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM embeddings GROUP BY 1),
         |$lnG,
         |per AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_labels, CAST(SUM(n) AS BIGINT) AS n_vecs,
         |    CAST(MAX(n) AS BIGINT) AS max_label, SUM(CAST(n AS HUGEINT) * ln_n) AS sln
         |  FROM $lastG),
         |$lnP
         |SELECT n_labels, n_vecs, max_label,
         |  CAST(ln_n_vecs - (sln // CAST(n_vecs AS HUGEINT)) AS BIGINT) AS entropy_micro,
         |  CASE WHEN n_labels = 1 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(((ln_n_vecs - (sln // CAST(n_vecs AS HUGEINT))) * 1000000) // ln_n_labels AS BIGINT) END AS balance_ppm
         |FROM $lastP""".stripMargin
    },

    // the same integer floor-mean centroid formula as the emb_kmeans
    // oracle, one argmin per vector, then the matrix agg
    "emb_centroid_confusion" -> (QuantCte +
      """, l AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |cd AS (
        |  SELECT l.label AS alabel, e.i,
        |    (CAST(SUM(e.q) AS BIGINT) - (((CAST(SUM(e.q) AS BIGINT) % COUNT(*)) + COUNT(*)) % COUNT(*))) // COUNT(*) AS c
        |  FROM e JOIN l ON l.vec_id = e.vec_id GROUP BY 1, 2),
        |dd AS (
        |  SELECT e.vec_id, cd.alabel, SUM((e.q - cd.c) * (e.q - cd.c)) AS d
        |  FROM e JOIN cd ON cd.i = e.i GROUP BY 1, 2),
        |a AS (
        |  SELECT vec_id, alabel FROM (
        |    SELECT vec_id, alabel,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, alabel) AS rn
        |    FROM dd) WHERE rn = 1)
        |SELECT l.label AS true_label, a.alabel AS assigned_label,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM a JOIN l ON l.vec_id = a.vec_id
        |GROUP BY 1, 2 ORDER BY true_label, assigned_label""".stripMargin),

    // the materialized pair relation regenerated from the md5 recipe
    // (EmbedPairCtes), joined to labels, canonicalized per label pair
    "emb_cross_label" ->
      (s"WITH ${DedupQueries.EmbedPairCtes},\n" +
        s"""lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
           |x AS (
           |  SELECT LEAST(la.label, lb.label) AS label_lo,
           |    GREATEST(la.label, lb.label) AS label_hi, p.cos_ppm
           |  FROM epairs p
           |  JOIN lab la ON la.vec_id = p.va
           |  JOIN lab lb ON lb.vec_id = p.vb
           |  WHERE p.cos_ppm >= ${DedupQueries.EmbedLshThresholdPpm}
           |    AND la.label <> lb.label)
           |SELECT label_lo, label_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(MAX(cos_ppm) AS BIGINT) AS max_cos_ppm
           |FROM x GROUP BY 1, 2 ORDER BY label_lo, label_hi""".stripMargin),

    "ann_brute_topk" -> (QuantCte +
      s""", dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.q * b.q) AS dot
         |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < $NumQueries AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |sims AS (
         |  SELECT qid, cid,
         |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
         |  FROM dots JOIN n na ON na.vec_id = dots.qid AND na.nn > 0
         |    JOIN n nb ON nb.vec_id = dots.cid AND nb.nn > 0),
         |ranked AS (
         |  SELECT qid, cid, cos_ppm,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS BIGINT) AS rnk
         |  FROM sims)
         |SELECT qid, rnk, cid, cos_ppm FROM ranked WHERE rnk <= $TopK
         |ORDER BY qid, rnk""".stripMargin),

    "ann_pair_sim" -> (QuantCte +
      """, p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.q * b.q) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 100
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT va, vb,
        |    CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
        |  FROM p JOIN n na ON na.vec_id = p.va JOIN n nb ON nb.vec_id = p.vb)
        |SELECT va AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_similar, MAX(cos_ppm) AS max_cos_ppm
        |FROM sims WHERE cos_ppm >= 250000
        |GROUP BY va ORDER BY vec_id""".stripMargin),

    // the Lloyd chain unrolled: d{r}/a{r} = distances + argmin assignment
    // of round r, c{r} = floored integer centroid update feeding round
    // r+1. Same floor-division identity as the Spark side.
    "emb_kmeans" -> {
      val fdiv = "(CAST(SUM(e.q) AS BIGINT) - " +
        "(((CAST(SUM(e.q) AS BIGINT) % COUNT(*)) + COUNT(*)) % COUNT(*))) // COUNT(*)"
      val rounds = (1 to KmeansIters).map { r =>
        val cPrev = s"c${r - 1}"
        val upd = if (r < KmeansIters)
          s""",
             |c$r AS (
             |  SELECT a.cid, e.i, $fdiv AS c
             |  FROM e JOIN a$r a ON a.vec_id = e.vec_id GROUP BY 1, 2)""".stripMargin
        else ""
        s"""d$r AS (
           |  SELECT e.vec_id, c.cid, SUM((e.q - c.c) * (e.q - c.c)) AS d
           |  FROM e JOIN $cPrev c ON c.i = e.i GROUP BY 1, 2),
           |a$r AS (
           |  SELECT vec_id, cid, d FROM (
           |    SELECT vec_id, cid, d,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
           |    FROM d$r)
           |  WHERE rn = 1)$upd""".stripMargin
      }.mkString(",\n")
      QuantCte +
        s""", c0 AS (SELECT vec_id AS cid, i, q AS c FROM e WHERE vec_id < $KmeansK),
           |$rounds
           |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members, CAST(SUM(d) AS BIGINT) AS inertia
           |FROM a$KmeansIters GROUP BY cid ORDER BY cid""".stripMargin
    },

    // one assignment round against the seed centroids, then the top-20
    // largest min-distances (ties broken by vec_id) — same integer
    // arithmetic as the Spark side, so the compare is exact
    "emb_outliers" -> (QuantCte +
      s""", c0 AS (SELECT vec_id AS cid, i, q AS c FROM e WHERE vec_id < $KmeansK),
         |d1 AS (
         |  SELECT e.vec_id, c.cid, SUM((e.q - c.c) * (e.q - c.c)) AS d
         |  FROM e JOIN c0 c ON c.i = e.i GROUP BY 1, 2),
         |a1 AS (
         |  SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d1)
         |  WHERE rn = 1)
         |SELECT vec_id, cid, CAST(d AS BIGINT) AS dist FROM a1
         |ORDER BY dist DESC, vec_id LIMIT 20""".stripMargin),

    // same assignment CTEs as emb_outliers, then the capped per-cluster
    // pick replayed directly (the oracle needs no threshold pre-filter —
    // exactness of the Spark side is what the compare proves)
    "samp_cluster" -> (QuantCte +
      s""", c0 AS (SELECT vec_id AS cid, i, q AS c FROM e WHERE vec_id < $KmeansK),
         |d1 AS (
         |  SELECT e.vec_id, c.cid, SUM((e.q - c.c) * (e.q - c.c)) AS d
         |  FROM e JOIN c0 c ON c.i = e.i GROUP BY 1, 2),
         |a1 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d1)
         |  WHERE rn = 1),
         |cc AS (SELECT GREATEST(1, COUNT(*) // ${2 * KmeansK}) AS cap FROM a1),
         |r AS (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
         |        vec_id) AS rk
         |  FROM a1),
         |kept AS (SELECT r.* FROM r, cc WHERE r.rk <= cc.cap),
         |ks AS (
         |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    MIN(vec_id) AS min_kept, MAX(vec_id) AS max_kept
         |  FROM kept GROUP BY cid),
         |ms AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM a1 GROUP BY cid)
         |SELECT ms.cid, ms.n_members, ks.n_kept, ks.min_kept, ks.max_kept
         |FROM ms JOIN ks ON ks.cid = ms.cid
         |ORDER BY ms.cid""".stripMargin),

    "emb_label_stats" -> (QuantCte +
      """, l AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |sd AS (
        |  SELECT l.label, e.i, SUM(e.q) AS sd
        |  FROM e JOIN l ON l.vec_id = e.vec_id GROUP BY 1, 2),
        |cd AS (SELECT label, CAST(SUM(sd * sd) AS BIGINT) AS centroid_dot FROM sd GROUP BY 1),
        |nv AS (
        |  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(n.nn) AS BIGINT) AS sum_norm2
        |  FROM n JOIN l ON l.vec_id = n.vec_id GROUP BY 1)
        |SELECT nv.label, nv.n_vecs, nv.sum_norm2, cd.centroid_dot
        |FROM nv JOIN cd ON cd.label = nv.label
        |ORDER BY nv.label""".stripMargin),

    // the ±1 planes replay the Java recipe exactly: sign = +1 iff the top
    // bit of md5("j:i")'s first byte is 0 (VectorOps.hyperplanes)
    "emb_rp" -> (QuantCte +
      s""", planes AS (
         |  SELECT j, i,
         |    CASE WHEN (CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2) AS INT) & 128) = 0
         |         THEN 1 ELSE -1 END AS sign
         |  FROM UNNEST(range(0, $RpPlanes)) AS a(j), UNNEST(range(0, $Dims)) AS b(i)),
         |p AS (
         |  SELECT e.vec_id, pl.j, SUM(e.q * pl.sign) AS p
         |  FROM e JOIN planes pl ON pl.i = e.i - 1
         |  GROUP BY 1, 2),
         |sk AS (
         |  SELECT vec_id,
         |    CAST(SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sketch_sig,
         |    CAST(SUM(p * p) AS BIGINT) AS proj_norm2
         |  FROM p GROUP BY vec_id)
         |SELECT sk.vec_id, sk.sketch_sig, sk.proj_norm2, CAST(n.nn AS BIGINT) AS nn
         |FROM sk JOIN n ON n.vec_id = sk.vec_id
         |ORDER BY sk.vec_id""".stripMargin),

    // lexical set-overlap and cosine fused per pair: the pair universe
    // comes from the dot side (every query×candidate), overlap LEFT-joins
    // in so zero-intersection pairs still rank by cosine alone
    "ann_hybrid" -> (QuantCte +
      s""", tk AS (
         |  SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
         |    FROM documents)),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM tk GROUP BY 1),
         |ov AS (
         |  SELECT a.doc_id AS qid, b.doc_id AS cid, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM tk a JOIN tk b ON a.tok = b.tok
         |    AND a.doc_id < $NumQueries AND b.doc_id <> a.doc_id
         |  GROUP BY 1, 2),
         |dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS cid, SUM(a.q * b.q) AS dot
         |  FROM e a JOIN e b ON a.i = b.i
         |    AND a.vec_id < $NumQueries AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT d.qid, d.cid,
         |    (COALESCE(ov.inter, 0) * 1000000)
         |      // GREATEST(1, sa.nt + sb.nt - COALESCE(ov.inter, 0)) AS lex_ppm,
         |    CAST(FLOOR(d.dot / (sqrt(na.nn) * sqrt(nb.nn)) * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
         |  FROM dots d
         |  LEFT JOIN ov ON ov.qid = d.qid AND ov.cid = d.cid
         |  JOIN sz sa ON sa.doc_id = d.qid JOIN sz sb ON sb.doc_id = d.cid
         |  JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid),
         |ranked AS (
         |  SELECT qid, cid, CAST(lex_ppm AS BIGINT) AS lex_ppm, cos_ppm,
         |    CAST(lex_ppm + cos_ppm AS BIGINT) AS score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY lex_ppm + cos_ppm DESC, cid) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT qid, rnk, cid, score, lex_ppm, cos_ppm
         |FROM ranked WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin)
  )
}
