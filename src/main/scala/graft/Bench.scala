package graft
import org.apache.spark.sql.SparkSession
import Json.{Num, Obj, Str}
object Bench {
  /** the scale probes' query subset (unchanged since round 12 — the
    * amp=10/amp=100 probe budgets are sized for exactly this list, and
    * probe comparability is decade-over-decade on the same names)
    */
  val probeNames: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_multijoin", "q7_antijoin", "q24_window_rank",
    "q28_asof_join", "ev_session", "ev_funnel", "rd_read_topic", "rd_seek_timestamp",
    "dd_exact", "dd_minhash", "dd_jaccard", "dd_simhash_pairs", "dd_cluster",
    "ann_brute_topk", "ann_lsh_topk", "txt_langid", "txt_ngram_profile", "pipe_clean_corpus",
    // round-7 additions: rec serving scales with the fact table, MMR
    // with the pool, coverage with the vocabulary — probe all three
    "q45_recs", "emb_mmr", "txt_coverage",
    // round-9: the partition-pruned IVF serving path and the band-health
    // audit — the two operators that watch the new sketch scale rules
    "ann_ivf_index", "ann_band_stats",
    // round-9 statistical family: the histogram-algebra concentration
    // audit (its only |users|-scale stage is one partial agg — the probe
    // proves the rank-sum trick keeps it linear) and the K-M estimator
    "ev_gini", "ev_survival",
    // round-9 tail: the two-level bucket-window skyline (the probe proves
    // no single-partition window hides inside) and the mutual-kNN
    // component resolution over the banded edge relation
    "q61_skyline", "emb_knn_cc",
    // round-10: the ln_micro entropy family's two largest relations
    // (per-source bigram matrix, per-user rollup) and the topic latency
    // histogram — the probe watches the new kernel's shapes two decades up
    "txt_cond_entropy", "ev_user_entropy", "rd_latency",
    // round-12: the two rewritten scale-killers (counts-arithmetic
    // cross-source dedup, distributed-top-25 head mass) — measured so
    // the fixes stay fixed
    "dd_exact_cross", "txt_head_mass",
    // round-12 additions: the native norm_fp fingerprint spectrum, the
    // head-set broadcast profile (token-index top-25 under growth), the
    // knn in-degree rollup, and the (user, day)-distinct split — four
    // new shapes whose scale terms the sf0.1 bench alone can't expose
    "dd_fp_sizes", "txt_stopword_mass", "emb_hubness", "ev_new_vs_returning")

  /** the compact final line's per-query subset: every probe query PLUS
    * (round-15, additions-only — the r14 verdict's "make the driver's
    * headline see the work") the suite's most expensive queries, which
    * were previously visible only in BENCH_DETAIL.json's all-queries
    * section. NOT added to [[probeNames]]: the scale probes' 480 s /
    * 2100 s budgets are sized for that list, and ~340 s of extra amp=10
    * query time would truncate the amp=10 probe and silently skip the
    * amp=100 decade entirely.
    */
  val headlineNames: Seq[String] = probeNames ++ Seq(
    "q47_labelprop", "q46_kcore", "q48_modularity", "q42_reach", "q40_pagerank",
    "dd_winnow", "dd_oph", "q35_bottomk_quantile", "q53_mincost")

  /** (per-query min map from the all-queries line, sf of the final line)
    * parsed from a BENCH_DETAIL.json a prior run wrote — the inputs of
    * the regression gate, factored out so BenchDiffSpec can prove the
    * round-close path parses the real committed artifact (the gate's
    * catch-all would otherwise turn a parse bug into a silently-empty
    * regressions field forever).
    */
  private[graft] def parseDetail(f: java.io.File): (Map[String, Double], String) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    var prevQ = Map.empty[String, Double]
    var prevSf = ""
    root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "all-queries") {
        val q = n.path("queries")
        val b = Map.newBuilder[String, Double]
        q.fieldNames().forEachRemaining(k => b += k -> q.path(k).asDouble())
        prevQ = b.result()
      }
      if (n.path("metric").asText("") == "total") prevSf = n.path("sf").asText("")
    }
    (prevQ, prevSf)
  }

  /** The ONE place BENCH_DETAIL.json's section list is assembled — the
    * fixed sections (per-pass detail, listing probe, all-queries, final)
    * are positional parameters, so no later checkpoint write can rebuild
    * the list by hand and drop one (round 12 shipped without its
    * listing-probe section exactly that way). BenchDiffSpec pins that
    * every assembly carries all four fixed sections.
    */
  private[graft] def assembleDetail(detailLine: String, listingLine: String,
      allLine: String, scaleLines: Seq[String], finalLine: String): Seq[String] =
    Seq(detailLine, listingLine, allLine) ++ scaleLines ++ Seq(finalLine)

  /** map the listing probe's flagged stages onto regression-gate rows —
    * (listing:<stage>, 10k-file time, 100k-file time); a crashed probe
    * ("probe_error") or an unknown stage carries the -1 sentinels, which
    * regressionJson renders as explicit error markers. Factored so
    * BenchDiffSpec can pin that a flagged listing decade actually
    * reaches the gate.
    */
  private[graft] def listingRegressionsOf(flagged: Seq[String],
      pairs: Map[String, (Double, Double)]): Seq[(String, Double, Double)] =
    flagged.map { nm =>
      val (p, c) = pairs.getOrElse(nm, (-1.0, -1.0))
      (s"listing:$nm", p, c)
    }

  /** regression rule: BOTH >1.5x the prior min AND >0.4 s absolute —
    * multiplicative alone flags sub-second noise, absolute alone
    * forgives a 10 s query doubling. A -1 prior (the query crashed in
    * the prior run) is no prior.
    */
  private[graft] def regressionsVs(prev: Map[String, Double],
      results: Seq[(String, Double)]): Seq[(String, Double, Double)] =
    results.flatMap { case (name, cur) =>
      prev.get(name).filter(_ >= 0).collect {
        case p if cur > 1.5 * p && cur - p > 0.4 => (name, p, cur)
      }
    }

  /** map a scale probe's flagged build stages onto regression-gate rows —
    * (scale<amp>:<stage>, prior-decade min sec, this-decade min sec), the
    * same raw-pair shape as the listing rows. Factored so BenchDiffSpec
    * can pin that a flagged stage actually reaches the gate — the exact
    * hole the round-13 verdict called: `stages` fed no gate, so a real
    * stage regression would have shipped silently.
    */
  private[graft] def stageRegressionsOf(amp: Int, flagged: Seq[String],
      base: Map[String, Double], cur: Map[String, Double]): Seq[(String, Double, Double)] =
    flagged.map(n => (s"scale$amp:$n", base.getOrElse(n, -1.0), cur.getOrElse(n, -1.0)))

  /** ingest-measurement amplification (key-offset event-id copies of the
    * sf0.1 events). 30× ≈ 3M messages: at 10× (1M) the read pass still
    * finished in ~0.5 s on this host (read decodes ~2M msg/s after
    * warmup) and two consecutive runs swung 22 % on scheduler/page-cache
    * noise — the exact floor the de-noising exists to escape. At 3M the
    * read pass is >1 s and both rates hold consecutive fresh-JVM runs
    * within single-digit percent.
    */
  private[graft] val IngestCopies = 30

  private[graft] def median5(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** The ingest measurement (shared by the full bench and the
    * SPARK_GRAFT_INGEST_ONLY profiling loop): messages through the full
    * Avro topic path, the number directly comparable to the reference
    * producer/consumer. Round 14 de-noised it (the 100k-msg best-of-2
    * read rate swung 17 % round-over-round), each lever measured:
    *  - [[IngestCopies]]× the message volume, so no pass sits on the
    *    sub-second fixed-overhead floor;
    *  - the messages are materialized (persist MEMORY_AND_DISK + count)
    *    before timing, so the write rate prices the topic write path
    *    (shuffle + Avro encode + commit), not the upstream events
    *    scan+union. persist, NOT localCheckpoint: Dataset.unpersist
    *    frees cache-manager blocks, while localCheckpoint blocks would
    *    stay pinned through the memory-sensitive amp=100 probe;
    *  - two untimed warmup write+reads, then 5 timed fresh passes whose
    *    MEDIAN is the rate (min-of-N chases the lucky tail, a mean is
    *    wrecked by one GC stall);
    *  - the raw samples land in the per-pass section: this shared VM
    *    shows minute-scale neighbor I/O episodes that move even a
    *    median-of-5, so the artifact carries the spread.
    * Returns (message count, per-pass (writeSec, readSec) samples); the
    * persisted relation is freed before returning.
    */
  private[graft] def measureIngest(spark: SparkSession, sfDir: String): (Long, Seq[(Double, Double)]) = {
    val msgs = graft.rawdata.EventsAsTopic
      .messagesAmplified(spark, sfDir, IngestCopies)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    msgs.count(): Unit // materialize before timing
    var n = 0L
    // TWO untimed warmup passes: with one, the first two TIMED passes
    // still ran 5-7x over steady state in consecutive sampled runs
    // (write 12.7, 12.6 then 2.3, 1.8, 1.7 s — the inflation aligns
    // with pass index, i.e. late C2/page-cache settling, not neighbor
    // noise), dragging the median off the steady-state band
    (1 to 2).foreach { _ =>
      val warmDir = graft.rawdata.Topic.tempDir("bench-ingest-warm")
      graft.rawdata.Topic.write(msgs, warmDir, graft.rawdata.EventsAsTopic.cfg)
      graft.rawdata.Topic.read(spark, warmDir).count(): Unit
      graft.rawdata.Topic.rmTree(new java.io.File(warmDir))
    }
    val samples = (1 to 5).map { _ =>
      val dir = graft.rawdata.Topic.tempDir("bench-ingest")
      val w = timed(graft.rawdata.Topic.write(msgs, dir, graft.rawdata.EventsAsTopic.cfg): Unit).toTry.get
      val r = timed { n = graft.rawdata.Topic.read(spark, dir).count() }.toTry.get
      graft.rawdata.Topic.rmTree(new java.io.File(dir)) // measurement scratch
      (w, r)
    }
    msgs.unpersist(blocking = true)
    (n, samples)
  }

  /** serialize gate rows. A crashed probe's sentinel (-1) rows carry an
    * explicit error marker instead of prev/cur numbers a consumer could
    * arithmetically confuse with real timings (round-13 ADVICE): the
    * close gate (non-empty `regressions`) fires either way.
    */
  private[graft] def regressionJson(rows: Seq[(String, Double, Double)]): String =
    regressionRows(rows).render
  private def regressionRows(rows: Seq[(String, Double, Double)]): Json = Json.Arr(rows.map {
    case (n, p, c) if p < 0 || c < 0 => Obj("q" -> Str(n), "error" -> Str("probe_error"))
    case (n, p, c) => Obj("q" -> Str(n), "prev" -> Num(p), "cur" -> Num(c))
  })

  private def attempt[A](body: => A): Either[Throwable, A] =
    try Right(body) catch { case e: Throwable => Left(e) }

  /** The one timer: the seconds `body` took, or the throw. A crash is
    * "no time", never the partial elapsed time — an instantly-crashing
    * stage or query is otherwise indistinguishable from a fast one. The
    * caller renders a throw as the -1 sentinel or as a stage error, and
    * keeps its own clearCache / System.gc() placement.
    */
  private[graft] def timed(body: => Unit): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    attempt(body).map(_ => (System.nanoTime() - t0) / 1e9)
  }

  /** The crash rule over each query's pass samples (None = that pass
    * threw): the result is the min of the samples, or -1 if any pass
    * threw, so a crash never enters min-of-N as a fast time. Returns the
    * results, their total over measured queries only, and one gate row
    * per crashed query (-1 sentinels, rendered as a probe_error).
    */
  private[graft] def queryTimesOf(samples: Seq[(String, Seq[Option[Double]])])
      : (Seq[(String, Double)], Double, Seq[(String, Double, Double)]) = {
    val results = samples.map { case (n, xs) => n -> (if (xs.contains(None)) -1.0 else xs.flatten.min) }
    (results, results.map(_._2).filter(_ >= 0).sum,
      results.collect { case (n, v) if v < 0 => (n, -1.0, -1.0) })
  }

  /** the SPARK_GRAFT_INGEST_ONLY line: median rates and the raw samples */
  private[graft] def ingestSection(n: Long, samples: Seq[(Double, Double)]): Json = Obj(
    "metric" -> Str("ingest"), "msgs" -> Json.Int(n),
    "write_msgs_per_sec" -> Json.Int((n / median5(samples.map(_._1))).round),
    "read_msgs_per_sec" -> Json.Int((n / median5(samples.map(_._2))).round),
    "write_sec_samples" -> Json.numArr(samples.map(_._1)),
    "read_sec_samples" -> Json.numArr(samples.map(_._2)))

  /** one index family's side-corpus maintenance times (-1 = not measured) */
  private[graft] final case class Maintenance(fresh: Double, appended: Double,
      compact: Double, compacted: Double)

  /** the per-pass section's numbers (-1 = the stage threw or never ran) */
  private[graft] final case class PerPass(setupSec: Double, lshSec: Double,
      tokenSec: Double, graphSec: Double, ivfSec: Double, bpeSec: Double, indexSec: Double,
      stages: Seq[(String, Double)], ingest: Seq[(Double, Double)], noise: Seq[Double],
      candFresh: Double, lsh: Maintenance, ivf: Maintenance, graph: Maintenance,
      run1: Seq[(String, Double)], run2: Seq[(String, Double)], rerun: Seq[(String, Double)]) {
    def json: Json = Obj("detail" -> Str("per-pass"), "setup_sec" -> Num(setupSec),
      "lsh_index_build_sec" -> Num(lshSec), "token_index_build_sec" -> Num(tokenSec),
      "graph_index_build_sec" -> Num(graphSec), "ivf_index_build_sec" -> Num(ivfSec),
      "bpe_artifact_sec" -> Num(bpeSec), "index_build_sec" -> Num(indexSec),
      "stages" -> Json.numObj(stages), "ingest_write_sec_samples" -> Json.numArr(ingest.map(_._1)),
      "ingest_read_sec_samples" -> Json.numArr(ingest.map(_._2)), "noise_probe_sec" -> Json.numArr(noise),
      "lsh_compact_sec" -> Num(lsh.compact), "cand_gen_fresh_sec" -> Num(candFresh),
      "cand_gen_appended_sec" -> Num(lsh.appended), "cand_gen_compacted_sec" -> Num(lsh.compacted),
      "ivf_probe_fresh_sec" -> Num(ivf.fresh), "ivf_probe_appended_sec" -> Num(ivf.appended),
      "ivf_compact_sec" -> Num(ivf.compact), "ivf_probe_compacted_sec" -> Num(ivf.compacted),
      "graph_compact_sec" -> Num(graph.compact), "graph_probe_appended_sec" -> Num(graph.appended),
      "graph_probe_compacted_sec" -> Num(graph.compacted), "queries_run1" -> Json.numObj(run1),
      "queries_run2" -> Json.numObj(run2), "queries_rerun" -> Json.numObj(rerun))
  }

  /** one decade of the listing probe: seconds per stage, and whether the
    * cached repeat paid a LIST RPC
    */
  private[graft] final case class ListingStages(list: Double, prune: Double, plan: Double,
      pagedList: Double, cachedRepeat: Double, cachePaidRpc: Boolean)

  /** the listing-probe section; a decade that threw renders -1 */
  private[graft] def listingSection(at10k: Option[ListingStages], at100k: Option[ListingStages],
      flagged: Seq[String]): Json = {
    def pair(f: ListingStages => Double) = Json.numArr(Seq(at10k, at100k).map(_.fold(-1.0)(f)))
    Obj("detail" -> Str("listing-probe"), "files" -> Json.Arr(Seq(Json.Int(10000), Json.Int(100000))),
      "list_sec" -> pair(_.list), "prune_sec" -> pair(_.prune), "plan_sec" -> pair(_.plan),
      "paged_list_sec" -> pair(_.pagedList), "cached_repeat_sec" -> pair(_.cachedRepeat),
      "flagged" -> Json.strArr(flagged))
  }

  private[graft] def allQueriesSection(results: Seq[(String, Double)]): Json =
    Obj("detail" -> Str("all-queries"), "n" -> Json.Int(results.size),
      "queries" -> Json.numObj(results))

  /** the final line's numbers; the line itself is rendered per checkpoint
    * with the regression rows known so far
    */
  private[graft] final case class Headline(total: Double, nQueries: Int, nMsgs: Long,
      writeRate: Double, readRate: Double, lshSec: Double, indexSec: Double,
      queries: Seq[(String, Double)], sf: String) {
    def json(regs: Seq[(String, Double, Double)]): Json = Obj("metric" -> Str("total"),
      "value" -> Num(total), "unit" -> Str("sec"), "n_queries" -> Json.Int(nQueries),
      "regressions" -> regressionRows(regs), "ingest_msgs" -> Json.Int(nMsgs),
      "ingest_write_msgs_per_sec" -> Num(writeRate), "ingest_read_msgs_per_sec" -> Num(readRate),
      "lsh_index_build_sec" -> Num(lshSec), "index_build_sec" -> Num(indexSec),
      "queries" -> Json.numObj(queries), "sf" -> Str(sf))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt, Map(
      // Shuffle files live until ContextCleaner GCs their RDDs; with a
      // large heap the JVM may not GC for the whole run, so a 212-query
      // bench accumulates tens of GB of dead shuffle files in
      // spark.local.dir and the amp=100 probe then dies on a full disk.
      // Cut the periodic-GC interval (default 30min) so the cleaner
      // reclaims them while the bench runs.
      "spark.cleaner.periodicGC.interval" -> "2min",
      // the listing probe's paged+latent variant drives Topic.listFiles
      // through the fake bucket scheme: reference-shaped 1000-object
      // pages, 10 ms per LIST RPC (a realistic GCS page round-trip) —
      // 100k files = 100 paged RPCs ≈ 1 s of injected driver stall,
      // which the probe bounds and the listing cache must amortize
      "spark.hadoop.fs.fakegs.impl" -> classOf[graft.rawdata.FakeGsFileSystem].getName,
      "spark.hadoop.fs.fakegs.impl.disable.cache" -> "true",
      "spark.hadoop.fs.fakegs.auth.token" -> graft.rawdata.FakeGsFileSystem.ExpectedToken,
      "spark.hadoop.fs.fakegs.list.page.size" -> "1000",
      "spark.hadoop.fs.fakegs.list.page.latency.ms" -> "10"))
    // SPARK_GRAFT_INGEST_ONLY=1: measure just the topic write/read rates
    // (the profiling loop for producer-path changes — full bench noise
    // makes an isolated ingest number impossible to read otherwise)
    if (sys.env.get("SPARK_GRAFT_INGEST_ONLY").contains("1")) {
      val (n, samples) = measureIngest(spark, sfDir)
      println(ingestSection(n, samples).render)
      spark.stop()
      return
    }
    // One-time ingest (events → Avro topic on disk) is setup, not query
    // time; build it up front so its cost doesn't land on whichever
    // topic-backed query happens to run first, and report it separately.
    val setupSec = timed {
      graft.rawdata.EventsAsTopic.topicDir(spark, sfDir): Unit
      // JIT/codegen warmup so the alphabetically-first queries don't
      // absorb the whole JVM warmup cost in their numbers
      attempt(SparkEntry.entry(spark).count()): Unit
    }.toTry.get
    // The corpus indexes build ONCE per corpus and whole query families
    // read them — those builds are setup (the batch twin of topic
    // ingest), timed explicitly here so they land on no query's number.
    // Timed PER INDEX: lsh_index_build_sec covers exactly the text+embed
    // LSH build (comparable across rounds); the token and co-purchase
    // graph builds get their own fields.
    // a stage that throws reports the -1.0 sentinel
    def timedStage(body: => Unit): Double = timed(body).getOrElse(-1.0)
    // sub-stage collector for the sf0.1 builds: these times are the
    // amp=10 probe's stage BASELINE (decade chain: sf0.1 stages → amp=10
    // stage flags; amp=10 min stages → amp=100 stage flags)
    val benchStages = Seq.newBuilder[(String, Double)]
    val lshSec = timedStage {
      graft.queries.CorpusLshIndex.ensure(spark, sfDir)
      graft.queries.CorpusLshIndex.embedPairsStaged(spark, sfDir,
        (n, t) => benchStages += s"embed_$n" -> t).count(): Unit
    }
    val tokenSec = timedStage(graft.queries.CorpusTokenIndex.ensure(spark, sfDir))
    val graphSec = timedStage(graft.queries.CoPurchaseGraph.ensure(spark, sfDir,
      (n, t) => benchStages += s"graph_$n" -> t))
    // reported separately; index_build_sec keeps its 3-index composition
    // so the field stays comparable across rounds
    val ivfSec = timedStage(graft.queries.EmbIvfIndex.ensure(spark, sfDir))
    // the BPE merge artifact trains once per corpus (txt_bpe/
    // txt_bpe_encode/txt_bpe_vocab all read it) — setup, like the indexes
    val bpeSec = timedStage(graft.queries.CurationQueries.merges(spark, sfDir).count(): Unit)
    // the composite keeps its 3-index composition for round-over-round
    // comparability, but a crashed stage (-1.0 sentinel) must poison the
    // sum — adding sentinels arithmetically would fabricate a healthy-
    // looking fast composite out of a crash
    val indexSec =
      if (Seq(lshSec, tokenSec, graphSec).exists(_ < 0)) -1.0
      else lshSec + tokenSec + graphSec
    // Index maintenance stages, one per append-only family, each on a
    // side corpus in a fresh temp dir: write `split` as the base `table`
    // and build the index, time `probe` fresh (where the family has one),
    // run the appends and time the probe, time compact, then the probe
    // again. Appends scatter the index over more files per bucket or
    // cell; compact must restore ~fresh read cost. A throw leaves every
    // unmeasured time at -1; drop and the dir's delete always run (the
    // per-run temp tag would leak one index per bench run otherwise).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, pmod}
    def probeSec(probe: => Unit): Double = { spark.catalog.clearCache(); timedStage(probe) }
    def maintenance(tag: String, table: String, split: => DataFrame,
        appends: String => Seq[DataFrame], probe: String => Unit, timeFresh: Boolean)(
        ensure: String => Unit, append: (String, DataFrame) => Unit, compact: String => Unit,
        drop: String => Unit): Maintenance = {
      val dir = graft.rawdata.Topic.tempDir(tag)
      var fresh, appended, compactSec, compacted = -1.0
      try {
        split.write.mode("overwrite").parquet(s"$dir/$table.parquet")
        ensure(dir)
        if (timeFresh) fresh = probeSec(probe(dir))
        appends(dir).foreach(append(dir, _))
        appended = probeSec(probe(dir))
        compactSec = timedStage(compact(dir))
        compacted = probeSec(probe(dir))
      } catch { case _: Throwable => () }
      finally {
        try drop(dir) catch { case _: Throwable => () }
        graft.rawdata.Topic.rmTree(new java.io.File(dir))
      }
      Maintenance(fresh, appended, compactSec, compacted)
    }
    import graft.queries.{CoPurchaseGraph => Cpg, CorpusLshIndex => Lsh, EmbIvfIndex => Ivf}
    // LSH: 75 % base + 3 appends = the SAME full corpus as the fresh
    // sfDir index, so cand_gen_fresh (on sfDir) / appended / compacted
    // are directly comparable
    def candGen(d: String): Unit = Lsh.candidateGen(spark, d).count(): Unit
    val candFresh = probeSec(candGen(sfDir))
    val docsAll = Tables.t(spark, sfDir, "documents")
    val doc4 = pmod(col("doc_id"), lit(4))
    val lshMaint = maintenance("bench-lsh-compact", "documents", docsAll.filter(doc4 =!= 0),
      _ => (0 to 2).map(r => docsAll.filter(doc4 === 0 && pmod(col("doc_id"), lit(12)) === r * 4)),
      candGen, timeFresh = false)(
      Lsh.ensure(spark, _), Lsh.append(spark, _, _), Lsh.compact(spark, _), Lsh.dropFor(spark, _))
    // IVF: frozen-codebook appends add one file set per touched cell, so
    // a probe of an N-times-appended index opens ~N+1 files per probed
    // cell. The fresh number is the 75 %-base index, so compare appended
    // vs compacted for the layout effect.
    val vec4 = pmod(col("vec_id"), lit(4))
    val ivfMaint = maintenance("bench-ivf-compact", "embeddings",
      Tables.t(spark, sfDir, "embeddings").filter(vec4 =!= 3), { d =>
        val step = graft.queries.AnnQueries.centroidStep(spark, d)
        val q = graft.operators.VectorOps.quantized(spark, sfDir)
        (0 to 2).map(r => q.filter(vec4 === 3 &&
          pmod(col("vec_id"), lit(12)) === r * 4 + 3 && col("vec_id") % step =!= 0))
      }, d => SparkEntry.queries("ann_ivf_index")(spark, d).count(): Unit, timeFresh = true)(
      Ivf.ensure(spark, _), Ivf.append(spark, _, _), Ivf.compact(spark, _), Ivf.dropFor(spark, _))
    // co-purchase graph, read by the u-keyed consumers: split by
    // order-key QUARTILES (the append contract needs monotone keys)
    lazy val liAll = Tables.t(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    lazy val cuts = Seq(0.25, 0.5, 0.75).map { q =>
      liAll.agg(org.apache.spark.sql.functions.expr(
        s"percentile_approx(l_orderkey, $q)")).head().getLong(0)
    }
    val ok = col("l_orderkey")
    val graphMaint = maintenance("bench-cpg-compact", "lineitem", liAll.filter(ok <= cuts(0)),
      _ => Seq(liAll.filter(ok > cuts(0) && ok <= cuts(1)),
        liAll.filter(ok > cuts(1) && ok <= cuts(2)), liAll.filter(ok > cuts(2))),
      d => SparkEntry.queries("q39_triangles")(spark, d).count(): Unit, timeFresh = false)(
      Cpg.ensure(spark, _), Cpg.append(spark, _, _), Cpg.compact(spark, _), Cpg.dropFor(spark, _))
    // Listing-scale probe: SURVEY §4 argues O(100k) driver-side topic
    // listings are fine — measure it instead of arguing. Synthesizes N
    // metadata-only topic files (valid names, zero bytes: listFiles
    // parses names and, with distinct fromTsMs, never opens a file),
    // then times listFiles, pruneFrom and rd_compact_plan's planning
    // query (mergeGroups) at N = 10k and 100k. Super-linear decade growth
    // (>15x a 10x file count, above clock-noise floor) is flagged.
    def listingProbe(n: Int): Option[ListingStages] = {
      val dir = graft.rawdata.Topic.tempDir(s"bench-listing-$n")
      try attempt {
        val base = 1700000000000L
        var i = 0
        while (i < n) {
          new java.io.File(dir,
            s"${graft.rawdata.Topic.formatTs(base + i.toLong * 60000L)}_100_4096_p.avro")
            .createNewFile()
          i += 1
        }
        val t0 = System.nanoTime()
        val files = graft.rawdata.Topic.listFiles(dir)
        val listSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val pruned = graft.rawdata.Topic.pruneFrom(files, base + (n.toLong / 2) * 60000L)
        val pruneSec = (System.nanoTime() - t1) / 1e9
        require(files.length == n && pruned.nonEmpty, "listing probe fixture broken")
        // paged + latent variant: the SAME files listed the way a real
        // bucket serves them — through the fakegs scheme's 1000-object
        // pages, each page RPC paying the injected 10 ms stall — then a
        // REPEAT consumer inside the min-interval window, which the
        // listing cache (Topic.listFilesCached) must serve with ZERO
        // further LIST RPCs (the reference TopicAvroFileCache contract)
        val gsDir = "fakegs://bench" + dir
        graft.rawdata.Topic.invalidateListing(gsDir)
        val t3 = System.nanoTime()
        val paged = graft.rawdata.Topic.listFilesCached(gsDir, ttlMs = 300000L)
        val pagedSec = (System.nanoTime() - t3) / 1e9
        val rpcsBefore = graft.rawdata.FakeGsFileSystem.nLists.get()
        val t4 = System.nanoTime()
        val repeat = graft.rawdata.Topic.listFilesCached(gsDir, ttlMs = 300000L)
        val cachedSec = (System.nanoTime() - t4) / 1e9
        val cachedPaidRpc = graft.rawdata.FakeGsFileSystem.nLists.get() != rpcsBefore
        require(paged.length == n && repeat.length == n,
          "paged listing probe fixture broken")
        graft.rawdata.Topic.invalidateListing(gsDir)
        val planSec = timed(graft.rawdata.RawdataQueries.mergeGroups(spark, dir)
          .groupBy(col("merge_group")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n_files")).count(): Unit)
          .toTry.get
        ListingStages(listSec, pruneSec, planSec, pagedSec, cachedSec, cachedPaidRpc)
      }.toOption finally graft.rawdata.Topic.rmTree(new java.io.File(dir))
    }
    val listing10 = listingProbe(10000)
    val listing100 = listing10.flatMap(_ => listingProbe(100000))
    val (listingFlagged, listingPairs) = listing10.zip(listing100) match {
      case Some((a, b)) =>
        val floor = 0.05 // clock/JIT noise floor per stage
        val pairs = Map("list" -> (a.list, b.list), "prune" -> (a.prune, b.prune),
          "plan" -> (a.plan, b.plan), "paged_list" -> (a.pagedList, b.pagedList),
          "cache" -> (a.cachedRepeat, b.cachedRepeat))
        // decade rule on the timed stages (paged_list absorbs ~1 s of
        // injected page latency at 100k — still well inside 15x), plus the
        // cache contract: a repeat consumer inside the interval must pay
        // ZERO LIST RPCs and ~zero time at either decade
        (Seq("list", "prune", "plan", "paged_list").filter { nm =>
          pairs(nm)._2 > 15 * math.max(pairs(nm)._1, floor)
        } ++ (if (a.cachePaidRpc || b.cachePaidRpc ||
            b.cachedRepeat > math.max(0.05, 0.1 * b.pagedList)) Seq("cache") else Nil), pairs)
      case None => (Seq("probe_error"), Map.empty[String, (Double, Double)])
    }
    // ingest throughput: see measureIngest for how it is de-noised
    val (nMsgs, ingestSamples) = measureIngest(spark, sfDir)
    val writeSec = median5(ingestSamples.map(_._1))
    val readSec = median5(ingestSamples.map(_._2))
    val writeRate = if (writeSec > 0) nMsgs / writeSec else 0.0
    val readRate = if (readSec > 0) nMsgs / readSec else 0.0
    // Each query runs twice with the cache cleared before every run; the
    // reported number is the min of the two (single-run timings on a busy
    // 32-thread JVM carry multi-second GC/compilation noise — round 3's
    // artifact recorded 63 s for a query that measures 4.4 s isolated).
    // The two samples come from two separate FULL PASSES over the query
    // list, not back-to-back runs: a transient GC/compaction stall then
    // lands on at most one sample of any query instead of both. The
    // first-pass times are kept in "queries_run1" so a cold/warm gap is
    // still visible. A pass that throws is None (-1 in the artifact).
    def timedQuery(fn: (SparkSession, String) => DataFrame): Option[Double] = {
      spark.catalog.clearCache()
      timed(fn(spark, sfDir).count(): Unit).toOption
    }
    // SPARK_GRAFT_ONLY=a,b,c: time just those queries (iteration loop for
    // per-query performance work); skips the scale probes
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Host-speed reference probe (r15, the r14 verdict's two-window noise
    // rule): a FIXED-WORK CPU job (hash-sum over a constant-length range,
    // data-independent) timed at the pass boundaries. The per-query timed
    // contract stays bit-identical; the artifact just gains the evidence
    // to read a committed headline as episode-or-regression — r14's
    // 192 s run would have shown 3 inflated probe samples, r13's 145 s
    // flat ones. Three samples bracket both full passes, so an episode
    // inside either window is visible even when min-of-2 hides it.
    // (pmod keeps the ANSI sum far from Long overflow: 4e8 · 1023 max)
    def noiseProbeSec(): Double = timed {
      spark.range(0L, 400000000L, 1L, cpus.toInt).select(org.apache.spark.sql.functions.sum(
        pmod(org.apache.spark.sql.functions.xxhash64(col("id")), lit(1024L)))).head(): Unit
    }.toTry.get
    val noise1 = noiseProbeSec()
    val pass1 = ordered.map { case (name, fn) => name -> timedQuery(fn) }.toMap
    val noise2 = noiseProbeSec()
    val pass2 = ordered.map { case (name, fn) => name -> timedQuery(fn) }.toMap
    val noise3 = noiseProbeSec()
    // Adaptive third sample: when the two passes disagree by >2x on a
    // non-trivial query, the slow sample was a contention/GC stall — but
    // under a busy host BOTH samples can be hit (round 4's artifact shows
    // 17 s for a query that measures 1.7 s isolated). One targeted rerun
    // for the disagreeing queries keeps total wall time bounded while
    // giving every noisy measurement a third chance at a quiet slot.
    def disagree(a: Double, b: Double) = math.min(a, b) > 0.8 && math.max(a, b) > 2 * math.min(a, b)
    val rerun = ordered.collect {
      case (name, fn) if pass1(name).zip(pass2(name)).exists { case (a, b) => disagree(a, b) } =>
        name -> timedQuery(fn)
    }.toMap
    val (results, total, crashRows) = queryTimesOf(ordered.map { case (name, _) =>
      name -> (Seq(pass1(name), pass2(name)) ++ rerun.get(name))
    })
    // Round-over-round regression gate (the diff previously done by hand
    // after the artifact was already committed): the PREVIOUS round's
    // committed BENCH_DETAIL.json is read BEFORE this run overwrites it,
    // each query's new min compared against the prior min, and every
    // regression BOTH >1.5x AND >0.4s absolute lands in a `regressions`
    // field of the artifact itself — a txt_bpe-33s-class surprise now
    // fails loudly at bench time instead of surviving to the next round's
    // judge pass. Only same-scale comparisons count (both runs sf0.1);
    // queries added this round have no prior and are skipped. Empty on a
    // clean round.
    val queryRegressions: Seq[(String, Double, Double)] = try {
      val f = new java.io.File("BENCH_DETAIL.json")
      if (!f.exists() || !sfDir.contains("sf0.1") || only.isDefined) Seq.empty
      else {
        val (prevQ, prevSf) = parseDetail(f)
        if (!prevSf.contains("sf0.1")) Seq.empty
        else regressionsVs(prevQ, results)
      }
    } catch { case _: Throwable => Seq.empty }
    // crashed queries and flagged (or crashed) listing decades fail the
    // bench LOUDLY through the same `regressions` field the round-close
    // gate reads; scale-probe stage flags append after each probe (the
    // final line is re-rendered per checkpoint)
    val baseRegressions = queryRegressions ++ crashRows ++
      listingRegressionsOf(listingFlagged, listingPairs)
    // The driver keeps only the last ~2000 chars of stdout, and a line
    // with all ~90 queries at 2-dp is ~2050 chars by itself — it gets
    // clipped mid-line and the driver's JSON parse fails (BENCH_r01–r04
    // all record "parsed": null). So the FINAL line is compact: suite
    // aggregate + ingest rates + a ~20-query headline subset covering
    // every operator family. Full per-query and per-pass detail goes on
    // earlier lines AND into BENCH_DETAIL.json next to this repo's other
    // artifacts, where nothing can truncate it.
    spark.catalog.clearCache() // no pinned blocks outlive the run
    val byName = results.toMap
    val benchStagesMap = benchStages.result().toMap
    def passOf(pass: Map[String, Option[Double]]) = ordered.map { case (n, _) => n -> pass(n).getOrElse(-1.0) }
    val detailLine = PerPass(setupSec, lshSec, tokenSec, graphSec, ivfSec, bpeSec, indexSec,
      benchStagesMap.toSeq.sortBy(_._1), ingestSamples, Seq(noise1, noise2, noise3), candFresh,
      lshMaint, ivfMaint, graphMaint, passOf(pass1), passOf(pass2),
      rerun.toSeq.sortBy(_._1).map { case (n, t) => n -> t.getOrElse(-1.0) }).json.render
    val listingLine = listingSection(listing10, listing100, listingFlagged).render
    val allLine = allQueriesSection(results).render
    // the final line is a FUNCTION of the regression rows: scale-probe
    // stage flags land after the probes run, so every artifact
    // checkpoint re-renders it with the rows known so far
    val headline = Headline(total, results.size, nMsgs, writeRate, readRate, lshSec, indexSec,
      headlineNames.flatMap(n => byName.get(n).map(n -> _)), sfDir)
    def finalLineOf(regs: Seq[(String, Double, Double)]): String = headline.json(regs).render
    // pre-probe artifact first: a killed/timed-out probe must never cost
    // the round its bench detail. Every write goes through ONE assembly
    // (assembleDetail) holding the fixed sections — round 12 lost the
    // listing-probe section because two later call sites rebuilt the
    // line list by hand and dropped it.
    def writeDetail(scaleLines: Seq[String], regs: Seq[(String, Double, Double)]): Unit = {
      val out = new java.io.PrintWriter("BENCH_DETAIL.json")
      try out.println(assembleDetail(detailLine, listingLine, allLine, scaleLines, finalLineOf(regs))
        .mkString("[", ",\n", "]")) finally out.close()
    }
    writeDetail(Seq.empty, baseRegressions)
    // Amplified-scale probes: measure scaling curvature one decade up
    // (amp=10, ~sf1) and — chained off its results — a SECOND decade
    // (amp=100, ~sf10, ~1.7 GB parquet): index builds and headline
    // queries on an `amp`× key-offset content-perturbed corpus. The
    // amp=10 stage compares each query's min-of-2 time against 10× its
    // sf0.1 bench time; the amp=100 stage is ALSO min-of-2 (a single
    // pass once flagged rd_read_topic 1.53× from what was plain GC/page-
    // cache noise — min-of-N is the only way to tell noise from drift)
    // against 10× the amp=10 MIN time — decade-over-decade, so
    // base-scale noise doesn't compound into the second-decade ratio,
    // with a tighter 1.3× flag threshold. SPARK_GRAFT_AMP=0 / SPARK_GRAFT_AMP2=0 disable;
    // runs only for the bench-default sf0.1 corpus.
    def ampDir(amp: Int) = sys.env.getOrElse(s"SPARK_GRAFT_AMP_DIR_$amp",
      new java.io.File(sys.props("java.io.tmpdir"), s"graft_amp$amp").getAbsolutePath)
    // a probe that threw renders its exception's class as the section
    def scaleLine(amp: Int, probe: Either[Throwable, ScaleProbe.Result]): String =
      probe.fold(ScaleProbe.errorSection(amp, _), ScaleProbe.section).render
    val amp = sys.env.getOrElse("SPARK_GRAFT_AMP", "10").toInt
    val probe10 =
      if (amp <= 1 || only.isDefined || !sfDir.contains("sf0.1")) None
      else Some(attempt(ScaleProbe.run(spark, sfDir, ampDir(amp), amp, probeNames, byName,
        linFactor = amp.toDouble, passes = 2, flagRatio = 1.5, budgetSec = 480.0,
        stagePasses = 2, stageBaseline = benchStagesMap)))
    val scaleLine10 = probe10.map(scaleLine(amp, _))
    val r10 = probe10.flatMap(_.toOption)
    val regs10 = baseRegressions ++ r10.toSeq.flatMap(r =>
      stageRegressionsOf(amp, r.stageFlagged, benchStagesMap, r.stages.toMap))
    // artifact checkpoint: a killed/timed-out amp=100 stage must never
    // cost the round its amp=10 probe
    writeDetail(scaleLine10.toSeq, regs10)
    val amp2 = sys.env.getOrElse("SPARK_GRAFT_AMP2", "100").toInt
    val probe100 = r10.filter(r => amp2 > amp && !r.truncated).map { base =>
      val dest = ampDir(amp2)
      // the second-decade corpus (+topic+indexes, several GB) is probe
      // scratch — reclaim it either way; the amp=10 dir stays for dev
      // iteration
      try attempt(ScaleProbe.run(spark, sfDir, dest, amp2, probeNames,
        base.queries.toMap, linFactor = amp2.toDouble / amp, passes = 2,
        flagRatio = 1.3, budgetSec = 2100.0,
        stagePasses = 2, stageBaseline = base.stages.toMap))
      finally attempt(graft.rawdata.Topic.rmTree(new java.io.File(dest)))
    }
    val scaleLine100 = probe100.map(scaleLine(amp2, _))
    val regressions = regs10 ++ r10.zip(probe100.flatMap(_.toOption)).toSeq.flatMap {
      case (a, b) => stageRegressionsOf(amp2, b.stageFlagged, a.stages.toMap, b.stages.toMap)
    }
    writeDetail(scaleLine10.toSeq ++ scaleLine100.toSeq, regressions)
    println(detailLine)
    println(listingLine)
    println(allLine)
    scaleLine10.foreach(println)
    scaleLine100.foreach(println)
    println(finalLineOf(regressions))
    spark.stop()
  }
}
