package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's round-over-round regression gate must actually read the
  * committed artifact and flag real drifts — its runtime wrapper
  * swallows every Throwable (an artifact must never be lost to a diff
  * bug), so a parse regression would otherwise degrade to a
  * silently-empty `regressions` field.
  */
class BenchDiffSpec extends AnyFunSuite {

  test("parseDetail reads the committed BENCH_DETAIL.json (mins + sf)") {
    val f = new java.io.File("BENCH_DETAIL.json")
    assume(f.exists(), "no committed bench detail artifact (fresh clone)")
    val (mins, sf) = Bench.parseDetail(f)
    assert(mins.size > 100, s"all-queries map too small: ${mins.size}")
    assert(mins.contains("q1_agg"))
    assert(mins.valuesIterator.forall(v => v >= 0 && v < 3600))
    assert(sf.contains("sf0.1"),
      s"committed artifact is not a round-close sf0.1 run: '$sf'")
  }

  test("assembleDetail carries all four fixed sections at every checkpoint shape") {
    val fixed = Seq("D", "L", "A", "F")
    for (scale <- Seq(Seq.empty[String], Seq("S10"), Seq("S10", "S100"))) {
      val got = Bench.assembleDetail("D", "L", "A", scale, "F")
      assert(fixed.forall(got.contains),
        s"a checkpoint write dropped a fixed section: $got")
      assert(got.last === "F" && got.head === "D")
      assert(scale.forall(got.contains))
    }
  }

  test("committed BENCH_DETAIL.json keeps the listing-probe section beside the scale probes") {
    val f = new java.io.File("BENCH_DETAIL.json")
    assume(f.exists(), "no committed bench detail artifact (fresh clone)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    var hasScale, hasListing = false
    root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "scale-probe") hasScale = true
      if (n.path("detail").asText("") == "listing-probe") hasListing = true
    }
    assert(!hasScale || hasListing,
      "a full (scale-probed) bench artifact is missing its listing-probe section — " +
        "the round-12 silently-dropped-section bug")
  }

  test("committed scale-probe sections carry the heavyweight builds' sub-stage keys") {
    val f = new java.io.File("BENCH_DETAIL.json")
    assume(f.exists(), "no committed bench detail artifact (fresh clone)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    root.elements().forEachRemaining { n =>
      // a truncated or stage-errored probe legitimately lacks the keys
      // (the probe design permits both and still reports what it took) —
      // only a CLEAN probe that dropped them is a regression
      val clean = n.path("detail").asText("") == "scale-probe" && !n.has("error") &&
        !n.path("truncated").asBoolean(false) && n.path("stage_errors").size() == 0
      if (clean) {
        val st = n.path("stages")
        for (k <- Seq("graph_edge", "embed_verify"))
          assert(st.has(k),
            s"amp=${n.path("amp").asInt()} probe lost its '$k' sub-stage key — " +
              "the next decade's super-linear sub-stage would be invisible again")
      }
    }
  }

  test("a flagged listing decade reaches the regression gate; a crashed probe carries sentinels") {
    val pairs = Map("list" -> (0.1, 9.9), "paged_list" -> (0.3, 8.8), "cache" -> (0.0, 0.4))
    assert(Bench.listingRegressionsOf(Seq.empty, pairs) === Seq.empty)
    assert(Bench.listingRegressionsOf(Seq("list"), pairs) ===
      Seq(("listing:list", 0.1, 9.9)))
    // the paged/latent variant and the cache contract feed the same gate
    assert(Bench.listingRegressionsOf(Seq("paged_list", "cache"), pairs) ===
      Seq(("listing:paged_list", 0.3, 8.8), ("listing:cache", 0.0, 0.4)))
    // a crashed probe (or unknown stage) carries sentinels, which
    // regressionJson renders as an explicit error marker, never numbers
    assert(Bench.listingRegressionsOf(Seq("probe_error"), pairs) ===
      Seq(("listing:probe_error", -1.0, -1.0)))
    assert(Bench.regressionJson(Bench.listingRegressionsOf(Seq("probe_error"), pairs)) ===
      """[{"q":"listing:probe_error","error":"probe_error"}]""")
  }

  test("new-format listing-probe sections carry the paged/latent variant keys") {
    val f = new java.io.File("BENCH_DETAIL.json")
    assume(f.exists(), "no committed bench detail artifact (fresh clone)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    var newFormat = false
    root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "per-pass" && n.has("stages")) newFormat = true
    }
    if (newFormat) root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "listing-probe")
        for (k <- Seq("paged_list_sec", "cached_repeat_sec"))
          assert(n.has(k), s"listing-probe section lost its '$k' key — " +
            "the paged/latent LIST-cost bound would ship unmeasured")
    }
  }

  test("sample-carrying per-pass sections keep the raw ingest samples") {
    // median5 picks the middle element of 5 (and degrades sanely on
    // fewer); the artifact carries the raw spread so a cross-round rate
    // delta is readable as regression-or-noise (this shared VM shows
    // minute-scale neighbor I/O episodes that move even a median-of-5)
    assert(Bench.median5(Seq(3.0, 1.0, 9.0, 2.0, 8.0)) === 3.0)
    assert(Bench.median5(Seq(5.0)) === 5.0)
    val f = new java.io.File("BENCH_DETAIL.json")
    assume(f.exists(), "no committed bench detail artifact (fresh clone)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "per-pass" &&
          n.has("ingest_write_sec_samples")) {
        for (k <- Seq("ingest_write_sec_samples", "ingest_read_sec_samples"))
          assert(n.path(k).size() === 5,
            s"'$k' must carry all 5 raw passes, got ${n.path(k).size()}")
      }
    }
  }

  test("noise-probe-carrying per-pass sections bracket both passes with 3 samples") {
    // the r15 host-noise companion: a fixed-work CPU probe timed before
    // pass 1, between the passes and after pass 2 — an artifact written
    // by the probe-carrying bench must keep all 3 boundary samples, or
    // a committed headline is once again unreadable as episode-or-
    // regression (the r14 192s-vs-145s dispute)
    val f = new java.io.File("BENCH_DETAIL.json")
    assume(f.exists(), "no committed bench detail artifact (fresh clone)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "per-pass" && n.has("noise_probe_sec")) {
        assert(n.path("noise_probe_sec").size() === 3,
          s"noise probe must carry 3 boundary samples, got ${n.path("noise_probe_sec").size()}")
        n.path("noise_probe_sec").elements().forEachRemaining(v =>
          assert(v.asDouble() > 0, "a noise probe sample must be a positive timing"))
      }
    }
  }

  test("a deliberately slowed build stage reaches the regression gate end-to-end") {
    // link 1 — the flag rule: embed_verify and graph_edge carry their
    // measured-band budgets (5.5x volume-bound / 2.5x bench-JVM-aging —
    // each band established by experiment, ScaleProbe.stageAllowance);
    // every sibling flags past 1.5x; sub-flagMinSec stages and stages
    // without a baseline never flag
    val base = Map("graph_edge" -> 6.0, "embed_verify" -> 3.0, "graph_wm" -> 0.2)
    val (ratios, flagged) = ScaleProbe.stageFlagsOf(
      Seq(
        "graph_edge" -> 186.0, // 3.1x — past even the aging band → flags
        "embed_verify" -> 139.7, // 4.66x — inside its designed volume-bound budget
        "graph_wm" -> 3.1, // 1.55x and >2s — a sibling past the linear band: flags
        "graph_new" -> 50.0), // no prior-decade baseline → skipped
      base, linFactor = 10.0, flagMinSec = 2.0)
    assert(ratios.toMap.get("graph_edge").exists(r => math.abs(r - 3.1) < 0.01))
    assert(flagged === Seq("graph_edge", "graph_wm"))
    // the r14 measured points sit INSIDE their budgets (close stays green)
    val (_, cleanFlags) = ScaleProbe.stageFlagsOf(
      Seq("graph_edge" -> 81.9, "embed_verify" -> 139.7),
      Map("graph_edge" -> 5.11, "embed_verify" -> 2.83), 10.0, 2.0)
    assert(cleanFlags === Seq.empty)
    // link 2 — flagged stages map onto gate rows carrying the decade pair
    val rows = Bench.stageRegressionsOf(100, flagged,
      base, Map("graph_edge" -> 186.0, "graph_wm" -> 3.1))
    assert(rows === Seq(("scale100:graph_edge", 6.0, 186.0), ("scale100:graph_wm", 0.2, 3.1)))
    // link 3 — the rows serialize into the `regressions` field close.py's
    // non-empty gate reads; a missing timing becomes an explicit error
    // marker, never a ratio-able number (round-13 ADVICE)
    assert(Bench.regressionJson(rows.take(1)) ===
      """[{"q":"scale100:graph_edge","prev":6,"cur":186}]""")
    assert(Bench.regressionJson(Seq(("scale100:gone", -1.0, 3.0))) ===
      """[{"q":"scale100:gone","error":"probe_error"}]""")
  }

  test("new-format scale-probe sections carry the stage gate keys") {
    val f = new java.io.File("BENCH_DETAIL.json")
    assume(f.exists(), "no committed bench detail artifact (fresh clone)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    // only enforce on artifacts written by the stage-gated bench (their
    // per-pass section carries the sf0.1 "stages" baseline) — the gate
    // must not fail the suite against the last round's committed artifact
    var newFormat = false
    root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "per-pass" && n.has("stages")) newFormat = true
    }
    if (newFormat) root.elements().forEachRemaining { n =>
      if (n.path("detail").asText("") == "scale-probe" && !n.has("error")) {
        for (k <- Seq("stage_ratio", "stage_flagged"))
          assert(n.has(k),
            s"amp=${n.path("amp").asInt()} probe lost its '$k' key — " +
              "stage regressions would stop reaching the close gate")
      }
    }
  }

  test("regression rule: both thresholds required, missing prior skipped") {
    val prev = Map("a" -> 1.0, "b" -> 0.1, "c" -> 10.0)
    val got = Bench.regressionsVs(prev, Seq(
      "a" -> 1.9, // >1.5x and >0.4s → flagged
      "b" -> 0.4, // >1.5x but only +0.3s → noise, not flagged
      "c" -> 12.0, // +2s but only 1.2x → not flagged
      "d" -> 99.0)) // no prior (new query) → skipped
    assert(got === Seq(("a", 1.0, 1.9)))
  }

  test("crash rule: a pass that threw is no time, never a fast result") {
    assert(Bench.timed(throw new IllegalStateException("boom")).isLeft)
    assert(Bench.timed(()).exists(_ >= 0))
    val (results, total, rows) = Bench.queryTimesOf(Seq(
      "a" -> Seq(Some(2.0), Some(1.5)), // min of the passes
      "b" -> Seq(Some(0.01), None), // crashed after 10 ms: -1, not 0.01
      "c" -> Seq(Some(3.0), Some(9.0), Some(2.5)), // the rerun joins the min
      "d" -> Seq(Some(1.0), Some(1.0), None))) // the rerun threw
    assert(results === Seq("a" -> 1.5, "b" -> -1.0, "c" -> 2.5, "d" -> -1.0))
    assert(total === 4.0, "total sums measured results only")
    assert(rows === Seq(("b", -1.0, -1.0), ("d", -1.0, -1.0)))
    assert(Bench.regressionJson(rows.take(1)) === """[{"q":"b","error":"probe_error"}]""")
    // next run: a crashed query's -1 prior is no prior
    assert(Bench.regressionsVs(Map("b" -> -1.0, "a" -> 1.5), Seq("b" -> 5.0, "a" -> 1.6)) ===
      Seq.empty)
  }

  // Golden strings: what the hand-interpolated templates the typed
  // sections replaced printed for the same inputs (-1 sentinels, 6.0 and
  // 0.125, empty maps) — the artifact's bytes must not move.
  test("golden: ingest-only, all-queries and final lines") {
    assert(Bench.ingestSection(30000L, Seq((0.47, 0.19), (6.0, 0.125), (0.5, 0.2),
      (0.59, 0.18), (0.6, 0.27))).render ===
      """{"metric":"ingest","msgs":30000,"write_msgs_per_sec":50847,"read_msgs_per_sec":157895,"write_sec_samples":[0.47,6,0.5,0.59,0.6],"read_sec_samples":[0.19,0.13,0.2,0.18,0.27]}""")
    assert(Bench.allQueriesSection(Seq("dd_minhash" -> 6.0, "q1_agg" -> 0.125,
      "rd_read_topic" -> -1.0)).render ===
      """{"detail":"all-queries","n":3,"queries":{"dd_minhash":6,"q1_agg":0.13,"rd_read_topic":-1}}""")
    assert(Bench.allQueriesSection(Seq.empty).render ===
      """{"detail":"all-queries","n":0,"queries":{}}""")
    val h = Bench.Headline(6.125, 3, 30000L, 59638.09, 0.125, -1.0, 6.0,
      Seq("q1_agg" -> 0.125, "dd_minhash" -> 6.0), "data/sf0.1")
    assert(h.json(Seq(("q1_agg", 1.0, 1.9), ("listing:probe_error", -1.0, -1.0))).render ===
      """{"metric":"total","value":6.13,"unit":"sec","n_queries":3,"regressions":[{"q":"q1_agg","prev":1,"cur":1.9},{"q":"listing:probe_error","error":"probe_error"}],"ingest_msgs":30000,"ingest_write_msgs_per_sec":59638.09,"ingest_read_msgs_per_sec":0.13,"lsh_index_build_sec":-1,"index_build_sec":6,"queries":{"q1_agg":0.13,"dd_minhash":6},"sf":"data/sf0.1"}""")
    assert(h.copy(total = 0.0, nQueries = 0, queries = Nil).json(Nil).render ===
      """{"metric":"total","value":0,"unit":"sec","n_queries":0,"regressions":[],"ingest_msgs":30000,"ingest_write_msgs_per_sec":59638.09,"ingest_read_msgs_per_sec":0.13,"lsh_index_build_sec":-1,"index_build_sec":6,"queries":{},"sf":"data/sf0.1"}""")
  }

  test("golden: per-pass and listing-probe sections") {
    val p = Bench.PerPass(4.99, -1.0, 0.125, 6.0, 1.28, 6.97, -1.0,
      Seq("embed_verify" -> 0.125, "graph_edge" -> 1.35), Seq((0.47, 0.19), (6.0, 0.125)),
      Seq(2.23, 6.0, 0.125), candFresh = 0.8,
      lsh = Bench.Maintenance(-1.0, -1.0, 1.3, -1.0), ivf = Bench.Maintenance(0.5, 6.0, 0.125, -1.0),
      graph = Bench.Maintenance(-1.0, -1.0, -1.0, -1.0),
      run1 = Seq("dd_minhash" -> 0.07, "q1_agg" -> -1.0),
      run2 = Seq("dd_minhash" -> 6.0, "q1_agg" -> 0.125), rerun = Nil)
    assert(p.json.render ===
      """{"detail":"per-pass","setup_sec":4.99,"lsh_index_build_sec":-1,"token_index_build_sec":0.13,"graph_index_build_sec":6,"ivf_index_build_sec":1.28,"bpe_artifact_sec":6.97,"index_build_sec":-1,"stages":{"embed_verify":0.13,"graph_edge":1.35},"ingest_write_sec_samples":[0.47,6],"ingest_read_sec_samples":[0.19,0.13],"noise_probe_sec":[2.23,6,0.13],"lsh_compact_sec":1.3,"cand_gen_fresh_sec":0.8,"cand_gen_appended_sec":-1,"cand_gen_compacted_sec":-1,"ivf_probe_fresh_sec":0.5,"ivf_probe_appended_sec":6,"ivf_compact_sec":0.13,"ivf_probe_compacted_sec":-1,"graph_compact_sec":-1,"graph_probe_appended_sec":-1,"graph_probe_compacted_sec":-1,"queries_run1":{"dd_minhash":0.07,"q1_agg":-1},"queries_run2":{"dd_minhash":6,"q1_agg":0.13},"queries_rerun":{}}""")
    val at10k = Bench.ListingStages(0.87, 0.125, 2.05, 1.18, 0.0, cachePaidRpc = false)
    val at100k = Bench.ListingStages(1.4, 0.01, 6.0, 5.07, 0.0, cachePaidRpc = false)
    assert(Bench.listingSection(Some(at10k), Some(at100k), Nil).render ===
      """{"detail":"listing-probe","files":[10000,100000],"list_sec":[0.87,1.4],"prune_sec":[0.13,0.01],"plan_sec":[2.05,6],"paged_list_sec":[1.18,5.07],"cached_repeat_sec":[0,0],"flagged":[]}""")
    assert(Bench.listingSection(Some(at10k), None, Seq("probe_error")).render ===
      """{"detail":"listing-probe","files":[10000,100000],"list_sec":[0.87,-1],"prune_sec":[0.13,-1],"plan_sec":[2.05,-1],"paged_list_sec":[1.18,-1],"cached_repeat_sec":[0,-1],"flagged":["probe_error"]}""")
  }

  test("golden: scale-probe section, truncated with stage errors, and its error form") {
    val r = ScaleProbe.Result(100, 61.0, 0.125, Seq("lsh" -> 6.0, "embed" -> -1.0),
      Seq("q1_agg" -> 12.5), Seq("q1_agg" -> 1.25), Seq("q1_agg"), truncated = true,
      errors = Seq("embed" -> "OutOfMemoryError", "graph#2" -> "SparkException"),
      stages = Seq("graph_edge" -> 81.9), stageRatios = Seq("graph_edge" -> 1.6),
      stagePass1 = Seq("graph_edge" -> 81.9))
    assert(ScaleProbe.section(r).render ===
      """{"detail":"scale-probe","amp":100,"amplify_sec":61,"topic_ingest_sec":0.13,"lsh_index_build_sec":6,"embed_index_build_sec":-1,"queries":{"q1_agg":12.5},"stages":{"graph_edge":81.9},"stages_pass1":{"graph_edge":81.9},"stages_pass2":{},"stage_ratio":{"graph_edge":1.6},"stage_flagged":[],"linear_ratio":{"q1_agg":1.25},"flagged":["q1_agg"],"stage_errors":["embed:OutOfMemoryError","graph#2:SparkException"],"truncated":true}""")
    assert(ScaleProbe.section(ScaleProbe.Result(10, 0.0, 0.0, Nil, Nil, Nil, Nil, truncated = false))
      .render ===
      """{"detail":"scale-probe","amp":10,"amplify_sec":0,"topic_ingest_sec":0,"queries":{},"stages":{},"stages_pass1":{},"stages_pass2":{},"stage_ratio":{},"stage_flagged":[],"linear_ratio":{},"flagged":[],"stage_errors":[],"truncated":false}""")
    assert(ScaleProbe.errorSection(100, new IllegalStateException("x")).render ===
      """{"detail":"scale-probe","amp":100,"error":"IllegalStateException"}""")
  }
}
