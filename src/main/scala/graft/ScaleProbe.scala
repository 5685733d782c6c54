package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Amplified-scale probe: build a deterministic ~sf1 corpus from sf0.1 and
  * measure how the headline queries and the three materialized index
  * builds scale — the cheapest way to catch super-linear curvature
  * (quadratic candidate generation, index-build blowup, per-round loop
  * cost) one decade before a real cluster does.
  *
  * Amplification = `amp` key-offset copies of every fact table, with
  * CONTENT perturbed so cross-copy similarity structure stays realistic:
  *
  *  - every key (order/part/supp/cust/doc/vec/event/user) shifts by
  *    i·2^32 per copy — joins stay key-consistent within a copy and the
  *    copies never collide;
  *  - document copy i > 0 prefixes every token with `z{i}`, so its
  *    shingles/minhash/bands share NOTHING with other copies — the LSH
  *    candidate-pair mass scales ×amp (linear), never ×amp² (which
  *    identical copies would produce and no real corpus does);
  *  - embedding copy i > 0 adds a deterministic per-copy offset vector
  *    (hash(i, dim)-derived, magnitude ≫ unit vectors), decorrelating
  *    hyperplane signatures across copies for the same reason;
  *  - region/nation stay fixed (dimensions don't grow with corpus size).
  *
  * Every transform is a narrow map (no Date.now / Random — the output is
  * a pure function of the source tables), so the amplified corpus itself
  * is reproducible across runs and machines.
  */
object ScaleProbe {

  val KeyOffset: Long = 1L << 32

  private def off(i: Int) = lit(i.toLong * KeyOffset)

  /** write `amp` perturbed copies of every table under `dest` (same
    * layout as the driver testdata dirs, so every query runs unchanged)
    */
  def amplify(spark: SparkSession, src: String, dest: String, amp: Int): Unit = {
    def write(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$table.parquet")
    def amplified(table: String)(perturb: (DataFrame, Int) => DataFrame): Unit = {
      val base =
        if (table == "events") Tables.events(spark, src)
        else Tables.t(spark, src, table)
      write((0 until amp).map(i => perturb(base, i)).reduce(_ unionByName _), table)
    }
    write(Tables.t(spark, src, "region"), "region")
    write(Tables.t(spark, src, "nation"), "nation")
    // the key-only tables: copy i shifts each key column by i·2^32
    Seq("customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"), "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id")).foreach { case (table, keys) =>
      amplified(table)((df, i) => keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + off(i))))
    }
    amplified("documents") { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + off(i))
        .withColumn("text",
          array_join(transform(split(col("text"), " +"),
            x => concat(lit(s"z$i"), x)), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    amplified("embeddings") { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("vec_id", col("vec_id") + off(i))
        // the perturbation hash MUST include vec_id: a per-copy-constant
        // offset vector dominates every vector in the copy, so all of a
        // copy's hyperplane signatures collapse to sign(h·offset) — one
        // band bucket holding the whole copy, and the band join goes
        // quadratic in exactly the way the probe exists to rule out
        // (ScaleProbeSpec's within-copy embed mass bound). Per-vector
        // offsets keep copies decorrelated from each other AND spread
        // within themselves.
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> " +
            s"CAST(x + ((pmod(hash($i, j, vec_id), 1000) - 500) / 500.0) * 1.5 AS FLOAT))"))
    }
  }

  /** Probe result: stage timings, per-query seconds (min over `passes`
    * runs), linearity ratios (t_amp / (linFactor · t_baseline)) and the
    * flagged super-linear query names.
    */
  final case class Result(
      amp: Int,
      amplifySec: Double,
      topicIngestSec: Double,
      indexSec: Seq[(String, Double)],
      queries: Seq[(String, Double)],
      ratios: Seq[(String, Double)],
      flagged: Seq[String],
      truncated: Boolean,
      errors: Seq[(String, String)] = Nil,
      // sub-stage timings of the two heavyweight builds (graph_edge …,
      // embed_sig/band/cand/verify) — which SUB-stage is going
      // super-linear is visible a decade before it flips the total.
      // Min over `stagePasses` rebuild passes (round 13's two committed
      // single-pass closing runs disagreed 1.8× on graph_edge — noise
      // and drift were indistinguishable until the stages were
      // de-noised like the queries already were).
      stages: Seq[(String, Double)] = Nil,
      // per-stage decade ratios t / (linFactor · stageBaseline) and the
      // stages that broke their linear budget — these feed the SAME
      // regressions gate the queries and the listing probe feed, so a
      // real stage regression fails the round close instead of shipping
      // as a quietly different number in the artifact
      stageRatios: Seq[(String, Double)] = Nil,
      stageFlagged: Seq[String] = Nil,
      // the raw per-pass samples behind the min (round 13's dispute —
      // "drift or stall?" — was unanswerable because only one number
      // per stage survived into the artifact)
      stagePass1: Seq[(String, Double)] = Nil,
      stagePass2: Seq[(String, Double)] = Nil)

  /** Per-stage decade allowance — the budget on t / (linFactor · base).
    * Each non-default budget is a MEASURED band + headroom, with the
    * cause established by experiment (round 14, SURVEY §4), not a knob
    * tuned until the gate stopped firing:
    *
    *  - embed_verify is volume-bound BY DESIGN: its banded candidate
    *    mass carries embedLshBitsFor's log growth (~1.5×/decade
    *    occupancy × bits), measured 3.0–4.9× over naive-linear across
    *    the r13/r14 runs (min-of-2: 139.7 s in-bench, 121.5 s in a
    *    standalone JVM — the growth is real, not harness state) and
    *    falsified three ways as a partition/spill problem (round 13,
    *    local[32]): a global initialPartitionNum=1024 taxed every small
    *    iterative query (q42_reach 2.3→11.3 s), a probe-scoped 32·amp
    *    thrashed TaskMemoryManager page allocation and killed the
    *    build, a probe-scoped 1024 changed nothing (164 s vs 158 s).
    *    The stage is bound by TOTAL candidate volume; on a cluster the
    *    knob is executors. 5.5 = the measured band + headroom, still
    *    far below the ~10× a quadratic stage shows one decade up.
    *  - graph_edge has NO data curvature — a standalone clean-JVM
    *    amp=100 run measures 22.5 s (ratio ≈ 0.44, deeply sublinear);
    *    inside the full bench the same stage measures 70–126 s (r13
    *    single-pass band) / 81.9 s (r14 min-of-2), i.e. the in-bench
    *    ratio band 1.2–2.1 is bench-JVM aging (heap + page-cache state
    *    after ~770 query runs), which min-of-2 back-to-back passes
    *    cannot remove. 2.5 = that measured environmental band +
    *    headroom; a genuine curvature regression still blows past it.
    *  - every other stage must stay ~linear (≤1.5×, the same band as
    *    the query flags; all measured ≤0.5 at amp=100): exceeding it
    *    while costing > flagMinSec is a real curvature regression —
    *    min-of-N already removed the transient-stall explanation.
    */
  private[graft] def stageAllowance(stage: String): Double = stage match {
    case "embed_verify" => 5.5
    case "graph_edge"   => 2.5
    case _              => 1.5
  }

  /** (ratios, flagged) for a set of min-of-N stage timings against the
    * prior decade's mins: ratio = t / (linFactor · base); a stage flags
    * when it breaks its [[stageAllowance]] budget AND costs more than
    * `flagMinSec` at the probed decade (sub-2 s stages are clock noise).
    * Factored out of [[run]] so BenchDiffSpec can prove a deliberately
    * slowed stage reaches the close gate without paying a probe.
    */
  private[graft] def stageFlagsOf(stages: Seq[(String, Double)],
      stageBaseline: Map[String, Double], linFactor: Double,
      flagMinSec: Double): (Seq[(String, Double)], Seq[String]) =
    flagsOf(stages, stageBaseline, linFactor, flagMinSec, stageAllowance)

  /** the one decade rule for stages and queries: ratio = t / (linFactor ·
    * base) for a base above 0.05 s; flag past `allowance` AND above
    * `flagMinSec`, so fixed per-query overhead can't flag
    */
  private def flagsOf(times: Seq[(String, Double)], baseline: Map[String, Double],
      linFactor: Double, flagMinSec: Double,
      allowance: String => Double): (Seq[(String, Double)], Seq[String]) = {
    val ratios = times.flatMap { case (name, sec) =>
      baseline.get(name).filter(_ > 0.05).map(base => name -> sec / (linFactor * base))
    }
    val secs = times.toMap
    (ratios, ratios.collect { case (name, r) if r > allowance(name) && secs(name) > flagMinSec => name })
  }

  /** Run the probe: amplify into `dest`, rebuild the topic + the corpus
    * indexes against the amplified corpus (timed per index), then `passes`
    * timed passes of the headline queries with the MIN per query reported
    * (single amplified-run timings swung 2-4× between rounds on GC/cache
    * interleaving alone — round 8's probe could not have caught a real 2×
    * regression through that noise). `budgetSec` caps total probe wall
    * time — if a stage overruns it, later stages are skipped and the
    * result is marked truncated (a truncated probe still reports every
    * timing it took, which is exactly the curvature evidence).
    *
    * `baseline`/`linFactor`: a query's ratio is t / (linFactor · base) —
    * the amp=10 probe passes the sf0.1 bench times with linFactor 10; the
    * amp=100 probe passes the amp=10 probe's OWN min times with
    * linFactor 10 (decade-over-decade, so base noise doesn't compound).
    * `flagRatio`: flag threshold on that ratio (for queries above
    * `flagMinSec`, so fixed per-query overhead can't flag).
    *
    * `stagePasses`/`stageBaseline`: the two heavyweight builds' sub-stage
    * timings get the same de-noising as the queries — `stagePasses` > 1
    * drops and rebuilds exactly those two indexes after the first full
    * build, reporting each sub-stage's MIN; `stageBaseline` (the prior
    * decade's min stage times) rates each stage against its
    * [[stageAllowance]] budget into `stageFlagged`.
    */
  def run(
      spark: SparkSession,
      src: String,
      dest: String,
      amp: Int,
      headline: Seq[String],
      baseline: Map[String, Double],
      linFactor: Double,
      passes: Int = 2,
      flagRatio: Double = 1.5,
      flagMinSec: Double = 2.0,
      budgetSec: Double = 900.0,
      stagePasses: Int = 1,
      stageBaseline: Map[String, Double] = Map.empty): Result = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    try {
    // self-contained run: a stale dest from an earlier probe would let
    // the topic-ingest stage (and any index table left by another JVM)
    // report near-zero — delete first so every stage pays its real cost
    graft.rawdata.Topic.rmTree(new java.io.File(dest))
    graft.rawdata.EventsAsTopic.invalidate(dest)
    // reclaim the preceding stages' dead shuffle files before the big
    // amplified shuffles start (ContextCleaner acts on GC; a large heap
    // may not have GC'd once across the whole preceding bench)
    System.gc()
    // a throw here ends the probe: the caller reports the probe's error
    val amplifySec = Bench.timed(amplify(spark, src, dest, amp)).toTry.get
    val topicSec = Bench.timed(graft.rawdata.EventsAsTopic.topicDir(spark, dest): Unit).toTry.get
    // sub-stage collector for the two heavyweight builds (90 % of probe
    // wall-time at amp=100): per-table graph timings and the embed
    // sig/band/cand/verify split land in the probe JSON at both decades
    val stageDetail = Seq.newBuilder[(String, Double)]
    val indexStages: Seq[(String, () => Unit)] = Seq(
      "lsh" -> (() => graft.queries.CorpusLshIndex.ensure(spark, dest)),
      "embed" -> (() => graft.queries.CorpusLshIndex.embedPairsStaged(spark, dest,
        (n, t) => stageDetail += s"embed_$n" -> t).count(): Unit),
      "token" -> (() => graft.queries.CorpusTokenIndex.ensure(spark, dest)),
      "graph" -> (() => graft.queries.CoPurchaseGraph.ensure(spark, dest,
        (n, t) => stageDetail += s"graph_$n" -> t)),
      "ivf" -> (() => graft.queries.EmbIvfIndex.ensure(spark, dest)))
    var truncated = false
    val errors = Seq.newBuilder[(String, String)]
    // Per-stage fault isolation + a forced full GC after each stage: a
    // completed build's shuffle files are DEAD but stay on disk until
    // their RDD objects are GC'd, and at amp=100 the accumulated debris
    // of earlier stages is what fills the disk under the later ones.
    // One failing stage (e.g. transient disk pressure) records an error
    // and lets the rest of the probe still measure.
    def stageSafe(name: String, gcAfter: Boolean)(body: => Unit): Option[Double] =
      Bench.timed(body) match {
        case Right(t) =>
          if (gcAfter) System.gc()
          Some(t)
        case Left(e) =>
          errors += name -> e.getClass.getSimpleName
          System.gc()
          None
      }
    val indexSec = indexStages.flatMap { case (name, body) =>
      if (elapsed > budgetSec) { truncated = true; None }
      else stageSafe(name, gcAfter = true)(body()).map(name -> _)
    }
    // De-noised stage passes: drop + rebuild ONLY the two heavyweight
    // builds (embed pairs, co-purchase graph — ~85 % of amp=100 probe
    // wall-time), collecting a second sample per sub-stage; each stage
    // reports its MIN. A crashed rebuild records a stage error and
    // self-heals — the dropped tables rebuild lazily on first read.
    // The drop runs OUTSIDE the sub-stage timers (collector timings are
    // pure build work on both passes).
    val stageDetail2 = Seq.newBuilder[(String, Double)]
    if (stagePasses > 1) {
      if (elapsed > budgetSec) truncated = true
      else {
        stageSafe("embed#2", gcAfter = true) {
          graft.queries.CorpusLshIndex.dropEmbedPairs(spark, dest)
          graft.queries.CorpusLshIndex.embedPairsStaged(spark, dest,
            (n, t) => stageDetail2 += s"embed_$n" -> t).count(): Unit
        }: Unit
        if (elapsed > budgetSec) truncated = true
        else stageSafe("graph#2", gcAfter = true) {
          graft.queries.CoPurchaseGraph.dropFor(spark, dest)
          graft.queries.CoPurchaseGraph.ensure(spark, dest,
            (n, t) => stageDetail2 += s"graph_$n" -> t)
        }: Unit
      }
    }
    // full passes over the list (not back-to-back reruns), Bench's rule:
    // a transient stall lands on at most one sample of any query
    val passTimes: Seq[Map[String, Double]] = (1 to math.max(1, passes)).map { p =>
      val pass = headline.flatMap { name =>
        if (elapsed > budgetSec) { truncated = true; None }
        else SparkEntry.queries.get(name).flatMap { fn =>
          spark.catalog.clearCache()
          stageSafe(s"$name#$p", gcAfter = false)(fn(spark, dest).count(): Unit)
            .map(name -> _)
        }
      }.toMap
      System.gc() // release the pass's dead shuffle files
      pass
    }
    val queries = headline.flatMap { name =>
      val samples = passTimes.flatMap(_.get(name))
      if (samples.isEmpty) None else Some(name -> samples.min)
    }
    // super-linear flag: meaningfully slower than linFactor × baseline
    val (ratios, flagged) = flagsOf(queries, baseline, linFactor, flagMinSec, _ => flagRatio)
    // per-stage min over the rebuild passes, then the same flag shape as
    // the queries: ratio over its per-stage budget AND above the
    // fixed-overhead floor (sub-2 s stages can't flag — graph_wm-class
    // timings are clock noise at any decade)
    val pass1 = stageDetail.result()
    val pass2 = stageDetail2.result()
    val pass2Map = pass2.toMap
    val stages = pass1.map { case (k, t) =>
      k -> math.min(t, pass2Map.getOrElse(k, Double.MaxValue))
    }
    val (stageRatios, stageFlagged) =
      stageFlagsOf(stages, stageBaseline, linFactor, flagMinSec)
    Result(amp, amplifySec, topicSec, indexSec, queries, ratios, flagged,
      truncated, errors.result(), stages, stageRatios, stageFlagged, pass1, pass2)
    } finally System.gc() // release the probe's dead shuffle files promptly
  }

  /** The scale-probe section of the bench report; Bench and
    * ScaleProbeMain both print it.
    */
  def section(r: Result): Json = Json.Obj(Seq(
      "detail" -> Json.Str("scale-probe"), "amp" -> Json.Int(r.amp),
      "amplify_sec" -> Json.Num(r.amplifySec), "topic_ingest_sec" -> Json.Num(r.topicIngestSec)) ++
    r.indexSec.map { case (n, v) => s"${n}_index_build_sec" -> Json.Num(v) } ++ Seq(
      "queries" -> Json.numObj(r.queries), "stages" -> Json.numObj(r.stages),
      "stages_pass1" -> Json.numObj(r.stagePass1), "stages_pass2" -> Json.numObj(r.stagePass2),
      "stage_ratio" -> Json.numObj(r.stageRatios), "stage_flagged" -> Json.strArr(r.stageFlagged),
      "linear_ratio" -> Json.numObj(r.ratios), "flagged" -> Json.strArr(r.flagged),
      "stage_errors" -> Json.strArr(r.errors.map { case (n, e) => s"$n:$e" }),
      "truncated" -> Json.Bool(r.truncated)): _*)

  /** the section of a probe that threw before returning its [[Result]] */
  def errorSection(amp: Int, e: Throwable): Json = Json.Obj("detail" -> Json.Str("scale-probe"),
    "amp" -> Json.Int(amp), "error" -> Json.Str(e.getClass.getSimpleName))
}
