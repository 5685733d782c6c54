package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Materialized part co-purchase graph — built ONCE per dataset per
  * session and read by the graph-analytics family (q39_triangles,
  * q40_pagerank).
  *
  * Why: both graph queries need the same distinct edge list (parts
  * adjacent when one order contains both) and the same degree relation,
  * and deriving them is the dominant cost of either query (the per-order
  * pair expansion + global distinct dwarfs the triangle intersection and
  * the PageRank rounds at sf0.1). At 100 TB the edge derivation is a full
  * fact-table pass — the same build-once argument as [[CorpusLshIndex]]
  * (shingle/band relations) and [[CorpusTokenIndex]] (token relation),
  * applied to graph shape.
  *
  * What is stored (ids and counts only, never payloads):
  *   - edge (u, v, supp) with u < v — one row per distinct co-purchased
  *     pair, supp = how many orders contain both (the basket-support
  *     count q41_assoc_rules consumes; q39/q40 read just the edge set) —
  *     bucketed by u
  *   - item (x, n_ord) per-part order count (basket item support) —
  *     bucketed by x
  *   - wm   (max_o) one-row order-key high-watermark — the append
  *     contract's guard (see [[append]])
  *   - deg  (x, dg) undirected degree   — bucketed by x, written LAST so
  *     its catalog entry marks the whole index committed (a failed
  *     partial build re-runs from scratch; writes are Overwrite, so
  *     stale on-disk leftovers from a previous JVM are replaced).
  *
  * The edge build avoids a fact-table self-join entirely: one shuffle
  * groups the deduplicated (order, part) pairs into per-order part
  * arrays, the pair expansion is a narrow lambda-filtered explode
  * (`filter(ps, x -> x > u)` keeps each undirected pair once), and the
  * only other wide stage is the distinct on the pair stream. Naming,
  * location, writes, compaction and drop follow the [[IndexStore]]
  * contract (family `cpg`).
  *
  * Correctness: definitionally the distinct co-occurrence pairs of the
  * lineitem table — CoPurchaseGraphSpec asserts set-equality of the index
  * against an independently-built join-form edge list, and that deg
  * matches the recomputed endpoint counts.
  */
object CoPurchaseGraph {

  import IndexStore.{Cpg, bucketed, tag}

  /** Build the two graph tables if this session hasn't yet.
    *
    * `onStage` receives (table, seconds) per index table as it commits —
    * the scale probe's sub-stage observability (the edge stage carries
    * the pair derivation, so a super-linear explode is visible a decade
    * before it flips the total build time). Timings are of real work,
    * never a re-compute: each save is the table's one materializing
    * action.
    */
  def ensure(s: SparkSession, d: String,
      onStage: (String, Double) => Unit = (_, _) => ()): Unit = Cpg.synchronized {
    val tg = tag(d)
    if (!Cpg.exists(s, "deg", tg)) {
      import s.implicits._
      def save(df: DataFrame, part: String, bucketCol: String): DataFrame = {
        val t0 = System.nanoTime()
        val tbl = Cpg.create(s, df, part, tg, bucketed(bucketCol))
        onStage(part, (System.nanoTime() - t0) / 1e9)
        tbl
      }
      // the distinct (order, part) relation feeds THREE build stages
      // (edge pairs, item counts, the wm guard) — persist it so the
      // build pays the fact-table scan + distinct shuffle once, not
      // three times (r14 optimization; released in the finally below)
      val li = t(s, d, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
        .persist()
      try {
        val parts = li.groupBy($"o").agg(collect_list($"p").as("ps"))
        val rawPairs = parts
          .select(explode($"ps").as("u"), $"ps")
          .select($"u", explode(expr("filter(ps, x -> x > u)")).as("v"))
        val edge = save(rawPairs.groupBy($"u", $"v")
          .agg(count(lit(1)).as("supp")), "edge", "u")
        save(li.groupBy($"p".as("x")).agg(count(lit(1)).as("n_ord")),
          "item", "x")
        // symmetrized adjacency (both orientations), bucketed on the
        // scatter key — the iterative consumers (q40 PageRank, q42 BFS)
        // join it against a per-round frontier every round; storing it
        // saves each of them a runtime union + re-materialization, and
        // the u-bucketing co-locates the scatter with any u-keyed build.
        save(edge.select($"u", $"v")
          .unionByName(edge.select($"v".as("u"), $"u".as("v"))), "sym", "u")
        // order high-watermark: the append contract's guard relation (one
        // row — max indexed order key)
        save(li.agg(max($"o").as("max_o")), "wm", "max_o")
        val ends = edge.select($"u".as("x")).unionByName(edge.select($"v".as("x")))
        save(ends.groupBy($"x").agg(count(lit(1)).as("dg")), "deg", "x")
      } finally li.unpersist()
    }
  }

  /** Extend the index with a batch of NEW orders' lineitem rows without
    * re-scanning the base fact table — the graph twin of
    * [[CorpusLshIndex.append]]. The delta pair explode is batch-sized;
    * the merges (edge ∪ delta pairs → summed supports, item ∪ delta
    * counts) are index-sized aggregations; sym and deg re-derive from
    * the merged edge relation. Merged relations are localCheckpoint-
    * pinned before the in-place [[IndexStore.Family.overwrite]] (lineage
    * to the files being replaced is cut first).
    *
    * Atomicity: unlike ensure (where deg not existing yet IS the
    * uncommitted state), during an append all tables already exist — so
    * the deg catalog entry is DROPPED before the first overwrite and
    * recreated LAST. A failure anywhere in between leaves no deg entry,
    * and the next ensure() sees the index uncommitted and rebuilds every
    * table from the base fact table (appended batches are lost — the
    * [[IndexStore]] repair contract); a
    * reader can never observe a merged edge beside a stale deg/sym.
    *
    * Contract: each batch must carry COMPLETE, never-before-indexed
    * orders — an order whose lineitems straddle two appends would lose
    * its cross-batch co-purchase pairs and double-count item n_ord, and
    * a re-sent order would double its pair supports (the same
    * idempotence contract as re-publishing a message outside the
    * commit). Enforced cheaply via a strict order-key high-watermark:
    * min(batch order key) must exceed max(indexed order key) — crawl
    * batches with monotone keys satisfy it by construction; anything
    * else fails LOUDLY here instead of corrupting supports silently.
    */
  def append(s: SparkSession, d: String, newLineitems: DataFrame): Unit = Cpg.synchronized {
    ensure(s, d)
    import s.implicits._
    val tg = tag(d)
    val li = newLineitems
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      .localCheckpoint(true)
    // an empty batch is a no-op, not a NULL-unboxing error on its min
    if (li.isEmpty) { li.unpersist(): Unit }
    else appendNonEmpty(s, tg, li)
  }

  private def appendNonEmpty(s: SparkSession, tg: String, li: DataFrame): Unit = {
    import s.implicits._
    // high-watermark guard (two 1-row scalar reads, bounded by
    // construction). An index built over an EMPTY corpus has a NULL
    // watermark (max over zero orders) — the first real crawl batch is
    // then new by definition (the new-tenant-then-first-crawl shape),
    // so NULL reads as the minimum key, never an unboxing throw.
    val wmRow = s.table(Cpg.table("wm", tg)).select($"max_o").head()
    val wm = if (wmRow.isNullAt(0)) Long.MinValue else wmRow.getLong(0)
    val batchMin = li.agg(min($"o")).as[Long].head()
    require(batchMin > wm,
      s"co-purchase append: batch order keys must be complete and new — " +
        s"min batch key $batchMin is not above the indexed high-watermark $wm " +
        s"(straddled or re-sent orders would corrupt pair supports)")
    val parts = li.groupBy($"o").agg(collect_list($"p").as("ps"))
    val pairsNew = parts
      .select(explode($"ps").as("u"), $"ps")
      .select($"u", explode(expr("filter(ps, x -> x > u)")).as("v"))
      .groupBy($"u", $"v").agg(count(lit(1)).as("supp"))
    val mergedEdge = s.table(Cpg.table("edge", tg)).unionByName(pairsNew)
      .groupBy($"u", $"v").agg(sum($"supp").as("supp"))
      .localCheckpoint(true)
    val mergedItem = s.table(Cpg.table("item", tg))
      .unionByName(li.groupBy($"p".as("x")).agg(count(lit(1)).as("n_ord")))
      .groupBy($"x").agg(sum($"n_ord").as("n_ord"))
      .localCheckpoint(true)
    // uncommit: drop the marker BEFORE any table is mutated (its layout
    // is captured first — the recreate must match its siblings)
    val degLayout = Cpg.layout(s, "deg", tg)
    Cpg.dropTables(s, tg, Seq("deg"))
    Cpg.overwrite(s, mergedEdge, "edge", tg)
    Cpg.overwrite(s, mergedItem, "item", tg)
    Cpg.overwrite(s, mergedEdge.select($"u", $"v")
      .unionByName(mergedEdge.select($"v".as("u"), $"u".as("v"))), "sym", tg)
    Cpg.overwrite(s, li.agg(max($"o").as("max_o")), "wm", tg)
    val ends = mergedEdge.select($"u".as("x"))
      .unionByName(mergedEdge.select($"v".as("x")))
    // recommit: deg recreated LAST
    Cpg.create(s, ends.groupBy($"x").agg(count(lit(1)).as("dg")), "deg", tg, degLayout): Unit
    Seq(li, mergedEdge, mergedItem).foreach(_.unpersist(): Unit)
  }

  /** Bucket-preserving file-collapse rewrite
    * ([[IndexStore.Family.compact]]). Unlike the LSH index (SaveMode.Append
    * → one NEW file per bucket per append), [[append]] here merges and
    * Overwrites, and Spark's planned bucketed write shuffles onto the
    * bucket columns — so on THIS write path every table already sits at
    * one file per bucket and compact is a cheap idempotent rewrite
    * (CoPurchaseGraphSpec pins both properties). It exists for layouts
    * this engine did not write: a cluster writer with planned writes
    * disabled, or an external tool, leaves each bucket scattered across
    * ~|tasks| files, and the rewrite restores one file per bucket with
    * bucket counts (and therefore the exchange-free consumer joins)
    * preserved. Content is untouched — a crash mid-way leaves every
    * already-rewritten table byte-equivalent, so no drop/recreate commit
    * dance is needed (unlike [[append]]). Pinned relations are id/count
    * rows only, never payloads.
    */
  def compact(s: SparkSession, d: String): Unit = Cpg.synchronized {
    ensure(s, d)
    Cpg.compact(s, tag(d), Seq("edge", "item", "sym", "wm", "deg"))
  }

  /** Drop this corpus dir's graph index ([[IndexStore.Family.drop]]) —
    * the cleanup for throwaway corpora (Bench's graph-compact side corpus
    * would otherwise leak one index per run).
    */
  def dropFor(s: SparkSession, d: String): Unit = Cpg.synchronized {
    Cpg.drop(s, tag(d))
  }

  private def read(s: SparkSession, d: String, part: String): DataFrame = {
    ensure(s, d)
    s.table(Cpg.table(part, tag(d)))
  }

  /** distinct undirected edges (u < v) with basket-support counts */
  def edges(s: SparkSession, d: String): DataFrame = read(s, d, "edge")

  /** undirected degree per vertex */
  def degrees(s: SparkSession, d: String): DataFrame = read(s, d, "deg")

  /** per-part order counts (basket item support) */
  def items(s: SparkSession, d: String): DataFrame = read(s, d, "item")

  /** both-orientation edge relation (u, v) — one row per directed arc */
  def symEdges(s: SparkSession, d: String): DataFrame = read(s, d, "sym")
}
