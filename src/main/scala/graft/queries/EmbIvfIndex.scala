package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized IVF index over the embedding corpus — the DEPLOY shape
  * of the ANN family: the coarse codebook and the per-cell posting lists
  * stored as tables, so a query probes ONLY its nprobe cells' files
  * instead of scanning the corpus. ann_ivf_topk recomputes the cell
  * assignment per run (fine for a one-shot audit); a serving deployment
  * builds the index once and pays per query a centroid broadcast plus a
  * PARTITION-PRUNED scan of nprobe/|cells| of the data — at 100 TB the
  * difference between touching terabytes and touching gigabytes per
  * query batch (IvfIndexSpec proves the pruned scan reads only the
  * probed cells' partitions, and that the probe result is row-identical
  * to ann_ivf_topk's inline computation).
  *
  * Stored tables (the [[IndexStore]] `ivf` family):
  *   - cent  (cent_id, qc, nc)               — the frozen coarse codebook
  *     (deterministic vec_id % CentroidStep seeds, ann_ivf_topk's rule)
  *   - cells (cent_id, vec_id, q, nn)        — posting lists,
  *     DIRECTORY-PARTITIONED by cent_id: pruning is by partition
  *     directory, the physical analogue of FAISS's inverted lists
  *
  * `cells` is written LAST so its catalog entry marks the index
  * committed (a failed partial build re-runs from scratch; Overwrite
  * writes never read stale leftovers).
  *
  * Append contract (the real-world IVF lifecycle): the codebook is
  * FROZEN at build time — new vectors are assigned to the existing
  * centroids and appended to their cells' partitions. Quality decay
  * under drift is the operator's concern (emb_pq_distortion is the
  * matching monitor); correctness is not: append == rebuild whenever
  * the new ids don't add seed positions (IvfIndexSpec).
  */
object EmbIvfIndex {

  import IndexStore.{Ivf, Layout, Plain, tag}

  /** The nearest-centroid rule, the one place it is written: every row of
    * `vecs` (`vec_id`, `q`, `nn`, any others) against the broadcast
    * codebook `cents` (`cent_id`, `qc`, `nc`), scored `c_ppm` (cosine ppm,
    * [[graft.operators.VectorOps.cosPpm]]) and ranked per `vec_id` by
    * `c_ppm` desc, ties to the smaller `cent_id`; only `crnk <= keep` rows
    * stay. Returns the input's columns plus `cent_id`, `qc`, `nc`, `dot`,
    * `c_ppm` and `crnk`. `keep = 1` is the cell assignment, more is a
    * query's probe order. Norms must be nonzero (the `nn > 0` rule).
    */
  private[graft] def rank(vecs: DataFrame, cents: DataFrame, keep: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("c_ppm").desc, col("cent_id"))
    vecs.join(broadcast(cents), lit(true))
      .withColumn("dot", expr(
        "aggregate(zip_with(q, qc, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("c_ppm", graft.operators.VectorOps.cosPpm(col("dot"), col("nn"), col("nc")))
      .withColumn("crnk", row_number().over(w))
      .filter(if (keep == 1) col("crnk") === 1 else col("crnk") <= keep)
  }

  /** The posting lists of the cells `probes` names (a few `cent_id` rows
    * per query), partition-pruned, as the candidate side of a probe:
    * (`cent_id`, `cid`, `qb`, `nb`). The distinct probed ids are collected
    * here, when the DataFrame is built (bounded: |queries|·nprobe ids), into
    * an `isin` filter on the partition column, so the scan lists and reads
    * only those cells' directories. Dynamic partition pruning does not
    * replace the list: without it the executed cells scan carries
    * `dynamicpruningexpression(true)` under AQE and reads every cell.
    * The list is fixed at construction; an append keeps it exact (the
    * codebook is frozen), a rebuild under a live DataFrame does not.
    */
  private[graft] def probedCells(s: SparkSession, d: String, probes: DataFrame): DataFrame = {
    import s.implicits._
    val probed = probes.select($"cent_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    cells(s, d).filter($"cent_id".isin(probed: _*))
      .select($"cent_id", $"vec_id".as("cid"), $"q".as("qb"), $"nn".as("nb"))
  }

  /** Build the codebook + posting lists if this session hasn't yet. */
  def ensure(s: SparkSession, d: String): Unit = Ivf.synchronized {
    import s.implicits._
    val tg = tag(d)
    if (!Ivf.exists(s, "cells", tg)) {
      // zero-norm vectors are un-indexable under cosine (no direction to
      // assign) — excluded here exactly like the AnnQueries `unit` rule,
      // so neither a seed nor a posting row can put a 0 denominator in
      // the assignment; the IVF oracles mirror the filter
      val e = graft.operators.VectorOps.quantized(s, d).filter($"nn" > 0)
      // corpus-scaled seed step (sqrt-scaled nlist — AnnQueries.centroidStep)
      val cents = e.filter($"vec_id" % AnnQueries.centroidStep(s, d) === 0)
        .select($"vec_id".as("cent_id"), $"q".as("qc"), $"nn".as("nc"))
      val cent = Ivf.create(s, cents, "cent", tg, Plain)
      Ivf.create(s, rank(e, cent, 1).select($"cent_id", $"vec_id", $"q", $"nn"), "cells", tg,
        Layout(partCols = Seq("cent_id"))): Unit
    }
  }

  def cents(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    s.table(Ivf.table("cent", tag(d)))
  }

  def cells(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    s.table(Ivf.table("cells", tag(d)))
  }

  /** Assign a new vector batch to the FROZEN codebook and append to the
    * cells' partitions. Batches must carry never-seen vec_ids (same
    * whole-batch contract as the other indexes' appends).
    */
  def append(s: SparkSession, d: String, newVecs: DataFrame): Unit = Ivf.synchronized {
    import s.implicits._
    val tg = tag(d)
    ensure(s, d)
    // Guard the contract instead of only documenting it: a batch that
    // adds a seed position (vec_id % CentroidStep == 0) or re-sends a
    // vec_id already in the cells table would silently diverge from a
    // rebuild while consumers keep trusting append == rebuild. Both
    // checks are one counting aggregate over the (small) batch; the
    // duplicate check semi-joins the batch against the posting lists.
    // An index built over an EMPTY corpus has ZERO centroids; assigning a
    // batch against an empty codebook would emit no posting rows — the
    // batch silently vanishes while consumers keep trusting append ==
    // rebuild. Fail loudly with the repair path instead (the frozen-
    // codebook contract genuinely needs base vectors to freeze against).
    require(!s.table(Ivf.table("cent", tg)).isEmpty,
      "EmbIvfIndex.append: the index was built over an EMPTY corpus " +
        "(zero centroids) — a frozen-codebook append has no cells to " +
        "assign to and would silently drop the batch; dropFor + ensure " +
        "once base vectors exist")
    val step = AnnQueries.centroidStep(s, d)
    val seeds = newVecs
      .filter(col("vec_id") % step === 0).limit(1).count()
    require(seeds == 0L,
      "EmbIvfIndex.append: batch contains a seed position " +
        s"(vec_id % $step == 0) — the codebook is " +
        "frozen; such a batch would diverge from a rebuild")
    val dups = newVecs.join(
      s.table(Ivf.table("cells", tg)).select($"vec_id"), Seq("vec_id"),
      "left_semi").limit(1).count()
    require(dups == 0L,
      "EmbIvfIndex.append: batch contains vec_ids already present in the " +
        "cells table — appends must carry never-seen ids")
    // A batch can also violate the contract INTERNALLY (same vec_id twice
    // in one batch passes both checks above but writes duplicate posting
    // rows, silently diverging from a rebuild). distinct-vs-total over
    // the small batch catches it in one aggregate.
    val (total, distinct) = newVecs
      .agg(count(lit(1)), countDistinct($"vec_id"))
      .as[(Long, Long)].head()
    require(total == distinct,
      s"EmbIvfIndex.append: batch repeats vec_ids internally ($total rows, " +
        s"$distinct distinct vec_ids) — appends must carry unique ids")
    // Zero-norm rows are dropped exactly as ensure's rebuild drops them —
    // append == rebuild must hold for degenerate batches too.
    Ivf.append(s, rank(newVecs.filter(col("nn") > 0), s.table(Ivf.table("cent", tg)), 1)
      .select($"cent_id", $"vec_id", $"q", $"nn"), "cells", tg)
    Ivf.refresh(s, tg)
  }

  /** Rewrite the posting lists into fresh one-file-per-cell form
    * ([[IndexStore.Family.compact]], clustered on cent_id so each task
    * holds whole cells) — the maintenance op the append path defers (each
    * append adds one file set to every touched cent_id partition
    * directory, so after N appends a probe of k cells opens up to k·(N+1)
    * files; compaction restores the fresh-build read shape with no
    * re-assignment and no codebook touch). The codebook (cent) is written
    * once at build and never appended, so only cells compacts. Serving is
    * unchanged: the table keeps its cent_id partitioning, so the probe
    * path's partition pruning survives (IvfIndexSpec proves compact ==
    * pre-compact cells, the per-cell file collapse, and that the pruned
    * probe still serves row-identically).
    */
  def compact(s: SparkSession, d: String): Unit = Ivf.synchronized {
    ensure(s, d)
    Ivf.compact(s, tag(d), Seq("cells"))
  }

  /** Drop this corpus dir's IVF index ([[IndexStore.Family.drop]]) — the
    * cleanup for throwaway corpora (the bench's maintenance-stage side
    * corpus) and the crash-mid-append repair path (ensure rebuilds).
    */
  def dropFor(s: SparkSession, d: String): Unit = Ivf.synchronized {
    Ivf.drop(s, tag(d))
  }
}
