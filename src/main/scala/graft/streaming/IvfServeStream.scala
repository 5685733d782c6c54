package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.VectorOps
import graft.queries.EmbIvfIndex

/** Streaming vector-search serving — ann_ivf_index's streaming twin:
  * arriving query vectors are answered with their top-k nearest corpus
  * vectors THROUGH the materialized IVF index, the "online serving"
  * half of the index whose batch half is the audited probe query.
  *
  * Shape (one stateless narrow stage, one stream-static equi join, one
  * per-query group rank):
  *  - the frozen codebook is pinned at gate build as a LITERAL
  *    array<struct> column (bounded: |cells| = corpus/CentroidStep —
  *    the codebook every IVF serving node holds in memory; a
  *    cluster-scale codebook would move this probe into a relational
  *    broadcast join instead), so cell ranking is ROW-LOCAL: sort the
  *    array by (cos_ppm desc, cent_id), slice nprobe — no window, no
  *    state;
  *  - candidates come from ONE stream-static equi join on cent_id
  *    against the cells posting-list table (the arrival side carries
  *    nprobe rows per query — probes multiply the tiny stream side,
  *    never the corpus);
  *  - the per-query top-k is a flatMapGroupsWithState that ranks each
  *    query's candidates within its arrival micro-batch and stores
  *    NOTHING (a query is answered once; no state ever accumulates).
  *
  * StreamIvfServeSpec proves the served answers are row-identical to
  * the batch ann_ivf_index for the same query vectors.
  */
object IvfServeStream {

  case class Cand(qid: Long, cid: Long, cosPpm: Long)
  case class Answer(qid: Long, rnk: Long, cid: Long, cosPpm: Long)

  /** `queries`: streaming (vec_id, q, nn) — already-quantized query
    * vectors (VectorOps.quantize on the arrival stream). `d`: the
    * indexed corpus dir. Returns the per-query top-k answers.
    */
  def topk(queries: DataFrame, d: String, nprobe: Int = 2,
      k: Int = 5): Dataset[Answer] = {
    val s = queries.sparkSession
    import s.implicits._
    // pin the frozen codebook (bounded by construction — see Scaladoc)
    val codebook = EmbIvfIndex.cents(s, d)
      .select($"cent_id", $"qc", $"nc")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSeq
    val centsLit = typedLit(codebook).cast(
      "array<struct<cent_id: bigint, qc: array<bigint>, nc: bigint>>")
    val probes = queries
      .withColumn("cents", centsLit)
      // row-local cell ranking: (−cos_ppm, cent_id) sorts the batch
      // probe order exactly (cos desc, cent asc)
      .withColumn("probe_cells", expr(
        s"""slice(transform(array_sort(transform(cents, c -> struct(
           |  -CAST(FLOOR(aggregate(zip_with(q, c.qc, (x, y) -> x * y), 0L, (a, v) -> a + v)
           |    / (sqrt(nn) * sqrt(c.nc)) * 1000000.0 + 0.5) AS BIGINT) AS negppm,
           |  c.cent_id AS cent_id))), p -> p.cent_id), 1, $nprobe)""".stripMargin))
      .select($"vec_id".as("qid"), $"q".as("qa"), $"nn".as("na"),
        explode($"probe_cells").as("cent_id"))
    val cands = probes
      .join(EmbIvfIndex.cells(s, d)
        .select($"cent_id", $"vec_id".as("cid"), $"q".as("qb"), $"nn".as("nb")),
        Seq("cent_id"))
      .filter($"cid" =!= $"qid")
      .select($"qid", $"cid",
        VectorOps.cosPpm(VectorOps.dotCol($"qa", $"qb"), $"na", $"nb").as("cosPpm"))
      .as[Cand]
    implicit val stEnc = Encoders.product[Answer] // dummy, state never set
    cands.groupByKey(_.qid)(Encoders.scalaLong)
      .flatMapGroupsWithState[Answer, Answer](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, batch: Iterator[Cand], _: GroupState[Answer]) =>
          batch.toSeq.sortBy(c => (-c.cosPpm, c.cid))
            .take(k).zipWithIndex
            .map { case (c, i) => Answer(qid, i + 1L, c.cid, c.cosPpm) }
            .iterator
      }
  }
}
