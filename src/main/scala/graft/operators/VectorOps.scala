package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Shared embedding-vector plumbing (SURVEY §2.E/F).
  *
  * Quantization: floor(x*1e6+0.5) per element makes every dot product and
  * norm an exact 64-bit integer (|q|≤1e6, 64 dims → |dot| ≤ 6.4e13), so
  * similarity values are bit-identical across engines, partitionings and
  * summation orders — the property the DuckDB oracles rely on.
  */
object VectorOps {

  /** Adds `q` (quantized vector) and `nn` (integer squared norm) to any
    * relation with an `embedding` array column — works on STREAMING
    * relations too (pure per-row expressions). Both columns run as native
    * codegen'd expressions (QuantizeVec, LongDot(q, q)): one generated
    * loop each instead of the interpreted transform/aggregate HOFs, so
    * the base of every embedding scan stays inside whole-stage codegen.
    */
  def quantize(df: DataFrame): DataFrame =
    df.withColumn("q",
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.QuantizeVec(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(df("embedding")))))
      .withColumn("nn", dotCol(col("q"), col("q")))

  /** embeddings with quantized vector `q` and integer squared norm `nn` */
  def quantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    quantize(t(s, d, "embeddings")).select($"vec_id", $"q", $"nn")
  }

  /** HOF formulation of the dot product — kept as the reference semantics
    * the native expression is spec-tested against (VectorSigSpec); hot
    * paths use [[dotCol]] instead.
    */
  val dotExpr: String =
    "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"

  /** Exact int64 dot product via the native codegen'd LongDot expression
    * (one tight generated loop, no zipped intermediate, no interpreted
    * lambdas) — constructed directly into the Column via ColumnBridge so
    * it works in any session, extensions or not.
    */
  def dotCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.LongDot(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** Cosine in ppm of two quantized vectors from their exact integer dot
    * product and squared norms: floor(dot / (√na·√nb)·1e6 + 0.5) as a
    * long, the literal twin of the oracles' `CAST(FLOOR(dot / (sqrt(na) *
    * sqrt(nb)) * 1000000.0 + 0.5) AS BIGINT)`. Norms must be nonzero: a
    * zero-norm vector has no cosine (ANSI mode throws on the NaN cast).
    */
  def cosPpm(dot: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
      nb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(dot / (sqrt(na) * sqrt(nb)) * lit(1000000.0) + lit(0.5)).cast("long")

  /** Exact int64 squared euclidean distance via the native LongL2
    * expression — [[dotCol]]'s distance twin (the k-means / PQ
    * assignment kernel). Works on nullable-element array types too (the
    * checked kernel fails loudly on an actual null slot), which is what
    * the rewrite rule can't prove for centroid arrays built via
    * collect_list+transform.
    */
  def l2Col(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.LongL2(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** All pairs (va < vb ≤ va+band) with quantized cosine in ppm.
    *
    * The id-range condition alone would force a nested-loop join (O(n²)
    * pair evaluations). Bucketizing vec_id by the band width turns it into
    * an equi hash join — the left side probes its own and the next bucket,
    * so each row is evaluated against ≤ 2·band candidates, and the shuffle
    * key (bucket) scales the plan linearly at any corpus size.
    */
  def bandedCosinePairs(s: SparkSession, d: String, band: Int): DataFrame = {
    import s.implicits._
    // a zero-norm vector has no cosine: dividing by sqrt(0) yields NaN
    // and ANSI-mode CAST(NaN AS BIGINT) throws — exclude degenerate
    // vectors from pairing entirely (they can't be near-dups of anything)
    val e = quantized(s, d).filter($"nn" > 0)
    val a = e.select($"vec_id".as("va"), $"q".as("qa"), $"nn".as("na"))
      .withColumn("bucket", explode(array(floor($"va" / band), floor($"va" / band) + 1)))
    val b = e.select($"vec_id".as("vb"), $"q".as("qb"), $"nn".as("nb"))
      .withColumn("bucket", floor($"vb" / band))
    a.join(b, Seq("bucket"))
      .filter($"vb" > $"va" && $"vb" <= $"va" + band)
      .withColumn("dot", dotCol(col("qa"), col("qb")))
      .withColumn("cos_ppm", cosPpm($"dot", $"na", $"nb"))
      .select($"va", $"vb", $"cos_ppm")
  }

  /** deterministic ±1 random hyperplanes from md5(j:i) — public-recipe
    * pseudo randomness, reproducible anywhere (no RNG state, no broadcast
    * of driver-side randomness)
    */
  def hyperplanes(n: Int, dims: Int): Array[Array[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(n, dims) { (j, i) =>
      val h = md.digest(s"$j:$i".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1 else -1
    }
  }

  /** the native banding expression over a quantized-vector column (see
    * graft.functions.HyperplaneBands) — constructed directly into the
    * Column via ColumnBridge so it works in any session, extensions or not
    */
  def hyperplaneBandsCol(q: org.apache.spark.sql.Column, tables: Int, bits: Int, dims: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.HyperplaneBands(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(q), tables, bits, dims))

  /** Adds `bands`: array of `tables` band values, where band t packs the
    * sign bits of the quantized vector `q` against hyperplanes
    * [t·bits, (t+1)·bits). Unlike a single packed long this carries any
    * number of total sign bits (shiftleft on a long wraps at 64 — 80
    * planes in one `sig` would alias tables 8+ onto tables 0/1).
    * Computed by the native codegen'd HyperplaneBands expression: one
    * tight generated loop per row instead of tables·bits·dims interpreted
    * higher-order-function lambda calls.
    */
  def withHyperplaneBands(df: DataFrame, tables: Int, bits: Int, dims: Int = 64): DataFrame =
    df.withColumn("bands", hyperplaneBandsCol(df("q"), tables, bits, dims))

  /** Adds `sig`: an n-bit sign signature of the quantized vector `q`
    * against the first n deterministic hyperplanes (bit j = 1 iff
    * q · plane_j > 0; n ≤ 63 — see withHyperplaneBands for wider).
    * One single-table native banding pass.
    */
  def withHyperplaneSig(df: DataFrame, nBits: Int, dims: Int = 64): DataFrame = {
    require(nBits <= 63, s"a packed long sig holds at most 63 bits, got $nBits")
    df.withColumn("sig", element_at(hyperplaneBandsCol(df("q"), 1, nBits, dims), 1))
  }
}
