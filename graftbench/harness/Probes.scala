package graft.e2e

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.VectorOps
import graft.rawdata.{AvroCodec, RawdataMessage, Ulid}

/** Single-layer measurements of traced runs, made after the timed phase
  * over the workload's own inputs. Each is the median of three rounds.
  */
object Probes {

  private def median3(body: => Unit): Double = {
    body // warm
    val xs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      Main.secs(t0)
    }.sorted
    xs(1)
  }

  /** single-thread AvroCodec encode and decode of the workload's messages */
  def codec(ctx: Ctx, messages: DataFrame): Unit = {
    val msgs = messages.select("id", "orderingGroup", "sequenceNumber", "position", "data")
      .as(Encoders.product[RawdataMessage]).collect()
    var bytes: Array[Byte] = null
    val enc = median3 {
      val out = new java.io.ByteArrayOutputStream()
      val w = new AvroCodec.FileWriter(out, 512L * 1024)
      msgs.foreach(w.append)
      w.close()
      bytes = out.toByteArray
    }
    var n = 0
    val dec = median3 {
      n = 0
      AvroCodec.readBytes(bytes).foreach(_ => n += 1)
    }
    ctx.check(n == msgs.length, s"codec probe decoded $n of ${msgs.length} messages")
    ctx.layer.put("rawdata.codec_encode_msgs_per_s", msgs.length / enc)
    ctx.layer.put("rawdata.codec_decode_msgs_per_s", msgs.length / dec)
  }

  /** rows per second of each native SQL function over the corpus */
  def functions(ctx: Ctx, corpusDir: String): Unit = {
    val spark = ctx.spark
    val copies = 8
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .select(col("text"), Ulid.deterministic(col("doc_id") + col("copy"), col("doc_id")).as("id"))
      .persist()
    val embs = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .selectExpr("embedding", "quantize_vec(embedding) AS q")
      .persist()
    val nDocs = docs.count()
    val nEmbs = embs.count()
    val fns = Seq(
      ("ulid_ts_ms", docs, "sum(ulid_ts_ms(id) % 997)"),
      ("char_ngrams", docs, "sum(size(char_ngrams(text, 5)))"),
      ("winnow_fps", docs, "sum(size(winnow_fps(text)))"),
      ("cdc_chunks", docs, "sum(size(cdc_chunks(text)))"),
      ("slide_win_hashes", docs, "sum(size(slide_win_hashes(split(text, ' +'), 8)))"),
      ("phash32", docs, "sum(hash(phash32(text)) % 997)"),
      ("hyperplane_bands", embs, "sum(size(hyperplane_bands(q, 4, 16)))"),
      ("long_dot", embs, "sum(long_dot(q, q) % 997)"),
      ("quantize_vec", embs, "sum(size(quantize_vec(embedding)))"))
    fns.foreach { case (fn, df, agg) =>
      val rows = if (df eq docs) nDocs else nEmbs
      val sec = median3(df.selectExpr(agg).collect(): Unit)
      ctx.layer.put(s"functions.${fn}_rows_per_s", rows / sec)
    }
    docs.unpersist()
    embs.unpersist()
  }

  /** the vector operators on the corpus embeddings */
  def operators(ctx: Ctx, corpusDir: String): Unit = {
    val spark = ctx.spark
    val embs = spark.read.parquet(s"$corpusDir/embeddings.parquet")
    ctx.layer.put("operators.quantize_s",
      median3(VectorOps.quantize(embs).agg(sum(col("nn") % 997)).collect(): Unit))
    ctx.layer.put("operators.banded_pairs_s",
      median3(VectorOps.bandedCosinePairs(spark, corpusDir, 100).count(): Unit))
  }
}
