package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.CorpusLshIndex

/** The self-maintaining near-dup gate must flag a micro-batch against
  * everything seen so far — the static corpus AND earlier stream
  * arrivals — by appending each batch to the corpus LSH index. A
  * stream-static join alone freezes its static side at query start, so
  * a near-copy of an EARLIER STREAM doc is exactly the case it misses
  * and this gate must catch.
  */
class StreamIndexMaintSpec extends SparkSpec {
  import spark.implicits._

  test("a later batch is flagged against an earlier batch's doc, and the index absorbs both") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    val docX = words.mkString(" ")                       // novel vs corpus
    val docY = words.updated(10, "CHANGED").mkString(" ") // near-copy of X only
    val corpusDir = graft.rawdata.Topic.tempDir("maint-corpus")
    Seq((1L, "one two three four five six seven eight nine ten"),
        (2L, "red orange yellow green blue indigo violet black white gray"),
        (3L, "cat dog bird fish horse cow sheep goat pig hen"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    CorpusLshIndex.ensure(spark, corpusDir)

    val streamDir = graft.rawdata.Topic.tempDir("maint-stream")
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    val flags = ArrayBuffer.empty[(Long, Long, Long)]
    Seq((100L, docX)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(streamDir)
    val q = CleanStream.indexMaintainingNearDup(
      spark.readStream.schema(schema).parquet(streamDir), corpusDir) { batchFlags =>
      flags ++= batchFlags.as[(Long, Long, Long)].collect()
    }
    try {
      q.processAllAvailable()
      assert(flags.isEmpty, "doc X is novel against the corpus")
      // the second batch arrives AFTER X was absorbed into the index
      Seq((200L, docY)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      assert(flags.map(f => (f._1, f._2)).toSet === Set((200L, 100L)),
        "doc Y must be flagged against the EARLIER STREAM doc X, nothing else")
      assert(flags.forall(_._3 >= 400000L))
    } finally q.stop()
    // lifecycle: the index now covers corpus + X + Y (the X-Y pair is in
    // the verified relation). The appends ran in the micro-batch's cloned
    // session, so this root-session reader refreshes first (the
    // documented cross-session contract on CorpusLshIndex.refresh).
    CorpusLshIndex.refresh(spark, corpusDir)
    val pairs = CorpusLshIndex.jaccard(spark, corpusDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 200L)))
    spark.catalog.clearCache()
  }

  test("a failing onBatch appends nothing and leaves nothing persisted") {
    val corpusDir = graft.rawdata.Topic.tempDir("maint-fail-corpus")
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    Seq((1L, words.mkString(" ")),
        (2L, "red orange yellow green blue indigo violet black white gray"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    CorpusLshIndex.ensure(spark, corpusDir)
    def tables() = Seq(CorpusLshIndex.shingles(spark, corpusDir), CorpusLshIndex.sigs(spark, corpusDir),
      CorpusLshIndex.bands(spark, corpusDir), CorpusLshIndex.jaccard(spark, corpusDir))
      .map(_.collect().toSet)
    val before = tables()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet

    val streamDir = graft.rawdata.Topic.tempDir("maint-fail-stream")
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    // a near-copy of doc 1, so the batch has a flag to hand over
    Seq((100L, words.updated(10, "CHANGED").mkString(" "))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(streamDir)
    var handed = 0L
    val q = CleanStream.indexMaintainingNearDup(
      spark.readStream.schema(schema).parquet(streamDir), corpusDir) { batchFlags =>
      handed = batchFlags.count()
      throw new IllegalStateException("downstream sink failed")
    }
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
    finally q.stop()
    assert(handed == 1L, "the flag must reach onBatch before the failure")
    CorpusLshIndex.refresh(spark, corpusDir)
    assert(tables() === before, "a failed batch must leave every lsh table row-identical")
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinned,
      "a failed batch must release everything it persisted")
    spark.catalog.clearCache()
  }
}
