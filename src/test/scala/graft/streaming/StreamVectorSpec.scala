package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.queries.DedupQueries

/** The streaming vector-similarity gate must flag exactly the
  * (arrival, corpus) pairs the batch evaluation of the same LSH
  * probe + exact-cosine verify produces — stream-static joins,
  * micro-batching and the watermark pair dedup must not change the
  * answer.
  */
class StreamVectorSpec extends SparkSpec {
  import spark.implicits._

  test("streaming similarity flags equal the batch evaluation of the same gate") {
    val emb = Tables.t(spark, sf, "embeddings")
    // arrivals: the odd-id half of the table streamed from parquet;
    // corpus: the even-id half (so arrival ids never match themselves)
    val corpus = emb.filter($"vec_id" % 2 === 0).select($"vec_id", $"embedding")
    val arrivalsBatch = emb.filter($"vec_id" % 2 === 1)
      .select($"vec_id", $"embedding",
        timestamp_millis(lit(1700000000000L) + $"vec_id" * 1000).as("ts"))

    // batch truth: the SAME gate evaluated with a batch left side
    val expected = VectorStream.simFlags(arrivalsBatch, corpus)
      .select($"vec_id", $"match_vec", $"cos_ppm")
      .as[(Long, Long, Long)].collect().toSet
    spark.catalog.clearCache()

    val dir = graft.rawdata.Topic.tempDir("stream-vectors")
    arrivalsBatch.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val arrivalsStream = spark.readStream.schema(schema).parquet(dir)

    val q = VectorStream.simFlags(arrivalsStream, corpus)
      .writeStream.format("memory").queryName("simflags").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT vec_id, match_vec, cos_ppm FROM simflags")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === expected, "stream and batch gates disagreed")
      assert(streamed.nonEmpty, "expected at least one similar pair across the id halves")
      // every flag clears the threshold and never self-matches
      assert(streamed.forall(_._3 >= 350000L))
      assert(streamed.forall(t => t._1 != t._2))
    } finally q.stop()
  }

  test("the gate over a batch left side equals the batch embed LSH pairs touching the arrivals") {
    val emb = Tables.t(spark, sf, "embeddings").select($"vec_id", $"embedding")
    assert(DedupQueries.embedLshBitsFor(emb.count()) == 8, "the fixture must band at the gate's width")
    val arrivals = emb.filter($"vec_id" < 200)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + $"vec_id" * 1000))
    val got = VectorStream.simFlags(arrivals, emb, 350000)
      .select($"vec_id", $"match_vec").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val expected = DedupQueries.embedLshPairsRaw(spark, sf)
      .filter($"cos_ppm" >= 350000 && ($"vec_a" < 200 || $"vec_b" < 200))
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    assert(expected.nonEmpty, "expected similar pairs touching the arrival slice")
    assert(got === expected, "the stream gate and the batch embed LSH disagree")
  }
}
