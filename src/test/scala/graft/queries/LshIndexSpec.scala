package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.t

/** The materialized corpus LSH index (CorpusLshIndex) must be
  * indistinguishable from the inline chain it replaced: same shingle
  * sets, same band keys, same verified candidate pairs — and the band
  * table's bucketing must actually remove the self-join exchange.
  */
class LshIndexSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("index jaccard == inline jaccard (pairs AND values)") {
    val docs = t(spark, sf, "documents")
    val inline = DedupQueries.jaccardOf(DedupQueries.shingleArrays(docs).persist())
    val idx = CorpusLshIndex.jaccard(spark, sf)
    assert(rows(idx) == rows(inline))
    assert(idx.count() > 0)
    spark.catalog.clearCache()
  }

  test("index bands == inline bands") {
    val docs = t(spark, sf, "documents")
    val inline = DedupQueries.bandsFrom(
      DedupQueries.shingleArrays(docs)
        .select(col("doc_id"), explode(col("ss")).as("s")))
    assert(rows(CorpusLshIndex.bands(spark, sf)) == rows(inline))
  }

  test("index shingles == inline shingles (as sets per doc)") {
    val docs = t(spark, sf, "documents")
    def norm(df: DataFrame) = df
      .select(col("doc_id"), array_sort(col("ss")).as("ss"))
    assert(rows(norm(CorpusLshIndex.shingles(spark, sf))) ==
      rows(norm(DedupQueries.shingleArrays(docs))))
  }

  test("append extends the index to exactly the full-rebuild relations") {
    import spark.implicits._
    val all = t(spark, sf, "documents").select($"doc_id", $"text")
    val base = all.filter($"doc_id" % 3 =!= 0)
    val batch = all.filter($"doc_id" % 3 === 0)
    val dir = graft.rawdata.Topic.tempDir("lsh-append")
    base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusLshIndex.ensure(spark, dir)
    CorpusLshIndex.append(spark, dir, batch)
    // truth: the inline chain over the UNION corpus, rebuilt from scratch
    val shAll = DedupQueries.shingleArrays(all).persist()
    def norm(df: DataFrame) = df.select(col("doc_id"), array_sort(col("ss")).as("ss"))
    assert(rows(norm(CorpusLshIndex.shingles(spark, dir))) == rows(norm(shAll)),
      "appended shingle relation diverged from a full rebuild")
    val bandsAll = DedupQueries.bandsFrom(
      shAll.select(col("doc_id"), explode(col("ss")).as("s")))
    assert(rows(CorpusLshIndex.bands(spark, dir)) == rows(bandsAll),
      "appended band relation diverged from a full rebuild")
    assert(rows(CorpusLshIndex.jaccard(spark, dir)) == rows(DedupQueries.jaccardOf(shAll)),
      "appended verified-pair relation diverged from a full rebuild")
    assert(CorpusLshIndex.jaccard(spark, dir).count() > 0)
    spark.catalog.clearCache()
  }

  test("appendEmbeddings extends the epair index to exactly the full-rebuild pairs") {
    import spark.implicits._
    val all = t(spark, sf, "embeddings")
    val base = all.filter($"vec_id" % 4 =!= 0)
    val batch = all.filter($"vec_id" % 4 === 0).select($"vec_id", $"embedding")
    val dir = graft.rawdata.Topic.tempDir("lsh-eappend")
    base.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    CorpusLshIndex.embedPairs(spark, dir).count()
    CorpusLshIndex.appendEmbeddings(spark, dir, batch)
    val truth = DedupQueries.embedLshPairsRaw(spark, sf) // union corpus, from scratch
    assert(rows(CorpusLshIndex.embedPairs(spark, dir)) == rows(truth),
      "appended epair relation diverged from a full rebuild")
    assert(CorpusLshIndex.embedPairs(spark, dir).count() > 0)
    spark.catalog.clearCache()
  }

  /** the band self-join must read the bucketed table directly on both
    * sides; the only legal exchange is the one under the final
    * distinct() aggregation (it re-keys on the pair, not the bucket key)
    */
  private def assertExchangeFreeSelfJoin(band: DataFrame): Unit = {
    // at spec scale the band table is broadcast-sized, which would hide
    // the property under test — force the shuffled-join path so the
    // bucketing has to carry the distribution
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cand = DedupQueries.pairsOfBands(band)
      cand.count() // finalize AQE
      def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p match {
          case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
          case other => other +: other.children.flatMap(leaves)
        }
      val plan = cand.queryExecution.executedPlan
      val joins = leaves(plan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a shuffled join over the bucketed table:\n$plan")
      val shufflesUnderJoin = joins.flatMap(j => j.children.flatMap(leaves)).collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shufflesUnderJoin.isEmpty,
        s"bucketing should satisfy the join distribution, found: $shufflesUnderJoin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("bucketed band self-join plans without a shuffle exchange") {
    assertExchangeFreeSelfJoin(CorpusLshIndex.bands(spark, sf))
  }

  test("the bucket property survives an append (multi-file buckets still co-locate)") {
    import spark.implicits._
    val all = t(spark, sf, "documents").select($"doc_id", $"text")
    val dir = graft.rawdata.Topic.tempDir("lsh-append-plan")
    all.filter($"doc_id" % 2 === 0).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusLshIndex.ensure(spark, dir)
    CorpusLshIndex.append(spark, dir, all.filter($"doc_id" % 2 === 1))
    assertExchangeFreeSelfJoin(CorpusLshIndex.bands(spark, dir))
    spark.catalog.clearCache()
  }

  test("compact after 3 appends: relations unchanged, files collapse to one per bucket, join stays exchange-free") {
    import spark.implicits._
    val all = t(spark, sf, "documents").select($"doc_id", $"text")
    val dir = graft.rawdata.Topic.tempDir("lsh-compact")
    all.filter($"doc_id" % 4 === 0).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusLshIndex.ensure(spark, dir)
    for (r <- 1 to 3) CorpusLshIndex.append(spark, dir, all.filter($"doc_id" % 4 === r))
    val before = Seq("sh", "sig", "band", "jac")
      .map(p => p -> rows(s_table(dir, p))).toMap
    val filesBefore = s_table(dir, "band").inputFiles.length
    CorpusLshIndex.compact(spark, dir)
    for ((p, want) <- before)
      assert(rows(s_table(dir, p)) == want, s"compact changed the $p relation")
    // truth cross-check: the compacted index still equals a from-scratch
    // rebuild of the union corpus (compact == rebuild, transitively)
    val shAll = DedupQueries.shingleArrays(all).persist()
    assert(rows(CorpusLshIndex.jaccard(spark, dir)) == rows(DedupQueries.jaccardOf(shAll)))
    val buckets = IndexStore.Lsh.layout(spark, "band", IndexStore.tag(dir)).buckets
    val filesAfter = s_table(dir, "band").inputFiles.length
    assert(filesBefore > buckets, s"appends should have multiplied files (got $filesBefore)")
    assert(filesAfter == buckets, s"compact must leave one file per bucket, got $filesAfter/$buckets")
    assertExchangeFreeSelfJoin(CorpusLshIndex.bands(spark, dir))
    spark.catalog.clearCache()
  }

  test("compact preserves the embedding-side epair/eband relations") {
    import spark.implicits._
    val all = t(spark, sf, "embeddings")
    val base = all.filter($"vec_id" % 4 =!= 0)
    val batch = all.filter($"vec_id" % 4 === 0).select($"vec_id", $"embedding")
    val dir = graft.rawdata.Topic.tempDir("lsh-ecompact")
    base.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    CorpusLshIndex.embedPairs(spark, dir).count()
    CorpusLshIndex.appendEmbeddings(spark, dir, batch)
    val want = rows(CorpusLshIndex.embedPairs(spark, dir))
    CorpusLshIndex.compact(spark, dir)
    assert(rows(CorpusLshIndex.embedPairs(spark, dir)) == want,
      "compact changed the epair relation")
    val buckets = IndexStore.Lsh.layout(spark, "epair", IndexStore.tag(dir)).buckets
    assert(CorpusLshIndex.embedPairs(spark, dir).inputFiles.length == buckets,
      "compact must leave one epair file per bucket")
    spark.catalog.clearCache()
  }

  private def s_table(dir: String, part: String) =
    spark.table(IndexStore.Lsh.table(part, IndexStore.tag(dir)))
}
