package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The materialized co-purchase graph index equals the from-scratch
  * join-form derivation, and its consumers agree with each other on the
  * shared relations.
  */
class CoPurchaseGraphSpec extends SparkSpec {
  import spark.implicits._

  test("index edge/deg relations equal the independent join-form build") {
    val li = graft.Tables.t(spark, sf, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val inlinePairs = li.toDF("o", "u").join(li.toDF("o", "v"), Seq("o"))
      .filter($"u" < $"v").groupBy($"u", $"v").agg(count(lit(1)).as("supp"))
      .as[(Long, Long, Long)].collect()
    val inlineEdges = inlinePairs.map { case (u, v, _) => (u, v) }.toSet

    val idx = CoPurchaseGraph.edges(spark, sf)
      .as[(Long, Long, Long)].collect()
    val idxEdges = idx.map { case (u, v, _) => (u, v) }.toSet
    assert(idxEdges === inlineEdges, "index edges differ from join-form build")
    assert(idxEdges.forall { case (u, v) => u < v }, "edge orientation invariant")
    assert(idx.map { case (u, v, s) => ((u, v), s) }.toMap ===
      inlinePairs.map { case (u, v, s) => ((u, v), s) }.toMap,
      "edge basket-support counts differ from the join-form co-occurrence counts")

    val expectedDeg = inlineEdges.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val idxDeg = CoPurchaseGraph.degrees(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(idxDeg === expectedDeg, "degree relation differs from endpoint counts")
  }

  test("q39 wedge/edge counts are consistent with the index relations") {
    val row = graft.SparkEntry.queries("q39_triangles")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    spark.catalog.clearCache()
    val (nNodes, nEdges, maxDeg, nWedges, nTri, closure) = row
    val deg = CoPurchaseGraph.degrees(spark, sf).as[(Long, Long)].collect()
    assert(nNodes === deg.length.toLong)
    assert(nEdges === deg.map(_._2).sum / 2, "sum of degrees = 2|E|")
    assert(maxDeg === deg.map(_._2).max)
    assert(nWedges === deg.map { case (_, dg) => dg * (dg - 1) / 2 }.sum)
    // triangles close at most every wedge
    assert(nTri * 3 <= nWedges && closure <= 1000000L)
  }

  test("q40 rank mass: every rank at least the teleport base, top-20 sorted") {
    val n = CoPurchaseGraph.degrees(spark, sf).count()
    val rows = graft.SparkEntry.queries("q40_pagerank")(spark, sf)
      .as[(Long, Long)].collect()
    spark.catalog.clearCache()
    assert(rows.length === 20)
    val base = 15000000000000L / (100L * n)
    assert(rows.forall(_._2 >= base), "rank below the teleport floor")
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq, "not rank-sorted")
    // floored integer shares only lose mass: total never exceeds 10^12
    // (checked on the full relation indirectly via the top-20 bound)
    assert(rows.map(_._2).sum <= 1000000000000L)
  }

  test("append extends the graph index to exactly the full-rebuild relations") {
    val all = graft.Tables.t(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    // the append contract requires complete, never-seen orders with keys
    // above the indexed high-watermark — split by key range, not modulo
    val cut = all.agg(expr("percentile_approx(l_orderkey, 0.8)")).as[Long].head()
    val base = all.filter($"l_orderkey" <= cut)
    val batch = all.filter($"l_orderkey" > cut)
    assert(batch.count() > 0, "range split must leave a non-empty batch")
    val dir = graft.rawdata.Topic.tempDir("cpg-append")
    base.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    CoPurchaseGraph.ensure(spark, dir)
    CoPurchaseGraph.append(spark, dir, batch)
    // truth: from-scratch join-form derivation over the UNION corpus
    val li = all.select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val truthEdges = li.toDF("o", "u").join(li.toDF("o", "v"), Seq("o"))
      .filter($"u" < $"v").groupBy($"u", $"v").agg(count(lit(1)).as("supp"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val idxEdges = CoPurchaseGraph.edges(spark, dir)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(idxEdges === truthEdges,
      "appended edge/support relation diverged from a full rebuild")
    val truthItems = li.groupBy($"p").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(CoPurchaseGraph.items(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      === truthItems, "appended item-support relation diverged")
    val truthDeg = truthEdges.flatMap { case (u, v, _) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sorted
    assert(CoPurchaseGraph.degrees(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      === truthDeg, "appended degree relation diverged")
    val sym = CoPurchaseGraph.symEdges(spark, dir).as[(Long, Long)].collect()
    assert(sym.length === 2 * idxEdges.length &&
      sym.toSet === truthEdges.flatMap { case (u, v, _) => Seq((u, v), (v, u)) }.toSet,
      "appended symmetrized adjacency diverged")
    // the high-watermark guard trips LOUDLY on a re-sent / straddling
    // batch instead of silently corrupting supports
    val resent = intercept[IllegalArgumentException] {
      CoPurchaseGraph.append(spark, dir, batch.limit(5))
    }
    assert(resent.getMessage.contains("high-watermark"))
  }

  test("a missing deg marker (failed append) makes ensure rebuild the whole index") {
    val all = graft.Tables.t(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    val dir = graft.rawdata.Topic.tempDir("cpg-repair")
    all.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    CoPurchaseGraph.ensure(spark, dir)
    val committedEdges = CoPurchaseGraph.edges(spark, dir)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    // simulate a failure inside append's uncommitted window: deg dropped,
    // edge mutated to garbage
    val tg = IndexStore.tag(dir)
    spark.sql(s"DROP TABLE IF EXISTS graft_cpg_deg_$tg")
    // the next read-through ensure() must detect the missing marker and
    // rebuild EVERY table from the base fact table — serving the prior
    // catalog entries beside a missing/stale deg is exactly the silent
    // inconsistency the marker exists to prevent
    val repaired = CoPurchaseGraph.edges(spark, dir)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(repaired === committedEdges, "repair rebuild diverged from the committed index")
    val deg = CoPurchaseGraph.degrees(spark, dir).as[(Long, Long)].collect().toMap
    val expectedDeg = committedEdges.flatMap { case (u, v, _) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(deg === expectedDeg, "repaired degree relation inconsistent with edges")
  }

  test("compact after 3 appends: relations unchanged, files collapse to one per bucket, u-join stays exchange-free") {
    val all = graft.Tables.t(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    // append contract: complete, never-seen orders above the indexed
    // high-watermark — split by key QUARTILES, not modulo
    val Seq(c1, c2, c3) = Seq(0.25, 0.5, 0.75).map(q =>
      all.agg(expr(s"percentile_approx(l_orderkey, $q)")).as[Long].head())
    val dir = graft.rawdata.Topic.tempDir("cpg-compact")
    all.filter($"l_orderkey" <= c1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    CoPurchaseGraph.ensure(spark, dir)
    CoPurchaseGraph.append(spark, dir, all.filter($"l_orderkey" > c1 && $"l_orderkey" <= c2))
    CoPurchaseGraph.append(spark, dir, all.filter($"l_orderkey" > c2 && $"l_orderkey" <= c3))
    CoPurchaseGraph.append(spark, dir, all.filter($"l_orderkey" > c3))
    def snap(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val want = Map(
      "edge" -> snap(CoPurchaseGraph.edges(spark, dir)),
      "item" -> snap(CoPurchaseGraph.items(spark, dir)),
      "sym" -> snap(CoPurchaseGraph.symEdges(spark, dir)),
      "deg" -> snap(CoPurchaseGraph.degrees(spark, dir)))
    val filesBefore = IndexStore.Cpg.fileCount("edge", IndexStore.tag(dir))
    CoPurchaseGraph.compact(spark, dir)
    assert(snap(CoPurchaseGraph.edges(spark, dir)) === want("edge"),
      "compact changed the edge/support relation")
    assert(snap(CoPurchaseGraph.items(spark, dir)) === want("item"),
      "compact changed the item-support relation")
    assert(snap(CoPurchaseGraph.symEdges(spark, dir)) === want("sym"),
      "compact changed the symmetrized adjacency")
    assert(snap(CoPurchaseGraph.degrees(spark, dir)) === want("deg"),
      "compact changed the degree relation")
    val tg = IndexStore.tag(dir)
    val buckets = IndexStore.Cpg.layout(spark, "edge", tg).buckets
    val filesAfter = IndexStore.Cpg.fileCount("edge", tg)
    // unlike the LSH index (SaveMode.Append → one new file per bucket
    // per append), the graph append MERGES and Overwrites, and Spark's
    // planned bucketed write shuffles onto the bucket columns — so the
    // append path itself already lands the compact one-file-per-bucket
    // layout. Pin that property (it is what makes compact cheap and
    // idempotent here), then prove compact preserves it.
    assert(filesBefore == buckets,
      s"merge-overwrite append should land one edge file per bucket, got $filesBefore/$buckets")
    assert(filesAfter == buckets,
      s"compact must leave one edge file per bucket, got $filesAfter/$buckets")
    // the exchange-free consumer property survives: a u-keyed self-join
    // of the compacted bucketed tables plans no shuffle under the join
    // (broadcast disabled so the bucketing has to carry the distribution)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = CoPurchaseGraph.edges(spark, dir)
      val j = e.select($"u", $"v").join(
        CoPurchaseGraph.symEdges(spark, dir).select($"u", $"v".as("w")), Seq("u"))
      j.count() // finalize AQE
      def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            leaves(a.executedPlan)
          case other => other +: other.children.flatMap(leaves)
        }
      val joins = leaves(j.queryExecution.executedPlan).collect {
        case x: org.apache.spark.sql.execution.joins.SortMergeJoinExec => x
        case x: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => x
      }
      assert(joins.nonEmpty, "expected a shuffled join over the bucketed tables")
      val shuffles = joins.flatMap(_.children.flatMap(leaves)).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        "compact broke the exchange-free u-join (bucketing lost)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    spark.catalog.clearCache()
  }

  test("q42_reach levels agree with an independent neighbor expansion") {
    val prof = graft.SparkEntry.queries("q42_reach")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    spark.catalog.clearCache()
    val byDist = prof.map { case (dist, n, lo, hi) => dist -> (n, lo, hi) }.toMap
    val edges = CoPurchaseGraph.edges(spark, sf)
      .select($"u", $"v").as[(Long, Long)].collect()
    val nodes = edges.flatMap { case (u, v) => Seq(u, v) }.distinct
    val seed = nodes.min
    assert(byDist(0L) === ((1L, seed, seed)), "level 0 is exactly the seed")
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val l1 = adj(seed)
    assert(byDist(1L)._1 === l1.size.toLong, "level 1 = seed's neighbor count")
    assert(byDist(1L)._2 === l1.min && byDist(1L)._3 === l1.max)
    // levels partition the reachable set; unreached (dist = -1) tops it up
    assert(prof.map(_._2).sum === nodes.length.toLong,
      "profile rows account for every node exactly once")
  }
}
