package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Laws of the materialized IVF index: the served probe is row-identical
  * to the inline ann_ivf_topk computation, the posting-list scan is
  * partition-pruned to the probed cells, and append assigns to the
  * FROZEN codebook (content equal to re-assigning the union corpus to
  * the base centroids).
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  test("served probe is row-identical to ann_ivf_topk") {
    val idx = graft.SparkEntry.queries("ann_ivf_index")(spark, sf).collect().toSeq
    val inline = graft.SparkEntry.queries("ann_ivf_topk")(spark, sf).collect().toSeq
    assert(idx === inline)
    assert(idx.nonEmpty)
  }

  test("the cells scan carries partition filters (pruned to probed cells)") {
    val pruned = EmbIvfIndex.cells(spark, sf).filter($"cent_id".isin(0L, 100L))
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "cent_id filter did not reach the partition pruning layer")
    // pruning is real: the filtered scan's row count is a strict subset
    val total = EmbIvfIndex.cells(spark, sf).count()
    assert(pruned.count() < total)
  }

  /** the index's own assignment rule, reproduced independently */
  private def assignTo(e: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy($"vec_id").orderBy($"c_ppm".desc, $"cent_id")
    e.join(broadcast(cents), lit(true))
      .withColumn("dot", expr(
        "aggregate(zip_with(q, qc, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("c_ppm",
        floor($"dot" / (sqrt($"nn") * sqrt($"nc")) * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("crnk", row_number().over(w))
      .filter($"crnk" === 1)
      .select($"cent_id", $"vec_id", $"q", $"nn")
  }

  test("append assigns new vectors to the frozen codebook") {
    val base = graft.rawdata.Topic.tempDir("ivf-append")
    val all = graft.Tables.t(spark, sf, "embeddings")
    // split at 3/4 of the id space so the append batch is non-empty at
    // any sf (sf0.001 carries 500 vectors, not 2000)
    val Split = all.agg(max($"vec_id")).head().getLong(0) * 3 / 4
    all.filter($"vec_id" < Split).write.mode("overwrite")
      .parquet(s"$base/embeddings.parquet")
    EmbIvfIndex.ensure(spark, base)
    val frozen = EmbIvfIndex.cents(spark, base)
    // seeds all come from the base half (codebook frozen at build)
    assert(frozen.agg(max($"cent_id")).head().getLong(0) < Split)

    // the append contract excludes new seed positions (they would have
    // been codebook seeds in a rebuild) — the batch honors it, and
    // append() now enforces it (test below)
    val newVecs = graft.operators.VectorOps.quantized(spark, sf)
      .filter($"vec_id" >= Split && $"vec_id" % AnnQueries.CentroidStep =!= 0)
    EmbIvfIndex.append(spark, base, newVecs)

    val got = EmbIvfIndex.cells(spark, base)
      .select($"cent_id", $"vec_id").as[(Long, Long)].collect().toSet
    val want = assignTo(
        graft.operators.VectorOps.quantized(spark, sf)
          .filter($"vec_id" < Split || $"vec_id" % AnnQueries.CentroidStep =!= 0),
        frozen)
      .select($"cent_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(got.exists(_._2 >= Split), "appended vectors missing from cells")
  }

  test("compact == pre-compact cells, collapses to one file per cell, serving still prunes") {
    val base = graft.rawdata.Topic.tempDir("ivf-compact")
    val all = graft.Tables.t(spark, sf, "embeddings")
    // 75 % base + 3 appends = the deferred-maintenance lifecycle the
    // compact op exists for (each append adds a file set per touched cell)
    all.filter(pmod($"vec_id", lit(4)) =!= 3).write.mode("overwrite")
      .parquet(s"$base/embeddings.parquet")
    EmbIvfIndex.ensure(spark, base)
    val step = AnnQueries.centroidStep(spark, base)
    val q = graft.operators.VectorOps.quantized(spark, sf)
    for (r <- 0 to 2)
      EmbIvfIndex.append(spark, base,
        q.filter(pmod($"vec_id", lit(4)) === 3 && pmod($"vec_id", lit(12)) === r * 4 + 3 &&
          $"vec_id" % step =!= 0))

    def cellFiles(): Map[String, Int] = {
      val cellsDir = IndexStore.Ivf.location("cells", IndexStore.tag(base))
      Option(cellsDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
        .map(d => d.getName ->
          Option(d.listFiles()).getOrElse(Array.empty)
            .count(f => f.getName.endsWith(".parquet"))).toMap
    }
    val before = EmbIvfIndex.cells(spark, base)
      .select($"cent_id", $"vec_id", $"q", $"nn").collect().toSet
    val filesBefore = cellFiles()
    assert(filesBefore.values.exists(_ > 1),
      "appends left no multi-file cell — the compact fixture is vacuous")

    EmbIvfIndex.compact(spark, base)

    // rows identical, every cell back to a single file
    val after = EmbIvfIndex.cells(spark, base)
      .select($"cent_id", $"vec_id", $"q", $"nn").collect().toSet
    assert(after === before, "compact changed the posting-list relation")
    val filesAfter = cellFiles()
    assert(filesAfter.keySet === filesBefore.keySet, "compact changed the cell set")
    assert(filesAfter.values.forall(_ == 1),
      s"compact left multi-file cells: ${filesAfter.filter(_._2 > 1)}")

    // the serving path still partition-prunes post-compact
    val someCells = after.iterator.map(_.getLong(0)).toSeq.distinct.take(2)
    val pruned = EmbIvfIndex.cells(spark, base)
      .filter($"cent_id".isin(someCells: _*))
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "post-compact cells scan lost partition pruning")
    assert(pruned.count() < after.size)
  }

  test("append rejects batches that violate its contract") {
    val base = graft.rawdata.Topic.tempDir("ivf-append-guard")
    val all = graft.Tables.t(spark, sf, "embeddings")
    val Split = all.agg(max($"vec_id")).head().getLong(0) * 3 / 4
    all.filter($"vec_id" < Split).write.mode("overwrite")
      .parquet(s"$base/embeddings.parquet")
    EmbIvfIndex.ensure(spark, base)
    val q = graft.operators.VectorOps.quantized(spark, sf)
    // a batch carrying a would-be seed position (vec_id % CentroidStep == 0)
    val seedErr = intercept[IllegalArgumentException] {
      EmbIvfIndex.append(spark, base,
        q.filter($"vec_id" >= Split && $"vec_id" % AnnQueries.CentroidStep === 0))
    }
    assert(seedErr.getMessage.contains("seed position"))
    // a batch re-sending ids already in the posting lists
    val dupErr = intercept[IllegalArgumentException] {
      EmbIvfIndex.append(spark, base,
        q.filter($"vec_id" < Split && $"vec_id" % AnnQueries.CentroidStep =!= 0).limit(5))
    }
    assert(dupErr.getMessage.contains("already present"))
    // a batch repeating a vec_id INTERNALLY (never seen by the index, so
    // it passes the seed and posting-list checks, but would write
    // duplicate posting rows and diverge from a rebuild)
    val fresh = q.filter($"vec_id" >= Split && $"vec_id" % AnnQueries.CentroidStep =!= 0).limit(3)
    val internalErr = intercept[IllegalArgumentException] {
      EmbIvfIndex.append(spark, base, fresh.union(fresh))
    }
    assert(internalErr.getMessage.contains("repeats vec_ids internally"))
  }

  test("each probe query reads exactly its probed cells' partitions") {
    // a partition filter alone proves nothing (isnotnull(cent_id) is one,
    // and a DPP-only scan reads every cell): count the partitions the
    // executed cells scan read. sf0.1 (2,000 vectors) has 20 cells, so
    // nprobe=4 over 5 queries cannot cover the index by construction.
    val d = sf.replace("sf0.001", "sf0.1")
    val cellCount = EmbIvfIndex.cells(spark, d).select($"cent_id").distinct().count()
    val qs = graft.operators.VectorOps.quantized(spark, d)
      .filter($"nn" > 0 && $"vec_id" < AnnQueries.NumQueries)
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    for ((name, nprobe) <- Seq("ann_ivf_index" -> 2, "ann_ivf_recall" -> 4, "ann_ivf_pq" -> 2)) {
      val probed = EmbIvfIndex.rank(qs, EmbIvfIndex.cents(spark, d), nprobe)
        .select($"cent_id").distinct().count()
      val df = graft.SparkEntry.queries(name)(spark, d)
      df.collect()
      val read = Plans.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(p =>
          p.toString.contains("graft-ivf-index") && p.toString.contains("cells")) =>
          s.metrics("numPartitions").value
      }
      assert(read.nonEmpty, s"$name no longer reads the IVF posting lists")
      assert(read.forall(_ == probed), s"$name read $read cell partitions for $probed probed cells")
      assert(probed < cellCount, s"$name probed all $cellCount cells")
      spark.catalog.clearCache()
    }
  }
}
