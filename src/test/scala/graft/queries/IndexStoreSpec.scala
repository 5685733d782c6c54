package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.t

/** The index-table store's lifecycle contract, checked across families:
  * a drop leaves no catalog entry behind for any table of the family,
  * and every write into an existing table (append, merge-overwrite,
  * compaction) keeps the layout the catalog recorded at build time even
  * after the session's shuffle width has changed.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("dropFor drops the token table with the rest of the lsh family; tokens rebuilds") {
    val dir = graft.rawdata.Topic.tempDir("store-drop")
    t(spark, sf, "documents").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusTokenIndex.ensure(spark, dir)
    CorpusLshIndex.ensure(spark, dir)
    CorpusLshIndex.dropFor(spark, dir)
    val inline = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), posexplode(split(col("text"), " +")))
      .toDF("doc_id", "source", "lang", "pos", "tok")
    assert(rows(CorpusTokenIndex.tokens(spark, dir)) == rows(inline))
    CorpusLshIndex.dropFor(spark, dir)
  }

  /** Runs `op` on another thread while this thread holds `family`'s
    * monitor: the thread must block on that monitor, and finish once it
    * is released.
    */
  private def waitsForLock(family: IndexStore.Family)(op: => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val worker = new Thread(() => try op catch { case e: Throwable => failure.set(e) })
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    def blockedOnFamily: Boolean = Option(mx.getThreadInfo(worker.getId)).exists { info =>
      info.getThreadState == Thread.State.BLOCKED &&
        Option(info.getLockInfo).exists(_.getIdentityHashCode == System.identityHashCode(family))
    }
    family.synchronized {
      worker.start()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (worker.isAlive && !blockedOnFamily && System.nanoTime() < deadline) Thread.sleep(10)
      assert(worker.isAlive, s"finished while the ${family.prefix} lock was held")
      assert(blockedOnFamily, s"never waited for the ${family.prefix} lock")
    }
    worker.join(120000)
    assert(!worker.isAlive, s"still running after the ${family.prefix} lock was released")
    Option(failure.get).foreach(throw _)
  }

  test("one lock per family: a token build waits for the lsh family's monitor") {
    val dir = graft.rawdata.Topic.tempDir("store-lock-tok")
    t(spark, sf, "documents").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      waitsForLock(IndexStore.Lsh)(CorpusTokenIndex.ensure(spark, dir))
      assert(spark.catalog.tableExists(IndexStore.Lsh.table("tok", IndexStore.tag(dir))))
    } finally CorpusLshIndex.dropFor(spark, dir)
  }

  test("one lock per family: an IVF append waits for the ivf family's monitor") {
    val dir = graft.rawdata.Topic.tempDir("store-lock-ivf")
    val embs = t(spark, sf, "embeddings")
    val cut = embs.agg(max($"vec_id")).head().getLong(0) * 3 / 4
    embs.filter($"vec_id" < cut).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      EmbIvfIndex.ensure(spark, dir)
      val step = AnnQueries.centroidStep(spark, dir)
      val batch = graft.operators.VectorOps.quantized(spark, sf)
        .filter($"vec_id" >= cut && $"vec_id" % step =!= 0)
      waitsForLock(IndexStore.Ivf)(EmbIvfIndex.append(spark, dir, batch))
      assert(EmbIvfIndex.cells(spark, dir).filter($"vec_id" >= cut).count() ==
        batch.filter($"nn" > 0).count())
    } finally EmbIvfIndex.dropFor(spark, dir)
  }

  /** (buckets, bucket cols, sort cols, partition cols) as the catalog holds them */
  private def catalogLayout(tbl: String): (Int, Seq[String], Seq[String], Seq[String]) = {
    val m = spark.sessionState.catalog.getTableMetadata(TableIdentifier(tbl))
    (m.bucketSpec.map(_.numBuckets).getOrElse(0), m.bucketSpec.toSeq.flatMap(_.bucketColumnNames),
      m.bucketSpec.toSeq.flatMap(_.sortColumnNames), m.partitionColumnNames)
  }

  private def layouts(tg: String): Map[String, (Int, Seq[String], Seq[String], Seq[String])] = {
    val c = spark.sessionState.catalog
    c.listTables(c.getCurrentDatabase, s"graft_*_$tg").map(_.table)
      .map(tbl => tbl -> catalogLayout(tbl)).toMap
  }

  test("append and compaction keep every family's catalog layout after the shuffle width changes") {
    val dir = graft.rawdata.Topic.tempDir("store-layout")
    val docs = t(spark, sf, "documents")
    val embs = t(spark, sf, "embeddings")
    val li = t(spark, sf, "lineitem").select($"l_orderkey", $"l_partkey")
    val cut = li.agg(expr("percentile_approx(l_orderkey, 0.5)")).as[Long].head()
    docs.filter($"doc_id" % 4 =!= 0).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embs.filter(pmod($"vec_id", lit(4)) =!= 3).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    li.filter($"l_orderkey" <= cut).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val tg = IndexStore.tag(dir)
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      CorpusLshIndex.ensure(spark, dir)
      CorpusLshIndex.embedPairs(spark, dir).count()
      CorpusTokenIndex.ensure(spark, dir)
      EmbIvfIndex.ensure(spark, dir)
      CoPurchaseGraph.ensure(spark, dir)
      val built = layouts(tg)
      assert(built.keySet == (Seq("sh", "sig", "band", "jac", "eband", "epair", "tok")
        .map(p => s"graft_lsh_${p}_$tg") ++ Seq("cent", "cells").map(p => s"graft_ivf_${p}_$tg") ++
        Seq("edge", "item", "sym", "wm", "deg").map(p => s"graft_cpg_${p}_$tg")).toSet,
        s"unexpected index tables: ${built.keySet}")
      assert(built(s"graft_lsh_tok_$tg") == ((prior.toInt, Seq("doc_id"), Seq("doc_id", "pos"), Nil)))
      assert(built(s"graft_ivf_cells_$tg") == ((0, Nil, Nil, Seq("cent_id"))))

      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val batch = docs.filter($"doc_id" % 4 === 0)
      CorpusLshIndex.append(spark, dir, batch)
      CorpusTokenIndex.append(spark, dir, batch)
      CorpusLshIndex.appendEmbeddings(spark, dir,
        embs.filter(pmod($"vec_id", lit(4)) === 3).select($"vec_id", $"embedding"))
      val step = AnnQueries.centroidStep(spark, dir)
      EmbIvfIndex.append(spark, dir, graft.operators.VectorOps.quantized(spark, sf)
        .filter(pmod($"vec_id", lit(4)) === 3 && $"vec_id" % step =!= 0))
      CoPurchaseGraph.append(spark, dir, li.filter($"l_orderkey" > cut))
      assert(layouts(tg) == built, "an append changed a catalog layout")
      CorpusLshIndex.compact(spark, dir)
      CorpusTokenIndex.compact(spark, dir)
      EmbIvfIndex.compact(spark, dir)
      CoPurchaseGraph.compact(spark, dir)
      val compacted = layouts(tg)
      for ((tbl, want) <- built)
        assert(compacted(tbl) == want, s"compaction changed the layout of $tbl")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prior)
      CorpusLshIndex.dropFor(spark, dir)
      EmbIvfIndex.dropFor(spark, dir)
      CoPurchaseGraph.dropFor(spark, dir)
      spark.catalog.clearCache()
    }
  }
}
