package graft.rawdata

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._

import graft.SparkSpec

class TopicSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def messages = EventsAsTopic.messagesFromEvents(spark, sf)

  /** Input partitions of every scan of `dir` in the queries `body` ran.
    * Execution listeners run on the asynchronous listener bus: a sentinel
    * query, run after the body, is seen last.
    */
  private def scanPartitions(dir: String)(body: => Unit): Seq[Int] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    def sentinel(qe: QueryExecution) = qe.analyzed.output.exists(_.name == "scan_partitions_sentinel")
    spark.listenerManager.register(listener)
    try {
      body
      spark.sql("SELECT 1 AS scan_partitions_sentinel").collect()
      eventually(timeout(10.seconds), interval(20.millis))(assert(seen.asScala.exists(sentinel)))
      seen.asScala.toSeq.filterNot(sentinel).flatMap(qe => collect(qe.executedPlan) {
        case b: BatchScanExec if b.scan.description().contains(dir) => b.inputPartitions.size
      })
    } finally spark.listenerManager.unregister(listener)
  }

  test("round trip: write topic, read back every message in ULID order") {
    val dir = Topic.tempDir("topic-roundtrip")
    val metas = Topic.write(messages, dir, EventsAsTopic.cfg)
    assert(metas.nonEmpty)
    assert(metas.map(_.count).sum === messages.count())

    val back = Topic.readDF(spark, dir)
    assert(back.count() === messages.count())
    assert(back.select("ulid_hex").distinct().count() === back.count())
    // filename metadata consistent with content
    val listed = Topic.listFiles(dir)
    assert(listed.map(f => (f.fromTsMs, f.count, f.firstPosition)) ===
      metas.map(f => (f.fromTsMs, f.count, f.firstPosition)))
  }

  test("byte-based rolling splits windows into multiple files, preserving all rows") {
    val dir = Topic.tempDir("topic-roll")
    val cfg = TopicConfig(maxWindowMs = 30L * 86400 * 1000, maxBytes = 8 * 1024, syncIntervalBytes = 1024)
    val metas = Topic.write(messages, dir, cfg)
    assert(metas.size > 1, s"expected byte-rolling to produce several files, got ${metas.size}")
    assert(metas.map(_.count).sum === messages.count())
    // most files should carry a real last-block offset (multi-block files)
    assert(metas.count(_.lastBlockOffset > 0) > 0)
    // per-file count encoded in the filename matches actual content
    val f = Topic.listFiles(dir).head
    assert(AvroCodec.readFile(f.path, HadoopIO.conf()).size === f.count)
  }

  test("seek prunes to the floor file and filters precisely") {
    val dir = Topic.tempDir("topic-seek")
    Topic.write(messages, dir, EventsAsTopic.cfg)
    val files = Topic.listFiles(dir)
    assert(files.size > 2)
    val cut = files(files.size / 2).fromTsMs + 1000
    val pruned = Topic.pruneFrom(files, cut)
    assert(pruned.size < files.size)
    assert(pruned.head.fromTsMs <= cut && pruned.tail.forall(_.fromTsMs > cut))

    val got = Topic.seek(spark, dir, cut)
    val expected = DriverDecode.frame(spark, dir).filter(col("ts_ms") >= cut)
    assert(got.count() === expected.count())
    assert(scanPartitions(dir)(Topic.readDF(spark, dir).collect()) === Seq(files.size))
    assert(scanPartitions(dir)(got.collect()) === Seq(pruned.size))
  }

  test("lastMessage fast path (seek to last block) equals full-scan max") {
    val dir = Topic.tempDir("topic-last")
    Topic.write(messages, dir, TopicConfig(maxWindowMs = 7L * 86400 * 1000, maxBytes = 32 * 1024, syncIntervalBytes = 2048))
    val fast = Topic.lastMessage(dir).get
    val full = DriverDecode.frame(spark, dir).orderBy(col("ulid_hex").desc).limit(1)
      .select("position").collect().head.getString(0)
    assert(fast.position === full)
    // the frame form is the same last message as a full scan's max ULID, and runs no scan
    val cols = Seq("ulid_hex", "ts_ms", "position", "sequenceNumber", "orderingGroup").map(col)
    val viaScan = Topic.readDF(spark, dir).orderBy(col("ulid_hex").desc).limit(1).select(cols: _*)
    val frame = Topic.lastMessageDF(spark, dir).select(cols: _*)
    assert(viaScan.collect().head.getString(2) === full)
    assert(frame.collect().toSeq === viaScan.collect().toSeq)
    assert(scanPartitions(dir)(frame.collect()) === Nil)
  }

  test("every scan of a session ships the one Hadoop conf broadcast") {
    val dir = Topic.tempDir("topic-conf-bc")
    Topic.write(messages, dir, EventsAsTopic.cfg)
    def shipped(): Long = {
      val df = Topic.readDF(spark, dir).filter(col("ts_ms") > 0L)
      df.collect()
      collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.readerFactory.asInstanceOf[graft.sources.TopicReaderFactory].conf.id
      }.distinct match { case Seq(id) => id }
    }
    val first = shipped()
    assert(shipped() === first)
    HadoopIO.invalidateConfCache()
    assert(shipped() !== first)
  }

  test("cursor: exclusive resume yields the immediately-next message") {
    val dir = Topic.tempDir("topic-cursor")
    Topic.write(messages, dir, EventsAsTopic.cfg)
    val all = DriverDecode.frame(spark, dir).orderBy("ulid_hex")
      .select("ulid_hex", "position").collect()
    val mid = all(all.length / 2)
    val after = Topic.afterCursor(spark, dir, mid.getString(0), inclusive = false)
    val next = after.orderBy("ulid_hex").limit(1).select("position").collect().head.getString(0)
    assert(next === all(all.length / 2 + 1).getString(1))
    val parts = scanPartitions(dir)(after.collect())
    assert(parts.nonEmpty && parts.forall(_ < Topic.listFiles(dir).size), s"$parts")
    val same = Topic.afterCursor(spark, dir, mid.getString(0), inclusive = true)
      .orderBy("ulid_hex").limit(1).select("position").collect().head.getString(0)
    assert(same === mid.getString(1))
  }

  test("positionToUlidHex honours the tolerance bound") {
    val dir = Topic.tempDir("topic-pos")
    Topic.write(messages, dir, EventsAsTopic.cfg)
    val row = DriverDecode.frame(spark, dir).filter(col("position") === "evt-500")
      .select("ulid_hex", "ts_ms").collect().head
    val (hex, ts) = (row.getString(0), row.getLong(1))
    assert(Topic.positionToUlidHex(spark, dir, "evt-500", ts, 60000).contains(hex))
    val parts = scanPartitions(dir)(Topic.positionToUlidHex(spark, dir, "evt-500", ts, 60000))
    assert(parts.nonEmpty && parts.forall(_ < Topic.listFiles(dir).size), s"$parts")
    // a window far away from the message must not find it
    assert(Topic.positionToUlidHex(spark, dir, "evt-500", ts + 10L * 86400 * 1000, 3600 * 1000).isEmpty)
  }

  test("metadata store: put/get/keys with last-write-wins upsert") {
    val dir = Topic.tempDir("topic-meta")
    import spark.implicits._
    MetadataStore.put(spark, dir, Seq(("a", "1"), ("b", "2")).toDF("key", "v")
      .select(col("key"), encode(col("v"), "UTF-8").as("value")))
    MetadataStore.put(spark, dir, Seq(("b", "3"), ("c", "4")).toDF("key", "v")
      .select(col("key"), encode(col("v"), "UTF-8").as("value")))
    assert(MetadataStore.keys(spark, dir) === Seq("a", "b", "c"))
    assert(new String(MetadataStore.get(spark, dir, "b").get, "UTF-8") === "3")
  }

  test("cached listing honors the min-interval and invalidation") {
    val dir = Topic.tempDir("topic-cache")
    Topic.write(messages.limit(20), dir, EventsAsTopic.cfg)
    val first = Topic.listFilesCached(dir, ttlMs = 60000)
    assert(first.nonEmpty)
    // an EXTERNALLY landed file (a foreign producer — this process's own
    // Topic.write invalidates the cache): the cached snapshot must not see
    // it within ttl
    val src = new java.io.File(first.head.path.stripPrefix("file:"))
    val dst = new java.io.File(src.getParentFile,
      s"${Topic.formatTs(first.last.fromTsMs + 98765432L)}_1_100_ext.avro")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    assert(Topic.listFilesCached(dir, ttlMs = 60000).map(_.path) === first.map(_.path))
    Topic.invalidateListing(dir)
    assert(Topic.listFilesCached(dir, ttlMs = 60000).length === first.length + 1)
    assert(Topic.listFilesCached(dir, ttlMs = 0) === Topic.listFiles(dir))
  }

  test("commit is idempotent under task retry, loud on re-publish and conflict") {
    val dir = Topic.tempDir("topic-commit")
    val conf = HadoopIO.conf()
    val fs = HadoopIO.fs(dir, conf)
    def mkFile(name: String, bytes: Int): org.apache.hadoop.fs.Path = {
      val p = HadoopIO.child(dir, name)
      val out = fs.create(p, false)
      out.write(Array.fill[Byte](bytes)(7))
      out.close()
      p
    }
    val destName = s"${Topic.formatTs(1000)}_5_100_p1.avro"
    // case 1: dest appeared during the publish with identical length → an
    // earlier attempt of this task committed it: success, tmp dropped
    val dest = mkFile(destName, 64)
    val tmp1 = mkFile(".inprogress-retry.tmp", 64)
    Topic.commitTopicFile(fs, tmp1, dest, destName, preExisting = PreExisting.of(Nil))
    assert(fs.exists(dest) && !fs.exists(tmp1))
    // case 2: dest predates the publish → genuine re-publish: loud failure
    val tmp2 = mkFile(".inprogress-republish.tmp", 64)
    val e2 = intercept[IllegalStateException](
      Topic.commitTopicFile(fs, tmp2, dest, destName, preExisting = PreExisting.of(Seq(destName))))
    assert(e2.getMessage.contains("re-publish"))
    // case 3: dest appeared with a DIFFERENT length → concurrent writer
    val tmp3 = mkFile(".inprogress-conflict.tmp", 128)
    val e3 = intercept[IllegalStateException](
      Topic.commitTopicFile(fs, tmp3, dest, destName, preExisting = PreExisting.of(Nil)))
    assert(e3.getMessage.contains("conflicting"))
    // fresh dest → plain rename
    val tmp4 = mkFile(".inprogress-fresh.tmp", 32)
    val dest4 = HadoopIO.child(dir, s"${Topic.formatTs(2000)}_1_100_p2.avro")
    Topic.commitTopicFile(fs, tmp4, dest4, dest4.getName, preExisting = PreExisting.of(Nil))
    assert(fs.exists(dest4) && !fs.exists(tmp4))
  }

  // Object-store commit: the temp→final rename is a copy+delete there,
  // and a crash between the two leaves BOTH names (Topic.scala commit
  // notes). Simulate exactly that torn state and prove (1) readers
  // resolve only committed .avro names — the debris changes nothing;
  // (2) the next publish converges and reclaims debris past the age
  // gate; (3) a FRESH temp (a live concurrent writer) is never touched.
  test("torn rename (copy done, delete missed) is invisible and reclaimed") {
    val dir = Topic.tempDir("topic-torn")
    val midMs = 1705276800000L
    val batch1 = messages.filter(Ulid.timestampMs(col("id")) < midMs)
    val batch2 = messages.filter(Ulid.timestampMs(col("id")) >= midMs)
    Topic.write(batch1, dir, EventsAsTopic.cfg)
    val committed = Topic.listFiles(dir)
    val before = Topic.readDF(spark, dir).select("ulid_hex")
      .collect().map(_.getString(0)).sorted

    // the torn state: the committed final name exists AND its source
    // temp was never deleted — byte-identical copy under a temp name
    val fs = HadoopIO.fs(dir, HadoopIO.conf())
    val src = new org.apache.hadoop.fs.Path(committed.head.path)
    val torn = HadoopIO.child(dir, ".inprogress-torncrash01.tmp")
    val fresh = HadoopIO.child(dir, ".inprogress-livewriter1.tmp")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, torn, false, HadoopIO.conf())
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, fresh, false, HadoopIO.conf())
    // age the torn temp past the reclaim gate; `fresh` keeps now-mtime
    fs.setTimes(torn, System.currentTimeMillis() - Topic.TempOrphanAgeMs - 60000, -1)

    // (1) readers ignore the debris entirely
    Topic.invalidateListing(dir)
    assert(Topic.listFiles(dir).map(_.path) === committed.map(_.path))
    assert(Topic.readDF(spark, dir).select("ulid_hex")
      .collect().map(_.getString(0)).sorted === before)
    assert(Topic.lastMessage(dir).isDefined)

    // (2) the next publish reclaims the aged debris and converges
    Topic.write(batch2, dir, EventsAsTopic.cfg)
    assert(!fs.exists(torn), "aged orphan temp should be reclaimed by the next publish")
    // (3) the recent temp — possibly a live concurrent writer — survives
    assert(fs.exists(fresh), "fresh in-flight temp must never be reclaimed")
    Topic.invalidateListing(dir)
    assert(Topic.readDF(spark, dir).count() === messages.count())
  }

  test("topic write succeeds even when Hadoop's fs cache holds a ChecksumFileSystem") {
    // A session not built through GraftSession may have already opened a
    // file:// path, pinning LocalFileSystem (checksum flavour) in Hadoop's
    // scheme-keyed FileSystem cache. The per-call fs.file.impl override is
    // ignored for cached instances — HadoopIO must bypass the cache
    // (fs.file.impl.disable.cache) or ':'-bearing topic filenames break.
    // (In this JVM the cache already holds the raw file system that
    // GraftSession registers, so first drop the cache, then pin the
    // checksum flavour the way a foreign session would.)
    org.apache.hadoop.fs.FileSystem.closeAll()
    try {
      val plain = new org.apache.hadoop.conf.Configuration()
      val cachedFs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), plain)
      assert(cachedFs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem], "cache pre-populated")
      val dir = Topic.tempDirUri("topic-fscache")
      val metas = Topic.write(messages.limit(10), dir, EventsAsTopic.cfg)
      assert(metas.nonEmpty)
      assert(Topic.readDF(spark, dir).count() === 10)
    } finally {
      // drop the deliberately-poisoned cache entry: later suites (and
      // Spark's own streaming source) resolve file:// through the cache,
      // and the checksum flavour breaks ':'-bearing topic filenames
      org.apache.hadoop.fs.FileSystem.closeAll()
    }
  }

  test("compaction rewrites many small files into fewer, preserving every message") {
    val src = Topic.tempDir("topic-compact-src")
    // produce a deliberately fragmented topic (tiny byte roll)
    Topic.write(messages, src, TopicConfig(
      maxWindowMs = 30L * 86400 * 1000, maxBytes = 8 * 1024, syncIntervalBytes = 1024))
    val before = Topic.listFiles(src)
    assert(before.size > 5)

    val dest = Topic.tempDir("topic-compact-dst")
    val after = Topic.compact(spark, src, dest, TopicConfig(
      maxWindowMs = 30L * 86400 * 1000, maxBytes = 64L * 1024 * 1024))
    assert(after.size < before.size)
    assert(after.map(_.count).sum === before.map(_.count).sum)
    // identical message set, ULID order preserved within the new layout
    val a = Topic.readDF(spark, src).select("ulid_hex").orderBy("ulid_hex").collect().map(_.getString(0))
    val b = Topic.readDF(spark, dest).select("ulid_hex").orderBy("ulid_hex").collect().map(_.getString(0))
    assert(a.toSeq === b.toSeq)
  }

  test("avro files are format-compatible with the reference schema (fixed-16 ulid)") {
    val dir = Topic.tempDir("topic-schema")
    Topic.write(messages.limit(10), dir, EventsAsTopic.cfg)
    val f = Topic.listFiles(dir).head
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableFileInput(new java.io.File(f.path.stripPrefix("file:"))),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val sch = reader.getSchema
    reader.close()
    assert(sch.getName === "RawdataMessage")
    assert(sch.getField("id").schema().getType === org.apache.avro.Schema.Type.FIXED)
    assert(sch.getField("id").schema().getFixedSize === 16)
    assert(sch.getField("data").schema().getType === org.apache.avro.Schema.Type.MAP)
  }
}
