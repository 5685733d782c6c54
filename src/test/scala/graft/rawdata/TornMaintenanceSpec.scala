package graft.rawdata

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Torn-rename (object-store copy+delete crash window) coverage for the
  * MAINTENANCE surfaces — TopicSpec proves the publish path; these specs
  * prove compact, expire and the epoch-replayed streaming sink under the
  * same debris: readers never see doubled or partial files, retries
  * converge, and aged debris is reclaimed while fresh in-flight temps
  * survive (reference contract: GCSRawdataUtils.java's copy-then-delete
  * window).
  */
class TornMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val messages =
    EventsAsTopic.messagesFromEvents(spark, sf).filter($"sequenceNumber" <= 400)

  private def tornState(dir: String): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
    val fs = HadoopIO.fs(dir, HadoopIO.conf())
    val src = new org.apache.hadoop.fs.Path(Topic.listFiles(dir).head.path)
    val aged = HadoopIO.child(dir, ".inprogress-torncrash01.tmp")
    val fresh = HadoopIO.child(dir, ".inprogress-livewriter1.tmp")
    FileUtil.copy(fs, src, fs, aged, false, HadoopIO.conf())
    FileUtil.copy(fs, src, fs, fresh, false, HadoopIO.conf())
    fs.setTimes(aged, System.currentTimeMillis() - Topic.TempOrphanAgeMs - 60000, -1)
    (fs, aged, fresh)
  }

  test("compact: torn dest debris is invisible, reclaimed, and never doubled") {
    val src = Topic.tempDir("torn-compact-src")
    val dest = Topic.tempDir("torn-compact-dest")
    Topic.write(messages, src, EventsAsTopic.cfg)
    val n = messages.count()
    // fragmented → compacted under a coarser rolling config
    Topic.compact(spark, src, dest,
      TopicConfig(maxWindowMs = Long.MaxValue / 4, maxBytes = Long.MaxValue / 4))
    val committed = Topic.listFiles(dest).map(_.path)
    val (fs, aged, fresh) = tornState(dest)

    // (1) debris is invisible to every reader
    Topic.invalidateListing(dest)
    assert(Topic.listFiles(dest).map(_.path) === committed)
    assert(Topic.readDF(spark, dest).count() === n, "no doubled/partial messages")
    // (2) a later publish into the compacted topic reclaims aged debris
    val more = EventsAsTopic.messagesFromEvents(spark, sf)
      .filter($"sequenceNumber" > 400 && $"sequenceNumber" <= 450)
    Topic.write(more, dest, EventsAsTopic.cfg)
    assert(!fs.exists(aged), "aged orphan temp reclaimed by the next publish")
    assert(fs.exists(fresh), "fresh in-flight temp never reclaimed")
    Topic.invalidateListing(dest)
    assert(Topic.readDF(spark, dest).count() === n + more.count())
  }

  test("expire: unaffected by torn debris, idempotent on retry") {
    val dir = Topic.tempDir("torn-expire")
    Topic.write(messages, dir, EventsAsTopic.cfg)
    val files = Topic.listFiles(dir)
    assert(files.length >= 3, "need several day-windowed files to expire")
    val (fs, aged, fresh) = tornState(dir)
    // strictly above the third file's start: the successor bound is
    // strict, so this cutoff expires exactly the first two files
    val cutoff = files(2).fromTsMs + 1

    Topic.invalidateListing(dir)
    val expired = Topic.expire(dir, cutoff)
    assert(expired.map(_.path) === files.take(2).map(_.path))
    // a crash-retry (same cutoff) converges with no further deletions
    assert(Topic.expire(dir, cutoff) === Seq.empty, "expire retry must be a no-op")
    // debris neither expired nor confused the listing; survivors intact
    assert(fs.exists(aged) && fs.exists(fresh), "expire deletes only committed files")
    val left = Topic.readDF(spark, dir)
    assert(Topic.listFiles(dir).map(_.path) === files.drop(2).map(_.path))
    assert(left.count() === files.drop(2).map(_.count).sum, "survivors read exactly once")
    assert(left.agg(min(Ulid.timestampMs(col("id")))).as[Long].head() >= files(2).fromTsMs)
  }

  test("streaming sink: a replayed epoch converges on the committed files") {
    val src = Topic.tempDir("torn-sink-src")
    val dest = Topic.tempDir("torn-sink-dest")
    val ckpt = Topic.tempDir("torn-sink-ckpt")
    Topic.write(messages, src, EventsAsTopic.cfg)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-topic").load(src)
        .select($"id", $"orderingGroup", $"sequenceNumber", $"position", $"data")
        .writeStream.format("graft-topic")
        .option("checkpointLocation", ckpt)
        .option("path", dest)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    runOnce()
    val committed = Topic.listFiles(dest).map(f => (f.path, f.count))
    val n = messages.count()
    assert(Topic.readDF(spark, dest).count() === n)

    // the torn-crash window: the epoch's files landed (plus a torn temp)
    // but the checkpoint's commit marker did not — the restarted query
    // MUST replay the epoch and converge instead of failing or doubling
    val (fs, aged, fresh) = tornState(dest)
    val commitMarker = new java.io.File(ckpt, "commits/0")
    assert(commitMarker.exists(), "expected epoch-0 commit marker in the checkpoint")
    assert(commitMarker.delete())
    // the local ChecksumFs keeps a .crc twin; a stale one makes the
    // replayed marker rename fail as if another query owned the log
    new java.io.File(ckpt, "commits/.0.crc").delete(): Unit
    Topic.invalidateListing(dest)
    runOnce()

    Topic.invalidateListing(dest)
    assert(Topic.listFiles(dest).map(f => (f.path, f.count)) === committed,
      "replayed epoch must re-derive exactly the committed files")
    assert(Topic.readDF(spark, dest).count() === n, "no duplicate deliveries")
    // the replay is a publish: it reclaims aged debris, never a fresh temp
    assert(!fs.exists(aged), "aged orphan temp reclaimed by the replayed epoch")
    assert(fs.exists(fresh))
    Topic.write(EventsAsTopic.messagesFromEvents(spark, sf)
      .filter($"sequenceNumber" > 400 && $"sequenceNumber" <= 420), dest, EventsAsTopic.cfg)
    assert(!fs.exists(aged), "aged debris reclaimed by the next publish")
    assert(fs.exists(fresh), "fresh in-flight temp never reclaimed")
  }
}
