package graft.rawdata

import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One Avro file of a topic, as described by its filename alone
  * (reference: AvroFileMetadata.java:53-57 and README naming section —
  * `<fromTimestamp>_<count>_<lastBlockOffset>_<firstPosition>.avro`).
  * Listing a topic is therefore a pure metadata operation: consumers can
  * prune to the files overlapping a time range without opening any of
  * them, which is what keeps a 100 TB topic seek cheap.
  */
case class TopicFile(path: String, fromTsMs: Long, count: Long, lastBlockOffset: Long, firstPosition: String)

/** Compact membership snapshot of the filenames present before a publish:
  * 8-byte md5 name-hashes instead of the names themselves, so shipping a
  * 1.5M-file topic's snapshot to writer tasks costs ~12 MB of longs, not
  * hundreds of MB of strings. A false positive (hash collision making a
  * fresh file look pre-existing → spurious loud failure) needs an 8-byte
  * md5 prefix collision — negligible at any real file count.
  */
final class PreExisting private (hashes: Set[Long]) extends Serializable {
  def contains(name: String): Boolean = hashes.contains(PreExisting.hash(name))
}

object PreExisting {
  private[rawdata] def hash(name: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5").digest(name.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h).getLong
  }
  def of(names: Iterable[String]): PreExisting =
    new PreExisting(names.iterator.map(hash).toSet)
}

/** `wallClockWindows = false` (default): time windows cut on MESSAGE time
  * (ULID timestamps) — the deterministic, replayable choice for a
  * distributed bulk publish (the same batch always yields the same
  * files). `true`: the reference producer's max.seconds parity mode —
  * windows cut on INGEST wall time (AvroRawdataProducer.java's
  * scheduled time-based roll), so a slow trickle of messages with
  * arbitrary ULID timestamps still rolls files by elapsed producer
  * time. Wall-clock windowing lives in the client producer
  * (GraftRawdataClient.Producer — the surface with a producer
  * lifetime); Topic.write treats the whole batch as one ingest instant
  * in this mode (byte-rolling still chunks it).
  */
case class TopicConfig(
    maxWindowMs: Long = 3600L * 1000,
    maxBytes: Long = 64L * 1024 * 1024,
    syncIntervalBytes: Long = 512L * 1024,
    wallClockWindows: Boolean = false)

/** Spark-native rawdata topic: a directory of Avro files sharing the
  * reference's file naming + record schema.
  *
  * All storage access goes through the Hadoop `FileSystem` API (see
  * HadoopIO), so a topic directory may live on any supported store —
  * `file://`, `gs://`, `s3a://`, `hdfs://` — behind the same code path.
  * That is the Spark-native equivalent of the reference's twin backends
  * (cloudstorage/GCSRawdataUtils.java vs filesystem/
  * FilesystemRawdataUtils.java behind one provider interface).
  *
  * Writer: one layout rule cuts messages into (time-window, byte-chunk)
  * files — the reference producer's max.seconds/max.bytes rolling
  * (AvroRawdataProducer.java), applied in one place, `FileGroupWriter`,
  * over messages in (window, ULID) order. A DataFrame publish gets that
  * order from one shuffle (each window whole in one Spark task);
  * driver-held messages (the producer's buffer → publish) are sorted and
  * written on the driver, with no Spark job. Each file streams through
  * an Avro DataFileWriter with real sync blocks, writing to a
  * dot-prefixed temp name and renaming on completion (on object stores
  * the rename is a copy, matching the reference's
  * write-local-then-upload pattern).
  *
  * Reader: every distributed read is an expression over the
  * `graft-topic` scan ([[readDF]]): the driver lists + prunes by filename
  * from a `ts_ms` predicate, then Spark tasks decode Avro → rows, one file
  * per task up to [[Topic.readPartitionCap]]. Within-file order is ULID
  * order by construction.
  * Listing: one name read per call serves every publish, tail poll and
  * lookup, each name parsed once per process ([[listFiles]]).
  */
object Topic {

  private val TsFormat: DateTimeFormatter = DateTimeFormatter.ISO_OFFSET_DATE_TIME

  def formatTs(ms: Long): String =
    ZonedDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC).format(TsFormat)

  def parseTs(s: String): Long =
    ZonedDateTime.parse(s, TsFormat).toInstant.toEpochMilli

  implicit private def msgEncoder: Encoder[RawdataMessage] = Encoders.product[RawdataMessage]
  implicit private def fileEncoder: Encoder[TopicFile] = Encoders.product[TopicFile]

  // ---------------------------------------------------------- file layout

  /** Bytes a message counts toward `maxBytes`: payload bytes + position
    * length + 48 — the byte half of the layout rule, applied by
    * [[FileGroupWriter]] (and by the wall-clock producer's open file).
    */
  private[graft] def approxBytes(m: RawdataMessage): Long =
    m.data.valuesIterator.map(_.length.toLong).sum + m.position.codePointCount(0, m.position.length) + 48L

  /** A message's time window: ULID ms ÷ `maxWindowMs`, or 0 in wall-clock
    * mode (the publish IS one ingest instant). [[windowCol]] is its SQL twin.
    */
  private def windowOf(id: Array[Byte], cfg: TopicConfig): Long =
    if (cfg.wallClockWindows) 0L else Ulid.tsMs(id) / cfg.maxWindowMs

  private def windowCol(cfg: TopicConfig): Column =
    if (cfg.wallClockWindows) lit(0L)
    else Ulid.timestampMs(col("id")).divide(lit(cfg.maxWindowMs)).cast("long")

  private val ulidOrder: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)

  // ---------------------------------------------------------------- write

  /** Orphaned temp files older than this are reclaimed at the next
    * publish. The age gate keeps a CONCURRENT publish's in-flight temps
    * safe (writer tasks stream for seconds, not hours); anything older
    * is debris from a crashed writer — on an object store, where the
    * commit rename is a copy+delete, a crash between the two leaves the
    * committed final name AND the stray temp (readers only ever resolve
    * committed `.avro` names, so the debris costs storage, not
    * correctness — TopicSpec's torn-rename case proves both halves).
    */
  private[graft] val TempOrphanAgeMs: Long = 3600L * 1000

  /** The one listing a publish makes, a fresh name read: creates the
    * topic directory, deletes crashed-writer temp debris past the age gate
    * (best-effort — a racing delete is fine), and snapshots the names
    * present before this publish for [[commitTopicFile]]'s re-publish check.
    */
  private def prepareTopicDir(fs: FileSystem, topicDir: String): PreExisting = {
    fs.mkdirs(new Path(topicDir))
    val listed = names(fs, new Path(topicDir)).fold(Array.empty[String])(_._1)
    val cutoff = System.currentTimeMillis() - TempOrphanAgeMs
    listed.filter(n => n.startsWith(".inprogress-") && n.endsWith(".tmp")).map(HadoopIO.child(topicDir, _))
      .filter(tmp => Try(fs.getFileStatus(tmp)).toOption.exists(st => st.isFile && st.getModificationTime < cutoff))
      .foreach(fs.delete(_, false))
    PreExisting.of(listed.filter(_.endsWith(".avro")))
  }

  /** Write a message DataFrame (columns id, orderingGroup, sequenceNumber,
    * position, data) as topic files; returns per-file metadata in
    * (window, chunk) order, which is `fromTsMs` order.
    *
    * Two entry points, chosen by where the data lives, feed the same
    * [[FileGroupWriter]], which alone cuts files:
    *  - this one, for distributed data: one shuffle puts each whole time
    *    window in one task, sorted by ULID, and each task streams its
    *    windows through the writer. Its callers are `publish(df)`, bulk
    *    loads and compaction, and the `graft-topic` batch and streaming
    *    sinks (graft.sources.TopicDataSource);
    *  - `write(Seq[RawdataMessage], ...)`, for messages already on the
    *    driver (the producer's buffer → publish): sorted on the driver,
    *    the same writer, no Spark job.
    * Layout: window = ULID ms ÷ `maxWindowMs` (0 in wall-clock mode);
    * chunk = message bytes ([[approxBytes]]) before this one in its
    * window, in ULID order, ÷ `maxBytes`; one file per (window, chunk),
    * in ULID order — the reference producer's max.seconds/max.bytes
    * rolling (AvroRawdataProducer.java). Commit: each file is written to
    * a dot-prefixed temp name and renamed on completion (on object stores
    * the rename is a copy, matching the reference's
    * write-local-then-upload pattern) by [[commitTopicFile]].
    *
    * Incremental append is supported: a second publish into an existing
    * topic adds files alongside the old ones (names differ whenever the
    * batches differ — the name is derived from the file's first message).
    * A literal re-publish of identical data fails fast on the name
    * collision rather than silently overwriting.
    *
    * `replay = true` (the streaming sink) treats names already in the
    * topic as this write's own earlier attempt: a micro-batch replayed
    * after a restart (its files landed, its commit marker did not)
    * re-derives the same names and converges on the committed files
    * instead of failing. A name collision with different bytes still
    * fails.
    */
  def write(messages: DataFrame, topicDir: String, cfg: TopicConfig = TopicConfig(),
      replay: Boolean = false): Seq[TopicFile] = {
    val fs = HadoopIO.fs(topicDir, HadoopIO.conf())
    // Names present before this publish, shipped into the writer tasks:
    // lets a task distinguish a genuine re-publish (dest predates the job
    // → loud failure) from its own earlier attempt under Spark task
    // retry/speculation (dest appeared during the job → already committed,
    // skip). Broadcast once as 8-byte name hashes (PreExisting), so a
    // 1.5M-file topic costs one ~12 MB broadcast, not a per-task closure
    // of full name strings. A replay ships an empty snapshot. The tasks'
    // Hadoop conf is the session's one broadcast (HadoopIO.confBroadcast).
    val listed = prepareTopicDir(fs, topicDir)
    val sc = messages.sparkSession.sparkContext
    val pre = sc.broadcast(if (replay) PreExisting.of(Nil) else listed)
    val conf = HadoopIO.confBroadcast()
    val written =
      try {
        // repartition, not rebalance: the byte roll needs each window
        // whole in one task. BINARY sorts as unsigned bytes: ULID order.
        val windowed = messages
          .withColumn("_win", windowCol(cfg))
          .repartition(col("_win"))
          .sortWithinPartitions(col("_win"), col("id"))
          .select(col("_win").as("_1"),
            struct(col("id"), col("orderingGroup"), col("sequenceNumber"), col("position"), col("data")).as("_2"))
          .as(Encoders.tuple(Encoders.scalaLong, msgEncoder))
        windowed.mapPartitions { in =>
          new FileGroupWriter(topicDir, cfg, HadoopIO.fs(topicDir, conf.value.value), pre.value).run(in)
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, fileEncoder)).collect().toSeq
      } finally pre.destroy()
    landed(topicDir, written)
  }

  /** Write driver-held messages as topic files: the same writer and
    * commit as the DataFrame [[write]], run on the driver without a Spark
    * job — what a small buffered publish needs (the reference producer
    * likewise writes its window straight to a file).
    */
  def write(messages: Seq[RawdataMessage], topicDir: String, cfg: TopicConfig): Seq[TopicFile] = {
    val fs = HadoopIO.fs(topicDir, HadoopIO.conf())
    val writer = new FileGroupWriter(topicDir, cfg, fs, prepareTopicDir(fs, topicDir))
    val windowed = messages.map(m => (windowOf(m.id, cfg), m))
      .sortBy { case (w, m) => (w, m.id) }(Ordering.Tuple2(Ordering.Long, ulidOrder))
    landed(topicDir, writer.run(windowed.iterator).toSeq)
  }

  /** files of a finished publish in (window, chunk) order */
  private def landed(topicDir: String, written: Seq[(Long, Long, TopicFile)]): Seq[TopicFile] = {
    invalidateListing(topicDir)
    written.sortBy(w => (w._1, w._2)).map(_._3)
  }

  /** Streams (window, message) pairs in (window, ULID) order into topic
    * files, cutting them by the one layout rule (see [[write]]): a new
    * file starts wherever the window changes or the message bytes before
    * this one in its window, ÷ `maxBytes`, change. Returns
    * (window, chunk, file) per file. Runs in a Spark task over whole
    * windows (DataFrame path) or on the driver (driver-held path). A
    * failure closes and deletes the open temp file before it propagates.
    */
  private final class FileGroupWriter(
      topicDir: String, cfg: TopicConfig, fs: FileSystem, preExisting: PreExisting) {
    def run(windowed: Iterator[(Long, RawdataMessage)]): Iterator[(Long, Long, TopicFile)] = {
      val out = Seq.newBuilder[(Long, Long, TopicFile)]
      var win = 0L
      var chunk = 0L
      var before = 0L
      var writer: AvroCodec.FileWriter = null
      var tmp: Path = null

      def open(): Unit = {
        tmp = HadoopIO.child(topicDir, s".inprogress-${UUID.randomUUID().toString.take(12)}.tmp")
        writer = new AvroCodec.FileWriter(fs.create(tmp, false), cfg.syncIntervalBytes)
      }

      def finish(): Unit = if (writer != null) {
        val w = writer
        writer = null
        w.close()
        val fromTsMs = Ulid.tsMs(w.firstId)
        val name = s"${formatTs(fromTsMs)}_${w.count}_${w.lastBlockOffset}_${w.firstPosition}.avro"
        val dest = HadoopIO.child(topicDir, name)
        commitTopicFile(fs, tmp, dest, name, preExisting)
        out += ((win, chunk,
          TopicFile(fs.makeQualified(dest).toString, fromTsMs, w.count, w.lastBlockOffset, w.firstPosition)))
      }

      try {
        windowed.foreach { case (w, m) =>
          if (writer == null || w != win) {
            finish()
            win = w; chunk = 0L; before = 0L
            open()
          } else if (before / cfg.maxBytes != chunk) {
            finish()
            chunk = before / cfg.maxBytes
            open()
          }
          writer.append(m)
          before += approxBytes(m)
        }
        finish()
      } catch {
        case e: Throwable =>
          if (writer != null) try writer.close() catch { case _: Exception => () }
          if (tmp != null) try fs.delete(tmp, false) catch { case _: Exception => () }
          throw e
      }
      out.result().iterator
    }
  }

  /** Commit a completed temp file to its deterministic destination name.
    *
    * Raw local rename would silently replace an existing file. Three
    * cases when dest already exists:
    *  - it predates this publish (`preExisting`) → genuine re-publish of
    *    identical data: fail loudly (single-writer assumption, like the
    *    reference producer);
    *  - it appeared during this publish with the expected length → an
    *    earlier attempt of this task (Spark retry/speculation) already
    *    committed it: drop the temp file and succeed, so writer tasks
    *    stay idempotent under task re-execution;
    *  - it appeared with a different length → a conflicting concurrent
    *    writer: fail. (Length is deterministic for a given row group —
    *    Avro sync markers are random bytes but fixed width — so equal
    *    length ⇒ same committed content.)
    */
  private[graft] def commitTopicFile(
      fs: org.apache.hadoop.fs.FileSystem, tmp: Path, dest: Path,
      name: String, preExisting: PreExisting): Unit = {
    if (fs.exists(dest)) {
      if (preExisting.contains(name))
        throw new IllegalStateException(s"topic file already exists (identical re-publish?): $dest")
      val destLen = fs.getFileStatus(dest).getLen
      val tmpLen = fs.getFileStatus(tmp).getLen
      if (destLen != tmpLen)
        throw new IllegalStateException(
          s"conflicting topic file from a concurrent writer ($destLen bytes, expected $tmpLen): $dest")
      fs.delete(tmp, false): Unit
    } else if (!fs.rename(tmp, dest)) {
      throw new IllegalStateException(s"rename $tmp -> $dest failed")
    }
  }

  // ----------------------------------------------------------------- list

  /** One read of a directory's names (`None`: missing) and, by index, an entry's path if a
    * regular file. `file:` reads `File.list`, no `Path`/`URI`/`FileStatus` per entry; other
    * schemes make one LIST (on an object store the reference's GCSRawdataUtils.java prefix listing).
    */
  private def names(fs: FileSystem, dir: Path): Option[(Array[String], Int => Option[String])] = fs match {
    case local: RawLocalFileSystem if fs.getUri.getScheme == "file" =>
      val d = local.pathToFile(dir)
      val prefix = fs.makeQualified(new Path(d.getPath)).toString.stripSuffix("/") + "/"
      Option(d.list()).map(read => (read, i => Option.when(new java.io.File(d, read(i)).isFile)(prefix + read(i))))
    case _ =>
      try {
        val st = fs.listStatus(dir)
        Some((st.map(_.getPath.getName), i => Option.when(st(i).isFile)(st(i).getPath.toString)))
      } catch { case _: java.io.FileNotFoundException => None }
  }

  /** a listed topic file; its first ULID is read (one record) only on a `fromTsMs` tie */
  private final class Listed(val file: TopicFile) {
    lazy val firstUlid: String = AvroCodec.readFirst(file.path, HadoopIO.conf()).fold("")(m => Ulid.hex(m.id))
  }

  /** `<fromTimestamp>_<count>_<lastBlockOffset>_<firstPosition>.avro`, a regular file */
  private def parse(name: String, path: => Option[String]): Option[Listed] =
    name.stripSuffix(".avro").split("_", 4) match {
      case Array(ts, count, offset, position) if name.endsWith(".avro") =>
        Try((parseTs(ts), count.toLong, offset.toLong)).toOption
          .flatMap { case (t, c, o) => path.map(p => new Listed(TopicFile(p, t, c, o, position))) }
      case _ => None
    }

  /** a directory's last listing: names in read order, each one's topic file, the ordered files */
  private final case class Snapshot(names: Array[String], byName: Map[String, Option[Listed]],
      files: Vector[TopicFile], atMs: Long, stale: Boolean = false)

  /** per qualified directory (`dir`, `file:dir`, `file://dir`, `dir/` are one) */
  private val listings = new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  private def located(topicDir: String): (FileSystem, Path) = {
    val fs = HadoopIO.fs(topicDir, HadoopIO.conf())
    (fs, fs.makeQualified(new Path(topicDir)))
  }

  /** Metadata-only topic listing, sorted by from-timestamp. Every call
    * reads the names afresh, so another writer's file is listed on the
    * next call; an unchanged name set is neither parsed nor sorted, and
    * otherwise only names not seen before are parsed.
    */
  def listFiles(topicDir: String): Seq[TopicFile] = {
    val (fs, dir) = located(topicDir)
    val prev = Option(listings.get(dir.toString))
    val next = names(fs, dir).map { case (read, fileAt) =>
      val now = System.nanoTime() / 1000000L
      prev.filter(_.names.sameElements(read)).fold {
        val seen = prev.fold(Map.empty[String, Option[Listed]])(_.byName)
        val byName = read.indices.map(i => read(i) -> seen.getOrElse(read(i), parse(read(i), fileAt(i)))).toMap
        val same = byName.size == seen.size && byName.keysIterator.forall(seen.contains)
        Snapshot(read, byName, prev.filter(_ => same).fold(ordered(byName.values.flatten))(_.files), now)
      }(_.copy(atMs = now, stale = false))
    }
    // a missing directory drops out; an invalidation during the read leaves the listing stale
    listings.compute(dir.toString,
      (_, cur) => next.map(_.copy(stale = cur != null && cur.stale && !prev.exists(_ eq cur))).orNull)
    next.fold(Vector.empty[TopicFile])(_.files)
  }

  /** Sorted by (fromTsMs, path), then runs sharing a fromTsMs (a byte roll within one
    * millisecond) by first ULID, so lastMessage/pruneFrom pick the true latest chunk.
    */
  private def ordered(listed: Iterable[Listed]): Vector[TopicFile] =
    listed.toVector.sortBy(l => (l.file.fromTsMs, l.file.path)).groupBy(_.file.fromTsMs).toVector.sortBy(_._1)
      .flatMap { case (_, run) => if (run.size == 1) run else run.sortBy(_.firstUlid) }.map(_.file)

  /** Min-interval listing (reference TopicAvroFileCache.java): the [[listFiles]] snapshot while
    * younger than `ttlMs` and not stale, with no file system call — on an object store one LIST
    * per interval, not per poll. Wired into the bounded receive poll (Consumer.receive).
    */
  def listFilesCached(topicDir: String, ttlMs: Long): Seq[TopicFile] =
    Option(listings.get(located(topicDir)._2.toString))
      .filter(s => !s.stale && System.nanoTime() / 1000000L - s.atMs < ttlMs)
      .fold(listFiles(topicDir))(_.files)

  /** Mark the listing stale (Topic.write and expire do, after changing the topic). */
  def invalidateListing(topicDir: String): Unit =
    listings.computeIfPresent(located(topicDir)._2.toString, (_, s) => s.copy(stale = true)): Unit

  /** Files possibly containing messages with ts >= fromTsMs: everything
    * from the last file that starts at/before the target (floorEntry —
    * reference AvroRawdataConsumer.seek, :141-177).
    */
  def pruneFrom(files: Seq[TopicFile], fromTsMs: Long): Seq[TopicFile] = {
    val idx = files.lastIndexWhere(_.fromTsMs <= fromTsMs)
    if (idx < 0) files else files.drop(idx)
  }

  def pruneRange(files: Seq[TopicFile], fromTsMs: Long, toTsMs: Long): Seq[TopicFile] =
    pruneFrom(files, fromTsMs).takeWhile(_.fromTsMs <= toTsMs)

  // ----------------------------------------------------------------- read

  /** Most read tasks a topic scan plans: one task per file up to this
    * scheduling-friendly cap, so a 1.6M-file topic gets ~4 waves of tasks
    * per core (each decoding a run of files sequentially) instead of 1.6M
    * task launches — parallelism is bounded by cores either way, the cap
    * only bounds scheduler pressure. Shared by the graft-topic batch scan
    * and stream tail.
    */
  private[graft] def readPartitionCap(sc: SparkContext): Int = math.max(sc.defaultParallelism * 4, 64)

  /** Message DataFrame with decoded ULID columns (`ulid_hex`, `ts_ms`):
    * the graft-topic scan, which every read below filters.
    */
  def readDF(spark: SparkSession, topicDir: String): DataFrame =
    spark.read.format("graft-topic").load(topicDir)

  /** the five message columns of a topic frame (batch or stream) */
  def messagesOf(df: DataFrame): Dataset[RawdataMessage] =
    df.select(col("id"), col("orderingGroup"), col("sequenceNumber"), col("position"), col("data"))
      .as[RawdataMessage]

  def read(spark: SparkSession, topicDir: String): Dataset[RawdataMessage] =
    messagesOf(readDF(spark, topicDir))

  /** consumer.seek(ts): messages with ts >= fromTsMs, pruned to the floor file. */
  def seek(spark: SparkSession, topicDir: String, fromTsMs: Long): DataFrame =
    readDF(spark, topicDir).filter(col("ts_ms") >= fromTsMs)

  /** cursorOf(position, approxTs, tolerance) → the message's ULID hex
    * (reference AvroRawdataClient.java:89-115): bounded time-range scan.
    */
  def positionToUlidHex(spark: SparkSession, topicDir: String, position: String,
      approxTsMs: Long, toleranceMs: Long): Option[String] = {
    val hit = readDF(spark, topicDir)
      .filter(col("ts_ms").between(approxTsMs - toleranceMs, approxTsMs + toleranceMs) &&
        col("position") === position)
      .select(min(col("ulid_hex")))
      .collect()
    hit.headOption.flatMap(r => Option(r.getString(0)))
  }

  /** Resume strictly after (or at, if inclusive) a cursor ULID. */
  def afterCursor(spark: SparkSession, topicDir: String, ulidHex: String, inclusive: Boolean): DataFrame = {
    val df = seek(spark, topicDir, Ulid.tsMsOfHex(ulidHex))
    if (inclusive) df.filter(col("ulid_hex") >= ulidHex) else df.filter(col("ulid_hex") > ulidHex)
  }

  /** lastMessage(topic): only the last file is opened, and only from its
    * last Avro block (offset from the filename) — O(one block) I/O no
    * matter the topic size (reference AvroRawdataClient.java:126-147).
    */
  def lastMessage(topicDir: String): Option[RawdataMessage] =
    listFiles(topicDir).lastOption.flatMap(lastOf(_, HadoopIO.conf()))

  /** The same, as a one-row (or, for an empty topic, empty) frame of the
    * `graft-topic` schema: one listing and one last-block read on the
    * driver, no scan.
    */
  def lastMessageDF(spark: SparkSession, topicDir: String): DataFrame =
    spark.createDataFrame(
      lastMessage(topicDir).map(m => Row(m.id, m.orderingGroup.orNull, m.sequenceNumber, m.position,
        m.data, Ulid.hex(m.id), Ulid.tsMs(m.id))).toList.asJava,
      graft.sources.TopicDataSource.Schema)

  /** a file's last message: one seek to its last block via the filename's offset */
  private def lastOf(f: TopicFile, conf: org.apache.hadoop.conf.Configuration): Option[RawdataMessage] =
    AvroCodec.readFileFrom(f.path, f.lastBlockOffset, conf).reduceOption((_, m) => m)

  /** Topic stats straight from the file listing — a metadata-only query. */
  def fileListingDF(spark: SparkSession, topicDir: String): DataFrame =
    spark.createDataset(listFiles(topicDir)).toDF()

  /** Maintenance compaction: rewrite a topic's files under a different
    * rolling config into `destDir` (typically: many small producer files
    * → fewer large analytics-friendly ones). Messages, ids and order are
    * preserved — only the file layout changes; the destination is a
    * normal topic readable by this engine or the reference client. The
    * rewrite is one distributed read + one clustered write, both through
    * the standard paths (pruning, temp-name commit), so it scales like
    * any other topic job. Writing to a NEW directory keeps the operation
    * safe under concurrent readers of the source (swap by pointer/rename
    * at a higher level once satisfied).
    */
  def compact(spark: SparkSession, srcDir: String, destDir: String,
      cfg: TopicConfig = TopicConfig()): Seq[TopicFile] =
    write(read(spark, srcDir).toDF(), destDir, cfg)

  /** Retention: delete topic files that provably contain ONLY messages
    * older than `beforeTsMs` — the log-expiry maintenance op a 100 TB
    * append-only topic needs (the reference leaves retention to GCS
    * lifecycle rules on the bucket; here it is a first-class operation).
    *
    * Two-step safety: the successor bound (fromTs(i+1) < beforeTsMs)
    * prefilters candidates from the LISTING alone — but it assumes files
    * never overlap in ULID range, and the publish API accepts
    * caller-supplied ULIDs, so a later producer session CAN write
    * messages older than an existing file's span. Each candidate is
    * therefore confirmed by its OWN upper bound: one seek to the file's
    * last block (the filename carries the offset — the lastMessage fast
    * path) reads its true last message timestamp, and the file is
    * deleted iff that is < beforeTsMs. Cost stays one LIST + one
    * last-block read + one DELETE per expired file — nothing scales with
    * message count — and an overlapping out-of-order file survives
    * instead of taking live messages with it. The newest file is never
    * deleted (nothing bounds it from above).
    */
  def expire(topicDir: String, beforeTsMs: Long): Seq[TopicFile] = {
    val files = listFiles(topicDir)
    if (files.length < 2) return Seq.empty
    val conf = HadoopIO.conf()
    val fs = HadoopIO.fs(topicDir, conf)
    val expired = files.zip(files.tail).collect {
      case (f, next) if next.fromTsMs < beforeTsMs &&
          lastOf(f, conf).fold(Long.MaxValue)(m => Ulid.tsMs(m.id)) < beforeTsMs => f
    }
    expired.foreach(f => fs.delete(new Path(f.path), false): Unit)
    if (expired.nonEmpty) invalidateListing(topicDir)
    expired
  }

  def tempDir(prefix: String): String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"), s"$prefix-${UUID.randomUUID().toString.take(8)}")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** delete a local file or directory tree (scratch dirs, index tag dirs) */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }

  /** Local scratch dir as an explicit `file:` URI — exercises the exact
    * URI-scheme resolution a `gs://`/`s3a://` topic would take.
    */
  def tempDirUri(prefix: String): String = "file:" + tempDir(prefix)
}
