package graft.rawdata

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.streaming.TopicStream

/** The reference client's surface (RawdataClient / RawdataProducer /
  * RawdataConsumer / RawdataMetadataClient — README.md:1-40) as one
  * Spark-native facade, so a user of the reference can switch call-for-
  * call:
  *
  * | reference                                   | graft                       |
  * | ------------------------------------------- | --------------------------- |
  * | client.producer(topic) → buffer/publish     | producer(topic).buffer(msgs*).publish(positions*) — or bulk publish(df) / publishAsync |
  * | client.consumer(topic) → receive loop       | consumer(topic).receive(timeout) / receiveAsync / messages / tail |
  * | client.consumer(topic, cursor)              | consumer(topic, ulidHex, inclusive) — receive resumes at the cursor |
  * | consumer.seek(timestamp)                    | consumer(topic).seek(ts)    |
  * | client.cursorOf(ulid, inclusive)            | consumer(topic).after(ulidHex, inclusive) |
  * | client.cursorOf(position, approxTs, tol)    | cursorOf(topic, position, approxTs, tol) |
  * | client.lastMessage(topic)                   | lastMessage(topic)          |
  * | client.metadata(topic) keys/get/put         | metadata(topic).*           |
  * | client/producer/consumer close()/isClosed() | same (client.close closes its children) |
  * | ServiceLoader RawdataClientInitializer      | RawdataClientFactory.create("graft-spark", config) |
  *
  * The base directory plays the role of the reference's bucket/folder
  * root; topics are subdirectories of Avro files in the reference's
  * naming scheme, so the two implementations can read each other's
  * topics (format compatibility is asserted in TopicSpec). The base may
  * be a plain local path or any Hadoop-resolvable URI (`file://`,
  * `gs://`, `s3a://`) — topic and metadata I/O run through the Hadoop
  * `FileSystem` API behind one code path (the reference's
  * cloudstorage/filesystem provider split collapsed into URI dispatch).
  */
final class GraftRawdataClient(
    spark: SparkSession, baseDir: String,
    defaultCfg: TopicConfig = TopicConfig(),
    defaultPollIntervalMs: Long = 100) extends AutoCloseable {

  private val hasScheme = baseDir.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")

  /** topic dirs handed out by this client — their listings are marked
    * stale on close()
    */
  private val touchedTopics = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** producers/consumers handed out by this client — closed with it,
    * like the reference client's producers/consumers lists
    * (AvroRawdataClient.java:152-163)
    */
  private val children = java.util.concurrent.ConcurrentHashMap.newKeySet[AutoCloseable]()

  @volatile private var closed = false

  def topicDir(topic: String): String = {
    val dir =
      if (hasScheme) baseDir.stripSuffix("/") + "/" + topic
      else new java.io.File(baseDir, topic).getAbsolutePath
    touchedTopics.add(dir)
    dir
  }

  // --------------------------------------------------------------- lifecycle

  /** Reference AvroRawdataClient.java:147-152: close() flips the closed
    * flag and releases client-held resources; subsequent producer/consumer/
    * metadata calls fail fast. Graft holds no sockets or threads; close()
    * marks its topics' process-wide listings stale (Topic.listFiles). The
    * SparkSession is shared and NOT stopped: the client borrows it,
    * reference-style ownership stays with the caller. Idempotent, like
    * the reference's.
    */
  override def close(): Unit = {
    closed = true
    children.forEach(c => c.close())
    children.clear()
    touchedTopics.forEach(dir => Topic.invalidateListing(dir))
    touchedTopics.clear()
  }

  def isClosed: Boolean = closed

  /** reference RawdataClosedException on use-after-close */
  private def ensureOpen(): Unit =
    if (closed) throw new RawdataClosedException("rawdata client")

  private def track[C <: AutoCloseable](c: C): C = { children.add(c); c }

  // ---------------------------------------------------------------- produce

  final class Producer(
      topic: String, cfg: TopicConfig,
      clock: () => Long = () => System.currentTimeMillis()) extends AutoCloseable {
    @volatile private var producerClosed = false

    def topicName: String = topic

    /** Publish a message DataFrame (id, orderingGroup, sequenceNumber,
      * position, data) — the distributed entry point, for bulk loads: one
      * shuffle puts each time window, ULID-sorted, in one task, whose
      * writer cuts it into the reference's (time-window, byte-chunk) file
      * layout. The driver-held entry point is
      * buffer(...).publish(positions), which feeds the same writer on the
      * driver (one rule, Topic.write). Repeated publishes append new files
      * to the topic.
      */
    def publish(messages: DataFrame): Seq[TopicFile] = {
      if (producerClosed) throw new RawdataClosedException("rawdata producer")
      Topic.write(messages, topicDir(topic), cfg)
    }

    // --------------------------------- wall-clock open-file windowing

    /** The reference producer's open file (AvroRawdataProducer.java: an
      * active DataFileWriter rolled by the max.seconds timer / max.bytes
      * size). Only maintained when cfg.wallClockWindows: published
      * messages accumulate here and land as ONE topic file when the
      * wall window elapses, the byte budget fills, or the producer
      * closes — until then, readers don't see them, exactly like the
      * reference's not-yet-uploaded open file.
      */
    private val openMsgs = scala.collection.mutable.ArrayBuffer.empty[RawdataMessage]
    private var openedAtMs: Long = -1L
    private var openBytes: Long = 0L

    /** land the open file, written on the driver (no-op when nothing is
      * open)
      */
    private def flushOpen(): Seq[TopicFile] = {
      if (openMsgs.isEmpty) Seq.empty
      else {
        val batch = openMsgs.toSeq
        openMsgs.clear(); openedAtMs = -1L; openBytes = 0L
        Topic.write(batch, topicDir(topic), cfg)
      }
    }

    /** stage a published batch into the open file, rolling on elapsed
      * wall time / bytes; returns any files that landed
      */
    private def stageWallClock(batch: Seq[RawdataMessage]): Seq[TopicFile] = {
      val landed = Seq.newBuilder[TopicFile]
      val now = clock()
      if (openedAtMs >= 0 && now - openedAtMs >= cfg.maxWindowMs)
        landed ++= flushOpen()
      batch.foreach { m =>
        if (openedAtMs < 0) openedAtMs = now
        openMsgs += m
        openBytes += Topic.approxBytes(m)
        if (openBytes >= cfg.maxBytes) landed ++= flushOpen()
      }
      landed.result()
    }

    // ------------------------------------- two-phase buffer → publish

    /** positions buffered but not yet published, in buffer order —
      * the reference producer's staging area (rawdata API
      * buffer(builder) → publish(positions...)). Driver-side state by
      * design: the two-phase contract exists for SMALL transactional
      * batches where the caller wants per-position control, so a publish
      * writes them on the driver with no Spark job; bulk loads use the
      * distributed publish(DataFrame) path above. Both lay files out by
      * the same rule (Topic.write).
      */
    private val pending =
      new java.util.LinkedHashMap[String, RawdataMessage]()

    /** Stage a message under its position without publishing it.
      * Re-buffering a position overwrites the staged message, like the
      * reference's keyed buffer.
      */
    def buffer(messages: RawdataMessage*): Producer = synchronized {
      if (producerClosed) throw new RawdataClosedException("rawdata producer")
      messages.foreach(m => pending.put(m.position, m))
      this
    }

    /** positions currently staged (TCK-visible contract) */
    def bufferedPositions: Seq[String] = synchronized {
      import scala.jdk.CollectionConverters._
      pending.keySet().asScala.toSeq
    }

    /** Publish exactly the named buffered positions and drop them from
      * the buffer, writing their files on the driver (Topic.write over
      * driver-held messages: the DataFrame path's layout, no Spark job).
      * Naming an unbuffered position — or one position twice, since the
      * first naming already drops it — fails LOUDLY with
      * RawdataNotBufferedException BEFORE anything is written (the
      * reference's all-or-nothing per-call contract), so a partial or
      * duplicated publish can't slip through silently. No positions: no
      * listing, no write, `Seq.empty`.
      *
      * In wall-clock mode the batch enters the producer's OPEN file and
      * the returned seq holds only files that actually landed (a roll or
      * byte overflow) — the reference's visibility semantics, where a
      * published message is readable only after its file uploads.
      */
    def publish(positions: String*): Seq[TopicFile] = synchronized {
      if (producerClosed) throw new RawdataClosedException("rawdata producer")
      val named = scala.collection.mutable.HashSet.empty[String]
      positions.find(p => !pending.containsKey(p) || !named.add(p))
        .foreach(p => throw new RawdataNotBufferedException(p))
      val batch = positions.map(pending.remove).toSeq
      if (batch.isEmpty) Seq.empty
      else if (cfg.wallClockWindows) stageWallClock(batch)
      else Topic.write(batch, topicDir(topic), cfg)
    }

    /** fire-and-track publish (reference AvroRawdataProducer.publishAsync:
      * CompletableFuture.runAsync over the blocking path)
      */
    def publishAsync(messages: DataFrame): java.util.concurrent.CompletableFuture[Seq[TopicFile]] =
      java.util.concurrent.CompletableFuture.supplyAsync(() => publish(messages))

    /** reference producers are AutoCloseable; idempotent. Closing a
      * wall-clock producer lands its open file first (the reference
      * closes + uploads the active DataFileWriter on producer close).
      */
    override def close(): Unit = synchronized {
      if (!producerClosed) {
        if (cfg.wallClockWindows) flushOpen(): Unit
        producerClosed = true
      }
    }
    def isClosed: Boolean = producerClosed
  }

  def producer(topic: String): Producer = {
    ensureOpen()
    track(new Producer(topic, defaultCfg))
  }

  def producer(topic: String, cfg: TopicConfig): Producer = {
    ensureOpen()
    track(new Producer(topic, cfg))
  }

  /** wall-clock-mode producer with an injectable clock — the TCK's
    * Thread.sleep(1100) becomes a deterministic clock advance in tests;
    * production callers use the TopicConfig overload (system clock)
    */
  def producer(topic: String, cfg: TopicConfig, clock: () => Long): Producer = {
    ensureOpen()
    track(new Producer(topic, cfg, clock))
  }

  // ---------------------------------------------------------------- consume

  /** `startAfterHex`/`startInclusive`: the reference's
    * `consumer(topic, cursor)` — the bounded receive loop resumes from the
    * cursor instead of the topic start.
    */
  final class Consumer(
      topic: String, pollIntervalMs: Long = 100,
      startAfterHex: Option[String] = None, startInclusive: Boolean = false,
      maxMessagesPerPoll: Long = GraftRawdataClient.DefaultMaxMessagesPerPoll) extends AutoCloseable {

    @volatile private var consumerClosed = false

    def topicName: String = topic

    /** full ordered scan (ordered by ULID — the reference's stream order) */
    def messages: Dataset[RawdataMessage] = Topic.read(spark, topicDir(topic))

    /** decoded DataFrame (ulid_hex, ts_ms columns added) */
    def messagesDF: DataFrame = Topic.readDF(spark, topicDir(topic))

    /** consumer.seek(timestamp): messages with ts >= t, file-pruned by name */
    def seek(timestampMs: Long): DataFrame =
      Topic.seek(spark, topicDir(topic), timestampMs)

    /** resume at/after a cursor (reference RawdataCursor semantics) */
    def after(ulidHex: String, inclusive: Boolean): DataFrame =
      Topic.afterCursor(spark, topicDir(topic), ulidHex, inclusive)

    /** unbounded tail (the receive() poll loop as Structured Streaming) */
    def tail: Dataset[RawdataMessage] = TopicStream.messages(spark, topicDir(topic))

    // -------------------------------------------------- bounded receive

    /** files already delivered by this consumer (a topic file appears
      * atomically — the writer renames a dot-prefixed temp name into
      * place — so per-file tracking can neither lose nor redeliver
      * messages, even when a distributed publish lands its files out of
      * ULID order while we are polling).
      */
    private val consumedFiles = scala.collection.mutable.HashSet.empty[String]

    /** highest delivered ULID (hex) — the consumer's stream position. */
    @volatile private var cursorHex: Option[String] = None

    def position: Option[String] = cursorHex

    /** Bounded tail — the reference consumer's blocking
      * `receive(timeout)` loop (AvroRawdataConsumer.java:71-96): poll the
      * topic listing (through Topic.listFilesCached, so a tight poll loop
      * reads the directory once per poll interval and parses only new
      * names — reference TopicAvroFileCache.java) until unconsumed files appear, then
      * deliver their messages in ULID order and remember the files.
      * Returns empty on timeout (instead of the reference's null). Each
      * poll reads only the new files, so the cost is proportional to the
      * arriving data, not the topic (a cursor start prunes the listing to
      * its floor file, as `after` does). The poll is decoded on the
      * driver, no Spark job: it is capped and collected here anyway.
      */
    def receive(timeoutMs: Long): Seq[RawdataMessage] = {
      if (consumerClosed) throw new RawdataClosedException("rawdata consumer")
      val dir = topicDir(topic)
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (true) {
        val listed = Topic.listFilesCached(dir, pollIntervalMs)
        val files = startAfterHex.fold(listed)(c => Topic.pruneFrom(listed, Ulid.tsMsOfHex(c)))
        val freshAll = files.filterNot(f => consumedFiles.contains(f.path))
        // Backlog guard: each poll materializes its batch on the driver
        // (reference parity — AvroRawdataConsumer buffers per file), so a
        // consumer resuming against a month of backlog must NOT collect
        // the whole backlog at once. Cap the batch at maxMessagesPerPoll
        // messages by taking a PREFIX of the fresh files in delivery
        // order (per-file counts come from the filename metadata, free);
        // the remainder stays un-consumed and drains on subsequent
        // polls from the cursor. File granularity: always at least one
        // file (a single file is bounded by the producer's window), and
        // per-poll ULID ranges may interleave across polls exactly as
        // they already could when a distributed publish lands files out
        // of order.
        val fresh =
          if (freshAll.map(_.count).sum <= maxMessagesPerPoll) freshAll
          else {
            val ordered = freshAll.sortBy(f => (f.fromTsMs, f.path))
            var acc = 0L
            val take = ordered.takeWhile { f => acc += f.count; acc <= maxMessagesPerPoll }
            if (take.nonEmpty) take else ordered.take(1)
          }
        if (fresh.nonEmpty) {
          val conf = HadoopIO.conf()
          val msgs = fresh.flatMap(f => AvroCodec.readFile(f.path, conf))
            .map(m => (Ulid.hex(m.id), m))
            .filter { case (h, _) =>
              startAfterHex.forall(c => if (startInclusive) h >= c else h > c)
            }
            .sortBy(_._1)
          consumedFiles ++= fresh.map(_.path)
          if (msgs.nonEmpty) {
            val top = msgs.last._1
            if (cursorHex.forall(top > _)) cursorHex = Some(top)
            return msgs.map(_._2).toSeq
          }
        }
        val leftNs = deadline - System.nanoTime()
        if (leftNs <= 0) return Seq.empty
        // when the cap left un-consumed files behind (all of this batch
        // filtered below the start cursor), the next prefix is already
        // available — loop immediately instead of sleeping a poll
        if (fresh.size >= freshAll.size)
          Thread.sleep(math.max(1L, math.min(pollIntervalMs, leftNs / 1000000L + 1)))
      }
      Seq.empty // unreachable
    }

    /** non-blocking receive (reference AvroRawdataConsumer.receiveAsync:
      * CompletableFuture.supplyAsync over the blocking poll)
      */
    def receiveAsync(timeoutMs: Long): java.util.concurrent.CompletableFuture[Seq[RawdataMessage]] =
      java.util.concurrent.CompletableFuture.supplyAsync(() => receive(timeoutMs))

    /** reference consumers are AutoCloseable; idempotent */
    override def close(): Unit = consumerClosed = true
    def isClosed: Boolean = consumerClosed
  }

  def consumer(topic: String): Consumer = {
    ensureOpen()
    track(new Consumer(topic, defaultPollIntervalMs))
  }

  def consumer(topic: String, pollIntervalMs: Long): Consumer = {
    ensureOpen()
    track(new Consumer(topic, pollIntervalMs))
  }

  /** consumer with an explicit per-poll backlog cap (see
    * [[GraftRawdataClient.DefaultMaxMessagesPerPoll]])
    */
  def consumer(topic: String, pollIntervalMs: Long, maxMessagesPerPoll: Long): Consumer = {
    ensureOpen()
    track(new Consumer(topic, pollIntervalMs, maxMessagesPerPoll = maxMessagesPerPoll))
  }

  /** reference `consumer(topic, cursor)`: the receive loop starts at the
    * cursor (ULID hex + inclusivity — the same cursor shape `position`
    * and `cursorOf` hand out)
    */
  def consumer(topic: String, afterUlidHex: String, inclusive: Boolean): Consumer = {
    ensureOpen()
    track(new Consumer(topic, defaultPollIntervalMs, Some(afterUlidHex), inclusive))
  }

  // ------------------------------------------------- durable cursors

  /** Durable consumer-group cursors: the reference leaves resume state
    * to the caller (cursorOf + an external store); graft closes that
    * loop with the engine's own per-topic KV store, so a restarted
    * session resumes exactly where the group left off. Crash-safe AND
    * race-safe: each cursor key commits as its own temp→rename version
    * file (MetadataStore), so a torn commit is invisible to readers and
    * two groups committing concurrently can never lose each other's
    * update.
    */
  def commitCursor(topic: String, group: String, ulidHex: String): Unit = {
    ensureOpen()
    import spark.implicits._
    MetadataStore.put(spark, topicDir(topic),
      Seq((s"cursor-$group", ulidHex.getBytes("UTF-8"))).toDF("key", "value"))
  }

  /** the group's committed position, if any */
  def committedCursor(topic: String, group: String): Option[String] = {
    ensureOpen()
    MetadataStore.get(spark, topicDir(topic), s"cursor-$group")
      .map(new String(_, "UTF-8"))
  }

  /** a consumer resuming strictly AFTER the group's committed cursor
    * (topic start when the group has never committed)
    */
  def consumerFromCommitted(topic: String, group: String): Consumer =
    committedCursor(topic, group) match {
      case Some(hex) => consumer(topic, hex, inclusive = false)
      case None => consumer(topic)
    }

  // ----------------------------------------------------------------- client

  /** cursorOf(position, approxTimestamp, tolerance): bounded time-range
    * scan for the message with that position
    * (reference AvroRawdataClient.java:89-115)
    */
  def cursorOf(topic: String, position: String, approxTsMs: Long, toleranceMs: Long): Option[String] = {
    ensureOpen()
    Topic.positionToUlidHex(spark, topicDir(topic), position, approxTsMs, toleranceMs)
  }

  /** reference-strict cursorOf: throws RawdataNoSuchPositionException
    * where the Option form returns None (AvroRawdataClient.java:89-115)
    */
  def cursorOfStrict(topic: String, position: String, approxTsMs: Long, toleranceMs: Long): String =
    cursorOf(topic, position, approxTsMs, toleranceMs)
      .getOrElse(throw new RawdataNoSuchPositionException(position))

  /** lastMessage(topic): last-file last-block fast path
    * (reference AvroRawdataClient.java:126-147)
    */
  def lastMessage(topic: String): Option[RawdataMessage] = {
    ensureOpen()
    Topic.lastMessage(topicDir(topic))
  }

  // --------------------------------------------------------------- metadata

  final class Metadata(topic: String) {
    def topicName: String = topic
    def keys: Seq[String] = MetadataStore.keys(spark, topicDir(topic))
    def get(key: String): Option[Array[Byte]] = MetadataStore.get(spark, topicDir(topic), key)
    def put(updates: DataFrame): Unit = MetadataStore.put(spark, topicDir(topic), updates)
    def put(key: String, value: Array[Byte]): Unit = {
      import spark.implicits._
      put(Seq((key, value)).toDF("key", "value"))
    }
    def remove(key: String): Unit = MetadataStore.remove(spark, topicDir(topic), Seq(key))
  }

  def metadata(topic: String): Metadata = {
    ensureOpen()
    new Metadata(topic)
  }
}

object GraftRawdataClient {
  /** Default cap on messages a single Consumer.receive() poll will
    * materialize on the driver: a consumer resuming against a month of
    * backlog drains it in bounded batches over successive polls instead
    * of collecting the whole backlog at once (the reference consumer
    * streams file-by-file and never holds more than one file's buffer —
    * AvroRawdataConsumer.java:71-96).
    */
  val DefaultMaxMessagesPerPoll: Long = 10000L
}
