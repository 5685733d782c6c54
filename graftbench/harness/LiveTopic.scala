package graft.e2e

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.rawdata.{GraftRawdataClient, RawdataMessage, TopicConfig, Ulid}
import graft.streaming.CleanStream

/** Small writes beside reads on one topic with a backlog of thousands of
  * files. Open loop: a producer publishes a small batch through
  * buffer/publish every [[LiveTopic.PublishEveryMs]], and a second
  * generator runs one point operation every [[LiveTopic.LookupEveryMs]]
  * (lastMessage, cursorOf, seek, cursor-resume receive, cursor commit in
  * turn). A Structured Streaming tail cleans what arrives. Every timing
  * starts when its operation was due.
  */
final class LiveTopic(ctx: Ctx) extends Workload {
  import LiveTopic._
  private val spark = ctx.spark
  private val trace = ctx.tracer
  private val client = new GraftRawdataClient(spark, ctx.topicBase(s"${ctx.work}/live"))
  private val producer = client.producer(TopicName, TopicConfig(maxWindowMs = 1000L))

  private final case class Entry(position: String, hex: String, tsMs: Long, seq: Int)
  /** acknowledged messages in ULID order: the backlog, then each batch
    * once its publish returned
    */
  private val ledger = ArrayBuffer.empty[Entry]
  private val seqOf = new ConcurrentHashMap[String, Integer]()
  @volatile private var lastAcked = -1
  private val emitted = new ConcurrentHashMap[String, AtomicInteger]()
  private val emittedAt = new ConcurrentHashMap[String, java.lang.Long]()
  private final case class Batch(due: Long, positions: Seq[String], phase: String)

  private var backlog: DataFrame = _
  private var live: Array[Row] = _
  private var nextLive = 0
  private val ids = new Ulid.Monotonic(ctx.seed)
  private val pick = new scala.util.Random(ctx.seed)
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  private def hex(id: Array[Byte]): String = id.map("%02x".format(_)).mkString

  private def ack(m: RawdataMessage, tsMs: Long): Unit = ledger.synchronized {
    val seq = ledger.size
    ledger += Entry(m.position, hex(m.id), tsMs, seq)
    seqOf.put(m.position, seq)
  }

  private def message(r: Row, id: Array[Byte]): RawdataMessage =
    RawdataMessage(id, None, 0L, r.getString(0),
      Map("text" -> r.getString(1).getBytes("UTF-8"), "source" -> r.getString(2).getBytes("UTF-8")))

  def setup(): Unit = {
    val shape = scala.io.Source.fromFile(s"${ctx.inputs}/shape.json").mkString
    val perFile = "\"backlog_per_file\":\\s*(\\d+)".r.findFirstMatchIn(shape).get.group(1).toInt
    val rows = spark.read.parquet(s"${ctx.inputs}/backlog.parquet").collect()
    live = spark.read.parquet(s"${ctx.inputs}/live.parquet").collect()
    // backlog message times: one second per file, ending a minute ago
    val files = rows.length / perFile
    val base = System.currentTimeMillis() - files * 1000L - 60000L
    val rnd = new java.util.Random(ctx.seed)
    val msgs = rows.zipWithIndex.map { case (r, i) =>
      val ts = base + (i / perFile) * 1000L + (i % perFile)
      val id = new Array[Byte](16)
      (0 until 6).foreach(k => id(k) = ((ts >>> (8 * (5 - k))) & 0xff).toByte)
      val e = new Array[Byte](10)
      rnd.nextBytes(e)
      System.arraycopy(e, 0, id, 6, 10)
      val m = message(r, id)
      ack(m, ts)
      m
    }
    lastAcked = ledger.size - 1
    backlog = spark.createDataset(msgs.toSeq)(Encoders.product[RawdataMessage]).toDF().persist()
    val p0 = System.nanoTime()
    producer.publish(backlog)
    ctx.layer.put("setup.backlog_publish_s", Main.secs(p0))

    val tail = client.consumer(TopicName).tail.toDF()
      .select(col("position").as("doc_id"),
        decode(col("data")("text"), "UTF-8").as("text"),
        decode(col("data")("source"), "UTF-8").as("source"),
        timestamp_millis(Ulid.timestampMs(col("id"))).as("ts"))
    query = CleanStream.cleanedDocs(tail).writeStream
      .option("checkpointLocation", s"${ctx.work}/live-checkpoint")
      .foreachBatch(new VoidFunction2[Dataset[Row], java.lang.Long] {
        override def call(df: Dataset[Row], id: java.lang.Long): Unit = {
          val got = df.select("doc_id").collect().map(_.getString(0))
          val t = System.nanoTime()
          got.foreach { p =>
            emitted.computeIfAbsent(p, _ => new AtomicInteger()).incrementAndGet()
            emittedAt.putIfAbsent(p, t)
          }
        }
      })
      .start()
    val c0 = System.nanoTime()
    query.processAllAvailable()
    ctx.layer.put("setup.tail_catch_up_s", Main.secs(c0))
    // untimed load at four times the rate: JIT for the publish, lookup and
    // tail paths. After 6 s of it, publish and micro-batch times still fell
    // by a fifth over the first half minute of timed load.
    load(WarmupSeconds, record = false, speedup = 4)
  }

  def run(seconds: Double): Unit = load(seconds, record = true, speedup = 1)

  private def load(seconds: Double, record: Boolean, speedup: Int): Unit = {
    val publishEveryNs = PublishEveryMs * 1000000L / speedup
    val lookupEveryNs = LookupEveryMs * 1000000L / speedup
    val t0 = System.nanoTime() + 20000000L
    val end = t0 + (seconds * 1e9).toLong
    val phase = ctx.phase
    val mine = ArrayBuffer.empty[Batch]
    val pub = thread {
      var i = 0
      var due = t0
      while (due < end && nextLive + BatchSize <= live.length) {
        sleepUntil(due)
        val start = System.nanoTime()
        val rows = live.slice(nextLive, nextLive + BatchSize)
        nextLive += BatchSize
        val now = System.currentTimeMillis()
        val msgs = rows.map(r => message(r, ids.next(now)))
        msgs.foreach(m => seqOf.put(m.position, Int.MaxValue)) // in flight
        val ok = try {
          trace("rawdata.publish") {
            producer.buffer(msgs.toSeq: _*)
            producer.publish(msgs.map(_.position).toSeq: _*)
          }
          true
        } catch { case e: Exception => ctx.fail(s"publish: ${e.getMessage}"); false }
        msgs.foreach(m => ack(m, now))
        lastAcked = ledger.size - 1
        if (record) ctx.record("publish", "publish", due, start, ok)
        mine += Batch(due, msgs.map(_.position).toSeq, phase)
        i += 1
        due = t0 + i * publishEveryNs
      }
    }
    val look = thread {
      var j = 0
      // half a publish period after the publishes
      val l0 = t0 + publishEveryNs / 2
      var due = l0
      while (due < end) {
        sleepUntil(due)
        val start = System.nanoTime()
        val kind = Kinds(j % Kinds.size)
        val ok = try trace(s"rawdata.lookup.$kind")(lookup(kind, j)) catch {
          case e: Exception => ctx.fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
        }
        if (record) ctx.record("lookup", kind, due, start, ok)
        j += 1
        due = l0 + j * lookupEveryNs
      }
    }
    pub.join()
    look.join()
    val stopped = System.nanoTime()
    query.processAllAvailable()
    if (record) {
      // a batch is visible when the tail has emitted its last message
      var behind = 0
      mine.foreach { b =>
        val at = b.positions.map(p => Option(emittedAt.get(p)).map(_.longValue))
        val ok = at.forall(_.isDefined)
        val when = if (ok) at.flatten.max else System.nanoTime()
        if (when > stopped) behind += 1
        ctx.ops.add(Op("visible", "visible", b.due, b.due, when, ok, b.phase))
      }
      if (trace.enabled) ctx.layer.put("streaming.backlog_files", behind)
    }
  }

  private def lookup(kind: String, j: Int): Boolean = {
    val (snapshot, lastAt) = ledger.synchronized((ledger.toIndexedSeq, lastAcked))
    // targets near the head of the topic, with at least three acknowledged
    // messages after them
    def recent(): Int = math.max(0, lastAt - 3 - pick.nextInt(RecentWindow))
    kind match {
      case "last" =>
        client.lastMessage(TopicName).exists(m => Option(seqOf.get(m.position)).exists(_ >= lastAt))
      case "cursor_of" =>
        val e = snapshot(pick.nextInt(lastAt + 1))
        client.cursorOf(TopicName, e.position, e.tsMs, 1000L).contains(e.hex)
      case "seek" =>
        val e = snapshot(recent())
        val got = client.consumer(TopicName).seek(e.tsMs).orderBy("ulid_hex").limit(3)
          .select("position").collect().map(_.getString(0)).toSeq
        got == snapshot.dropWhile(_.tsMs < e.tsMs).take(3).map(_.position)
      case "receive" =>
        val i = recent()
        val c = client.consumer(TopicName, snapshot(i).hex, false)
        try c.receive(2000L).headOption.map(_.position).contains(snapshot(i + 1).position)
        finally c.close()
      case "cursor_commit" =>
        val e = snapshot(pick.nextInt(lastAt + 1))
        val group = s"group${j % 4}"
        client.commitCursor(TopicName, group, e.hex)
        client.committedCursor(TopicName, group).contains(e.hex)
    }
  }

  override def probes(): Unit = Probes.codec(ctx, backlog)

  override def finish(): Unit = {
    query.processAllAvailable()
    if (ctx.traced) {
      val state = query.lastProgress
      if (state != null) ctx.layer.put("streaming.state_rows", state.stateOperators.map(_.numRowsTotal).sum)
    }
    query.stop()
    // every acknowledged message reaches the tail exactly once
    val acked = ledger.map(_.position)
    val missing = acked.count(p => !emitted.containsKey(p))
    val repeated = acked.count(p => Option(emitted.get(p)).exists(_.get() > 1))
    val unknown = emitted.keySet().size() - acked.count(emitted.containsKey)
    ctx.check(missing == 0 && repeated == 0 && unknown == 0,
      s"tail: $missing acknowledged messages missing, $repeated repeated, $unknown unknown")
    backlog.unpersist()
    client.close()
  }
}

object LiveTopic {
  val TopicName = "live"
  val BatchSize = 10
  // Each published batch costs the tail a data micro-batch and a no-data
  // one (watermark eviction), together about 0.9 s on a 4-core host. At a
  // batch every 3 s the tail is busy about a third of the time, so latency
  // is service time, and a host two or three times slower still does not
  // tip it into queueing (at 2 s it did).
  val PublishEveryMs = 3000L
  val LookupEveryMs = 3000L
  val WarmupSeconds = 12.0
  val RecentWindow = 200
  val Kinds: Seq[String] = Seq("last", "cursor_of", "seek", "receive", "cursor_commit")

  def sleepUntil(due: Long): Unit = {
    val left = due - System.nanoTime()
    if (left > 0) Thread.sleep(left / 1000000L, (left % 1000000L).toInt)
  }

  def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true)
    t.start()
    t
  }
}
