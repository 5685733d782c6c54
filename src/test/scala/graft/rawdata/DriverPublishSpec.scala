package graft.rawdata

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.graftprobe.Broadcasts
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** The two publish entry points — driver-held `buffer(...).publish(positions)`
  * and distributed `publish(df)` — share one layout rule, one writer and
  * one commit protocol, and so does the `graft-topic` batch sink. For the
  * same messages they must land identical files (names, counts,
  * last-block offsets, first positions, decoded content), and the
  * driver-held path must not start a Spark job.
  */
class DriverPublishSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1700000000000L
  private val TimeWindows = TopicConfig(maxWindowMs = 60000L, maxBytes = Long.MaxValue / 4, syncIntervalBytes = 256L)
  private val ByteRolling = TopicConfig(maxWindowMs = 3600L * 1000, maxBytes = 1000L, syncIntervalBytes = 256L)

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** `n` messages `stepMs` apart from T0, with seeded ULID entropy and
    * payloads of varying size
    */
  private def messages(n: Int, stepMs: Long, size: Int = 100, seed: Long = 7L): Seq[RawdataMessage] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val ts = T0 + i * stepMs
      val id = new Array[Byte](16)
      (0 until 6).foreach(k => id(k) = ((ts >>> (8 * (5 - k))) & 0xff).toByte)
      val entropy = new Array[Byte](10)
      rnd.nextBytes(entropy)
      System.arraycopy(entropy, 0, id, 6, 10)
      RawdataMessage(id, if (i % 3 == 0) None else Some(s"g${i % 2}"), i.toLong, f"pos-$i%04d",
        Map("text" -> Array.fill(size + i % 7)(('a' + i % 26).toByte), "meta" -> Array(i.toByte)))
    }
  }

  private def shape(files: Seq[TopicFile]): Seq[(String, Long, Long, Long, String)] =
    files.map(f => (new Path(f.path).getName, f.fromTsMs, f.count, f.lastBlockOffset, f.firstPosition))

  private def decoded(files: Seq[TopicFile]): Seq[Seq[String]] =
    files.map(f => AvroCodec.readFile(f.path, HadoopIO.conf()).map { m =>
      val data = m.data.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${hex(v)}" }.mkString(",")
      s"${hex(m.id)}|${m.orderingGroup}|${m.sequenceNumber}|${m.position}|$data"
    }.toList)

  private def assertSameFiles(buffered: Seq[TopicFile], frame: Seq[TopicFile]): Unit = {
    assert(buffered.nonEmpty)
    assert(shape(buffered) === shape(frame))
    assert(decoded(buffered) === decoded(frame))
  }

  /** the same messages through both entry points, the buffered ones
    * staged and named in a shuffled order, and through the batch sink
    * from three input partitions; returns (buffered, frame)
    */
  private def publishBoth(base: String, cfg: TopicConfig, msgs: Seq[RawdataMessage])
      : (Seq[TopicFile], Seq[TopicFile]) = {
    val client = new GraftRawdataClient(spark, base, cfg)
    try {
      val producer = client.producer("buffered", cfg)
      val order = new scala.util.Random(11).shuffle(msgs)
      producer.buffer(order: _*)
      val buffered = producer.publish(order.map(_.position): _*)
      val frame = client.producer("frame", cfg).publish(spark.createDataset(msgs).toDF())
      assert(shape(buffered) === shape(Topic.listFiles(client.topicDir("buffered"))),
        "a publish returns its files in listing order")
      val sinkDir = client.topicDir("sink")
      spark.createDataset(msgs).toDF().repartition(3).write.format("graft-topic")
        .option("maxWindowMs", cfg.maxWindowMs)
        .option("maxBytes", cfg.maxBytes)
        .option("syncIntervalBytes", cfg.syncIntervalBytes)
        .mode("append").save(sinkDir)
      assertSameFiles(frame, Topic.listFiles(sinkDir))
      (buffered, frame)
    } finally client.close()
  }

  /** Spark jobs started by `body` on this thread. The listener bus is
    * asynchronous: a sentinel job, started after the body, is seen last.
    */
  private def jobsDuring(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      val sentinel = s"$group-sentinel"
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(10.seconds), interval(20.millis))(assert(groups.contains(sentinel)))
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  private def temps(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.startsWith(".inprogress-"))

  test("time windows: buffered and DataFrame publishes land identical files") {
    val (buffered, frame) = publishBoth(Topic.tempDir("drv-windows"), TimeWindows, messages(40, 15000L))
    assert(buffered.size >= 10, "one file per one-minute window")
    assertSameFiles(buffered, frame)
  }

  test("byte rolling: one window split into three or more chunks, identically") {
    // a second window holds a few more messages
    val msgs = messages(40, 1L) ++ messages(5, 1L, seed = 8L).map { m =>
      val id = m.id.clone()
      val ts = T0 + 3600L * 1000 + m.sequenceNumber
      (0 until 6).foreach(k => id(k) = ((ts >>> (8 * (5 - k))) & 0xff).toByte)
      m.copy(id = id, position = m.position + "-w2")
    }
    val (buffered, frame) = publishBoth(Topic.tempDir("drv-bytes"), ByteRolling, msgs)
    val firstWindow = buffered.count(_.fromTsMs < T0 + 3600L * 1000)
    assert(firstWindow >= 3, s"expected >= 3 chunks in the first window, got $firstWindow")
    assert(buffered.map(_.count).sum === msgs.size)
    assertSameFiles(buffered, frame)
  }

  test("ids sharing a millisecond land in unsigned ULID order on every path") {
    // entropy first differs at byte 6: 0x7f against 0x80, 0x81 and 0xff,
    // which are negative as signed bytes
    val one = messages(1, 1L, size = 400).head
    val msgs = Seq(0x80, 0x7f, 0xff, 0x00, 0x81).zipWithIndex.map { case (b, i) =>
      val id = one.id.clone()
      id(6) = b.toByte
      one.copy(id = id, sequenceNumber = i.toLong, position = s"tie-$i")
    }
    val (buffered, frame) = publishBoth(Topic.tempDir("drv-unsigned"), ByteRolling, msgs)
    assert(buffered.size >= 2, "the byte roll cuts inside the millisecond")
    // unsigned order: 0x00, 0x7f, 0x80, 0x81, 0xff
    assert(buffered.flatMap(f => AvroCodec.readFile(f.path, HadoopIO.conf()).map(_.position)) ===
      Seq("tie-3", "tie-1", "tie-0", "tie-4", "tie-2"))
    assertSameFiles(buffered, frame)
  }

  test("wall-clock mode: the open file and the DataFrame publish land identical files") {
    // messages spanning hours: one ingest instant, so one file per chunk
    val msgs = messages(30, 20L * 60 * 1000)
    val base = Topic.tempDir("drv-wallclock")
    val cfg = TimeWindows.copy(maxWindowMs = 3600L * 1000, wallClockWindows = true)
    val client = new GraftRawdataClient(spark, base, cfg)
    val producer = client.producer("buffered", cfg, () => 0L)
    producer.buffer(msgs.reverse: _*)
    assert(producer.publish(msgs.reverse.map(_.position): _*).isEmpty, "wall-clock publish stays in the open file")
    producer.close()
    val frame = client.producer("frame", cfg).publish(spark.createDataset(msgs).toDF())
    val buffered = Topic.listFiles(client.topicDir("buffered"))
    assert(buffered.size === 1)
    assertSameFiles(buffered, frame)

    // byte rolling still chunks a wall-clock batch, the same way on both paths
    val rolling = ByteRolling.copy(wallClockWindows = true)
    val viaDriver = Topic.write(msgs, Topic.tempDir("drv-wallclock-bytes"), rolling)
    val viaFrame = Topic.write(spark.createDataset(msgs).toDF(), Topic.tempDir("drv-wallclock-bytes"), rolling)
    assert(viaDriver.size >= 3)
    assertSameFiles(viaDriver, viaFrame)
    client.close()
  }

  test("fakegs:// topic: identical files, one listing per buffered publish") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.fakegs.impl", classOf[FakeGsFileSystem].getName)
    hc.setBoolean("fs.fakegs.impl.disable.cache", true)
    hc.set("fs.fakegs.auth.token", FakeGsFileSystem.ExpectedToken)
    HadoopIO.invalidateConfCache()
    val base = "fakegs://graft-test-bucket" + Topic.tempDir("drv-fakegs")
    val (buffered, frame) = publishBoth(base, TimeWindows, messages(20, 20000L))
    assert(buffered.forall(_.path.startsWith("fakegs://")))
    assertSameFiles(buffered, frame)

    val client = new GraftRawdataClient(spark, base, TimeWindows)
    val producer = client.producer("buffered", TimeWindows)
    val more = messages(3, 1000L, seed = 9L).map(m => m.copy(position = m.position + "-more"))
    producer.buffer(more: _*)
    val lists = FakeGsFileSystem.nLists.get()
    producer.publish(more.map(_.position): _*)
    assert(FakeGsFileSystem.nLists.get() - lists === 1, "a publish lists the topic once")
    client.close()
  }

  test("a buffered publish starts no Spark job; a DataFrame publish does") {
    val client = new GraftRawdataClient(spark, Topic.tempDir("drv-jobs"), TimeWindows)
    val msgs = messages(10, 1000L)
    val producer = client.producer("buffered")
    producer.buffer(msgs: _*)
    assert(jobsDuring("drv-buffered")(producer.publish(msgs.map(_.position): _*)) === 0)
    assert(jobsDuring("drv-frame")(client.producer("frame").publish(spark.createDataset(msgs).toDF())) > 0,
      "the listener must see the DataFrame publish's jobs")
    client.close()
  }

  test("a byte-rolled DataFrame publish shuffles once: at most two Spark jobs") {
    val client = new GraftRawdataClient(spark, Topic.tempDir("drv-one-exchange"), ByteRolling)
    try {
      val df = spark.createDataset(messages(40, 1L)).toDF()
      var files = Seq.empty[TopicFile]
      val jobs = jobsDuring("drv-rolled") { files = client.producer("t").publish(df) }
      assert(files.size >= 3, s"expected >= 3 byte chunks, got ${files.size}")
      assert(jobs <= 2, s"a byte-rolled publish(df) started $jobs Spark jobs")
    } finally client.close()
  }

  test("a buffered re-publish fails loudly and leaves no temp file behind") {
    val client = new GraftRawdataClient(spark, Topic.tempDir("drv-republish"), TimeWindows)
    val msgs = messages(12, 15000L)
    val producer = client.producer("t")
    producer.buffer(msgs: _*)
    producer.publish(msgs.map(_.position): _*)
    val dir = client.topicDir("t")
    val before = shape(Topic.listFiles(dir))
    producer.buffer(msgs: _*)
    val ex = intercept[IllegalStateException](producer.publish(msgs.map(_.position): _*))
    assert(ex.getMessage.contains("already exists"))
    assert(shape(Topic.listFiles(dir)) === before)
    assert(temps(dir).isEmpty, s"temp files left behind: ${temps(dir)}")
    client.close()
  }

  test("naming a position twice is rejected before anything is written") {
    val client = new GraftRawdataClient(spark, Topic.tempDir("drv-repeat"), TimeWindows)
    val Seq(a, b) = messages(2, 1000L)
    val producer = client.producer("t")
    producer.buffer(a, b)
    val ex = intercept[RawdataNotBufferedException](producer.publish(a.position, b.position, a.position))
    assert(ex.getMessage.contains(a.position))
    assert(!new java.io.File(client.topicDir("t")).exists(), "nothing may be written")
    assert(producer.bufferedPositions.toSet === Set(a.position, b.position), "the buffer is untouched")
    producer.publish(a.position, b.position)
    assert(Topic.read(spark, client.topicDir("t")).collect().map(m => hex(m.id)).sorted ===
      Seq(a, b).map(m => hex(m.id)).sorted)
    client.close()
  }

  test("publish() with no positions neither lists nor writes") {
    val client = new GraftRawdataClient(spark, Topic.tempDir("drv-empty"), TimeWindows)
    val producer = client.producer("t")
    assert(producer.publish() === Seq.empty)
    assert(!new java.io.File(client.topicDir("t")).exists())
    client.close()
  }

  test("a failed DataFrame publish releases its snapshot broadcast and temp files") {
    val dir = Topic.tempDir("drv-broadcast")
    val df = spark.createDataset(messages(12, 15000L)).toDF()
    Topic.write(df, dir, TimeWindows)
    intercept[Exception](Topic.write(df, dir, TimeWindows))
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(!Broadcasts.liveValues().exists(_.isInstanceOf[PreExisting]), "PreExisting broadcast leaked")
    }
    assert(temps(dir).isEmpty, s"temp files left behind: ${temps(dir)}")
  }
}
