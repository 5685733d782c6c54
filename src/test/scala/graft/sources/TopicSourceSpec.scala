package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.rawdata.{DriverDecode, EventsAsTopic, RawdataMessage, Topic, TopicConfig, Ulid}

/** The DataSource V2 topic connector must agree with a driver decode of
  * every listed file AND prove its planning-time behaviors: ts_ms
  * predicates prune files before any read, and column pruning reaches the
  * decoder.
  */
class TopicSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Topic.tempDir("dsv2-topic")
    Topic.write(EventsAsTopic.messagesFromEvents(spark, sf), d, EventsAsTopic.cfg)
    d
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): TopicScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get.asInstanceOf[TopicScan]

  test("format(graft-topic) returns exactly what Topic.readDF returns") {
    val viaSource = spark.read.format("graft-topic").load(dir)
      .select($"ulid_hex", $"position", $"sequenceNumber", $"ts_ms")
    val viaTopic = Topic.readDF(spark, dir)
      .select($"ulid_hex", $"position", $"sequenceNumber", $"ts_ms")
    val decoded = DriverDecode.frame(spark, dir)
      .select($"ulid_hex", $"position", $"sequenceNumber", $"ts_ms")
    assert(viaSource.collect().toSet === decoded.collect().toSet)
    assert(viaSource.collect().toSet === viaTopic.collect().toSet)
  }

  test("a ts_ms range predicate prunes files at plan time") {
    val files = Topic.listFiles(dir)
    assert(files.size > 3)
    val cut = files(files.size / 2).fromTsMs + 1
    val hi = files(files.size / 2 + 1).fromTsMs

    val df = spark.read.format("graft-topic").load(dir)
      .filter($"ts_ms" >= cut && $"ts_ms" <= hi)
    val parts = scanOf(df).planInputPartitions()
    assert(parts.length < files.size, "pruned scan must not read every file")
    assert(parts.length <= 3, s"±1-window bound expected, got ${parts.length} files")

    // and the answer still matches an unpruned driver decode
    val expected = DriverDecode.frame(spark, dir)
      .filter($"ts_ms" >= cut && $"ts_ms" <= hi)
      .select($"ulid_hex").as[String].collect().toSet
    assert(df.select($"ulid_hex").as[String].collect().toSet === expected)
  }

  test("column pruning reaches the reader (payload map not decoded)") {
    val df = spark.read.format("graft-topic").load(dir).select($"position")
    val scan = scanOf(df)
    assert(scan.readSchema().fieldNames.toSeq === Seq("position"))
    assert(df.distinct().count() === graft.Tables.events(spark, sf).count())
  }

  test("readStream tails the topic incrementally: new files become new micro-batches") {
    val sdir = Topic.tempDir("dsv2-stream")
    val all = EventsAsTopic.messagesFromEvents(spark, sf)
    val batch1 = all.filter($"sequenceNumber" <= 300)
    val batch2 = all.filter($"sequenceNumber" > 300 && $"sequenceNumber" <= 400)
    Topic.write(batch1, sdir, EventsAsTopic.cfg)
    val n1 = batch1.count()

    val q = spark.readStream.format("graft-topic").load(sdir)
      .select($"ulid_hex", $"position")
      .writeStream.format("memory").queryName("topic_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT COUNT(*) FROM topic_tail").as[Long].collect().head === n1)
      // a second publish lands new files; the SAME query picks them up
      Topic.write(batch2, sdir, EventsAsTopic.cfg)
      q.processAllAvailable()
      val rows = spark.sql("SELECT ulid_hex FROM topic_tail").as[String].collect()
      assert(rows.length === n1 + batch2.count())
      assert(rows.distinct.length === rows.length, "no duplicate deliveries within one run")
    } finally q.stop()
  }

  test("write path: df.write.format(graft-topic) round-trips a topic") {
    val dest = Topic.tempDir("dsv2-write")
    spark.read.format("graft-topic").load(dir)
      .write.format("graft-topic").mode("append").save(dest)
    val files = Topic.listFiles(dest)
    assert(files.nonEmpty)
    // filename metadata is real: counts sum to the message total, the
    // fromTimestamp of each file is its true first message (the sink
    // writes through Topic.write, which ULID-sorts each file)
    assert(files.map(_.count).sum === graft.Tables.events(spark, sf).count())
    val a = Topic.readDF(spark, dir).select($"ulid_hex", $"position", $"sequenceNumber")
    val b = Topic.readDF(spark, dest).select($"ulid_hex", $"position", $"sequenceNumber")
    assert(b.collect().toSet === a.collect().toSet)
    // the reference-format invariants hold on the sink's files too
    val f = files.head
    val msgs = graft.rawdata.AvroCodec.readFile(f.path, graft.rawdata.HadoopIO.conf()).toSeq
    val hexes = msgs.map(_.id.map("%02x".format(_)).mkString)
    assert(hexes === hexes.sorted, "within-file ULID order")
  }

  test("sink input: a 5-column message frame writes; a missing column or a non-append mode fails first") {
    val msgs = Topic.readDF(spark, dir).select($"id", $"orderingGroup", $"sequenceNumber", $"position", $"data")
      .limit(50)
    val ok = Topic.tempDir("dsv2-sink-ok")
    msgs.write.format("graft-topic").mode("append").save(ok)
    assert(Topic.listFiles(ok).map(_.count).sum === 50)

    val missing = intercept[IllegalArgumentException](
      msgs.drop("position").write.format("graft-topic").mode("append").save(Topic.tempDir("dsv2-sink-missing")))
    assert(missing.getMessage.contains("requires message columns"), missing.getMessage)
    assert(missing.getMessage.contains("missing: position"), missing.getMessage)

    val overwrite = Topic.tempDir("dsv2-sink-overwrite")
    intercept[IllegalArgumentException](msgs.write.format("graft-topic").mode("overwrite").save(overwrite))
    assert(Topic.listFiles(overwrite).isEmpty, "nothing may be written")

    val default = Topic.tempDir("dsv2-sink-default")
    intercept[IllegalArgumentException](msgs.write.format("graft-topic").save(default))
    assert(Topic.listFiles(default).isEmpty, "nothing may be written")
  }

  test("restart from checkpoint resumes exactly after delivered files (durable discovery log)") {
    val sdir = Topic.tempDir("dsv2-restart")
    val ckpt = Topic.tempDir("dsv2-restart-ckpt")
    val outDir = Topic.tempDir("dsv2-restart-out")
    val all = EventsAsTopic.messagesFromEvents(spark, sf)
    val batch1 = all.filter($"sequenceNumber" <= 200)
    val batch2 = all.filter($"sequenceNumber" > 200 && $"sequenceNumber" <= 300)
    Topic.write(batch1, sdir, EventsAsTopic.cfg)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-topic").load(sdir)
        .select($"ulid_hex", $"position")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    runOnce() // run 1 delivers batch1
    Topic.write(batch2, sdir, EventsAsTopic.cfg)
    runOnce() // run 2 (fresh query, same checkpoint) must deliver ONLY batch2

    val out = spark.read.parquet(outDir).select($"ulid_hex").as[String].collect()
    assert(out.length === batch1.count() + batch2.count(),
      "a restart must not re-deliver files committed by the previous run")
    assert(out.distinct.length === out.length, "no duplicate deliveries across restarts")
  }

  test("the discovery log appends one segment per growth and a restart reads them back in order") {
    import java.nio.file.{Files, Paths}
    val sdir = Topic.tempDir("dsv2-seglog")
    val ckpt = Topic.tempDir("dsv2-seglog-ckpt")
    val all = EventsAsTopic.messagesFromEvents(spark, sf)
    def open(c: String) =
      new TopicMicroBatchStream(sdir, Long.MinValue, Long.MaxValue, TopicDataSource.Schema, c)
    def files(st: TopicMicroBatchStream, n: Long): Seq[String] =
      st.planInputPartitions(TopicOffset(0), TopicOffset(n))
        .flatMap(_.asInstanceOf[TopicInputPartition].filePaths).toSeq
    def seg(c: String, start: Long) = Paths.get(c, s"graft-discovery-$start.log")

    Topic.write(all.filter($"sequenceNumber" <= 200), sdir, EventsAsTopic.cfg)
    val first = open(ckpt)
    val n1 = first.latestOffset().asInstanceOf[TopicOffset].n
    val seg0 = Files.readAllBytes(seg(ckpt, 0))
    Topic.write(all.filter($"sequenceNumber" > 200 && $"sequenceNumber" <= 300), sdir, EventsAsTopic.cfg)
    val n2 = first.latestOffset().asInstanceOf[TopicOffset].n
    assert(n1 > 0 && n2 > n1)
    assert(java.util.Arrays.equals(Files.readAllBytes(seg(ckpt, 0)), seg0),
      "a later growth must not rewrite an earlier segment")
    val seg1 = new String(Files.readAllBytes(seg(ckpt, n1)), "UTF-8").split("\n").toSeq
    assert(seg1 === files(first, n2).drop(n1.toInt), "the second segment holds only the new names")

    val restarted = open(ckpt)
    assert(files(restarted, n2) === files(first, n2))
    assert(restarted.latestOffset() === TopicOffset(n2), "nothing new: no growth")

    // a single-file log from before segments is the segment at 0
    val legacy = Topic.tempDir("dsv2-seglog-legacy")
    Files.write(Paths.get(legacy, "graft-discovery.log"),
      files(first, n2).mkString("", "\n", "\n").getBytes("UTF-8"))
    val fromLegacy = open(legacy)
    assert(files(fromLegacy, n2) === files(first, n2))
    Topic.write(all.filter($"sequenceNumber" > 300 && $"sequenceNumber" <= 400), sdir, EventsAsTopic.cfg)
    val n3 = fromLegacy.latestOffset().asInstanceOf[TopicOffset].n
    assert(n3 > n2 && Files.exists(seg(legacy, n2)))
    assert(files(open(legacy), n3) === files(fromLegacy, n3))
  }

  test("a stream over more files than the partition cap plans at most the cap, exactly once across a restart") {
    val cap = Topic.readPartitionCap(spark.sparkContext)
    val sdir = Topic.tempDir("dsv2-cap")
    val ckpt = Topic.tempDir("dsv2-cap-ckpt")
    val outDir = Topic.tempDir("dsv2-cap-out")
    // one message per one-second file
    def batch(from: Int, n: Int): Seq[RawdataMessage] = (from until from + n).map { i =>
      val ts = 1700000000000L + i * 1000L
      val id = new Array[Byte](16)
      (0 until 6).foreach(k => id(k) = ((ts >>> (8 * (5 - k))) & 0xff).toByte)
      id(15) = (i & 0xff).toByte
      RawdataMessage(id, None, i.toLong, s"p$i", Map("d" -> Array(i.toByte)))
    }
    val cfg = TopicConfig(maxWindowMs = 1000L)
    Topic.write(batch(0, cap * 2 + 5), sdir, cfg)

    // planning: contiguous runs of discovered files, at most the cap
    val stream = new TopicMicroBatchStream(sdir, Long.MinValue, Long.MaxValue, TopicDataSource.Schema,
      Topic.tempDir("dsv2-cap-plan"))
    val parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
      .map(_.asInstanceOf[TopicInputPartition])
    assert(parts.length <= cap)
    assert(parts.flatMap(_.filePaths).toSeq === Topic.listFiles(sdir).map(_.path))

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-topic").load(sdir)
        .select($"ulid_hex", $"position")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    runOnce()
    Topic.write(batch(cap * 2 + 5, cap + 3), sdir, cfg)
    runOnce()

    val out = spark.read.parquet(outDir).select($"position").as[String].collect()
    assert(out.length === cap * 3 + 8)
    assert(out.distinct.length === out.length, "no duplicate deliveries across restarts")
  }

  test("SQL over the connector: the seek query shape via plain spark.sql") {
    spark.read.format("graft-topic").load(dir).createOrReplaceTempView("topic_v")
    val mid = Topic.listFiles(dir)(Topic.listFiles(dir).size / 2).fromTsMs
    val n = spark.sql(s"SELECT COUNT(*) FROM topic_v WHERE ts_ms >= $mid").as[Long].collect().head
    val expected = DriverDecode.messages(dir).count(m => Ulid.tsMs(m.id) >= mid)
    assert(n === expected)
  }

  test("hidden file_path column: the listed file of each row, never a pruned one") {
    val df = spark.read.format("graft-topic").load(dir)
    assert(!df.columns.contains("file_path"))
    assert(!Topic.readDF(spark, dir).columns.contains("file_path"))

    val files = Topic.listFiles(dir)
    val paths = df.select($"file_path").distinct().as[String].collect()
    assert(paths.sorted.toSeq === files.map(_.path).sorted)
    val perFile = df.groupBy($"file_path").count().as[(String, Long)].collect().toMap
    assert(perFile === files.map(f => f.path -> f.count).toMap)

    val cut = files(files.size / 2).fromTsMs + 1
    val kept = Topic.pruneFrom(files, cut).map(_.path).toSet
    assert(kept.size < files.size)
    val seen = df.filter($"ts_ms" >= cut).select($"file_path").distinct().as[String].collect().toSet
    assert(seen.nonEmpty && seen.subsetOf(kept), s"pruned files seen: ${seen -- kept}")
  }
}
