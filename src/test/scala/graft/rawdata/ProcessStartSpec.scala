package graft.rawdata

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.Path
import org.apache.spark.graftprobe.ProcfsPageSize
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.CleanStream

/** Local file I/O starts no external process. Hadoop's
  * `RawLocalFileSystem` forks `chmod` per create/mkdirs and `readlink`
  * per link-status call when libhadoop's native library is not loaded;
  * the session's `file:` file systems ([[ForkFreeLocalFileSystem]] and its
  * FileContext twin) must not. Each case records `jdk.ProcessStart` with
  * JFR around one write path and expects no event.
  */
class ProcessStartSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1700000000000L
  private val Cfg = TopicConfig(maxWindowMs = 1000L)

  /** the commands of the processes the JVM started while `body` ran
    * (the session and Spark's once-per-JVM page-size probe are started
    * first: they fork), except Spark's artifact-directory clean-up (see
    * [[artifactCleanup]])
    */
  private def processStarts(body: => Unit): Seq[String] = {
    spark.sparkContext
    ProcfsPageSize.init()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.filterNot(artifactCleanup).map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** Spark's `ArtifactManager$StateCleanupRunner` deletes an earlier
    * session's artifact directory (`rm -rf /tmp/artifacts-...`) on the
    * JVM's Cleaner thread whenever the GC collects that session's
    * ArtifactManager: a start the write under test did not cause, at a
    * moment no test controls. Only starts with that class on the stack
    * are ignored.
    */
  private def artifactCleanup(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
      _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))

  private def messages(n: Int): Seq[RawdataMessage] = (0 until n).map { i =>
    val ts = T0 + i * 500L
    val id = new Array[Byte](16)
    (0 until 6).foreach(k => id(k) = ((ts >>> (8 * (5 - k))) & 0xff).toByte)
    id(15) = i.toByte
    RawdataMessage(id, None, i.toLong, f"pos-$i%04d",
      Map("text" -> s"document number $i says something about topic ${i % 3} in plain words".getBytes("UTF-8"),
        "source" -> s"src-${i % 2}".getBytes("UTF-8")))
  }

  test("the recording sees a process start (control)") {
    assert(processStarts(new ProcessBuilder("true").start().waitFor(): Unit).size === 1)
  }

  test("a driver-held Topic.write and a publish(df) start no process") {
    val dir = Topic.tempDirUri("ps-write")
    assert(processStarts(Topic.write(messages(20), dir, Cfg): Unit) === Nil)
    val client = new GraftRawdataClient(spark, Topic.tempDir("ps-publish"), Cfg)
    try {
      val df = spark.createDataset(messages(20)).toDF()
      assert(processStarts(client.producer("t").publish(df): Unit) === Nil)
      assert(Topic.listFiles(client.topicDir("t")).nonEmpty)
    } finally client.close()
  }

  test("a checkpointed CleanStream micro-batch over a topic tail starts no process and keeps its checksums") {
    val client = new GraftRawdataClient(spark, Topic.tempDir("ps-stream"), Cfg)
    val ckpt = Topic.tempDir("ps-stream-ckpt")
    try {
      val producer = client.producer("t")
      val msgs = messages(20)
      producer.buffer(msgs: _*)
      producer.publish(msgs.map(_.position): _*)
      val tail = client.consumer("t").tail.toDF()
        .select($"position".as("doc_id"),
          decode($"data"("text"), "UTF-8").as("text"),
          decode($"data"("source"), "UTF-8").as("source"),
          timestamp_millis(Ulid.timestampMs($"id")).as("ts"))
      var rows = 0L
      val started = processStarts {
        val q = CleanStream.cleanedDocs(tail).writeStream
          .format("memory").queryName("ps_clean").outputMode("append")
          .option("checkpointLocation", ckpt).start()
        try {
          q.processAllAvailable()
          rows = q.recentProgress.map(_.numInputRows).sum
        } finally q.stop()
      }
      assert(started === Nil)
      assert(rows === 20)
      // the FileContext side keeps ChecksumFs: offset, commit and
      // state-store delta files still get their .crc files
      val c = new java.io.File(ckpt)
      assert(new java.io.File(c, "offsets/.0.crc").isFile)
      assert(new java.io.File(c, "commits/.0.crc").isFile)
      val deltaCrcs = Option(new java.io.File(c, "state/0").listFiles).toSeq.flatten
        .flatMap(p => Option(p.listFiles).toSeq.flatten).map(_.getName).filter(_ == ".1.delta.crc")
      assert(deltaCrcs.nonEmpty, "state-store deltas keep their checksum files")
      // topic files go through the raw layer: no checksum files
      assert(Option(new java.io.File(client.topicDir("t")).list).toSeq.flatten.filter(_.endsWith(".crc")) === Nil)
    } finally client.close()
  }

  test("a parquet write starts no process") {
    val out = Topic.tempDirUri("ps-parquet") + "/out"
    assert(new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForkFreeLocalFileSystem])
    assert(processStarts(spark.range(100).repartition(4).write.parquet(out)) === Nil)
    assert(spark.read.parquet(out).count() === 100)
  }
}
