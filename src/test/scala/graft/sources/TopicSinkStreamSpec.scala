package graft.sources

import graft.SparkSpec
import graft.rawdata.{EventsAsTopic, Topic}

/** The connector's STREAMING write side: a stream→topic mirror must
  * produce a byte-compatible topic (same rolling + commit protocol as
  * the batch sink) and must not duplicate messages across query
  * restarts — replayed epochs converge on the committed files.
  */
class TopicSinkStreamSpec extends SparkSpec {
  import spark.implicits._

  test("writeStream format(graft-topic): topic mirror, exactly-once across restarts") {
    val src = Topic.tempDir("sink-stream-src")
    val dest = Topic.tempDir("sink-stream-dest")
    val ckpt = Topic.tempDir("sink-stream-ckpt")
    val all = EventsAsTopic.messagesFromEvents(spark, sf)
    val batch1 = all.filter($"sequenceNumber" <= 200)
    val batch2 = all.filter($"sequenceNumber" > 200 && $"sequenceNumber" <= 300)
    Topic.write(batch1, src, EventsAsTopic.cfg)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-topic").load(src)
        .select($"id", $"orderingGroup", $"sequenceNumber", $"position", $"data")
        .writeStream.format("graft-topic")
        .option("checkpointLocation", ckpt)
        .option("path", dest)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    runOnce() // mirrors batch1
    Topic.write(batch2, src, EventsAsTopic.cfg)
    runOnce() // fresh query, same checkpoint: mirrors ONLY batch2

    val a = Topic.readDF(spark, src)
      .select($"ulid_hex", $"position", $"sequenceNumber").collect().toSet
    val b = Topic.readDF(spark, dest)
      .select($"ulid_hex", $"position", $"sequenceNumber").collect()
    assert(b.length === a.size, "no duplicate deliveries across restarts")
    assert(b.toSet === a, "mirrored topic must carry the same messages")

    // the reference-format invariants hold on the streamed files too
    val f = Topic.listFiles(dest).head
    val msgs = graft.rawdata.AvroCodec.readFile(f.path, graft.rawdata.HadoopIO.conf()).toSeq
    val hexes = msgs.map(_.id.map("%02x".format(_)).mkString)
    assert(hexes === hexes.sorted, "within-file ULID order")
  }

  test("writeStream format(graft-topic) rejects Complete output mode: a topic is append-only") {
    val counts = spark.readStream.format("graft-topic").load(Topic.tempDir("sink-complete-src"))
      .groupBy($"position").count()
    val ex = intercept[IllegalArgumentException](counts.writeStream.format("graft-topic")
      .option("checkpointLocation", Topic.tempDir("sink-complete-ckpt"))
      .option("path", Topic.tempDir("sink-complete-dest"))
      .outputMode("complete").start())
    assert(ex.getMessage.contains("Complete output mode"), ex.getMessage)
  }
}
