package graft.e2e

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.rawdata.{GraftRawdataClient, RawdataMessage, TopicConfig}

/** The build step's training run for the JVM class-data archive: touches
  * the parquet, topic, SQL and streaming paths once, so a benchmark JVM
  * maps their classes from the archive instead of loading them.
  */
object ClassArchive {
  def train(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/class-archive"
    spark.range(0L, 1000L).selectExpr("id", "CAST(id AS STRING) AS s", "id % 7 AS k")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    spark.read.parquet(s"$dir/t.parquet").groupBy("k").agg(count(lit(1)), max("s"))
      .join(spark.read.parquet(s"$dir/t.parquet"), "k").orderBy("id").limit(5).collect(): Unit
    val client = new GraftRawdataClient(spark, dir)
    val msgs = (0 until 20).map { i =>
      val id = new Array[Byte](16)
      id(5) = i.toByte
      RawdataMessage(id, None, 0L, s"p$i", Map("text" -> s"message $i".getBytes("UTF-8")))
    }
    client.producer("t", TopicConfig(maxWindowMs = 1000L))
      .publish(spark.createDataset(msgs)(Encoders.product[RawdataMessage]).toDF())
    spark.read.format("graft-topic").load(client.topicDir("t")).filter(col("ts_ms") >= 0L).count(): Unit
    client.lastMessage("t")
    val q = client.consumer("t").tail.toDF().writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .format("noop").start()
    q.processAllAvailable()
    q.stop()
    client.close()
    CorpusPipeline.rmTree(new java.io.File(dir))
  }
}
