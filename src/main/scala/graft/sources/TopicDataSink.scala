package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftbridge.MicroBatchBridge

import graft.rawdata.{Topic, TopicConfig}

/** `df.writeStream.format("graft-topic")` — the reference producer's
  * continuous mode: every micro-batch is one `Topic.write`. Delivery is
  * effectively-once: `replay = true` lets an epoch replayed after a
  * restart converge on the files its first attempt committed
  * (TopicSinkStreamSpec and TornMaintenanceSpec prove both restart shapes).
  */
final class TopicSink(path: String, cfg: TopicConfig) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    TopicSink.requireMessageColumns(data)
    Topic.write(MicroBatchBridge.asBatch(data), path, cfg, replay = true): Unit
  }
}

/** The connector's write side. Both sinks hand their rows to
  * `Topic.write`, so they land exactly the files `publish(df)` lands for
  * the same messages.
  */
object TopicSink {

  private val MessageColumns = Seq("id", "orderingGroup", "sequenceNumber", "position", "data")

  def path(options: Map[String, String]): String =
    options.getOrElse("path", throw new IllegalArgumentException("graft-topic sink requires a path"))

  /** the rolling config from the sink's three options */
  def config(options: Map[String, String]): TopicConfig = {
    val d = TopicConfig()
    def opt(key: String, default: Long) = options.get(key).fold(default)(_.toLong)
    TopicConfig(opt("maxWindowMs", d.maxWindowMs), opt("maxBytes", d.maxBytes),
      opt("syncIntervalBytes", d.syncIntervalBytes))
  }

  /** the five message columns; others (a `graft-topic` read's `ulid_hex`
    * and `ts_ms`) are ignored
    */
  def requireMessageColumns(data: DataFrame): Unit = {
    val missing = MessageColumns.filterNot(data.columns.contains)
    require(missing.isEmpty,
      s"graft-topic sink requires message columns ${MessageColumns.mkString(", ")}; missing: ${missing.mkString(", ")}")
  }

  /** `df.write.format("graft-topic").mode("append").save(dir)`: a topic
    * is append-only, so any other mode fails before anything is written.
    */
  def writeBatch(mode: SaveMode, options: Map[String, String], data: DataFrame): Unit = {
    require(mode == SaveMode.Append, s"graft-topic sink supports only SaveMode.Append, got $mode")
    requireMessageColumns(data)
    Topic.write(data, path(options), config(options)): Unit
  }
}
