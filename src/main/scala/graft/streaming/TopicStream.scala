package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.rawdata.{RawdataMessage, Topic, Ulid}

/** Structured-Streaming tail of a rawdata topic — the consumer's
  * "wait for new files" loop (reference AvroRawdataConsumer.receive,
  * :71-96, which polls the file listing) re-expressed as a stream over
  * the graft-topic DataSource V2 connector: each trigger lists the topic
  * once, newly landed Avro files become that micro-batch's partitions,
  * and records stream straight out of the Avro decoder (the earlier
  * binaryFile form materialized each whole file as one row first).
  * Scale: one name read per trigger (new names parsed); decode parallelism = files per batch.
  */
object TopicStream {

  /** Unbounded Dataset of messages from a topic directory. */
  def messages(spark: SparkSession, topicDir: String): Dataset[RawdataMessage] =
    Topic.messagesOf(spark.readStream.format("graft-topic").load(topicDir))

  /** Exactly-once-style tail: duplicate deliveries (re-uploaded files,
    * producer retries — the reference consumer deduplicates by ULID on
    * resume) are dropped by id within the watermark horizon. State is
    * bounded by the horizon, not the stream length.
    */
  def dedupedMessages(spark: SparkSession, topicDir: String, watermark: String = "1 hour"): DataFrame =
    messages(spark, topicDir).toDF()
      .withColumn("ulid_hex", lower(hex(col("id"))))
      .withColumn("ts", timestamp_millis(Ulid.timestampMs(col("id"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("ulid_hex")

  /** Tumbling-window message counts per ordering group with a watermark —
    * the canonical streaming aggregation over a tailed topic.
    */
  def windowedCounts(spark: SparkSession, topicDir: String, window: String = "1 day",
      watermark: Option[String] = None): DataFrame = {
    val msgs = messages(spark, topicDir).toDF()
      .withColumn("ts", timestamp_millis(Ulid.timestampMs(col("id"))))
    msgs
      // late-data bound follows the aggregation window unless overridden —
      // a fixed 1-day delay would drop late data for windows > 1 day and
      // hold short windows back a full day before final emission.
      .withWatermark("ts", watermark.getOrElse(window))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("orderingGroup"))
      .agg(count(lit(1)).as("n"))
  }

  case class SeqMsg(orderingGroup: String, sequenceNumber: Long)
  case class Gap(orderingGroup: String, fromSeq: Long, missing: Long)
  /** per-group high-watermark (public: the state encoder's generated
    * code needs accessor visibility)
    */
  case class SeqSeen(maxSeq: Long)

  /** Streaming sequence-gap audit — rd_gap_detect's streaming twin: the
    * consumer-side integrity monitor that flags missing sequence numbers
    * AS the topic is tailed instead of in a nightly batch audit. State
    * is ONE long per ordering group (the sequence high-watermark) —
    * O(groups) forever, no timeout (a group's sequence never resets).
    *
    * Ordering deviation, stated: rows are sorted by sequence WITHIN each
    * micro-batch (so a one-batch replay emits exactly the batch
    * operator's gap set — StreamGapSpec proves the totals match); across
    * batches the gate sees arrival order, so a gap later filled by an
    * out-of-order delivery stays reported — the gate is the alert, the
    * batch audit is the reconciler (the same split documented for the
    * near-dup gates).
    */
  def gaps(msgs: DataFrame): Dataset[Gap] = {
    implicit val stEnc: org.apache.spark.sql.Encoder[SeqSeen] = Encoders.product[SeqSeen]
    implicit val outEnc: org.apache.spark.sql.Encoder[Gap] = Encoders.product[Gap]
    implicit val inEnc: org.apache.spark.sql.Encoder[SeqMsg] = Encoders.product[SeqMsg]
    msgs.select(col("orderingGroup"), col("sequenceNumber")).as[SeqMsg]
      .groupByKey(_.orderingGroup)(Encoders.STRING)
      .flatMapGroupsWithState[SeqSeen, Gap](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (group: String, batch: Iterator[SeqMsg],
            state: org.apache.spark.sql.streaming.GroupState[SeqSeen]) =>
          var last = state.getOption.map(_.maxSeq).getOrElse(Long.MinValue)
          val out = Seq.newBuilder[Gap]
          batch.toSeq.sortBy(_.sequenceNumber).foreach { m =>
            if (last != Long.MinValue && m.sequenceNumber > last + 1)
              out += Gap(group, last + 1, m.sequenceNumber - last - 1)
            if (m.sequenceNumber > last) last = m.sequenceNumber
          }
          state.update(SeqSeen(last))
          out.result().iterator
      }
  }
}
