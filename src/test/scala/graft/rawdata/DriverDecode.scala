package graft.rawdata

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** The independent reference the topic-read specs check against: every
  * listed file decoded on the driver with [[AvroCodec]], without the
  * graft-topic scan that `Topic.readDF`, `seek`, `afterCursor` and the
  * other reads are built on.
  */
object DriverDecode {
  def messages(dir: String): Seq[RawdataMessage] =
    Topic.listFiles(dir).flatMap(f => AvroCodec.readFile(f.path, HadoopIO.conf()))

  /** [[messages]] as a frame, with `ulid_hex` and `ts_ms` from the SQL ULID expressions */
  def frame(spark: SparkSession, dir: String): DataFrame =
    spark.createDataset(messages(dir))(Encoders.product[RawdataMessage]).toDF()
      .withColumn("ulid_hex", Ulid.hexOf(col("id")))
      .withColumn("ts_ms", Ulid.timestampMs(col("id")))
}
