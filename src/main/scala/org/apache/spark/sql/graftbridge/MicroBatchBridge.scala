package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** A streaming sink's micro-batch as a plain batch DataFrame, built the
  * way Spark's own foreachBatch sink builds it (`LogicalRDD.fromDataset`
  * and `Dataset.ofRows` are `private[sql]`). The batch can then take any
  * batch operator — a shuffle, a window, a collect — which the
  * incremental plan handed to `Sink.addBatch` cannot.
  */
object MicroBatchBridge {
  def asBatch(data: DataFrame): DataFrame = {
    val ds = castToImpl(data)
    ClassicDataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
