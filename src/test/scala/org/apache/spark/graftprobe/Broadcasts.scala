package org.apache.spark.graftprobe

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test probe into the driver's block manager (`private[spark]`): the
  * values of the broadcasts it still holds. Lets a spec prove that a code
  * path released a broadcast instead of leaving it to the context cleaner.
  */
object Broadcasts {
  def liveValues(): Seq[Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap(id => bm.getLocalValues(id).map(_.data.toList).getOrElse(Nil))
  }
}
