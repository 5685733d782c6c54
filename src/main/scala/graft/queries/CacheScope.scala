package graft.queries

/** Cache scope for iterative query builders: persist intermediates for
  * full reuse while the rounds run, materialize the (small) final
  * relation ONCE as a localCheckpoint, then release every persisted
  * intermediate — the returned plan reads the checkpoint, so callers
  * composing queries in a long-lived session inherit ZERO pinned
  * cache-manager entries (CacheScopeSpec), and the loop pays persist
  * prices, not per-round eager-checkpoint prices.
  */
object CacheScope {
  def scoped(persisted: Seq[org.apache.spark.sql.DataFrame])(
      result: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pinned = result.localCheckpoint(true)
    persisted.foreach(_.unpersist(): Unit)
    pinned
  }
}
