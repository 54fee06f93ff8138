package graft

import org.apache.spark.sql.DataFrame

/** Registry for operator-internal caches so harnesses can release them
  * per query without nuking the whole catalog cache.
  *
  * Operators that read an intermediate more than once (dedup signature
  * tables, IVF cell assignments) persist it via [[cached]]. Bench warms
  * the BASE table scans once for the whole run (a buffer pool, the same
  * advantage the DuckDB oracle gets from the OS page cache) but must
  * drop each query's own intermediates between timed samples —
  * otherwise the min over samples would time a cache read, not the
  * operator.
  * `spark.catalog.clearCache()` can't make that distinction; this
  * registry can.
  */
object CacheScope {
  private val tracked = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Persist `df` and remember it for the next [[flush]]. */
  def cached(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df.cache()
  }

  /** Unpersist every tracked intermediate (blocking, so a bench sample
    * never overlaps the previous sample's eviction I/O).
    */
  def flush(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = true))
    tracked.clear()
  }
}
