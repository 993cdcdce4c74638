package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Cache discipline shared by the graft operators: an operator that
  * persists intermediates must not leak them past its own return
  * (measured failure mode: stale cached blocks of one operator evicted
  * the next workload's execution memory and turned a 14 s join into
  * 195 s).
  *
  * Two shapes of result:
  *  - materialized: persist the (output-sized, small) RESULT, force it
  *    with one count, drop every intermediate ([[materializeAndRelease]]);
  *  - truncated: an iterative operator's eager `localCheckpoint`, tagged
  *    with [[own]] (connected components).
  * The caller releases either with [[release]] when done — specs assert
  * nothing else stays behind. For the lazy operator results (knnJoin,
  * bruteTopK) `release` is a harmless call.
  */
object Caching {

  /** Materialize `result`, then release `intermediates`. */
  def materializeAndRelease(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  // RDD ids of localCheckpoint leaves the graft operators created
  // themselves (via own()). release() only unpersists leaf RDDs on this
  // list: checkpoint blocks are UNRECOVERABLE, so blindly unpersisting
  // every LogicalRDD leaf of an arbitrary frame could poison another
  // still-live consumer sharing a caller-made checkpoint (Bench.exec
  // calls release() on arbitrary workload results).
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Tag a graft-made localCheckpoint frame's leaf RDDs as owned by the
    * engine, making them eligible for [[release]].
    */
  def own(df: DataFrame): DataFrame = {
    df.queryExecution.logical.collectLeaves().foreach {
      case l: LogicalRDD => owned.add(l.rdd.id)
      case _ => ()
    }
    df
  }

  /** Release a frame returned by a graft operator: drops its registered
    * cache (`persist`), plus any localCheckpoint blocks behind the plan's
    * LogicalRDD leaves — but ONLY leaves the graft operators created
    * (tagged via [[own]]). Checkpoint blocks are not in the CacheManager,
    * so a bare `Dataset.unpersist()` cannot reach them; and a
    * caller-made checkpoint leaf is the caller's property — releasing it
    * here would unrecoverably poison any other consumer of that frame.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical.collectLeaves().foreach {
      case l: LogicalRDD if owned.remove(l.rdd.id) => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
