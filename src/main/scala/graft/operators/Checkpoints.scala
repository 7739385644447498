package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge

/** The one owner of pin lifetime. A pin is `Dataset.localCheckpoint`: the
  * materialized rows cached as RDD blocks in the block manager, with the
  * lineage truncated. `Dataset.unpersist()` does NOT release them (it only
  * clears CacheManager entries; checkpoint caching happens a level below),
  * so every pin is released through this object, by exactly one rule:
  *
  *  - inside a [[scope]] (every main runs each query in one, through
  *    `Harness.guard`; functions whose pins never escape open their own)
  *    the pin is released when the scope's body returns or throws;
  *  - a loop round, or an intermediate whose consumers have all finished
  *    or been re-pinned, is released early with [[release]];
  *  - [[graft.queries.StateOnce]] builds run [[unscoped]]: their pins
  *    serve every later execution in the session;
  *  - with no scope open, Spark's ContextCleaner drops the blocks once the
  *    frame is garbage-collected.
  *
  * Local mode is assumed throughout: a pin whose blocks are lost (an
  * executor dies) cannot recompute, because its lineage is gone.
  */
private[graft] object Checkpoints {

  /** The open scopes on this thread, innermost first. */
  private val scopes = new ThreadLocal[List[ArrayBuffer[RDD[_]]]] {
    override def initialValue(): List[ArrayBuffer[RDD[_]]] = Nil
  }

  private def root(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** `df.localCheckpoint`, registered with the innermost open scope. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint()
    scopes.get match {
      case open :: _ => open ++= root(p)
      case Nil =>
    }
    p
  }

  /** Runs `body`, then releases every pin made inside it (and not inside
    * a nested scope). A frame `body` returns must not read those pins once
    * the scope has closed. */
  def scope[A](body: => A): A = {
    val outer = scopes.get
    val mine = ArrayBuffer.empty[RDD[_]]
    scopes.set(mine :: outer)
    try body
    finally {
      scopes.set(outer)
      // a stopped context has no blocks left, and unpersisting on it
      // would throw over the body's own failure
      mine.foreach(r => if (!r.sparkContext.isStopped) unpersist(r))
    }
  }

  /** Runs `body` with every open scope suspended: its pins outlive them. */
  def unscoped[A](body: => A): A = {
    val outer = scopes.get
    scopes.set(Nil)
    try body finally scopes.set(outer)
  }

  /** Releases the blocks behind a pinned frame now. Safe only once every
    * consumer has finished or been re-pinned — the loop shape
    * `val prev = state; state = pin(step(state)); release(prev)`, the new
    * pin materialized before the release.
    *
    * Acts only when the frame's ROOT is the checkpoint leaf (what [[pin]]
    * returns): walking an arbitrary derived plan would also release any
    * SHARED pins it references (e.g. a loop's static edge table). No-op on
    * anything else. */
  def release(df: DataFrame): Unit = root(df).foreach(unpersist)

  /** Drops a pin's blocks without `RDD.unpersist`, which logs a WARN for
    * every locally checkpointed RDD (its lineage cannot recompute) — the
    * expected state of every pin this object releases. */
  private def unpersist(r: RDD[_]): Unit = Bridge.unpersistRDD(r)
}
