package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place a frame is pinned: every stage that several plans (or
  * several rounds of an iteration) read goes through here, so the policy
  * below is stated and applied once.
  *
  * Which pin:
  *  - [[Scope.cache]] keeps the lineage. A lost executor recomputes the
  *    block, so use it when the pin must survive executor loss and
  *    every consumer re-planning the cached subtree is affordable.
  *  - [[truncate]] cuts the lineage: each consumer plans against a
  *    `LogicalRDD` leaf instead of re-optimizing the whole upstream
  *    subtree. Use it when plan truncation matters (iterations whose
  *    plan would grow per round, stages read by many actions).
  *
  * Local vs reliable: a truncation is a reliable `checkpoint` when the
  * session has a checkpoint dir (`SparkContext.setCheckpointDir`), so a
  * run on a cluster survives executor loss; otherwise it is a
  * `localCheckpoint` (executor-local MEMORY_AND_DISK blocks, fast, but
  * unrecoverable once an executor is lost). There is no other switch.
  *
  * Eager vs lazy, for both kinds: `eager = true` materializes the blocks
  * with a job of its own right away; `eager = false` only marks the frame,
  * and the first job that reads it materializes the blocks (one job per
  * round instead of two in an iteration, and nothing at all if no one
  * reads it). A truncation defaults to eager, a cache to lazy. An eager
  * cache also matters to plans built over it later: under AQE a cached
  * plan reports `UnknownPartitioning` until it has run, so only a consumer
  * planned after the blocks exist can reuse the cached frame's
  * partitioning instead of shuffling it again.
  *
  * Release: a [[Scope]] collects the pins of one run and `release()`
  * drops them newest first with a blocking unpersist. A truncated frame
  * must not be read after `release()`: its blocks are gone and it has no
  * lineage to recompute them from. A cached frame stays readable; it
  * recomputes. Unscoped truncations are freed by the ContextCleaner once
  * the frame is unreferenced.
  */
object Pin {

  /** Lineage truncation under the local-vs-reliable rule above. */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** A new, empty run-scoped set of pins. */
  def scope(): Scope = new Scope

  final class Scope private[Pin] () {
    private val drops = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    /** `df.cache()`, dropped by [[release]]; `eager` fills the blocks now.
      * A fill that throws drops the entry before rethrowing, since the
      * caller never gets a frame (or a scope) to release.
      */
    def cache(df: DataFrame, eager: Boolean = false): DataFrame = {
      drops += (() => df.unpersist(blocking = true))
      df.cache()
      if (eager) try df.count() catch {
        case e: Throwable => df.unpersist(blocking = true); throw e
      }
      df
    }

    /** [[Pin.truncate]], dropped by [[release]]. A Dataset-level
      * unpersist is a no-op for a checkpoint, so the release unpersists
      * the `LogicalRDD`'s backing RDD.
      */
    def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
      val p = Pin.truncate(df, eager)
      drops += (() => p.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
        .foreach(_.unpersist(blocking = true)))
      p
    }

    /** Drops every pin registered so far, newest first, blocking until
      * the blocks are gone. Safe to call more than once.
      */
    def release(): Unit = { drops.reverseIterator.foreach(_()); drops.clear() }
  }
}
