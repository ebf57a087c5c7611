package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Ownership handle for the MEMORY_AND_DISK caches a multi-branch operator
  * pins internally (Catalyst does not CSE subplans, so a subplan read by
  * two union/join branches is persisted inside [[Dedup.minhashNearDupPairs]],
  * [[Dedup.simhashNearDupPairs]], [[Dedup.dedupAgainstIndex]] and
  * [[Dedup.dropRepeatedParagraphs]]).
  *
  * Lifecycle: pass a fresh tracker, materialize the operator's returned
  * plan (write/collect), then call [[release]]. The default
  * [[CacheTracker.unmanaged]] documents the alternative — handles stay
  * pinned until `spark.catalog.clearCache()` or session teardown. That is
  * fine for one-shot jobs (the dominant batch-pipeline shape) but pins
  * block-manager space per invocation in a long-lived session, so repeated
  * callers should track and release. The two-phase sampling variants
  * ([[Sampling.mixToQuotasLarge]], [[Sampling.tokenBudgetLarge]]) need no
  * tracker: they run an internal action and release their caches
  * themselves.
  */
final class CacheTracker {
  private val owned = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val checkpointed = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  private[operators] def own[T <: Dataset[_]](d: T): T = synchronized {
    owned += d; d
  }

  /** Own an eager `localCheckpoint` result (r20, ADVICE r19): several
    * operators cut lineage with localCheckpoint instead of persist (flat
    * LogicalRDD leaves plan faster for multi-consumer subtrees — the
    * AllPairs/semDedup finding). TWO costs ride along, documented here
    * because they are invisible at the call sites:
    *
    *  - FAULT TOLERANCE: a local checkpoint truncates lineage, so losing
    *    an executor that held its blocks makes the result unrecoverable
    *    (fine for the one-shot batch queries these operators serve; a
    *    long-lived service should prefer reliable checkpoints).
    *  - LIFECYCLE: `Dataset.unpersist` does NOT free checkpoint blocks
    *    (the CacheManager never owned them) — untracked, they are freed
    *    only when the backing RDD is GC'd. This hook records the backing
    *    RDD and [[release]] unpersists it explicitly, so long-lived
    *    sessions can return the block-manager space.
    *
    * `d` must be the checkpoint itself (its plan's root a LogicalRDD):
    * only that RDD is recorded and later freed, so a tracked operator
    * never frees another operator's checkpoint its plan reads.
    */
  private[operators] def ownCheckpointed[T <: Dataset[_]](d: T): T = synchronized {
    checkpointed += CacheTracker.checkpointRdd(d); d
  }

  /** Unpersist every cache pinned since construction (idempotent). After
    * release the operator's returned plan must not be executed again — a
    * persisted subtree would still be correct but silently recompute the
    * shared subplans once per branch; a checkpointed one would FAIL
    * (its blocks are the data).
    */
  def release(): Unit = synchronized {
    owned.foreach(_.unpersist(blocking = false))
    owned.clear()
    checkpointed.foreach(_.unpersist(blocking = false))
    checkpointed.clear()
  }
}

object CacheTracker {
  /** A tracker nobody releases — the default for one-shot callers. */
  def unmanaged: CacheTracker = new CacheTracker

  /** The RDD whose blocks a `localCheckpoint` result reads: the root
    * LogicalRDD of its plan. Anything else is refused — a plan composed
    * over a checkpoint does not own it.
    */
  private[operators] def checkpointRdd(d: Dataset[_]): RDD[_] =
    d.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case p => throw new IllegalArgumentException(
        s"not a localCheckpoint result: plan root is ${p.nodeName}")
    }

  /** Free a `localCheckpoint` result's blocks, which `Dataset.unpersist`
    * cannot (see [[CacheTracker.ownCheckpointed]]). Only for checkpoints
    * no live plan reads any more.
    */
  private[operators] def freeCheckpoint(d: Dataset[_]): Unit =
    checkpointRdd(d).unpersist(blocking = false)
}
