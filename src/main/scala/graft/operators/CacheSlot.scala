package graft.operators

import org.apache.spark.sql.DataFrame

/** One-slot registry for an operator family's in-memory frame (the
  * band table of the banded similarity operators, the LM instance
  * frame, the BM25 index). Session-lifetime `.cache()` frames would
  * otherwise accumulate one entry per operator call: each [[claim]]
  * unpersists the previous entry, [[release]] frees the last one.
  * Unpersisting a cached (not checkpointed) frame is recompute-safe:
  * a still-unconsumed earlier result rebuilds it from lineage.
  *
  * One slot means CONSUME-BEFORE-NEXT-CONSTRUCTION: constructing a
  * second operator of the family before consuming the first's result
  * un-caches the first (correct, but the recompute the slot exists to
  * prevent). Families that are built interleaved take separate slots.
  */
private[graft] final class CacheSlot {

  private val slot =
    new java.util.concurrent.atomic.AtomicReference[Option[DataFrame]](None)

  /** Unpersist the held frame, if any, and empty the slot. */
  def release(): Unit =
    slot.getAndSet(None).foreach { df =>
      // the slot is static: the frame may belong to an already-stopped
      // SparkContext (session cycled in-process) — a stale unpersist
      // must not fail the NEXT session's operator construction
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Persist `plan` and hold it, releasing the previous entry FIRST: a
    * repeated identical call (Bench trials) produces a sameResult-equal
    * plan whose persist() shares the existing CacheManager entry —
    * unpersisting the old frame afterwards would delete that shared
    * entry and leave the new call fully uncached.
    */
  def claim(plan: DataFrame): DataFrame = {
    release()
    val cached = plan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // CAS-RETRY, never set() and never self-unpersist: set() would
    // silently overwrite a concurrent construction's entry (leaking
    // its persisted blocks for the session), and unpersisting our own
    // frame on a lost race would also kill a sameResult-SHARED
    // CacheManager entry (identical concurrent plans persist onto one
    // entry), destroying the winner's caching too. Evict the other
    // claim and retry — last claim wins, the sequential one-slot
    // semantics.
    while (!slot.compareAndSet(None, Some(cached))) release()
    cached
  }
}
