package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.DynamicVariable

/** The one cache owner of graft's operators: every `persist` in the
  * operators goes through [[pin]], and every release through [[scoped]].
  *
  * CACHE LIFETIME (ADVICE r8; split tested both ways in r9):
  * LOOP-INVARIANT and multi-consumer relations (edge lists, degrees,
  * node tables, MinHash/SimHash signatures, LSH bucket keys, hashed
  * token streams, LTTB candidates) are pinned at `MEMORY_AND_DISK` —
  * with a disk-backed level, memory eviction SPILLS the blocks, it
  * does not trigger recompute, and plan-keyed CacheManager entries are
  * shared across repeated builds over the same input (an r9 experiment
  * that localCheckpoint'ed the graph invariants instead paid the full
  * invariant materialization on every execution — 4-6× on the 100×
  * full-supply-graph entries — for no robustness gain, and was
  * reverted). The operator itself cannot unpersist a pin without
  * forcing execution, since the returned lazy plan still references
  * it, so the release belongs to whoever runs the plan:
  *   - inside [[scoped]] (and [[GraphOps.materialized]], which runs its
  *     build in one), a fresh pin belongs to the innermost scope on
  *     this thread, which unpersists exactly its own pins on exit;
  *   - outside any scope a pin is a plain persist the caller owns
  *     (`unpersist`, or `spark.catalog.clearCache()` once it has
  *     materialized) — `Verify` and `Bench` rely on that to share
  *     plan-keyed pins across the entries of one pass;
  *   - a plan already cached is returned as is: it stays with whoever
  *     cached it, and no scope ever releases it.
  * There is no global registry: a build on a thread the scope did not
  * start keeps its cache. LOOP-SCOPED state (each round's ranks,
  * labels or frontier, and the HITS vectors whose lazy tree otherwise
  * doubles per half-step) is not pinned: the round runners in
  * [[Fixpoint]] `localCheckpoint` it — lineage truncation is what
  * iterative plans need. The runner hands every round the states
  * before it, so they stay referenced until the operator's build
  * returns; the ContextCleaner reclaims them once it drops them.
  */
object Pins {

  /** The pins of the innermost [[scoped]] body running on this thread
    * (None outside any scope). */
  private val scope =
    new DynamicVariable[Option[ConcurrentLinkedQueue[DataFrame]]](None)

  /** Persist `df` at `MEMORY_AND_DISK`, owned by the innermost scope —
    * unless its plan is already cached, in which case `df` is returned
    * unchanged and the entry stays with whoever cached it. */
  def pin(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      scope.value.foreach(_.add(p))
      p
    }

  /** Run `body`, then release (non-blocking unpersist) exactly the pins
    * `body` made. `body` must not hand out a lazy plan over them: what
    * leaves the scope is driver-side or checkpointed. */
  def scoped[T](body: => T): T = {
    val pins = new ConcurrentLinkedQueue[DataFrame]()
    try scope.withValue(Some(pins))(body)
    finally pins.forEach(_.unpersist(false))
  }
}
