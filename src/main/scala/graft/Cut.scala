package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** How an intermediate is stored and when it is released, decided in one
  * place. A site that computes a frame once for several consumers or
  * several rounds picks one of these shapes:
  *
  *  - [[eager]]: an eager local checkpoint. It materializes now,
  *    truncates lineage, and keeps its blocks outside the CacheManager:
  *    the ContextCleaner frees them once the returned frame is
  *    garbage-collected, so nothing is left to release. This is the cut
  *    for a frame that a returned plan still reads.
  *  - [[scoped]]: persisted for the duration of a body and released in a
  *    `finally`, whether the body returns or throws. The body's result
  *    must not read the persisted frame lazily.
  *  - [[rounds]]: iterative state, one persisted generation at a time.
  *    Each new generation is persisted and materialized before the
  *    previous one is released, and the survivor is released when the
  *    loop ends, by result or by throw.
  *  - [[retained]]: persisted, with the release owned by the store that
  *    keeps the frame ([[Derived]] unpersists an entry it replaces).
  *
  * Storage policy. Persisted frames are held at MEMORY_AND_DISK: a block
  * that does not fit in memory spills to local disk rather than being
  * recomputed from lineage. Eager cuts keep their blocks on the executor
  * that computed them, with no replica; a lost executor fails later
  * reads of the cut.
  */
object Cut {
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** `ds` materialized now as a local checkpoint; GC-released, never a
    * CacheManager entry. */
  def eager[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)

  /** `body` over `ds` persisted; released when `body` ends. */
  def scoped[T, R](ds: Dataset[T])(body: Dataset[T] => R): R = {
    val held = ds.persist(Level)
    try body(held) finally held.unpersist()
  }

  /** `ds` persisted, for a store that releases it itself. */
  def retained[T](ds: Dataset[T]): Dataset[T] = ds.persist(Level)

  /** The live generation of a [[rounds]] loop. */
  final class Generations[T] private[Cut] (private var live: Dataset[T]) {
    /** The persisted current generation. */
    def current: Dataset[T] = live

    /** Make `plan` the current generation: persist it, run `materialize`
      * (which must touch every partition, so the blocks are cached before
      * the parent is dropped), then release the previous generation. */
    def advance[A](plan: Dataset[T])(materialize: Dataset[T] => A): A = {
      val prev = live
      live = plan.persist(Level)
      try materialize(live) finally prev.unpersist()
    }
  }

  /** `body` over iterative state that starts at `init`; the generation
    * alive when `body` ends is released. An `init` that is already
    * persisted (a [[scoped]] frame) is adopted as the first generation
    * rather than persisted again, and is released like any other. */
  def rounds[T, R](init: Dataset[T])(body: Generations[T] => R): R = {
    val g = new Generations(
      if (init.storageLevel != StorageLevel.NONE) init else init.persist(Level))
    try body(g) finally g.current.unpersist()
  }
}
