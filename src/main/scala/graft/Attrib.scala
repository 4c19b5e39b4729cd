package graft

import scala.collection.mutable

/** Per-query attribution notes: a tiny thread-safe key→value registry
  * that operators write during execution and [[Bench]] drains after each
  * timed pass into the bench JSON's `attrib` object.
  *
  * Exists because a bench number alone cannot answer "which internal
  * path ran?" — the round-12 verdict's canonical_resolve sf1 doubling
  * was unattributable precisely because nothing recorded whether the
  * driver fast path or the distributed fixpoint executed. Operators
  * with guarded fast paths note their chosen path here through
  * [[Bounded.path]] (`<site>_path`), plus sizes and iteration counts;
  * the notes are advisory instrumentation, never part of any query's
  * result contract.
  *
  * Values are kept as strings (the JSON emitter quotes non-numeric
  * values and leaves numeric ones bare). Notes accumulate until
  * [[drain]] — a query that calls two instrumented operators reports
  * both, keyed by the operator's own prefix.
  *
  * Scope (ADVICE r13, accepted as-is): this registry is process-global
  * and correct under the bench's strictly SEQUENTIAL execution — one
  * query's notes are drained before the next starts. If runs ever
  * parallelize, scope notes per-thread or per-query token instead of a
  * singleton map; until then the singleton keeps operator call sites
  * one-liner cheap.
  */
object Attrib {
  private val notes = mutable.LinkedHashMap.empty[String, String]

  /** Record a note; last write per key wins (a fixpoint that restarts
    * should report its final path). */
  def note(key: String, value: String): Unit =
    notes.synchronized { notes.update(key, value) }

  def note(key: String, value: Long): Unit = note(key, value.toString)

  /** Snapshot and clear — called by Bench between queries so notes
    * never bleed across timed windows. */
  def drain(): Seq[(String, String)] =
    notes.synchronized { val out = notes.toSeq; notes.clear(); out }
}
