package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.State

/** Cache lifecycle for multi-consumer pipelines; the state it keeps lives
  * in [[graft.State]]'s session scope.
  *
  * Two rules this codebase learned the hard way (BENCH.md round 1/2):
  *   1. A cached-but-unmaterialized frame consumed by 2+ branches of one job
  *      (union branches, self-joins) recomputes its upstream per branch —
  *      force with count() right after cache().
  *   2. Caches that outlive their operator leak blocks across a session;
  *      ~50 leaked caches cause eviction thrash that doubled bench time.
  *      Operators whose result is small relative to the corpus materialize
  *      it and release their upstream caches before returning.
  */
object Caching {

  /** Materialize `out` eagerly (localCheckpoint pins the computed partitions
    * and truncates lineage), then release the upstream caches it consumed.
    * Only for results that are small by construction (pair sets ∝ duplicate
    * density, per-doc scalars — never full-corpus frames): the caller gets a
    * self-contained frame and owns no cleanup — [[graft.State.releaseStrays]]
    * reclaims the pinned blocks when the NEXT registry query starts. The
    * pinned RDD ids are registered releasable (snapshot-diff around the
    * eager checkpoint) so the release touches ONLY blocks this function
    * created: a truncated-lineage checkpoint cannot recompute once its
    * blocks drop, so an untracked release would break any OTHER checkpoint
    * the session holds (a streaming micro-batch's pinned frame, a user's
    * own localCheckpoint) instead of merely un-caching it (r15 ADVICE). */
  def materializeAndRelease(out: DataFrame, caches: DataFrame*): DataFrame = {
    val s = out.sparkSession
    val (r, ids) = State.persistedBy(s)(out.localCheckpoint())
    State.releasable(s, ids)
    caches.foreach(_.unpersist())
    r
  }

  /** Eagerly pin `f` and, when its ACTUAL stored size clears the session's
    * auto-broadcast threshold, return it broadcast-hinted.
    *
    * Why (r16 verdict #5, found at the ×10 replica): a truncated-lineage
    * checkpoint keeps the pre-checkpoint plan's size ESTIMATE, which for
    * an aggregate is input-proportional — so a vocabulary-bounded count
    * frame memoized off a ×10 corpus "weighs" 10× the corpus to the
    * planner and every consumer join silently degrades from broadcast to
    * SortMergeJoin (measured: all five LM scoring joins SMJ at ×10).
    * After the eager checkpoint the true stored bytes are known, so this
    * restores exactly the size-aware choice the planner would have made
    * from file statistics — and stays scale-correct: a genuinely large
    * frame (an open-domain trigram table at 100 TB) exceeds the threshold
    * and is NOT hinted, keeping the shuffled join. The deserialized
    * stored size over-estimates the serialized broadcast payload, so the
    * comparison errs toward not broadcasting. */
  private def pinSized(f: DataFrame): DataFrame = {
    val s = f.sparkSession
    val (cp, newIds) = State.persistedBy(s)(f.localCheckpoint())
    val bytes = s.sparkContext.getRDDStorageInfo
      .filter(i => newIds.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    // the session's already-parsed threshold; negative disables broadcast
    val thr = s.sessionState.conf.autoBroadcastJoinThreshold
    if (bytes > 0 && thr > 0 && bytes <= thr)
      org.apache.spark.sql.functions.broadcast(cp)
    else cp
  }

  /** Session-scoped memo of EXPENSIVE GROUND-TRUTH frames the recall
    * dashboards embed (brute-force top-k, the exact prefix-join pair
    * set): within one session a user — and the bench — runs the member
    * query AND the dashboards that grade against it, and recomputing the
    * identical deterministic frame per consumer is pure waste (r13
    * verdict #1b). The one-frame case of [[memoGroup]]. */
  def memo(s: SparkSession, key: String)(compute: => DataFrame): DataFrame =
    memoGroup(s, key)((Seq(compute), Nil)).head

  /** Memo for a FAMILY of frames computed by one cold fit — the shape of
    * a frozen model: [[graft.ops.TermScoring.LmModel]]'s six count frames
    * all derive from one pass over the train split, so memoizing them
    * under six independent keys would re-run that pass per frame. The
    * closure returns (frames, upstreamCaches): every frame is
    * localCheckpointed (broadcast-hinted by its actual size, see
    * [[pinSized]]) and pinned in [[graft.State]] under `key` — dashboards
    * and repeat queries reuse the pinned blocks, releaseStrays never drops
    * them, entries die with the session — then the upstream caches the
    * fit scanned are released, like [[materializeAndRelease]]. Only
    * small-by-construction frames may be memoized: pair sets ∝ k·queries
    * or duplicate density, model/count frames bounded by vocabulary,
    * never corpus-sized per-doc frames. */
  def memoGroup(s: SparkSession, key: String)(
      compute: => (Seq[DataFrame], Seq[DataFrame])): Seq[DataFrame] =
    State.pinned(s, key) {
      val (frames, caches) = compute
      val cps = frames.map(pinSized)
      // the upstream caches drop now — the checkpoints above are
      // self-contained (the pinned ids may include the just-unpersisted
      // cache ids; protecting a dead id is a no-op)
      caches.foreach(_.unpersist())
      cps
    }
}
