package graft.store

import org.apache.spark.sql.DataFrame

/** One pinned hot relation and its bookkeeping, kept together so a fold
  * can never misalign them.
  *
  * @param df     the pinned rows (labels, metric_id, ts_ms, value, __seq,
  *               __ttl_sec)
  * @param minTs  the oldest sample's ts_ms — spill-overlap detection
  * @param wallMs completeness stamp: every post acked at or before this
  *               wall instant is in the tier's batches up to and
  *               including this one (the flusher is single-threaded FIFO)
  * @param path   staged-parquet location, "" for a `localCheckpoint` pin
  */
final case class HotBatch(df: DataFrame, minTs: Long, wallMs: Long,
    path: String)

/** The append-only hot tier as ONE immutable value (the reference's
  * temporary store, which appends per metric while background flushes
  * fold into long-term storage, `batch/batch.go:368-503`).
  *
  * Layout: `batches = [head?] ++ <mids delta folds> ++ raw pin tail`.
  * The head is present when `headCompacted`; mids come from delta folds
  * of the raw tail; a full fold collapses everything into a new head.
  * Because stamps ascend, every prefix of `batches` is a consistent
  * earlier view of the store — what a bounded-staleness read serves.
  *
  * The owner publishes each transition with one reference write under
  * its write lock, so a reader's single load is a whole, aligned view.
  *
  * @param pinsSinceFullFold   the full-fold trigger (delta folds shrink
  *                            the vector, so its length cannot be used)
  * @param pinnedThroughWallMs every post acked at or before this instant
  *                            is in `batches` (advanced by appends and by
  *                            a reader that sees the write side quiesced)
  * @param retiredPrev         superseded staged paths that delete at the
  *                            next full fold
  * @param retiredCur          superseded staged paths of the current full
  *                            generation; delta folds add, never delete,
  *                            so each survives one whole generation
  * @param coldBelow           the spill frontier: every cold-tier row has
  *                            `ts_ms < coldBelow` (max spilled ts + 1, a
  *                            running max; `Long.MinValue` = nothing
  *                            spilled). Spill is the only writer of new
  *                            cold rows, so a read whose window starts at
  *                            or above it needs no cold scan, and a read
  *                            that does scan cold bounds it here — rows a
  *                            later fold spills stay out of an older view
  */
final case class HotTier(
    batches: Vector[HotBatch] = Vector.empty,
    headCompacted: Boolean = false,
    mids: Int = 0,
    pinsSinceFullFold: Int = 0,
    pinnedThroughWallMs: Long = Long.MinValue,
    retiredPrev: Vector[String] = Vector.empty,
    retiredCur: Vector[String] = Vector.empty,
    coldBelow: Long = Long.MinValue) {

  private def headLen: Int = if (headCompacted && batches.nonEmpty) 1 else 0

  /** Raw (unfolded) pins at the tail. */
  def rawTail: Vector[HotBatch] = batches.drop(headLen + mids)

  def rawTailLen: Int = batches.size - headLen - mids

  /** Pinned batches not yet in a full-fold head. */
  def pinnedPending: Int = batches.size - headLen

  /** A pin lands: its rows become readable, so the staleness bound
    * moves to its stamp.
    */
  def appended(b: HotBatch): HotTier = copy(
    batches = batches :+ b,
    pinsSinceFullFold = pinsSinceFullFold + 1,
    pinnedThroughWallMs = math.max(pinnedThroughWallMs, b.wallMs))

  /** Replace the raw batches `[headLen + mids, until)` by one mid. The
    * prefix is untouched and pins appended after the snapshot keep
    * their own slots. The mid's stamp is its newest member's; its paths
    * retire into the current generation.
    */
  def deltaFolded(until: Int, df: DataFrame, path: String): HotTier = {
    val from = headLen + mids
    val raw = batches.slice(from, until)
    val mid = HotBatch(df, raw.map(_.minTs).min, raw.map(_.wallMs).max, path)
    copy(batches = batches.take(from) ++ (mid +: batches.drop(until)),
      mids = mids + 1,
      retiredCur = retiredCur ++ raw.map(_.path).filter(_.nonEmpty))
  }

  /** Replace batches `[0, until)` by a new compacted head. Pins appended
    * while the fold ran stay as the raw tail and count toward the next
    * full fold. Returns the new tier and the paths to delete now: the
    * previous generation's retirees. The folded paths (plus `alsoRetired`)
    * join the current generation's and become the previous generation.
    * `spilledTo` (max spilled ts + 1, `Long.MinValue` when the fold
    * spilled nothing) raises the spill frontier; a lower value (a
    * backfill spill) never lowers it.
    */
  def fullFolded(until: Int, df: DataFrame, path: String, minTs: Long,
      alsoRetired: Seq[String],
      spilledTo: Long = Long.MinValue): (HotTier, Vector[String]) = {
    val folded = batches.take(until)
    val head = HotBatch(df, minTs, folded.map(_.wallMs).max, path)
    val next = copy(batches = head +: batches.drop(until),
      headCompacted = true, mids = 0,
      pinsSinceFullFold = batches.size - until,
      retiredPrev =
        (retiredCur ++ folded.map(_.path) ++ alsoRetired).filter(_.nonEmpty),
      retiredCur = Vector.empty,
      coldBelow = math.max(coldBelow, spilledTo))
    (next, retiredPrev)
  }

  /** The shortest prefix holding every post acked at or before
    * `horizon`: up to the first batch stamped at or after it, or all
    * batches when only `pinnedThroughWallMs` covers it. None when
    * nothing pinned covers the horizon yet.
    */
  def covering(horizon: Long): Option[HotTier] = {
    val i = batches.indexWhere(_.wallMs >= horizon)
    if (i >= 0)
      Some(copy(batches = batches.take(i + 1),
        mids = math.min(mids, i + 1 - headLen)))
    else if (pinnedThroughWallMs >= horizon) Some(this)
    else None
  }
}
