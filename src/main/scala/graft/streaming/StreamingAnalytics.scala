package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One request row for stateful processing (typed view of the parsed
  * stream restricted to the session-relevant columns). `time` carries the
  * event-time watermark through the typed projection; `epoch` is its
  * whole-second form the session arithmetic runs on. */
final case class SessionEvent(
    user_id: Long, epoch: Long, time: java.sql.Timestamp)

/** A closed browsing session: consecutive requests of one user with no
  * gap larger than the configured idle timeout. */
final case class UserSession(
    user_id: Long, session_start: Long, session_end: Long, n_requests: Long)

/**
 * Streaming analytics over the parsed CLF stream — the event-time toolbox
 * the batch reference never had (SURVEY.md §2.10 keeps these out of the
 * t2 contract; they are capability extensions for continuous ingest):
 *
 *  - [[windowedCounts]]: tumbling event-time windows with a watermark, so
 *    state is bounded and late data beyond the delay is dropped — the
 *    streaming successor of the reference's per-day batch aggregation.
 *  - [[sessionize]]: gap-based sessionization with
 *    `flatMapGroupsWithState` + event-time timeout — custom state keyed by
 *    user, closed either by an explicit gap in that user's stream or by
 *    the watermark passing the idle deadline.
 *
 * Scale: both operators shuffle once by their grouping key and keep
 * per-key state O(1); the watermark bounds total state by active keys ×
 * window/gap, not by stream length.
 */
object StreamingAnalytics {

  /**
   * Streaming exact dedup — the continuous-ingest twin of the batch
   * `dropDuplicates` surface (X1): emits the first arrival of each key and
   * drops re-deliveries (at-least-once sources, retried micro-batches)
   * that land within the watermark horizon. State is one entry per
   * distinct key seen inside the horizon and is evicted as the watermark
   * passes — bounded by arrival rate × delay, not by stream length, which
   * is what makes exact dedup viable on an unbounded 100 TB/day feed.
   * Keys typically exclude the event-time column: with `time` in the key
   * set, two arrivals of the same logical record only collapse when their
   * timestamps are byte-equal, degrading the within-watermark semantics to
   * plain exact-key dedup.
   */
  def dedupStream(
      parsed: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    parsed
      .filter(col("time").isNotNull)
      .withWatermark("time", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /**
   * Watermarked STREAM-STREAM interval join — the native join of two
   * unbounded streams, not a `foreachBatch` workaround: each left event
   * pairs with same-key right events whose event time falls in
   * `[leftTime, leftTime + horizonSeconds]`. Both sides carry
   * watermarks and the join condition bounds the two event times
   * against each other — exactly the proof Structured Streaming needs
   * to know when a buffered row can never match again, so per-side
   * state is bounded by arrival rate × (watermark delay + horizon),
   * not by stream length. Every in-horizon pair is emitted, not only
   * the nearest match (impression→click attribution).
   *
   * The key column must be named the same on both sides (it joins and
   * deduplicates to one output column); all other column names must be
   * disjoint, the usual contract for a two-stream join.
   */
  def intervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTime: String, rightTime: String, horizonSeconds: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(horizonSeconds >= 0L,
      s"horizonSeconds must be >= 0, got $horizonSeconds")
    val l = left.withWatermark(leftTime, watermarkDelay)
    val r = right.withWatermark(rightTime, watermarkDelay)
    l.join(r,
        l(keyCol) === r(keyCol) &&
          r(rightTime) >= l(leftTime) &&
          r(rightTime) <= l(leftTime) +
            expr(s"INTERVAL $horizonSeconds SECOND"),
        "inner")
      .drop(r(keyCol))
  }

  /** Per-window, per-status request counts with bounded state. */
  def windowedCounts(
      parsed: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    parsed
      .filter(col("time").isNotNull)
      .withWatermark("time", watermarkDelay)
      .groupBy(window(col("time"), windowLength), col("status_code"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        col("status_code"), col("cnt"))

  /**
   * Gap-based sessions: a user's session closes when either a later event
   * of the same user arrives more than `gapSeconds` after the previous
   * one, or the watermark passes the session's idle deadline (event-time
   * timeout) — so sessions close even for users who never return.
   *
   * Late data (in-watermark, cross-batch): an event within `gapSeconds`
   * of the open session's bounds joins it, extending it backward or
   * forward; events more than a gap BEFORE the open session close
   * immediately as LATE sessions — they belong to an already-emitted
   * stretch of the timeline, and merging them forward would bridge a gap
   * the rule defines as a break. Late events of the same batch within a
   * gap of each other merge into ONE late session (they are
   * simultaneously visible, so the gap rule applies among them) rather
   * than fragmenting into singletons. This is enrich-at-arrival
   * precision: an already-emitted session is never retro-merged (for full
   * retro-merge semantics use Spark's `session_window` aggregation, which
   * buffers until the watermark instead of emitting on gap detection).
   */
  def sessionize(
      parsed: DataFrame,
      gapSeconds: Long = 1800L,
      watermarkDelay: String = "10 minutes"): Dataset[UserSession] = {
    implicit val se = Encoders.product[SessionEvent]
    implicit val us = Encoders.product[UserSession]
    implicit val lk = Encoders.scalaLong

    // typed from the projection on: the state path below is encoder-checked
    // Dataset[SessionEvent], so a column rename/retype upstream is a compile
    // or bind error here instead of a runtime getAs failure mid-stream
    val events: Dataset[SessionEvent] = parsed
      .filter(col("user_id").isNotNull && col("time").isNotNull)
      .withWatermark("time", watermarkDelay)
      .select(col("user_id"), unix_timestamp(col("time")).as("epoch"),
        col("time"))
      .as[SessionEvent]

    def update(
        userId: Long,
        rows: Iterator[SessionEvent],
        state: GroupState[UserSession]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        val closed = state.get
        state.remove()
        return Iterator.single(closed)
      }
      val incoming = rows.map(_.epoch).toSeq.sorted
      var open = state.getOption
      // late events (more than a gap BEFORE the open session) belong to
      // an earlier, already-emitted stretch of the timeline. They come
      // FIRST in the sorted walk, so consecutive ones within a gap of
      // EACH OTHER accumulate into one late session — without this they
      // would fragment into N singletons even though all are
      // simultaneously visible in the batch — and the accumulator closes
      // for good once the walk crosses into (or past) the open session's
      // range: ascending order makes that transition permanent.
      var lateOpen: Option[UserSession] = None
      val closed = Seq.newBuilder[UserSession]
      def closeLate(): Unit = { lateOpen.foreach(closed += _); lateOpen = None }
      incoming.foreach { e =>
        open match {
          // within the gap of EITHER bound: a late-but-in-watermark event
          // extends the open session backward (start must move with it —
          // counting the event while keeping the old start would misstate
          // the bounds), an in-order event extends it forward
          case Some(s) if e >= s.session_start - gapSeconds &&
              e <= s.session_end + gapSeconds =>
            closeLate()
            open = Some(s.copy(
              session_start = math.min(s.session_start, e),
              session_end = math.max(s.session_end, e),
              n_requests = s.n_requests + 1))
          case Some(s) if e > s.session_end => // explicit forward gap:
            closeLate()
            closed += s                        // close and start fresh
            open = Some(UserSession(userId, e, e, 1L))
          case Some(_) => // late event: merge into the accumulating late
            // session while the batch's late events stay within a gap of
            // each other; a wider break closes it and starts the next.
            // Never merged FORWARD into the open session — that would
            // bridge a gap the rule says is a break.
            lateOpen match {
              case Some(ls) if e <= ls.session_end + gapSeconds =>
                lateOpen = Some(ls.copy(
                  session_end = math.max(ls.session_end, e),
                  n_requests = ls.n_requests + 1))
              case other =>
                other.foreach(closed += _)
                lateOpen = Some(UserSession(userId, e, e, 1L))
            }
          case None =>
            open = Some(UserSession(userId, e, e, 1L))
        }
      }
      closeLate()
      open.foreach { s =>
        state.update(s)
        // close via watermark once the idle gap has provably elapsed
        state.setTimeoutTimestamp((s.session_end + gapSeconds) * 1000L)
      }
      closed.result().iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
