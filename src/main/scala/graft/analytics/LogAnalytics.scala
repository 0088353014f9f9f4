package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/**
 * The reference's aggregate job re-expressed as one declarative pass
 * (`/root/reference/sree-etl-tdk-glue-job.py:51-94`): distinct user count,
 * per-user request counts, total successful (HTTP 200) requests.
 *
 * Improvement over the reference (SURVEY.md §4): the reference runs three
 * independent actions that each re-scan the day partition; here the three
 * scalars come out of a single multi-aggregate scan, and the per-user table
 * is one partial+final hash aggregate.
 */
object LogAnalytics {

  /** Per-user request counts — `tdk_user_requests_table`
    * (`/root/reference/sree-etl-tdk-glue-job.py:55-60`). */
  def requestsPerUser(
      df: DataFrame,
      userCol: String = "user_id",
      requestCol: String = "request_resource"): DataFrame =
    df.groupBy(col(userCol))
      .agg(count(col(requestCol)).as("requests_count"))

  /** Exact distinct users (`sree-etl-tdk-glue-job.py:51-52`). */
  def distinctUsers(df: DataFrame, userCol: String = "user_id"): DataFrame =
    df.agg(count_distinct(col(userCol)).as("distinct_users"))

  /** Scale successor of [[distinctUsers]]: HLL++ sketch, no exact shuffle
    * of the full key set — the 100 TB answer to "how many users". */
  def approxDistinctUsers(
      df: DataFrame, userCol: String = "user_id", rsd: Double = 0.01): DataFrame =
    df.agg(approx_count_distinct(col(userCol), rsd).as("approx_distinct_users"))

  /**
   * The totals row — `tdk_total_requests_table`
   * (`/root/reference/sree-etl-tdk-glue-job.py:79-86`) — computed in ONE
   * scan instead of the reference's three: `(run_date, user_count,
   * total_successful_requests)`. `successPred` is the "HTTP 200" predicate
   * expressed over whatever schema `df` has.
   */
  def totalsRow(
      df: DataFrame,
      runDate: org.apache.spark.sql.Column,
      successPred: org.apache.spark.sql.Column,
      userCol: String = "user_id"): DataFrame =
    df.agg(
      max(runDate).as("run_date"),
      count_distinct(col(userCol)).as("user_count"),
      sum(when(successPred, 1L).otherwise(0L)).as("total_successful_requests")
    )

  /**
   * [[requestsPerUser]] that also records the [[totalsRow]] of `df` into
   * `totals` when the first action over the result runs: the totals fold
   * the per-user groups, so they cost no scan, shuffle or job of their
   * own. Each group carries its user's success count and `runDate` max
   * besides `requests_count`; over the groups, `count` of the non-NULL
   * keys is `count_distinct` of the user column, and `sum`/`max` of the
   * per-user values are the day's. An empty `df` has no groups, which
   * gives the `[null, 0, null]` of an aggregate over no rows — exactly
   * [[totalsRow]], whose schema [[observedTotals]] gives the row back in.
   *
   * Put no operator that runs its input twice (a range sort samples it)
   * between the result and its action: the observed values must come
   * from the one run.
   */
  def requestsPerUserObserved(
      df: DataFrame,
      runDate: Column,
      successPred: Column,
      totals: Observation,
      userCol: String = "user_id",
      requestCol: String = "request_resource"): DataFrame =
    df.groupBy(col(userCol))
      .agg(count(col(requestCol)).as("requests_count"),
        max(runDate).as("_run_date"),
        sum(when(successPred, 1L).otherwise(0L)).as("_successful"))
      .observe(totals,
        max(col("_run_date")).as("run_date"),
        count(col(userCol)).as("user_count"),
        sum(col("_successful")).as("total_successful_requests"))
      .drop("_run_date", "_successful")

  /** The totals row [[requestsPerUserObserved]] recorded, as a one-row
    * local DataFrame with `schema` ([[totalsRow]]'s); blocks until the
    * observed aggregate has run. */
  def observedTotals(
      spark: SparkSession, totals: Observation, schema: StructType): DataFrame = {
    val observed = totals.get
    spark.createDataFrame(
      java.util.List.of(Row.fromSeq(schema.fieldNames.toSeq.map(observed))), schema)
  }

  /**
   * Batch sessionization: per-user session counts where a session breaks
   * when the gap to the previous event exceeds `gapSeconds`. Classic
   * lag-then-running-sum window pattern — one shuffle by user, no state;
   * the batch counterpart of
   * [[graft.streaming.StreamingAnalytics.sessionize]].
   */
  def sessionCounts(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "time",
      tieCol: String = "request_resource",
      gapSeconds: Long = 1800L): DataFrame =
    sessionIndexed(df, userCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(userCol))
      .agg(max(col("session_idx")).as("n_sessions"))

  /**
   * Whole-log session profile — the engagement dashboard row the
   * per-user [[sessionCounts]] rolls up into: total sessions, BOUNCE
   * sessions (one event and gone — the canonical web-analytics
   * quality signal), bounce rate, mean session depth, and the longest
   * session. Same gap rule as [[sessionCounts]] (the private indexer
   * is shared, so the rule exists exactly once); counts are exact
   * longs, the two rates are the only float divisions, 6-dp.
   *
   * Shape: the user-partitioned session window, a (user, session)
   * aggregate, then one global fold — 1-row output.
   */
  def sessionProfile(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieCol: String = "event_id",
      gapSeconds: Long = 1800L): DataFrame =
    sessionIndexed(df, userCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("_n"))
      .agg(count(lit(1)).as("n_sessions"),
        coalesce(sum((col("_n") === 1L).cast("long")), lit(0L))
          .as("n_bounce"),
        coalesce(sum(col("_n")), lit(0L)).as("n_events"),
        max(col("_n")).as("max_session_events"))
      .select(col("n_sessions"), col("n_bounce"),
        round(col("n_bounce").cast("double") /
          nullif(col("n_sessions").cast("double"), lit(0.0)), 6)
          .as("bounce_rate"),
        round(col("n_events").cast("double") /
          nullif(col("n_sessions").cast("double"), lit(0.0)), 6)
          .as("avg_session_events"),
        col("max_session_events"))

  /** The shared session-index pass behind [[sessionCounts]] and
    * [[sessionIntervals]]: each surviving row tagged with its 1-based
    * session index (running sum of gap-break markers) — one window, one
    * shuffle by user. Kept private so the gap rule exists exactly once. */
  private def sessionIndexed(
      df: DataFrame,
      userCol: String, tsCol: String, tieCol: String,
      gapSeconds: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    val prev = lag(col(tsCol), 1).over(w)
    val newSession = when(
      prev.isNull ||
        (unix_timestamp(col(tsCol)) - unix_timestamp(prev)) > gapSeconds, 1L)
      .otherwise(0L)
    df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol), col(tsCol), col(tieCol), newSession.as("_ns"))
      .withColumn("session_idx", sum(col("_ns")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
  }

  /**
   * Session INTERVALS — [[sessionCounts]]'s sibling that keeps each
   * session's bounds instead of only counting: per (user, session index),
   * the epoch-second min and max event time. Same lag-then-running-sum
   * pattern and the same single shuffle: the session-index window
   * partitions by user, and the bounds aggregation groups by
   * (user, session_idx) — a superset of the window's clustering, so no
   * second exchange. Intervals of one user never overlap (consecutive
   * sessions are separated by more than `gapSeconds`), which is what makes
   * them range-join targets (q57).
   */
  def sessionIntervals(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "time",
      tieCol: String = "request_resource",
      gapSeconds: Long = 1800L): DataFrame =
    sessionIndexed(df, userCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        min(unix_timestamp(col(tsCol))).as("start_ep"),
        max(unix_timestamp(col(tsCol))).as("end_ep"))

  /** The reference's Athena validation trio (`/root/reference/README.md:62-66`)
    * as runnable Spark SQL over a registered table name. */
  def athenaSql(table: String): Seq[String] = Seq(
    s"SELECT count(*) AS cnt FROM $table WHERE user_id IS NOT NULL LIMIT 10",
    s"SELECT user_id, count(*) AS cnt FROM $table GROUP BY user_id",
    s"SELECT count(*) AS cnt FROM $table WHERE status_code = 200"
  )

  /**
   * Ordered funnel analysis: how many users reached each stage of
   * `stages` IN ORDER — stage i+1 counts only when it happens STRICTLY
   * after the user's earliest qualifying stage-i event (the
   * earliest-completion semantics: each step anchors at the first time
   * the user got that far, which makes the result deterministic and
   * monotonically non-increasing down the funnel). `maxStepSeconds`
   * bounds each step's gap when set — a purchase a month after the click
   * stops counting as conversion.
   *
   * Shape: one per-user conditional-min aggregate per stage, each joined
   * to the previous anchor — N-1 equi-joins on the user key for an
   * N-stage funnel, no window, no per-user event sorting, no UDF state
   * machine. Each anchor (a ≤-|users|-row 2-column frame) is lineage-cut
   * before the next stage and the count branch both read it, so an
   * N-stage funnel scans the event log exactly N times — never the
   * O(N²) a naive anchor chain re-executes. Returns `(step, stage,
   * users)` with `step` 1-based in funnel order; a stage nobody reached
   * reports 0, and counts are monotonically non-increasing.
   */
  def funnel(
      df: DataFrame,
      stages: Seq[String],
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      maxStepSeconds: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel requires at least one stage")
    require(stages.distinct.size == stages.size,
      s"repeated stage in $stages — a stage can anchor only once")

    def countOf(step: Int, stage: String, anchor: DataFrame): DataFrame =
      anchor.agg(
        lit(step.toLong).as("step"), lit(stage).as("stage"),
        count(lit(1)).as("users"))

    // anchor 1: earliest stage-1 event per user
    var anchor = graft.ext.Materialize.cut(
      df.filter(col(typeCol) === stages.head)
        .groupBy(col(userCol))
        .agg(min(col(tsCol)).as("_t")))
    val frames = Seq.newBuilder[DataFrame]
    frames += countOf(1, stages.head, anchor)
    stages.drop(1).zipWithIndex.foreach { case (stage, i) =>
      val within = maxStepSeconds match {
        case Some(s) =>
          col(tsCol).cast("long") <= col("_t").cast("long") + s
        case None => lit(true)
      }
      anchor = graft.ext.Materialize.cut(
        df.filter(col(typeCol) === stage)
          .join(anchor, Seq(userCol))
          .filter(col(tsCol) > col("_t") && within)
          .groupBy(col(userCol))
          .agg(min(col(tsCol)).as("_t")))
      frames += countOf(i + 2, stage, anchor)
    }
    frames.result().reduce(_ unionByName _)
      .select(col("step"), col("stage"), col("users"))
  }

  /**
   * Weekly cohort retention: users grouped by the Monday-truncated week
   * of their FIRST event (the cohort), counted distinctly in every later
   * week they were active, keyed by whole-week offset from the cohort
   * week. Offset 0 is the cohort week itself (every cohort member is
   * active there by construction — the standard 100% column). Returns
   * `(cohort_week date, week_offset, users)`.
   *
   * Shape: first-event aggregate (one shuffle on the user key), joined
   * back to per-(user, week) activity — the join reuses the user-key
   * partitioning — then one count-distinct per (cohort, offset) cell.
   * Week arithmetic is epoch-day subtraction of two Monday truncations,
   * exact in both engines.
   */
  def cohortRetention(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    cohortRetentionFromWeeks(userWeeks(df, userCol, tsCol), userCol)

  /**
   * Distinct (user, active-week) pairs — [[cohortRetention]]'s
   * MERGEABLE sufficient statistic (the [[graft.analytics.Survival
   * .userSpans]] pattern): the matrix needs nothing about a user
   * beyond WHICH weeks they were active, the cohort week derives as
   * `min(w)` (week truncation is monotone, so `trunc(min ts) =
   * min(trunc ts)` exactly), and the state folds by
   * [[mergeWeeks]] — distinct union, idempotent, so streaming
   * maintenance needs no replay mark. One data-sized shuffle on the
   * well-spread user key.
   */
  def userWeeks(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol),
        date_trunc("week", col(tsCol)).cast("date").as("w"))
      .distinct()

  /** Exact merge law: the user-weeks of `A ∪ B` are the distinct union
    * of the two frames — associative, commutative, IDEMPOTENT. */
  def mergeWeeks(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()

  /** The retention matrix from a precomputed [[userWeeks]] frame. */
  def cohortRetentionFromWeeks(
      weeks: DataFrame, userCol: String = "user_id"): DataFrame = {
    val first = weeks.groupBy(col(userCol))
      .agg(min(col("w")).as("cohort_week"))
    weeks.join(first, Seq(userCol))
      .withColumn("week_offset",
        (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col(userCol)).as("users"))
  }

  /**
   * Windowed co-occurrence with lift — the unordered counterpart of
   * [[transitions]] (association mining over the event log): two event
   * types co-occur when the same user produces both within the same
   * time bucket, and lift compares the observed co-occurrence rate to
   * what independence predicts (`lift > 1` = the pair attracts — the
   * "users who view also purchase, same hour" signal). Counts are
   * bucket-level distinct (a 100-click hour counts once), so a bursty
   * key cannot inflate association.
   *
   * `lift = n_ab · N / (n_a · n_b)` over exact BIGINT bucket counts —
   * one IEEE double division rounded to 6 dp, no float sums. Returns
   * `(type_a, type_b, n_ab, lift)` with `type_a < type_b`.
   *
   * Shape at scale: the event stream collapses to distinct
   * (user, bucket, type) rows FIRST (one data-sized shuffle), pairs
   * come from a bucket-keyed self-join whose per-bucket fan-out is
   * bounded by the TYPE-dimension squared (never event²), marginals
   * are type-sized, and N is a 1-row scalar (the q100 pattern). The
   * marginals join is a broadcast of a |types|-row frame.
   */
  def cooccurrence(
      df: DataFrame,
      bucketSeconds: Long = 3600L,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(bucketSeconds > 0,
      s"bucketSeconds must be positive, got $bucketSeconds")
    val cells = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull
        && col(typeCol).isNotNull)
      .select(col(userCol).as("_u"),
        floor(col(tsCol).cast("long") / bucketSeconds).cast("long")
          .as("_b"),
        col(typeCol).as("_t"))
      .distinct()
    val nBuckets = cells.select(col("_u"), col("_b")).distinct().count()
    val marginals = cells.groupBy(col("_t")).agg(count(lit(1)).as("_m"))
    val pairs = cells.select(col("_u"), col("_b"), col("_t").as("type_a"))
      .join(cells.select(col("_u"), col("_b"), col("_t").as("type_b")),
        Seq("_u", "_b"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marginals.select(col("_t").as("type_a"),
        col("_m").as("_ma"))), Seq("type_a"))
      .join(broadcast(marginals.select(col("_t").as("type_b"),
        col("_m").as("_mb"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round(col("n_ab") * lit(nBuckets)
          / (col("_ma") * col("_mb")), 6).as("lift"))
  }

  /**
   * Fixed-window debounce: within each (user, type) key, quantize the
   * timeline into `withinSeconds` windows anchored at the key's FIRST
   * event and keep only the first event of each occupied window — the
   * double-click / retry-storm cleaner a log pipeline runs before
   * counting ("one purchase, not three retries"). The fixed-window
   * form (rather than "gap since the previous kept event") is what
   * metric pipelines deploy because it is a CLOSED FORM: window
   * membership never depends on which earlier events survived, so the
   * result is one-pass computable, engine-portable, and idempotent —
   * debouncing a debounced stream is a no-op, and a replayed slice
   * lands in the same windows. A burst of any length collapses to at
   * most one event per window span. Events order by `(ts, idCol)`
   * (the id tiebreak keeps equal-timestamp retries deterministic);
   * kept rows retain the original schema.
   *
   * Shape: two user+type-partitioned windows (the first-event anchor,
   * then first-per-window selection) — per-key sorted-scan state only,
   * no joins, no data-sized aggregation; the q34 sessionization cost
   * class at 100 TB.
   */
  def debounce(
      df: DataFrame,
      withinSeconds: Long,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    require(withinSeconds > 0,
      s"withinSeconds must be positive, got $withinSeconds")
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val firstEpoch = first_value(col(tsCol).cast("long")).over(wRun)
    val win = floor((col(tsCol).cast("long") - firstEpoch)
      / withinSeconds).cast("long")
    df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("_win", win)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(userCol), col(typeCol), col("_win"))
          .orderBy(col(tsCol).asc, col(idCol).asc)))
      .filter(col("_rn") === 1)
      .drop("_win", "_rn")
  }

  /**
   * First-order transition counts over each user's event sequence —
   * the Markov-chain view of user journeys ("what follows a click?"),
   * the aggregate behind funnel DISCOVERY the same way [[funnel]] is
   * the check of an already-hypothesized path. Each user's events are
   * ordered by `(ts, idCol)` (the id tiebreak keeps equal-timestamp
   * batches deterministic); every adjacent pair contributes one
   * `(src, dst)` count; a user's first event has no predecessor and
   * contributes nothing.
   *
   * Shape: one user-partitioned lag window (per-user state only — no
   * global window), then a count aggregate over the TYPE×TYPE-sized
   * transition space (dimension-sized output regardless of corpus
   * size). Both shuffles key on data-sized but well-spread keys (user,
   * then transition pair).
   */
  def transitions(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("_src", lag(col(typeCol), 1).over(w))
      .filter(col("_src").isNotNull)
      .groupBy(col("_src").as("src"), col(typeCol).as("dst"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * Hourly traffic anomaly score: events bucketed per hour, each
   * bucket's count z-scored against the mean/stddev of ALL hourly
   * buckets — the "did something spike?" check a log pipeline runs
   * before alerting (a DDoS hour, a dead-collector hour, a replayed
   * batch all surface as |z| outliers). Returns `(bucket_start,
   * n_events, z)` with z rounded to 6 dp (the engine's float-compare
   * armor: mean is exact integer arithmetic, stddev's accumulation
   * order is engine-specific in the last ulp).
   *
   * Shape: one event-log scan into the hourly aggregate; the hourly
   * frame is TIME-dimension-sized (8,760 rows per year at any corpus
   * size — metadata, not data), so its mean/stddev are two plan-time
   * scalars (the bm25TopK corpus-stats class — a 1-row join would plan
   * as a cross join, which this codebase bans) and z is a pure
   * projection over the re-aggregated hourly frame. No global-partition
   * window anywhere; the only data-sized shuffle is the per-hour
   * partial-agg count. Degenerate inputs stay honest: fewer than 2
   * buckets (or all buckets equal ⇒ stddev 0) yield NULL z, not a
   * division blow-up.
   */
  def hourlyAnomaly(
      df: DataFrame,
      tsCol: String = "ts"): DataFrame = {
    def hourly = df.filter(col(tsCol).isNotNull)
      .groupBy(date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val statsRow = hourly.agg(
      avg(col("n_events")), stddev_samp(col("n_events"))).head()
    val z =
      if (statsRow.isNullAt(0) || statsRow.isNullAt(1)
          || statsRow.getDouble(1) == 0.0) lit(null).cast("double")
      else round((col("n_events") - lit(statsRow.getDouble(0)))
        / lit(statsRow.getDouble(1)), 6)
    hourly.select(
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        col("n_events"), z.as("z"))
      .orderBy(col("bucket_start").asc_nulls_last)
  }

  /**
   * Last-touch attribution: each conversion event (`typeCol ===
   * convType`) credits its value to the user's most recent PRIOR
   * non-conversion event within `windowSec`, or to `(none)` when no
   * such event exists in the window — the simplest of the standard
   * attribution models, per-model swap being a different window pick.
   * Returns per attributed type: conversion count and total attributed
   * value (exact decimal fold, 6-dp output).
   *
   * The prior event is read with TWO `last(..., ignoreNulls)` window
   * expressions over the same `(ts, id)`-ordered frame (rows up to the
   * previous row) — both necessarily read the SAME row (identical
   * predicate), so the (ts, type) pair is consistent without a struct.
   * One user-partitioned window + one hash aggregate; no self-join.
   */
  def lastTouchAttribution(
      df: DataFrame, userCol: String, tsCol: String, idCol: String,
      typeCol: String, valueCol: String, convType: String,
      windowSec: Long): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive, got $windowSec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ep = col(tsCol).cast("long")
    val nonConv = col(typeCol) =!= convType
    val base = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("_pts", last(when(nonConv, ep), ignoreNulls = true).over(w))
      .withColumn("_pty",
        last(when(nonConv, col(typeCol)), ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .withColumn("attr_type",
        when(col("_pts").isNotNull && ep - col("_pts") <= windowSec,
          col("_pty")).otherwise(lit("(none)")))
    base.groupBy(col("attr_type"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(round(col(valueCol).cast("double"), 12)
          .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double"), 6).as("attributed_value"))
  }

  /**
   * Stationary distribution of the user-journey Markov chain — where
   * does a long random session SPEND its time? The long-run view of
   * [[transitions]]' one-step counts (and the event-type cousin of
   * [[graft.ext.GraphOps]]' PageRank): row-normalize the transition
   * counts into P, give DANGLING states (seen only as destinations —
   * e.g. the corpus's final events) a uniform outgoing row (the
   * PageRank dangling fix, so mass is conserved), and run a fixed
   * number of renormalized power steps from the uniform start.
   *
   * Scale shape (the q184/q206 split): the ONLY distributed work is
   * the transitions aggregate — the collect is event-type²-sized
   * (metadata by construction), and the iteration is driver-side on a
   * k×k matrix. Deterministic: fixed start, fixed iteration count,
   * fixed state order (sorted), 9-dp rounding on output. The oracle
   * certifies the dump IS stationary (π·P = π within the rounding
   * bound, Σπ = 1, π ≥ 0, states = src ∪ dst) — the q206 residual
   * pattern. Returns `(state, pi)`, one row per state.
   */
  def stationaryDistribution(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id",
      iters: Int = 200): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val tc = transitions(df, userCol, tsCol, typeCol, idCol).collect()
    require(tc.nonEmpty, "no transitions (need >= 2 events for a user)")
    val states = (tc.map(_.getString(0)) ++ tc.map(_.getString(1)))
      .distinct.sorted
    val idx = states.zipWithIndex.toMap
    val k = states.length
    val cnt = Array.ofDim[Double](k, k)
    tc.foreach { r =>
      cnt(idx(r.getString(0)))(idx(r.getString(1))) += r.getLong(2).toDouble
    }
    val rowSum = cnt.map(_.sum)
    var pi = Array.fill(k)(1.0 / k)
    var it = 0
    while (it < iters) {
      val nxt = new Array[Double](k)
      var si = 0
      while (si < k) {
        if (rowSum(si) == 0.0) {
          var t = 0
          while (t < k) { nxt(t) += pi(si) / k; t += 1 }
        } else {
          var t = 0
          while (t < k) {
            nxt(t) += pi(si) * cnt(si)(t) / rowSum(si); t += 1
          }
        }
        si += 1
      }
      val z = nxt.sum
      var t = 0
      while (t < k) { nxt(t) /= z; t += 1 }
      pi = nxt
      it += 1
    }
    val spark = df.sparkSession
    import spark.implicits._
    states.zip(pi.map(x =>
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)).toSeq
      .toDF("state", "pi")
  }

  /**
   * RFM segmentation — the classic recency/frequency/monetary user
   * grid: each user scores 1-5 on how RECENTLY they acted (5 = most
   * recent), how OFTEN, and how much VALUE they produced, and the
   * concatenated code is the segment ("555" = champions, "111" =
   * lost). Quintiles are `ntile(5)` over deterministic total orders
   * (metric, then user id — the q110 rank-arithmetic convention, so
   * both engines cut identical boundaries); recency orders DESCENDING
   * by days-since-last so the freshest users land in tile 5.
   *
   * Per-segment output `(segment, n_users, avg_monetary)`, decimal
   * value sums, 6-dp average. SCALE CONTRACT (the q110/q112 eval
   * shape): the three ntile windows run over the USER frame — one
   * data shuffle to per-user rows first, then user-cardinality
   * windows; at extreme user counts swap ntile for the rank-arithmetic
   * bucketing of q110.
   */
  def rfmSegments(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val day = floor(col(tsCol).cast("long") / lit(86400L)).cast("long")
    val users = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol))
      .agg(max(day).as("_last"), count(lit(1)).as("_freq"),
        coalesce(sum(round(col(valueCol).cast("double"), 9)
          .cast(DecimalType(38, 9))), lit(0).cast(DecimalType(38, 9)))
          .as("_mon"))
    val maxd = users.agg(max(col("_last")).as("_maxd"))
    def tile(order: Column*): Column =
      ntile(5).over(org.apache.spark.sql.expressions.Window
        .orderBy(order: _*)).cast("long")
    users.crossJoin(broadcast(maxd))
      .withColumn("_rec", col("_maxd") - col("_last"))
      .select(col(userCol), col("_mon"),
        tile(col("_rec").desc, col(userCol).asc).as("_r"),
        tile(col("_freq").asc, col(userCol).asc).as("_f"),
        tile(col("_mon").asc, col(userCol).asc).as("_m"))
      .groupBy(concat(col("_r").cast("string"), col("_f").cast("string"),
        col("_m").cast("string")).as("segment"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("_mon")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_monetary"))
      .orderBy(col("segment").asc)
  }

  /**
   * Cohort LTV curve — the VALUE companion to [[cohortRetention]]'s
   * headcount matrix: for each signup cohort, the cumulative value
   * per cohort user through each week offset ("how much is a week-0
   * user worth by week 3?"). Weekly value cells aggregate first; the
   * cumulative runs over the OFFSET frame per cohort (bounded by the
   * corpus's week span); cohort size is the week-0 denominator.
   * Value sums fold as 9-dp decimals. Returns
   * `(cohort_week, week_offset, n_users, cum_value_per_user)`.
   */
  def cohortLtv(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val d9 = DecimalType(38, 9)
    val cells = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol),
        date_trunc("week", col(tsCol)).cast("date").as("w"),
        round(col(valueCol).cast("double"), 9).cast(d9).as("_v"))
    val first = cells.groupBy(col(userCol))
      .agg(min(col("w")).as("cohort_week"))
    val sizes = first.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val weekly = cells.join(first, Seq(userCol))
      .withColumn("week_offset",
        (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(coalesce(sum(col("_v")), lit(0).cast(d9)).as("_wv"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week")).orderBy(col("week_offset").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    weekly
      .withColumn("_cum", sum(col("_wv")).over(cumW))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        round(col("_cum").cast("double") /
          col("n_users").cast("double"), 6).as("cum_value_per_user"))
      .orderBy(col("cohort_week").asc, col("week_offset").asc)
  }

  /**
   * Engineered per-user churn features + label — the feature face of
   * the [[graft.ext.Probe]] showcase: a linear model over BEHAVIOR
   * (per-type counts, lifespan, volume) predicting the
   * [[graft.analytics.Survival]] churn label, i.e. the classic churn
   * baseline built entirely from relational aggregates. Features are
   * a FIXED-ORDER 7-vector — alphabetical type counts (click, error,
   * purchase, signup, view) scaled by 1/100, lifespan in hour buckets
   * scaled by 1/1000, total events scaled by 1/100 (pinned literals:
   * the scaled-long moment buffer needs roughly unit-scale inputs) —
   * and the label is the q180 horizon rule (last activity ≥
   * `horizonBuckets` before the corpus edge ⇒ churned 1.0).
   *
   * One data-sized shuffle on the user key; the corpus-edge max is a
   * 1-row broadcast. Returns `(user_id, features, churned)`.
   */
  def churnFeatures(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      bucketSeconds: Long = 3600L,
      horizonBuckets: Int = 12): DataFrame = {
    require(bucketSeconds > 0 && horizonBuckets >= 0,
      s"bad bucketSeconds=$bucketSeconds / horizonBuckets=$horizonBuckets")
    val b = floor(col(tsCol).cast("long") / bucketSeconds).cast("long")
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cells = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("_tot"),
        (types.map(t =>
          coalesce(sum((col(typeCol) === t).cast("long")), lit(0L))
            .as(s"_c_$t")) ++
          Seq(min(b).as("_fb"), max(b).as("_lb"))): _*)
    val maxd = cells.agg(max(col("_lb")).as("_maxd"))
    cells.crossJoin(broadcast(maxd))
      .select(col(userCol),
        array((types.map(t =>
          col(s"_c_$t").cast("double") / lit(100.0)) ++ Seq(
          (col("_lb") - col("_fb")).cast("double") / lit(1000.0),
          col("_tot").cast("double") / lit(100.0))): _*).as("features"),
        when(col("_lb") <= col("_maxd") - lit(horizonBuckets.toLong),
          1.0).otherwise(0.0).as("churned"))
  }

  /**
   * Top-k frequent 3-step journeys — the order-3 sequence-mining view
   * above [[transitions]]' order-1 pairs ("what three actions chain
   * most often?"): each user's `(ts, idCol)`-ordered event sequence
   * contributes every consecutive triple, counted across users; a
   * user's first two events open no triple. Ties break by the path
   * string — deterministic. One user-partitioned double-lag window,
   * one hash aggregate over the ≤ TYPE³ path space, TakeOrdered
   * top-k. Returns `(step1, step2, step3, n)`.
   */
  def topJourneyTrigrams(
      df: DataFrame,
      k: Int = 10,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    df.filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(userCol),
        lag(col(typeCol), 2).over(w).as("step1"),
        lag(col(typeCol), 1).over(w).as("step2"),
        col(typeCol).as("step3"))
      .filter(col("step1").isNotNull && col("step2").isNotNull)
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1").asc, col("step2").asc,
        col("step3").asc)
      .limit(k)
  }

  /**
   * Journey memory gain — "does the SECOND step of history make the
   * next action more predictable?": the empirical conditional
   * entropies H(next|prev) and H(next|prev₂,prev₁) over the pair and
   * triple frames ([[transitions]]' and [[topJourneyTrigrams]]'
   * universes), in bits, plus their difference. A near-zero gain says
   * journeys are order-1 Markov and the q218/q238 chain analyses
   * capture everything; a large gain says sequence models need the
   * longer context. Each `p·ln p(·|ctx)` term is one double chain
   * rounded 12-dp and folded DECIMAL(38,12); the nats→bits division
   * by ln 2 happens once per entropy. Returns one row
   * `(n_pairs, n_triples, h1_bits, h2_bits, memory_gain_bits)`.
   *
   * Shape: one user-partitioned double-lag window, then everything is
   * TYPE²/TYPE³-sized.
   */
  def journeyMemory(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val ln2 = 0.6931471805599453
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val steps = df.filter(col(userCol).isNotNull &&
        col(tsCol).isNotNull && col(typeCol).isNotNull)
      .select(lag(col(typeCol), 2).over(w).as("_a"),
        lag(col(typeCol), 1).over(w).as("_b"),
        col(typeCol).as("_c"))
    def condEntropy(cells: DataFrame, ctx: Seq[String])
        : (DataFrame, String) = {
      val n = "n_" + ctx.map(_.stripPrefix("_")).mkString("")
      val withCtx = cells.join(
        cells.groupBy(ctx.map(col): _*).agg(sum(col("_n")).as("_ctx")),
        ctx)
      val tot = cells.agg(sum(col("_n")).as("_tot"))
      (withCtx.crossJoin(broadcast(tot))
        .select(round(
          (col("_n").cast("double") / col("_tot").cast("double")) *
            log(col("_n").cast("double") / col("_ctx").cast("double")),
          12).cast(dec12).as("_t"), col("_tot"))
        .groupBy(col("_tot").as(n))
        .agg((-(sum(col("_t")).cast("double")) / lit(ln2)).as(n + "_h")),
        n)
    }
    val pairs = steps.filter(col("_b").isNotNull)
      .groupBy(col("_b"), col("_c")).agg(count(lit(1)).as("_n"))
    val triples = steps.filter(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy(col("_a"), col("_b"), col("_c"))
      .agg(count(lit(1)).as("_n"))
    val (h1, _) = condEntropy(pairs, Seq("_b"))
    val (h2, _) = condEntropy(triples, Seq("_a", "_b"))
    h1.crossJoin(broadcast(h2))
      .select(col("n_b").as("n_pairs"), col("n_ab").as("n_triples"),
        round(col("n_b_h"), 6).as("h1_bits"),
        round(col("n_ab_h"), 6).as("h2_bits"),
        round(col("n_b_h") - col("n_ab_h"), 6).as("memory_gain_bits"))
  }

  /**
   * Entropy rate of the user-journey Markov chain — "how PREDICTABLE
   * is the next action?", the single-scalar information view of
   * [[transitions]] (the matrix) and [[stationaryDistribution]] (the
   * long-run weights): `H = −Σ_s π_s Σ_t p_st·ln(p_st)` in nats, with
   * `perplexity = e^H` the effective branching factor (1 = fully
   * scripted journeys, k = uniform chaos). Dangling states follow the
   * [[stationaryDistribution]] uniform rule and contribute
   * `π_s · ln(k)`. Unobserved transitions contribute 0 (the
   * `0·ln 0 = 0` convention — only observed cells enter).
   *
   * Determinism: π is the 9-dp [[stationaryDistribution]] vector; each
   * cell term is one `ln` chain over exact count ratios, rounded 12 dp
   * and folded as DECIMAL(38,12) (the q219 ln-parity rule). Returns
   * one row `(n_states, entropy_nats, perplexity)`, 6-dp.
   *
   * Shape: everything after the [[transitions]] aggregate is
   * TYPE²-sized (the q218 contract).
   */
  def entropyRate(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id",
      iters: Int = 200): DataFrame = {
    val dec12 = "decimal(38,12)"
    val pi = stationaryDistribution(df, userCol, tsCol, typeCol, idCol,
      iters)
    val tr = transitions(df, userCol, tsCol, typeCol, idCol)
      .withColumnRenamed("src", "state")
    val rs = tr.groupBy(col("state")).agg(sum(col("n")).as("_tot"))
    val kTot = pi.agg(count(lit(1)).as("_k"))
    val cellTerms = tr.join(broadcast(rs), Seq("state"))
      .join(broadcast(pi), Seq("state"))
      .select(round(col("pi")
        * (col("n").cast("double") / col("_tot").cast("double"))
        * log(col("n").cast("double") / col("_tot").cast("double")), 12)
        .cast(dec12).as("_t"))
    val danglingTerms = pi
      .join(broadcast(rs), Seq("state"), "left_anti")
      .crossJoin(broadcast(kTot))
      .select(round(col("pi") * -log(col("_k").cast("double")), 12)
        .cast(dec12).as("_t"))
    cellTerms.unionByName(danglingTerms)
      .agg(coalesce(sum(col("_t")), lit(0).cast(dec12)).as("_h"))
      .crossJoin(broadcast(kTot))
      .select(col("_k").as("n_states"),
        round(-col("_h").cast("double"), 6).as("entropy_nats"),
        round(exp(-col("_h").cast("double")), 6).as("perplexity"))
  }
}
