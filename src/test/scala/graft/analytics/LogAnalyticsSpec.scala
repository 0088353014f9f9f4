package graft.analytics

import graft.GraftSpec
import org.apache.spark.sql.functions._

class LogAnalyticsSpec extends GraftSpec {
  import spark.implicits._

  // golden fixture: 6 requests, 3 users (one NULL user), 2 with status 200
  private lazy val logs = Seq(
    (Some(1L), "/a", 200L),
    (Some(1L), "/b", 404L),
    (Some(1L), "/c", 200L),
    (Some(2L), "/a", 500L),
    (Some(2L), "/d", 301L),
    (None,     "/e", 304L)
  ).toDF("user_id", "request_resource", "status_code")
    .withColumn("time", to_timestamp(lit("2024-05-06 07:08:09")))

  test("requestsPerUser matches hand-computed golden counts") {
    val got = LogAnalytics.requestsPerUser(logs)
      .orderBy(asc_nulls_first("user_id"))
      .collect().map(r => (Option(r.get(0)), r.getLong(1)))
    assert(got.toSeq == Seq((None, 1L), (Some(1L), 3L), (Some(2L), 2L)))
  }

  test("distinctUsers excludes NULLs (SQL count-distinct semantics)") {
    assert(LogAnalytics.distinctUsers(logs).collect()(0).getLong(0) == 2L)
  }

  test("totalsRow computes all three scalars in one pass") {
    val r = LogAnalytics.totalsRow(
      logs,
      runDate = date_format(col("time"), "yyyy-MM-dd"),
      successPred = col("status_code") === 200
    ).collect()(0)
    assert(r.getAs[String]("run_date") == "2024-05-06")
    assert(r.getAs[Long]("user_count") == 2L)
    assert(r.getAs[Long]("total_successful_requests") == 2L)
  }

  test("approx distinct is within rsd of exact") {
    val exact = 2.0
    val approx = LogAnalytics.approxDistinctUsers(logs, rsd = 0.01)
      .collect()(0).getLong(0).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05)
  }

  test("sessionCounts: gap splits sessions; null users excluded") {
    import spark.implicits._
    val events = Seq(
      (Some(1L), "2024-05-06 10:00:00", "/a"),
      (Some(1L), "2024-05-06 10:10:00", "/b"), // same session (10 min)
      (Some(1L), "2024-05-06 12:00:00", "/c"), // new session (>30 min gap)
      (Some(2L), "2024-05-06 09:00:00", "/a"),
      (None,     "2024-05-06 09:00:00", "/x")  // null user dropped
    ).toDF("user_id", "t", "request_resource")
      .withColumn("time", to_timestamp(col("t"))).drop("t")
    val got = LogAnalytics.sessionCounts(events, gapSeconds = 1800L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("sessionProfile: bounce = one-event session; depth and max " +
    "from the same gap rule") {
    import spark.implicits._
    // u1: session (/a,/b) then bounce (/c); u2: bounce (/a)
    val events = Seq(
      (Some(1L), "2024-05-06 10:00:00", "/a"),
      (Some(1L), "2024-05-06 10:10:00", "/b"),
      (Some(1L), "2024-05-06 12:00:00", "/c"),
      (Some(2L), "2024-05-06 09:00:00", "/a"),
      (None,     "2024-05-06 09:00:00", "/x")
    ).toDF("user_id", "t", "request_resource")
      .withColumn("time", to_timestamp(col("t"))).drop("t")
    val got = LogAnalytics.sessionProfile(events,
      tsCol = "time", tieCol = "request_resource",
      gapSeconds = 1800L).head()
    assert(got.getLong(0) == 3L, s"$got")      // 3 sessions
    assert(got.getLong(1) == 2L, s"$got")      // 2 bounces
    assert(got.getDouble(2) == 0.666667, s"$got")
    assert(got.getDouble(3) == 1.333333, s"$got") // 4 events / 3
    assert(got.getLong(4) == 2L, s"$got")
  }

  test("sessionIntervals: bounds per session, disjoint, counts agree") {
    import spark.implicits._
    val events = Seq(
      (Some(1L), "2024-05-06 10:00:00", "/a"),
      (Some(1L), "2024-05-06 10:10:00", "/b"),
      (Some(1L), "2024-05-06 12:00:00", "/c"),
      (Some(2L), "2024-05-06 09:00:00", "/a"),
      (None,     "2024-05-06 09:00:00", "/x")
    ).toDF("user_id", "t", "request_resource")
      .withColumn("time", to_timestamp(col("t"))).drop("t")
    val iv = LogAnalytics.sessionIntervals(events, gapSeconds = 1800L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val ep = java.time.LocalDateTime.parse("2024-05-06T10:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    assert(iv == Seq(
      (1L, 1L, ep, ep + 600),          // 10:00–10:10 session
      (1L, 2L, ep + 7200, ep + 7200),  // single-event 12:00 session
      (2L, 1L, ep - 3600, ep - 3600)))
    // per-user interval counts equal sessionCounts
    val fromIv = iv.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val counts = LogAnalytics.sessionCounts(events, gapSeconds = 1800L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromIv == counts)
    // one shuffle: the bounds groupBy reuses the window's user clustering
    val p = LogAnalytics.sessionIntervals(events, gapSeconds = 1800L)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected one shuffle:\n$p")
  }

  test("athena validation trio runs over a registered table") {
    logs.createOrReplaceTempView("graft_athena_test")
    val Seq(nonnull, perUser, success) =
      LogAnalytics.athenaSql("graft_athena_test").map(spark.sql)
    assert(nonnull.collect()(0).getLong(0) == 5L)  // 5 rows with non-null user
    assert(perUser.count() == 3L)                  // users 1, 2, and the NULL group
    assert(success.collect()(0).getLong(0) == 2L)  // 2 with status 200
  }

  private def ev(user: Long, t: String, typ: String) =
    (user, java.sql.Timestamp.valueOf(t), typ)

  test("funnel: strict order, step cap, out-of-order completions don't count") {
    val events = Seq(
      // user 1: full ordered funnel
      ev(1L, "2024-01-01 10:00:00", "view"),
      ev(1L, "2024-01-01 10:05:00", "click"),
      ev(1L, "2024-01-01 10:10:00", "purchase"),
      // user 2: purchase BEFORE click — stops at click
      ev(2L, "2024-01-01 09:00:00", "view"),
      ev(2L, "2024-01-01 09:10:00", "purchase"),
      ev(2L, "2024-01-01 09:20:00", "click"),
      // user 3: click outside the 1-hour cap — stops at view
      ev(3L, "2024-01-01 08:00:00", "view"),
      ev(3L, "2024-01-01 09:30:00", "click"),
      // user 4: never viewed — not even stage 1
      ev(4L, "2024-01-01 07:00:00", "click")
    ).toDF("user_id", "ts", "event_type")
    val got = LogAnalytics.funnel(events,
        Seq("view", "click", "purchase"), maxStepSeconds = Some(3600L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(got == Seq((1L, "view", 3L), (2L, "click", 2L), (3L, "purchase", 1L)))
  }

  test("funnel: anchor is the EARLIEST qualifying event, not any event") {
    // user's first view is late; an earlier click must not count, a
    // later one must
    val events = Seq(
      ev(1L, "2024-01-01 10:00:00", "click"),
      ev(1L, "2024-01-01 11:00:00", "view"),
      ev(2L, "2024-01-01 10:00:00", "view"),
      ev(2L, "2024-01-01 10:30:00", "click")
    ).toDF("user_id", "ts", "event_type")
    val got = LogAnalytics.funnel(events, Seq("view", "click"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got == Map("view" -> 2L, "click" -> 1L))
  }

  test("hourlyAnomaly: z-scores against the hourly-bucket mean/stddev; " +
    "degenerate inputs yield NULL z") {
    // 3 buckets with counts 1, 1, 4: mu = 2, sd = sqrt(3)
    val ev = Seq(
      "2024-05-06 00:10:00",
      "2024-05-06 01:20:00",
      "2024-05-06 02:00:00", "2024-05-06 02:15:00",
      "2024-05-06 02:30:00", "2024-05-06 02:45:00"
    ).toDF("s").withColumn("ts", to_timestamp(col("s")))
    val got = LogAnalytics.hourlyAnomaly(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sd = math.sqrt(3.0)
    assert(got == Seq(
      ("2024-05-06 00:00:00", 1L, r6((1 - 2.0) / sd)),
      ("2024-05-06 01:00:00", 1L, r6((1 - 2.0) / sd)),
      ("2024-05-06 02:00:00", 4L, r6((4 - 2.0) / sd))))

    // single bucket: stddev undefined -> NULL z, not a crash
    val one = LogAnalytics.hourlyAnomaly(ev.limit(1)).collect()
    assert(one.length == 1 && one(0).isNullAt(2))
    // constant buckets: stddev 0 -> NULL z, not a division blow-up
    val const = LogAnalytics.hourlyAnomaly(ev.filter(
      col("s") < "2024-05-06 02:00:00")).collect()
    assert(const.length == 2 && const.forall(_.isNullAt(2)))
  }

  test("cohortRetention: offsets key off the first-event Monday week") {
    val events = Seq(
      // user 1: first event Tue Jan 2 (cohort = Mon Jan 1), active weeks 0 and 2
      ev(1L, "2024-01-02 10:00:00", "view"),
      ev(1L, "2024-01-16 10:00:00", "view"),
      // user 2: cohort Mon Jan 8, active weeks 0 and 1
      ev(2L, "2024-01-08 10:00:00", "view"),
      ev(2L, "2024-01-10 10:00:00", "view"), // same week — one activity row
      ev(2L, "2024-01-15 10:00:00", "view")
    ).toDF("user_id", "ts", "event_type")
    val got = LogAnalytics.cohortRetention(events)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-08", 0L, 1L), ("2024-01-08", 1L, 1L)))
  }

  test("cohortRetention merge law: parity halves' user-week frames fold " +
    "to the whole-data matrix (q239)") {
    val events = Seq(
      (1L, 1L, "2024-01-02 10:00:00"), (2L, 1L, "2024-01-16 10:00:00"),
      (3L, 2L, "2024-01-08 10:00:00"), (4L, 2L, "2024-01-10 10:00:00"),
      (5L, 2L, "2024-01-15 10:00:00"), (6L, 3L, "2024-01-09 10:00:00"))
      .toDF("event_id", "user_id", "s")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val merged = LogAnalytics.cohortRetentionFromWeeks(LogAnalytics.mergeWeeks(
      LogAnalytics.userWeeks(events.filter(col("event_id") % 2 === 0)),
      LogAnalytics.userWeeks(events.filter(col("event_id") % 2 =!= 0))))
    assert(rows(merged) == rows(LogAnalytics.cohortRetention(events)))
    assert(rows(merged).size == 4)
  }

  test("transitions: adjacent pairs per user in (ts, id) order; first " +
    "events and NULL users contribute nothing") {
    def ev(id: Long, u: Option[Long], s: String, t: String) = (id, u, s, t)
    val events = Seq(
      ev(1L, Some(1L), "2024-01-01 10:00:00", "view"),
      ev(2L, Some(1L), "2024-01-01 10:01:00", "click"),
      ev(3L, Some(1L), "2024-01-01 10:02:00", "click"),
      // same-ts tie: id order decides view(4) precedes click(5)
      ev(4L, Some(2L), "2024-01-01 10:00:00", "view"),
      ev(5L, Some(2L), "2024-01-01 10:00:00", "click"),
      ev(6L, None,     "2024-01-01 10:00:00", "view")
    ).map { case (id, u, s, t) => (id, u, s, t) }
      .toDF("event_id", "user_id", "s", "event_type")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val got = LogAnalytics.transitions(events)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == Set(
      ("view", "click", 2L),  // u1 view→click + u2 tie-ordered pair
      ("click", "click", 1L)))
  }

  test("debounce: first event per occupied fixed window survives; " +
    "idempotent; keys independent") {
    def ev(id: Long, u: Long, s: String, t: String) = (id, u, s, t)
    val events = Seq(
      // u1/click: burst at 0s,10s,50s (one window) + 70s (next window)
      ev(1L, 1L, "2024-01-01 00:00:00", "click"),
      ev(2L, 1L, "2024-01-01 00:00:10", "click"),
      ev(3L, 1L, "2024-01-01 00:00:50", "click"),
      ev(4L, 1L, "2024-01-01 00:01:10", "click"),
      // u1/view: its own anchor — not debounced against clicks
      ev(5L, 1L, "2024-01-01 00:00:05", "view"),
      // u2: a different user's window starts at their first event
      ev(6L, 2L, "2024-01-01 00:00:30", "click")
    ).map { case (id, u, s, t) => (id, u, s, t) }
      .toDF("event_id", "user_id", "s", "event_type")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val kept = LogAnalytics.debounce(events, withinSeconds = 60L)
    val ids = kept.collect().map(_.getAs[Long]("event_id")).toSet
    assert(ids == Set(1L, 4L, 5L, 6L))
    // idempotent: debouncing the debounced stream changes nothing
    val again = LogAnalytics.debounce(kept, withinSeconds = 60L)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(again == ids)
    intercept[IllegalArgumentException] {
      LogAnalytics.debounce(events, 0L)
    }
  }

  test("cooccurrence: bucket-distinct counting, hand-checked lift, " +
    "bursts count once") {
    def ev(id: Long, u: Long, s: String, t: String) = (id, u, s, t)
    val events = Seq(
      // bucket (u1, h0): view + click — a CO-OCCURRING pair; the three
      // extra clicks in the same hour must not inflate n_ab
      ev(1L, 1L, "2024-01-01 00:05:00", "view"),
      ev(2L, 1L, "2024-01-01 00:10:00", "click"),
      ev(3L, 1L, "2024-01-01 00:11:00", "click"),
      ev(4L, 1L, "2024-01-01 00:12:00", "click"),
      // bucket (u1, h1): click alone
      ev(5L, 1L, "2024-01-01 01:30:00", "click"),
      // bucket (u2, h0): view alone
      ev(6L, 2L, "2024-01-01 00:20:00", "view")
    ).map { case (id, u, s, t) => (id, u, s, t) }
      .toDF("event_id", "user_id", "s", "event_type")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val got = LogAnalytics.cooccurrence(events)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // N = 3 buckets; n_click = 2, n_view = 2, n_ab = 1
    // lift = 1 * 3 / (2 * 2) = 0.75
    assert(got == Map(("click", "view") -> ((1L, 0.75))))
  }

  test("lastTouchAttribution: credits the latest prior NON-conversion " +
    "within the window; earlier conversions never absorb credit; no " +
    "prior (or out-of-window) goes to (none)") {
    val ev = Seq(
      (1L, 10L, 1L, "view", 0.0),
      (1L, 50L, 2L, "purchase", 5.0),   // view@10 within 100 → view
      (1L, 400L, 3L, "purchase", 7.0),  // view@10 gap 390 > 100 → none
      (2L, 10L, 4L, "click", 0.0),
      (2L, 20L, 5L, "purchase", 1.0),   // click
      (2L, 30L, 6L, "purchase", 2.0),   // prior purchase skipped → click
      (3L, 5L, 7L, "purchase", 9.0)     // no prior at all → none
    ).toDF("user_id", "ep", "event_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = LogAnalytics.lastTouchAttribution(ev, "user_id", "ts",
        "event_id", "event_type", "value", "purchase", windowSec = 100L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(
      "view" -> ((1L, 5.0)),
      "click" -> ((2L, 3.0)),
      "(none)" -> ((2L, 16.0))), got)
  }

  test("stationaryDistribution: textbook 2-state chain lands on " +
    "(1/3, 2/3); dangling states conserve mass; no-transition input " +
    "rejected") {
    import java.sql.Timestamp
    def ev(u: Long, seq: String*) = seq.zipWithIndex.map { case (t, i) =>
      (i.toLong + u * 100, Timestamp.valueOf(s"2024-01-01 00:0$i:00"),
        u, t, 1.0)
    }
    // a->b, b->a, a->b, b->b: P(a,·) = (0,1), P(b,·) = (.5,.5)
    val chain = ev(1L, "a", "b", "a", "b", "b")
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val pi = LogAnalytics.stationaryDistribution(chain)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pi("a") == 0.333333333 && pi("b") == 0.666666667, pi)
    // a terminal-only state is dangling: uniform out-row, mass conserved
    val dang = (ev(1L, "a", "b", "a", "b", "b") ++ ev(2L, "a", "c"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val pd = LogAnalytics.stationaryDistribution(dang)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pd.keySet == Set("a", "b", "c"))
    assert(math.abs(pd.values.sum - 1.0) < 1e-8)
    assert(pd.values.forall(_ > 0.0), "irreducible with the uniform fix")
    intercept[IllegalArgumentException] {
      LogAnalytics.stationaryDistribution(
        ev(1L, "a").toDF("event_id", "ts", "user_id", "event_type",
          "value"))
    }
  }

  test("rfmSegments: champions vs lost on a hand cohort; quintile " +
    "boundaries deterministic") {
    import java.sql.Timestamp
    // 5 users, clean orderings on all three axes: user i has i events
    // of value i on day i (recency: later day = fresher)
    val ev = (1 to 5).flatMap { u =>
      (1 to u).map { e =>
        (u.toLong * 100 + e, Timestamp.from(
          java.time.Instant.ofEpochSecond(u.toLong * 86400L)),
          u.toLong, "view", u.toDouble)
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = LogAnalytics.rfmSegments(ev)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    // user 5 is freshest, most frequent, highest value → 555;
    // user 1 the opposite → 111; every user its own segment
    assert(got.keySet == Set("111", "222", "333", "444", "555"), s"$got")
    assert(got("555") == ((1L, 25.0)), s"$got") // 5 events × value 5
    assert(got("111") == ((1L, 1.0)), s"$got")
  }

  test("cohortLtv: cumulative per-user value by offset on a hand " +
    "cohort") {
    import java.sql.Timestamp
    // two users in one cohort week (epoch week 0), one returns next
    // week: week0 value 10+20, week1 value 6 → per-user 15, then 18
    def at(day: Int) = Timestamp.from(
      java.time.Instant.ofEpochSecond(day.toLong * 86400L + 3600L))
    val ev = Seq(
      (1L, at(0), 1L, "purchase", 10.0),
      (2L, at(1), 2L, "purchase", 20.0),
      (3L, at(8), 1L, "purchase", 6.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = LogAnalytics.cohortLtv(ev)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getDouble(3))))
    assert(got.toSeq == Seq(0L -> ((2L, 15.0)), 1L -> ((2L, 18.0))),
      s"${got.toSeq}")
  }

  test("stickiness: dau/mau ratio on a two-day fixture") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.timestamp_seconds
    // day0: u1,u2; day1: u1 → day0 mau {u1,u2}, day1 mau {u1,u2}
    val ev = Seq((1L, 0L), (2L, 10L), (1L, 86400L))
      .toDF("user_id", "ep")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = graft.analytics.TimeSeries
      .stickiness(ev, "user_id", "ts", windowDays = 30)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("1970-01-01") == ((2L, 2L, 1.0)), s"$got")
    assert(got("1970-01-02") == ((1L, 2L, 0.5)), s"$got")
  }

  test("activeSetOverlap: identical audiences score 1, disjoint 0; " +
    "days without an active previous day emit nothing") {
    import org.apache.spark.sql.functions.timestamp_seconds
    // day0 {1,2}; day1 {1,2} → J=1; day2 {3} → J=0; day4 {1} (gap —
    // day3 inactive, so day4 emits nothing)
    val ev = Seq((1L, 0L), (2L, 0L), (1L, 86400L), (2L, 86400L),
      (3L, 2L * 86400L), (1L, 4L * 86400L))
      .toDF("user_id", "ep")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = graft.analytics.TimeSeries
      .activeSetOverlap(ev, "user_id", "ts")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == Set("1970-01-02", "1970-01-03"), s"$got")
    assert(got("1970-01-02") == ((2L, 2L, 2L, 1.0)), s"$got")
    assert(got("1970-01-03") == ((2L, 1L, 0L, 0.0)), s"$got")
  }

  test("churnFeatures: fixed-order scaled features, horizon label, " +
    "and a probe fit that separates a planted churn signal") {
    import java.sql.Timestamp
    // u1 active at the corpus edge (retained), u2 stopped long ago
    // (churned); u2 has many errors — the planted separating feature
    val rows =
      Seq((1L, "view", 0L), (2L, "view", 1000L),
        (3L, "click", 500L * 3600L), (4L, "view", 500L * 3600L + 10L)
      ).map { case (id, t, ep) =>
        (id, Timestamp.from(java.time.Instant.ofEpochSecond(ep)), 1L, t,
          1.0)
      } ++ Seq(
        (11L, "error", 0L), (12L, "error", 3600L), (13L, "error", 7200L)
      ).map { case (id, t, ep) =>
        (id, Timestamp.from(java.time.Instant.ofEpochSecond(ep)), 2L, t,
          1.0)
      }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = LogAnalytics.churnFeatures(ev)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1), r.getDouble(2)))).toMap
    // u1: 1 click + 3 views over 500h; u2: 3 errors over 2h, churned
    assert(got(1L)._1 == Seq(0.01, 0.0, 0.0, 0.0, 0.03, 0.5, 0.04),
      s"${got(1L)}")
    assert(got(1L)._2 == 0.0 && got(2L)._2 == 1.0, s"$got")
    assert(got(2L)._1 == Seq(0.0, 0.03, 0.0, 0.0, 0.0, 0.002, 0.03),
      s"${got(2L)}")
    // the probe on these features reproduces both labels exactly at
    // tiny lambda (2 points, separable)
    val rep = graft.ext.Probe.report(
      LogAnalytics.churnFeatures(ev), "features", col("churned"),
      dim = 7, lambda = 1e-6).head()
    assert(rep.getLong(0) == 2L && rep.getDouble(3) == 1.0,
      s"accuracy: $rep")
  }

  test("topJourneyTrigrams: triples per user in order, first two " +
    "events open none, ties break by path") {
    import java.sql.Timestamp
    def ev(u: Long, seq: String*) = seq.zipWithIndex.map { case (t, i) =>
      (i.toLong + u * 100, Timestamp.valueOf(s"2024-01-01 00:0$i:00"),
        u, t, 1.0)
    }
    // u1: a,b,c,b,c → (a,b,c), (b,c,b), (c,b,c); u2: a,b,c → (a,b,c)
    val events = (ev(1L, "a", "b", "c", "b", "c") ++ ev(2L, "a", "b", "c"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = LogAnalytics.topJourneyTrigrams(events, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", "b", "c", 2L),
      ("b", "c", "b", 1L),
      ("c", "b", "c", 1L)), s"${got.toSeq}")
    val top1 = LogAnalytics.topJourneyTrigrams(events, k = 1).collect()
    assert(top1.length == 1 && top1.head.getLong(3) == 2L)
    intercept[IllegalArgumentException] {
      LogAnalytics.topJourneyTrigrams(events, k = 0)
    }
  }

  test("entropyRate: a deterministic cycle has zero entropy and " +
    "perplexity 1; a dangling state contributes its uniform ln k") {
    import java.sql.Timestamp
    def ev(u: Long, seq: String*) = seq.zipWithIndex.map { case (t, i) =>
      (i.toLong + u * 100, Timestamp.valueOf(s"2024-01-01 00:0$i:00"),
        u, t, 1.0)
    }
    val cycle = ev(1L, "a", "b", "a", "b", "a")
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val det = LogAnalytics.entropyRate(cycle).head()
    assert(det.getLong(0) == 2L, s"$det")
    assert(det.getDouble(1) == 0.0 && det.getDouble(2) == 1.0, s"$det")

    // x→y once, y dangling: π = (1/3, 2/3) at 9 dp; the only entropy
    // is the dangling uniform row — H = π_y·ln 2
    val dang = ev(1L, "x", "y")
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = LogAnalytics.entropyRate(dang).head()
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val h = -r(0.666666667 * -math.log(2.0), 12)
    assert(got.getLong(0) == 2L, s"$got")
    assert(got.getDouble(1) == r(h, 6), s"$got")
    assert(got.getDouble(2) == r(math.exp(h), 6), s"$got")
  }

  test("journeyMemory: a deterministic alternation has zero " +
    "conditional entropy at both orders; memory never hurts") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    def ev(rows: Seq[(Long, Long, String)]) = rows.zipWithIndex
      .map { case ((u, t, ty), i) => (u, t, ty, i.toLong) }
      .toDF("user_id", "ep", "event_type", "event_id")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val alt = ev((0 to 5).map(i =>
      (1L, i.toLong, if (i % 2 == 0) "a" else "b")))
    val d = LogAnalytics.journeyMemory(alt).head()
    assert(d.getDouble(2) == 0.0 && d.getDouble(3) == 0.0)
    assert(d.getDouble(4) == 0.0, s"$d")
    // second-order structure: c follows ab but x follows bb —
    // order 1 can't see it, order 2 can
    val seq2 = ev(Seq((1L, 0L, "a"), (1L, 1L, "b"), (1L, 2L, "c"),
      (2L, 0L, "b"), (2L, 1L, "b"), (2L, 2L, "x"),
      (3L, 0L, "a"), (3L, 1L, "b"), (3L, 2L, "c"),
      (4L, 0L, "b"), (4L, 1L, "b"), (4L, 2L, "x")))
    val m = LogAnalytics.journeyMemory(seq2).head()
    assert(m.getDouble(3) == 0.0, "order 2 resolves the branch")
    assert(m.getDouble(2) > 0.0 && m.getDouble(4) > 0.0, s"$m")
  }
}
