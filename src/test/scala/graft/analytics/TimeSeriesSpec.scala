package graft.analytics

import graft.GraftSpec
import org.apache.spark.sql.functions._

class TimeSeriesSpec extends GraftSpec {
  import spark.implicits._

  // Interval 60s. User 1: observations in buckets 0, 0 (same bucket,
  // later (ts,id) wins), 3 — buckets 1 and 2 are gaps. User 2: a single
  // observation whose value is NULL, then a later real one — the NULL
  // must NOT be overwritten by LOCF (nothing precedes it) and must be
  // looked through by the bucket after it.
  private lazy val events = Seq(
    (1L, 1L, "2024-01-01 00:00:10", Some(10.0)),
    (2L, 1L, "2024-01-01 00:00:50", Some(20.0)), // same bucket, later ts
    (3L, 1L, "2024-01-01 00:03:30", Some(99.0)),
    (4L, 2L, "2024-01-01 00:05:00", None),       // NULL observation
    (5L, 2L, "2024-01-01 00:07:00", Some(7.0))
  ).toDF("event_id", "user_id", "s", "value")
    .withColumn("ts", to_timestamp(col("s"))).drop("s")

  private lazy val out = TimeSeries
    .resampleLocf(events, intervalSec = 60L)
    .orderBy("user_id", "bucket_start")
    .collect()
    .map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2))))

  test("grid spans each user's own observed range, gaps LOCF-filled") {
    val u1 = out.filter(_._1 == 1L)
    assert(u1.map(_._2).toSeq == Seq(
      "2024-01-01 00:00:00", "2024-01-01 00:01:00",
      "2024-01-01 00:02:00", "2024-01-01 00:03:00"))
    // bucket 0: later (ts,id) observation wins; 1-2: carried forward
    assert(u1.map(_._3).toSeq ==
      Seq(Some(20.0), Some(20.0), Some(20.0), Some(99.0)))
  }

  test("a NULL observation stays NULL at its bucket and is looked through") {
    val u2 = out.filter(_._1 == 2L)
    assert(u2.map(_._3).toSeq == Seq(None, None, Some(7.0)))
  }

  test("equal-timestamp observations fall back to the id tiebreak") {
    val tied = Seq(
      (7L, 9L, "2024-01-01 00:00:30", 1.0),
      (8L, 9L, "2024-01-01 00:00:30", 2.0) // same ts, higher id wins
    ).toDF("event_id", "user_id", "s", "value")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val got = TimeSeries.resampleLocf(tied, 60L).collect()
    assert(got.length == 1 && got(0).getDouble(2) == 2.0)
  }

  test("rejects a non-positive interval") {
    intercept[IllegalArgumentException] {
      TimeSeries.resampleLocf(events, 0L)
    }
  }

  test("rollingDistinctUsers: trailing-window distincts on active days " +
    "only; same-day repeats dedup; window length honored") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val ev = Seq(
      (1L, 0L), (1L, 100L),      // u1 twice on day 0 → one pair
      (2L, 86400L),              // u2 on day 1
      (1L, 8L * 86400L)          // u1 again on day 8 (outside day 1+7)
    ).toDF("user_id", "ep")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = TimeSeries.rollingDistinctUsers(ev, "user_id", "ts",
        windowDays = 7)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "1970-01-01" -> 1L,   // day 0: u1
      "1970-01-02" -> 2L,   // day 1: u1 (day 0) + u2
      "1970-01-09" -> 1L),  // day 8: only u1's new pair (day 1 aged out)
      got)
  }

  test("rollingDistinctUsers merge law: parity halves' user-day frames " +
    "fold to the whole-data series (q263)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val ev = Seq((1L, 1L, 0L), (2L, 1L, 100L), (3L, 2L, 86400L),
      (4L, 2L, 2L * 86400L), (5L, 1L, 8L * 86400L))
      .toDF("event_id", "user_id", "ep")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    def half(parity: Int) = TimeSeries.userDays(
      ev.filter(col("event_id") % 2 === parity), "user_id", "ts")
    val merged = TimeSeries.rollingFromUserDays(
        TimeSeries.mergeUserDays(half(0), half(1)), windowDays = 7)
      .collect().toSet
    assert(merged == TimeSeries.rollingDistinctUsers(ev, "user_id", "ts",
      windowDays = 7).collect().toSet)
    assert(merged.size == 4)
  }

  test("rollingDistinctUsersHll: the sketch form equals the exact form " +
    "on the fixture AND on real events (exact mode at this " +
    "cardinality)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val ev = Seq(
      (1L, 0L), (1L, 100L), (2L, 86400L), (1L, 8L * 86400L)
    ).toDF("user_id", "ep")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(
      rows(TimeSeries.rollingDistinctUsersHll(ev, "user_id", "ts", 7)) ==
        rows(TimeSeries.rollingDistinctUsers(ev, "user_id", "ts", 7)))
    val real = graft.Tables(spark, "/root/testdata/sf0.001", "events")
    assert(
      rows(TimeSeries.rollingDistinctUsersHll(real, "user_id", "ts", 7)) ==
        rows(TimeSeries.rollingDistinctUsers(real, "user_id", "ts", 7)),
      "HLL and exact rolling actives must agree on the real corpus")
    intercept[IllegalArgumentException] {
      TimeSeries.rollingDistinctUsersHll(ev, "user_id", "ts", 0)
    }
  }

  test("mixShiftDecomposition: hand-computed rate/mix split — the " +
    "identity delta = rate + mix holds exactly") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val wk = 604800L
    // week0: a = {1,1}, b = {3,3} (mean 2); week1: a = {2}, b = {3,3,3}
    val ev = Seq(
      (0L, "a", 1.0), (1L, "a", 1.0), (2L, "b", 3.0), (3L, "b", 3.0),
      (wk, "a", 2.0), (wk + 1, "b", 3.0), (wk + 2, "b", 3.0),
      (wk + 3, "b", 3.0))
      .toDF("ep", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = TimeSeries.mixShiftDecomposition(ev, "ts", "event_type",
      "value").collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "1970-01-08")
    assert(r.getDouble(1) == 2.0 && r.getDouble(2) == 2.75)
    assert(r.getDouble(3) == 0.75, s"$r")
    // rate: a .5·(2−1) = .5, b .5·0 = 0; mix: a −.25·2, b .25·3
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 0.25, s"$r")
    assert(r.getDouble(3) == r.getDouble(4) + r.getDouble(5),
      "delta = rate + mix")
  }

  test("growthAccounting: hand-built lifecycle — new, retained, " +
    "resurrected, churned; the identity holds every week") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val wk = 604800L
    // u1: weeks 0,1 (retained); u2: week 0 only (churns at 1);
    // u3: weeks 0,2 (resurrects at 2)
    val ev = Seq((1L, 0L), (1L, wk), (2L, 10L), (3L, 20L),
      (3L, 2L * wk))
      .toDF("user_id", "ep")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = TimeSeries.growthAccounting(ev, "user_id", "ts")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got("1970-01-01") == ((3L, 3L, 0L, 0L, 0L)), s"$got")
    assert(got("1970-01-08") == ((1L, 0L, 1L, 0L, 2L)), s"$got")
    assert(got("1970-01-15") == ((1L, 0L, 0L, 1L, 1L)), s"$got")
    assert(got("1970-01-22") == ((0L, 0L, 0L, 0L, 1L)),
      "the trailing week carries the final churn")
    got.values.foreach { case (a, n, r, s, _) =>
      assert(a == n + r + s, "active = new + retained + resurrected")
    }
  }

  test("mixCells merge law: disjoint-batch partials fold to the " +
    "whole-data entropy series") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val ev = Seq((0L, "a", 1L), (1L, "a", 2L), (2L, "b", 3L),
      (604801L, "b", 4L), (604802L, "c", 5L))
      .toDF("ep", "event_type", "event_id")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val whole = TimeSeries.mixEntropy(ev, "ts", "event_type")
      .collect().toSeq
    val merged = TimeSeries.mixEntropyFromCells(
      TimeSeries.mergeMixCells(
        TimeSeries.mixCells(ev.filter(col("event_id") % 2 === 0),
          "ts", "event_type")
          .union(TimeSeries.mixCells(
            ev.filter(col("event_id") % 2 =!= 0), "ts", "event_type"))))
      .collect().toSeq
    assert(merged == whole)
  }

  test("burstinessHistogram: a metronome lands at B = -1, a bursty " +
    "user above 0; short and degenerate users drop") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val metro = (0 to 5).map(i => (1L, i * 10L, i.toLong))
    val bursty = Seq(0L, 0L, 0L, 0L, 0L, 100L).scanLeft(0L)(_ + _).tail
      .zipWithIndex.map { case (t, i) => (2L, t, 100L + i) }
    val short = Seq((3L, 0L, 200L), (3L, 5L, 201L))
    val zeros = (0 to 5).map(i => (4L, 0L, 300L + i))
    val ev = (metro ++ bursty ++ short ++ zeros)
      .toDF("user_id", "ep", "event_id")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = TimeSeries.burstinessHistogram(ev, "user_id", "ts",
      "event_id", minGaps = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // metro: sigma 0, mu 10 → B = -1 → bucket -10
    // bursty gaps {0,0,0,0,100}: mu 20, sigma 40 → B = 1/3 → bucket 3
    assert(got == Map(-10L -> 1L, 3L -> 1L), s"$got")
  }

  test("seasonalStrength: a perfect weekly cycle gives zero seasonal " +
    "MAE and ratio 0; too-short series leaves mae_7 NULL") {
    import org.apache.spark.sql.functions.col
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vals = (1 to 7) ++ (1 to 7)
    val df = vals.zipWithIndex
      .map { case (v, i) => (f"d$i%02d", v.toDouble) }.toDF("o", "v")
    val got = TimeSeries.seasonalStrength(df, "o", "v", seasonLag = 7)
      .head()
    // e1: twelve 1-steps and one |1-7| wrap = 18/13; e7: all zero
    assert(got.getLong(0) == 14L)
    assert(got.getDouble(1) == r6(18.0 / 13.0), s"$got")
    assert(got.getDouble(2) == 0.0 && got.getDouble(3) == 0.0)
    val short = Seq(("a", 1.0), ("b", 3.0)).toDF("o", "v")
    val s = TimeSeries.seasonalStrength(short, "o", "v").head()
    assert(s.getDouble(1) == 2.0 && s.isNullAt(2) && s.isNullAt(3))
  }

  test("mixEntropy: a uniform two-type week scores 1 bit, a " +
    "single-type week scores 0") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val wk = 604800L
    val ev = Seq(
      (0L, "a"), (1L, "a"), (2L, "b"), (3L, "b"),       // week 0
      (wk + 1L, "a"), (wk + 2L, "a"))                   // week 1
      .toDF("ep", "event_type")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    val got = TimeSeries.mixEntropy(ev, "ts", "event_type").collect()
    assert(got.length == 2)
    assert(got(0).getString(0) == "1970-01-01")
    assert(got(0).getLong(1) == 4L && got(0).getLong(2) == 2L)
    assert(got(0).getDouble(3) == 1.0, "uniform 2-type mix = 1 bit")
    assert(got(1).getLong(2) == 1L && got(1).getDouble(3) == 0.0)
  }

  test("activeSetOverlapHll: inclusion–exclusion over day sketches " +
    "equals the exact adjacent-day Jaccard on the fixture AND on " +
    "real events (exact mode at this cardinality)") {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    // day0 {1,2,3}, day1 {2,3,4} → both 2, union 4, j = 0.5
    val ev = Seq((1L, 0L), (2L, 10L), (3L, 20L),
      (2L, 86400L), (3L, 86410L), (4L, 86420L))
      .toDF("user_id", "ep")
      .withColumn("ts", timestamp_seconds(col("ep"))).drop("ep")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val hll = rows(TimeSeries.activeSetOverlapHll(ev, "user_id", "ts"))
    assert(hll == Seq(("1970-01-02", 3L, 3L, 2L, 0.5)), s"$hll")
    assert(hll ==
      rows(TimeSeries.activeSetOverlap(ev, "user_id", "ts")))
    val real = graft.Tables(spark, "/root/testdata/sf0.001", "events")
    assert(
      rows(TimeSeries.activeSetOverlapHll(real, "user_id", "ts")) ==
        rows(TimeSeries.activeSetOverlap(real, "user_id", "ts")),
      "sketch and exact audience overlap must agree on the real corpus")
  }
}
