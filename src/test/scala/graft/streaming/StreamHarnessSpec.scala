package graft.streaming

import graft.{GraftSpec, Tables}
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions._

/**
 * Pins the properties that make q367/q368/q369 genuine STREAMING
 * certificates rather than batch queries in costume:
 *
 *  - the drain really runs one file per micro-batch (batch count == file
 *    count), so aggregate/dedup state demonstrably spans batches;
 *  - the minDataBatches tooth THROWS on a degenerate run — the guard
 *    that poisons the oracle compare instead of vacuously passing it;
 *  - shard assignment must be total — a partial assignment (dropped
 *    rows) throws at fixture-build time, never silently thins the data;
 *  - streaming dropDuplicates emits a key seen in an early batch exactly
 *    once even when it recurs in later batches (the state property);
 *  - every micro-batch job runs with the local checkpoint manager, the
 *    session's own keys come back as they were, and no checkpoint
 *    directory outlives its drain.
 */
class StreamHarnessSpec extends GraftSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_shs_$tag").toString

  private val managerKey = StreamHarness.checkpointManagerKey

  /** The session's own (explicitly set) value of `key`. */
  private def sessionValue(key: String): Option[String] =
    spark.conf.getAll.get(key)

  /** This JVM's drain checkpoint directories now in the temp dir. */
  private def checkpointDirs(): Set[String] = {
    val prefix = s"graft_ckpt_${ProcessHandle.current().pid()}_"
    Option(new java.io.File(sys.props("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String]).filter(_.startsWith(prefix)).toSet
  }

  private def queryId(j: SparkListenerJobStart) =
    Option(j.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))

  test("shard writes one mod-time-ordered file per shard and the drain " +
      "runs exactly one data micro-batch per file") {
    val dir = freshDir("perfile")
    val df = (1 to 100).map(i => (i.toLong, s"k${i % 7}")).toDF("id", "k")
    StreamHarness.shard(df, pmod(col("id"), lit(5L)), 5, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 5)
    // strictly increasing modification times = deterministic drain order
    assert(files.map(_.lastModified()).sliding(2).forall(p => p(0) < p(1)))
    val out = StreamHarness.drain(spark, dir, "complete",
        minDataBatches = 5) { src =>
      src.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    }
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = df.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("minDataBatches tooth: a run that cannot reach the floor throws " +
      "instead of returning a result") {
    val dir = freshDir("tooth")
    val df = (1 to 20).map(i => (i.toLong, "x")).toDF("id", "k")
    StreamHarness.shard(df, pmod(col("id"), lit(2L)), 2, dir)
    val ckptsBefore = checkpointDirs()
    val partsBefore = sessionValue("spark.sql.shuffle.partitions")
    assert(sessionValue(managerKey).isEmpty)
    val ex = intercept[IllegalArgumentException] {
      StreamHarness.drain(spark, dir, "complete", minDataBatches = 6,
          statePartitions = Some(2)) {
        src => src.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      }
    }
    assert(ex.getMessage.contains("degenerated"))
    assert(checkpointDirs() == ckptsBefore,
      "a failed drain must delete its checkpoint directory")
    assert(sessionValue(managerKey).isEmpty)
    assert(sessionValue("spark.sql.shuffle.partitions") == partsBefore)
  }

  test("every micro-batch job runs with the FileSystem checkpoint " +
      "manager, and the session's own value of the key is unchanged " +
      "after the drain, whether it was unset or set") {
    val df = (1 to 40).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "k")
    val want = df.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def drainJobs(): Seq[SparkListenerJobStart] = {
      val dir = freshDir("manager")
      StreamHarness.shard(df, pmod(col("id"), lit(3L)), 3, dir)
      val (got, jobs) = startedJobs {
        StreamHarness.drain(spark, dir, "complete", minDataBatches = 3) {
          src => src.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        }.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(got == want)
      jobs.filter(queryId(_).isDefined)
    }
    def assertLocalManager(jobs: Seq[SparkListenerJobStart]): Unit = {
      assert(jobs.nonEmpty, "the drain ran no micro-batch job")
      assert(jobs.forall(_.properties.getProperty(managerKey) ==
        StreamHarness.localCheckpointManager),
        jobs.map(_.properties.getProperty(managerKey)).distinct.toString)
    }
    assert(sessionValue(managerKey).isEmpty)
    assertLocalManager(drainJobs())
    assert(sessionValue(managerKey).isEmpty, "an unset key must stay unset")
    val callers = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    spark.conf.set(managerKey, callers)
    try {
      assertLocalManager(drainJobs())
      assert(sessionValue(managerKey).contains(callers))
    } finally spark.conf.unset(managerKey)
  }

  test("the drain reads its source schema from the shard marker: no " +
      "footer-inference job before the first micro-batch, and the same " +
      "schema the footers give") {
    val dir = freshDir("schema")
    val df = spark.range(24).selectExpr(
      "id", "CAST(id AS STRING) AS s", "id / 3.0D AS d",
      "CAST(id AS DECIMAL(38, 12)) AS dec",
      "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
      "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ntz", "DATE'2024-01-01' AS day",
      "array(CAST(id AS STRING), NULL) AS arr", "map('k', CAST(id AS INT)) AS m",
      "named_struct('a', CAST(id AS INT), 'b', 'x') AS st",
      "id % 2 = 0 AS flag", "CAST('ab' AS BINARY) AS bin")
    StreamHarness.shard(df, pmod(col("id"), lit(3L)), 3, dir)
    val (inferred, inferJobs) = countingJobs(spark.read.parquet(dir).schema)
    assert(inferJobs == 1, "footer inference is the one job the marker saves")
    var streamed: org.apache.spark.sql.types.StructType = null
    val (rows, jobs) = startedJobs {
      StreamHarness.drain(spark, dir, "append", minDataBatches = 3) { src =>
        streamed = src.schema
        src
      }.collect().length
    }
    assert(rows == 24)
    assert(streamed == inferred)
    assert(jobs.count(queryId(_).isDefined) > 0)
    assert(jobs.forall(queryId(_).isDefined),
      "the drain must start no job outside its micro-batches")
  }

  test("shard totality: an assignment that drops rows (nulls or " +
      "out-of-range values) throws at build time") {
    val dir = freshDir("total")
    val df = (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      // id % 7 lands in [0,7) but only 4 shards are declared — rows in
      // shards 4..6 would be dropped
      StreamHarness.shard(df, pmod(col("id"), lit(7L)), 4, dir)
    }
    assert(ex.getMessage.contains("not total"))
  }

  test("streaming dropDuplicates state spans batches: a key recurring " +
      "in every shard is emitted exactly once (q369's property)") {
    val dir = freshDir("dedup")
    // key "hot" appears in all 4 shards; cold keys are shard-local
    val df = (0 until 4).flatMap(sh =>
      ("hot", sh.toLong) +: (1 to 5).map(i => (s"cold_${sh}_$i", sh.toLong)))
      .toDF("k", "sh")
    StreamHarness.shard(df, col("sh"), 4, dir)
    val out = StreamHarness.drain(spark, dir, "append",
        minDataBatches = 4) { src =>
      src.select(col("k")).dropDuplicates("k")
    }.collect().map(_.getString(0))
    assert(out.count(_ == "hot") == 1, "hot key must emit exactly once")
    assert(out.length == 21, s"4*5 cold + 1 hot, got ${out.length}")
  }

  test("q371's property: the flatMapGroupsWithState sessionizer under " +
      "time-monotone shards — sessions span batch boundaries, gaps break " +
      "across batches, the 1800s boundary merges, sentinels flush opens " +
      "exactly once, and counts equal the batch sessionizer") {
    val dir = freshDir("sessions")
    val t0 = 1704067200L // 2024-01-01T00:00:00Z
    def ts(e: Long) = new java.sql.Timestamp(e * 1000L)
    // (user, epoch, shard): shard ranges are time-monotone, so arrival
    // order is event-time order — the q371 harness contract
    val rows = Seq(
      (1L, t0, 0L), (1L, t0 + 600, 0L),   // u1 session 1
      (2L, t0, 0L),                        // u2 session 1 opens
      (4L, t0 + 1000, 0L),                 // u4 opens at shard 0's edge
      (4L, t0 + 2500, 1L),                 // gap 1500: SAME session, next batch
      (1L, t0 + 2600, 1L),                 // gap 2000: NEW session cross-batch
      (2L, t0 + 1800, 1L),                 // gap exactly 1800: merges
      (2L, t0 + 3600, 2L),                 // again exactly 1800: still one
      (3L, t0 + 4000, 2L),                 // u3 session 1
      (3L, t0 + 10000, 3L),                // gap 6000: u3 session 2
      (-1L, t0 + 100L * 86400, 4L),        // sentinel: advance watermark
      (-1L, t0 + 200L * 86400, 5L))        // sentinel: fire the timeouts
    val df = rows.zipWithIndex
      .map { case ((u, e, sh), i) => (u, ts(e), i.toLong, sh) }
      .toDF("user_id", "time", "event_id", "sh")
    StreamHarness.shard(df, col("sh"), 6, dir)
    val out = StreamHarness.drain(spark, dir, "append",
        minDataBatches = 6) { src =>
      StreamingAnalytics.sessionize(
        src.select(col("user_id"), col("time")),
        gapSeconds = 1800L, watermarkDelay = "10 minutes").toDF()
    }.filter(col("user_id") =!= -1L).collect()
    val counts = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(counts == Map(1L -> 2, 2L -> 1, 3L -> 2, 4L -> 1))
    // the cross-batch session kept its exact bounds and request count
    val u4 = out.filter(_.getLong(0) == 4L)
    assert(u4.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((t0 + 1000, t0 + 2500, 2L)))
    // emitted-session counts equal the batch lag-then-running-sum answer
    val batch = graft.analytics.LogAnalytics.sessionCounts(
      df.filter(col("user_id") =!= -1L), userCol = "user_id",
      tsCol = "time", tieCol = "event_id", gapSeconds = 1800L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == batch)
  }

  test("statePartitions: results are partition-count-invariant, the " +
      "session's shuffle partitions are restored after the drain, and " +
      "the spark.graft.stream.statePartitions override is accepted") {
    val df = (1 to 120).map(i => (i.toLong, s"k${i % 6}")).toDF("id", "k")
    val want = df.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def censusWith(statePartitions: Option[Int]): Map[String, Long] = {
      val dir = freshDir(s"sp${statePartitions.getOrElse(0)}")
      StreamHarness.shard(df, pmod(col("id"), lit(4L)), 4, dir)
      StreamHarness.drain(spark, dir, "complete", minDataBatches = 4,
          statePartitions = statePartitions) { src =>
        src.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      }.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(censusWith(None) == want)
    assert(censusWith(Some(1)) == want)
    assert(censusWith(Some(3)) == want)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "drain must restore the session's batch shuffle width")
    spark.conf.set("spark.graft.stream.statePartitions", "2")
    try assert(censusWith(Some(7)) == want) // override path exercises too
    finally spark.conf.unset("spark.graft.stream.statePartitions")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("statePartitionsFor derives the store count from state volume: " +
      "floor, scaling, power-of-two rounding, clamp and the target knob") {
    // the bench's local[32] landings for the four declared streams
    // (maxStores pins the cap so the law is testable under local[4]):
    // 5 census keys and (days×types) window keys land on the 4 floor;
    // sf0.1's ~7500 dedup pairs and ~1500 session users (512 B each)
    // both derive 8 — exactly the r17-measured operator sizings
    assert(StreamHarness.statePartitionsFor(spark, 5, maxStores = 32) == 4)
    assert(StreamHarness.statePartitionsFor(spark, 1830, maxStores = 32) == 4)
    assert(StreamHarness.statePartitionsFor(spark, 7500, maxStores = 32) == 8)
    assert(StreamHarness.statePartitionsFor(spark, 1500,
      bytesPerKey = 512L, maxStores = 32) == 8)
    // power-of-two rounding between the landings, clamp at the width
    assert(StreamHarness.statePartitionsFor(spark, 5000, maxStores = 32) == 8)
    assert(StreamHarness.statePartitionsFor(spark, 100000000L,
      maxStores = 32) == 32)
    // default cap = the session's parallelism (local[4] here)
    assert(StreamHarness.statePartitionsFor(spark, 100000000L)
      == spark.sparkContext.defaultParallelism)
    // degenerate estimates stay on the floor, never 0
    assert(StreamHarness.statePartitionsFor(spark, 0, maxStores = 32) == 4)
    // production knob: a bigger target store = fewer stores
    spark.conf.set("spark.graft.stream.targetStoreBytes",
      (1024L * 1024).toString)
    try assert(
      StreamHarness.statePartitionsFor(spark, 7500, maxStores = 32) == 4)
    finally spark.conf.unset("spark.graft.stream.targetStoreBytes")
  }

  test("the q367 complete-mode census over the real events shards " +
      "equals the batch aggregate (merge-to-batch law at fixture scale)") {
    val dir = freshDir("census")
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"))
    StreamHarness.shard(ev, pmod(col("event_id"), lit(8L)), 8, dir)
    val streamed = StreamHarness.drain(spark, dir, "complete",
        minDataBatches = 4) { src =>
      src.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    }.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }
}
