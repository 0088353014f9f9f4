package graft.stage

import graft.GraftSpec
import org.apache.spark.sql.functions._

class StagingSpec extends GraftSpec {
  import spark.implicits._

  test("stage → readDay returns exactly the requested partition, pruned") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00"),
      (2L, "2024-01-01 11:00:00"),
      (3L, "2024-01-02 09:00:00")
    ).toDF("id", "t").withColumn("time", to_timestamp(col("t"))).drop("t")

    val tmp = java.nio.file.Files.createTempDirectory("graft_stage").toString
    Staging.stage(Staging.withDate(df), tmp)

    val day1 = Staging.readDay(spark, tmp, "2024-01-01")
    assert(day1.count() == 2L)
    assert(day1.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

    // partition pruning is visible in the physical plan
    val plan = day1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("readDay lists only its day: on 40 days, one job at most, none given a schema") {
    // past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // directories, a read of the root starts a listing job of its own
    val start = java.time.LocalDate.parse("2024-01-01")
    val df = (0 until 40).flatMap(d => Seq(2L * d, 2L * d + 1).map(_ -> s"${start.plusDays(d)} 10:00:00"))
      .toDF("id", "t").withColumn("time", to_timestamp(col("t"))).drop("t")
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage40").toString
    Staging.stage(Staging.withDate(df), tmp)
    val date = start.plusDays(35).toString
    val root = spark.read.parquet(tmp).filter(col("date") === date) // the twin

    val (inferred, inferJobs) = countingJobs(Staging.readDay(spark, tmp, date))
    assert(inferJobs <= 1, s"$inferJobs jobs")
    assert(inferred.schema == root.schema)
    assert(inferred.collect().toSet == root.collect().toSet)
    assert(inferred.select("id").as[Long].collect().sorted.toSeq == Seq(70L, 71L))

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, time TIMESTAMP, date STRING")
    val (declared, declaredJobs) = countingJobs(Staging.readDay(spark, tmp, date, Some(schema)))
    assert(declaredJobs == 0, s"$declaredJobs jobs")
    assert(declared.schema == schema)
    assert(declared.select("id", "date").as[(Long, String)].collect().toSet ==
      Set(70L -> date, 71L -> date))

    // a day never staged reads empty, with the root's schema
    val missing = Staging.readDay(spark, tmp, "2023-12-31")
    assert(missing.schema == root.schema && missing.isEmpty)
    assert(Staging.readDay(spark, tmp, "2023-12-31", Some(schema)).isEmpty)
  }

  test("range-sorted layout: disjoint per-file key ranges; hash layout spans") {
    val df = (1L to 4000L).map(i => ((i * 2654435761L) % 1000L, i))
      .toDF("k", "payload")
    val sorted = java.nio.file.Files.createTempDirectory("graft_rs").toString
    Staging.stageRangeSorted(df, sorted, numFiles = 8, Seq("k"))

    // per-file min/max via the metadata column — the same stats parquet
    // footers carry, which is what makes a selective scan skip files
    def ranges(path: String): Seq[(Long, Long)] =
      spark.read.parquet(path)
        .groupBy(col("_metadata.file_path"))
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
        .sortBy(_._1).toSeq

    val rs = ranges(sorted)
    assert(rs.size > 1)
    rs.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi <= lo, s"overlapping file ranges: $rs")
      case _ =>
    }

    // the unsorted (round-robin) layout: every file spans ~the full domain,
    // so min/max stats can never skip anything
    val unsorted = java.nio.file.Files.createTempDirectory("graft_un").toString
    df.repartition(8).write.mode("overwrite").parquet(unsorted)
    val us = ranges(unsorted)
    assert(us.forall { case (lo, hi) => hi - lo > 900L },
      s"expected full-domain spans, got $us")
  }

  test("zValue interleaves bits: a at even lanes, b at odd") {
    // a=5 (101), b=3 (011) → lanes 0,4 from a, 1,3 from b → 11011₂ = 27
    val r = Seq((5L, 3L)).toDF("a", "b")
      .select(Staging.zValue(col("a"), col("b")).as("z"))
      .head().getLong(0)
    assert(r == 27L)
    // order-sensitivity: swapping the operands moves each bit one lane
    val s = Seq((3L, 5L)).toDF("a", "b")
      .select(Staging.zValue(col("a"), col("b")).as("z"))
      .head().getLong(0)
    assert(s == 0x27L + 0, s"expected 39, got $s") // 100111₂ = 39
  }

  test("zValue: out-of-range inputs raise instead of silently truncating; NULL passes through") {
    // 2^21 is the first value whose high bit the 21-bit interleave would
    // silently drop — it must fail loudly, not degrade the clustering
    val wide = Seq((1L << 21, 3L)).toDF("a", "b")
      .select(Staging.zValue(col("a"), col("b")).as("z"))
    val e = intercept[Exception](wide.collect())
    assert(e.getMessage.contains("zValue"), e.getMessage)
    // same guard on the second operand and on negatives
    assert(intercept[Exception](
      Seq((3L, -1L)).toDF("a", "b")
        .select(Staging.zValue(col("a"), col("b"))).collect()
    ).getMessage.contains("zValue"))
    // widening `bits` legitimizes the same key
    val ok = Seq((1L << 21, 3L)).toDF("a", "b")
      .select(Staging.zValue(col("a"), col("b"), bits = 22).as("z"))
      .head().getLong(0)
    assert(ok != 0L)
    // NULL input is a NULL z-value, not an error
    val n = Seq((Some(5L), None: Option[Long])).toDF("a", "b")
      .select(Staging.zValue(col("a"), col("b")).as("z"))
      .head()
    assert(n.isNullAt(0))
  }

  test("z-ordered layout: files are 2-D rectangles; single-key sort is not") {
    // two independent uniform keys over [0, 1000)
    val df = (1L to 8000L).map { i =>
      ((i * 2654435761L) % 1000L, (i * 40503L) % 1000L, i)
    }.toDF("k1", "k2", "payload")

    def spans(path: String, c: String): Seq[Long] =
      spark.read.parquet(path)
        .groupBy(col("_metadata.file_path"))
        .agg((max(col(c)) - min(col(c))).as("span"))
        .collect().map(_.getAs[Long]("span")).toSeq

    val zpath = java.nio.file.Files.createTempDirectory("graft_z").toString
    Staging.stageZOrdered(df, zpath, numFiles = 16, "k1", "k2")
    val z1 = spans(zpath, "k1"); val z2 = spans(zpath, "k2")
    assert(z1.size > 4)
    // each file covers a rectangle well under the full 1000-wide domain
    // on BOTH keys (ideal for 16 files is ~250 per side)
    assert(z1.sum / z1.size < 600, s"k1 spans too wide: $z1")
    assert(z2.sum / z2.size < 600, s"k2 spans too wide: $z2")

    // the single-key sort: surgical on k1, blind on k2 (full-domain span)
    val spath = java.nio.file.Files.createTempDirectory("graft_z1").toString
    Staging.stageRangeSorted(df, spath, numFiles = 16, Seq("k1"))
    val s2 = spans(spath, "k2")
    assert(s2.forall(_ > 900L), s"expected full-domain k2 spans, got $s2")

    // and the payoff: a selective predicate on EITHER column intersects
    // only a strict subset of the z-layout's files
    def hitFiles(c: String, lo: Long, hi: Long): Long =
      spark.read.parquet(zpath)
        .filter(col(c).between(lo, hi))
        .select(col("_metadata.file_path")).distinct().count()
    val total = spark.read.parquet(zpath)
      .select(col("_metadata.file_path")).distinct().count()
    assert(hitFiles("k1", 0L, 99L) < total)
    assert(hitFiles("k2", 0L, 99L) < total)
  }

  test("compact: sliver partitions coalesce, content identical, cool partitions untouched") {
    // day 1: 12 sliver files; day 2: already one file
    val day1 = (1L to 600L).map(i => (i, "2024-01-01")).toDF("id", "date")
    val day2 = (601L to 650L).map(i => (i, "2024-01-02")).toDF("id", "date")
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    day1.repartition(12).write.mode("overwrite").partitionBy("date").parquet(tmp)
    day2.coalesce(1).write.mode("append").partitionBy("date").parquet(tmp)

    val before = spark.read.parquet(tmp)
    val beforeRows = before.collect().map(_.toSeq).toSet
    def files(part: String): Set[String] = {
      val d = new java.io.File(s"$tmp/date=$part")
      d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val day2Files = files("2024-01-02")
    assert(files("2024-01-01").size == 12)

    // huge target → every hot partition compacts to exactly one file
    val stats = Staging.compact(spark, tmp, targetFileBytes = 1L << 30)
    assert(stats.map(s => s.partition -> (s.filesBefore, s.filesAfter)).toMap ==
      Map("date=2024-01-01" -> (12, 1)))
    assert(files("2024-01-01").size == 1)
    // the cool partition kept its exact files (not rewritten)
    assert(files("2024-01-02") == day2Files)
    // content byte-preserved
    val afterRows = spark.read.parquet(tmp).collect().map(_.toSeq).toSet
    assert(afterRows == beforeRows)
    // idempotent: a second pass finds nothing to do
    assert(Staging.compact(spark, tmp, targetFileBytes = 1L << 30).isEmpty)
  }

  test("compactWithReceipt: the before/after manifests are byte-equal and " +
    "the compaction still happens; a foreign change trips the receipt") {
    val day1 = (1L to 600L).map(i => (i, s"p$i", "2024-01-01"))
      .toDF("id", "payload", "date")
    val day2 = (601L to 650L).map(i => (i, s"p$i", "2024-01-02"))
      .toDF("id", "payload", "date")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cwr").toString
    day1.repartition(12).write.mode("overwrite").partitionBy("date").parquet(tmp)
    day2.coalesce(1).write.mode("append").partitionBy("date").parquet(tmp)

    val manifestBefore = Staging.manifestOf(spark, tmp, "id", col("payload"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val stats = Staging.compactWithReceipt(spark, tmp, "id", col("payload"),
      targetFileBytes = 1L << 30)
    assert(stats.map(_.partition) == Seq("date=2024-01-01"))
    // the receipt's own claim, re-checked from outside: not one checksum bit
    // moved across the rewrite
    val manifestAfter = Staging.manifestOf(spark, tmp, "id", col("payload"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(manifestAfter == manifestBefore)

    // failure path, driven through the comparison core: a partition that
    // changed outside the declared write set must be named
    val before = Map("date=2024-01-01" -> ((2L, "aa")), "date=2024-01-02" -> ((2L, "bb")))
    val lost = before.updated("date=2024-01-02", (1L, "cc"))
    val e = intercept[IllegalArgumentException](
      Staging.requireUnchanged(before, lost, "compact"))
    assert(e.getMessage.contains("2024-01-02") && !e.getMessage.contains("2024-01-01"))
    // ...unless it was declared touched
    Staging.requireUnchanged(before, lost, "upsert", touched = Set("date=2024-01-02"))
  }

  test("upsertPartitionsWithReceipt: returns the touched partitions' new " +
    "manifest rows; untouched partitions prove unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_uwr").toString
    val base = Seq(
      (1L, 1L, "a0", "2024-01-01"), (2L, 1L, "b0", "2024-01-01"),
      (3L, 1L, "c0", "2024-01-02"), (4L, 1L, "d0", "2024-01-02")
    ).toDF("id", "ver", "payload", "date")
    Staging.stage(base, tmp)
    val day1Before = Staging.manifestOf(spark, tmp, "id", col("payload"))
      .filter(col("shard") === "2024-01-01").collect()(0).getString(2)

    val updates = Seq((3L, 2L, "c1", "2024-01-02"), (5L, 1L, "e0", "2024-01-02"))
      .toDF("id", "ver", "payload", "date")
    val receipt = Staging.upsertPartitionsWithReceipt(spark, tmp, updates,
      Seq("id"), Seq("ver"), "id", col("payload"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // the receipt covers exactly the touched partition, with merged counts
    assert(receipt == Seq(("2024-01-02", 3L)))
    // and the untouched day's checksum survived the merge bit-for-bit
    val day1After = Staging.manifestOf(spark, tmp, "id", col("payload"))
      .filter(col("shard") === "2024-01-01").collect()(0).getString(2)
    assert(day1After == day1Before)
  }

  test("latestByKey: equals the ranking-window twin; no window, no input sort") {
    val log = (1L to 5000L).map { i =>
      (i % 40, i, s"v$i", (i * 2654435761L) % 1000L) // key, version, payload, noise
    }.toDF("k", "ver", "payload", "noise")

    val viaAgg = Staging.latestByKey(log, Seq("k"), Seq("ver"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("ver").desc)
    val viaWindow = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
    // the whole point: an aggregate, not a per-key sort of the log
    val p = viaAgg.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max_by") || p.contains("partial_max"), p)
  }

  test("upsertPartitions: touched partition merges latest-wins, untouched keeps its bytes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val base = Seq(
      (1L, 1L, "a0", "2024-01-01"),
      (2L, 1L, "b0", "2024-01-01"),
      (3L, 1L, "c0", "2024-01-02"),
      (4L, 1L, "d0", "2024-01-02")
    ).toDF("id", "ver", "payload", "date")
    Staging.stage(base, tmp)

    def files(part: String): Set[String] =
      new java.io.File(s"$tmp/date=$part").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val day1Files = files("2024-01-01")

    // update key 3, insert key 5 — both day 2; day 1 untouched
    val updates = Seq(
      (3L, 2L, "c1", "2024-01-02"),
      (5L, 1L, "e0", "2024-01-02")
    ).toDF("id", "ver", "payload", "date")
    Staging.upsertPartitions(spark, tmp, updates, Seq("id"), Seq("ver"))

    val after = spark.read.parquet(tmp)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("ver"),
        r.getAs[String]("payload"))).toSet
    assert(after == Set(
      (1L, 1L, "a0"), (2L, 1L, "b0"),          // day 1 as staged
      (3L, 2L, "c1"), (4L, 1L, "d0"), (5L, 1L, "e0"))) // day 2 merged
    assert(files("2024-01-01") == day1Files, "untouched partition rewritten")
  }

  test("upsertPartitions: NULL partition values throw before any write") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_null").toString
    val base = Seq(
      (1L, 1L, "a0", Option("2024-01-01")),
      (2L, 1L, "b0", None: Option[String]) // existing NULL-partition row
    ).toDF("id", "ver", "payload", "date")
    Staging.stage(base, tmp)
    val beforeRows = spark.read.parquet(tmp).collect().map(_.toSeq).toSet

    // a NULL-keyed update would merge against nothing (isin never matches
    // NULL) while dynamic overwrite replaced the NULL partition with the
    // update alone — the guard must refuse before touching the table
    val updates = Seq((2L, 2L, "b1", None: Option[String]))
      .toDF("id", "ver", "payload", "date")
    val e = intercept[IllegalArgumentException](
      Staging.upsertPartitions(spark, tmp, updates, Seq("id"), Seq("ver")))
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // nothing was written: the table is byte-for-byte what was staged
    assert(spark.read.parquet(tmp).collect().map(_.toSeq).toSet == beforeRows)

    // a well-keyed upsert on the same table still works
    val good = Seq((1L, 2L, "a1", Option("2024-01-01")))
      .toDF("id", "ver", "payload", "date")
    Staging.upsertPartitions(spark, tmp, good, Seq("id"), Seq("ver"))
    val after = spark.read.parquet(tmp)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"))).toSet
    assert(after == Set((1L, "a1"), (2L, "b0")))
  }

  test("snapshotDiff: insert/update/delete classified; unchanged absent; null-safe compare") {
    val before = Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, Option("c")),
      (4L, None: Option[String]), (5L, Option("e"))
    ).toDF("id", "v")
    val after = Seq(
      (1L, Option("a")),   // unchanged → absent
      (2L, Option("b2")),  // update
      // 3 missing → delete
      (4L, Option("d2")),  // NULL → value: update, not a no-op
      (5L, None: Option[String]), // value → NULL: update
      (6L, Option("f"))    // insert
    ).toDF("id", "v")
    val diff = Staging.snapshotDiff(before, after, Seq("id"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "update", 3L -> "delete", 4L -> "update",
      5L -> "update", 6L -> "insert"))
  }

  test("register: staged layout queryable through the catalog, idempotent") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00"),
      (2L, "2024-01-02 11:00:00")
    ).toDF("id", "t").withColumn("time", to_timestamp(col("t"))).drop("t")
    val tmp = java.nio.file.Files.createTempDirectory("graft_register").toString
    Staging.stage(Staging.withDate(df), tmp)

    Staging.register(spark, "graft_staged_test", tmp)
    Staging.register(spark, "graft_staged_test", tmp) // idempotent
    assert(spark.catalog.tableExists("graft_staged_test"))
    assert(spark.table("graft_staged_test").count() == 2L)
    // partition filter works through the catalog table too
    val day = spark.table("graft_staged_test")
      .filter(col("date") === "2024-01-02")
    assert(day.count() == 1L)
    assert(day.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("register: apostrophe in the location path and a reserved-word table name") {
    val df = Seq((1L, "2024-01-01 10:00:00"))
      .toDF("id", "t").withColumn("time", to_timestamp(col("t"))).drop("t")
    val base = java.nio.file.Files.createTempDirectory("graft_reg_quote")
    val tmp = java.nio.file.Files.createDirectory(base.resolve("o'brien")).toString
    Staging.stage(Staging.withDate(df), tmp)

    // an unquoted interpolation would die on the apostrophe in the path or
    // on the reserved identifier; the quoted DDL registers both fine
    Staging.register(spark, "table", tmp)
    try assert(spark.table("`table`").count() == 1L)
    finally spark.sql("DROP TABLE IF EXISTS `table`")

    // a qualified name must stay a two-part identifier (quoting the whole
    // string would create a table literally named "db.tbl" and
    // desynchronize from the tableExists idempotence check)
    Staging.register(spark, "default.graft_reg_qual", tmp)
    Staging.register(spark, "default.graft_reg_qual", tmp) // still idempotent
    try assert(spark.table("default.graft_reg_qual").count() == 1L)
    finally spark.sql("DROP TABLE IF EXISTS default.graft_reg_qual")
  }

  test("bucketed staging: the co-located join runs with zero Exchange") {
    val facts = (1L to 500L).map(i => (i % 50, s"r$i")).toDF("user_id", "payload")
    val dims = (0L to 49L).map(i => (i, s"u$i")).toDF("user_id", "name")
    try {
      Staging.stageBucketed(facts, "graft_bkt_facts", "user_id", 4)
      Staging.stageBucketed(dims, "graft_bkt_dims", "user_id", 4)

      // broadcast off: without bucketing this join MUST shuffle both
      // sides; with matching buckets Catalyst plans no Exchange at all
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("graft_bkt_facts")
          .join(spark.table("graft_bkt_dims"), "user_id")
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
        assert(joined.count() == 500L)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }

  test("exportManifest: partitioning-independent checksums that catch " +
    "loss, mutation, and cross-shard moves") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = (0L until 40L).map(i => (i, s"content of doc $i"))
      .toDF("doc_id", "text")
      .withColumn("shard", pmod(col("doc_id"), lit(4L)))
    def snap(df: org.apache.spark.sql.DataFrame) =
      Staging.exportManifest(df, "shard", "doc_id", col("text"))
        .orderBy("shard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val base = snap(docs)
    assert(base.map(_._2).sum == 40L && base.size == 4)
    // repartitioning must not move a single checksum bit
    assert(snap(docs.repartition(7)) == base)
    // dropping a row changes exactly that shard's count AND checksum
    val dropped = snap(docs.filter(col("doc_id") =!= 8L))
    assert(dropped.count(_._2 == 9L) == 1)
    assert(base.zip(dropped).count { case (b, d) => b._3 != d._3 } == 1)
    // mutating one row's content keeps counts but flips its checksum
    val mutated = snap(docs.withColumn("text",
      org.apache.spark.sql.functions.when(col("doc_id") === 9L,
        lit("tampered")).otherwise(col("text"))))
    assert(mutated.map(_._2) == base.map(_._2))
    assert(base.zip(mutated).count { case (b, m) => b._3 != m._3 } == 1)
    // moving a row to another shard flips exactly two checksums
    val moved = snap(docs.withColumn("shard",
      org.apache.spark.sql.functions.when(col("doc_id") === 10L, lit(3L))
        .otherwise(col("shard"))))
    assert(base.zip(moved).count { case (b, m) => b._3 != m._3 } == 2)
  }

  test("exportManifest: bucketed chaining keeps every detection property " +
    "across bucket boundaries, and absorbs NULL content") {
    import org.apache.spark.sql.functions.{col, lit, pmod, when}
    // rowsPerBucket=8 over ids 0..39 → buckets 0..4 per shard: the chain
    // actually chains (the single-bucket degenerate case is the test above)
    val docs = (0L until 40L).map(i => (i, s"content of doc $i"))
      .toDF("doc_id", "text")
      .withColumn("shard", pmod(col("doc_id"), lit(2L)))
    def snap(df: org.apache.spark.sql.DataFrame) =
      Staging.exportManifest(df, "shard", "doc_id", col("text"), rowsPerBucket = 8L)
        .orderBy("shard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val base = snap(docs)
    assert(base.map(_._2) == Seq(20L, 20L))
    // partitioning-independent despite the two-level fold
    assert(snap(docs.repartition(7)) == base)
    // a narrower bucket width is a DIFFERENT checksum definition
    val narrow = Staging.exportManifest(docs, "shard", "doc_id", col("text"),
        rowsPerBucket = 4L).orderBy("shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(narrow.map(_._2) == base.map(_._2) &&
      narrow.map(_._3) != base.map(_._3))
    // loss inside one bucket still surfaces at the shard checksum
    val dropped = snap(docs.filter(col("doc_id") =!= 17L))
    assert(base.zip(dropped).count { case (b, d) => b._3 != d._3 } == 1)
    // duplicating a row keeps the other shard's checksum intact, flips its own
    val dup = snap(docs.unionAll(docs.filter(col("doc_id") === 6L)))
    assert(dup.map(_._2) == Seq(21L, 20L))
    assert(base.zip(dup).count { case (b, m) => b._3 != m._3 } == 1)
    // NULL content hashes to the sentinel, not a NULL checksum — even when
    // EVERY row of a shard is NULL (the DuckDB-divergence edge from ADVICE)
    val allNull = snap(docs.withColumn("text",
      when(col("shard") === 0L, lit(null: String)).otherwise(col("text"))))
    assert(allNull.forall(_._3 != null))
    assert(base.zip(allNull).count { case (b, m) => b._3 != m._3 } == 1)
    // NULL id has no defined chain position: it raises, never diverges
    val ex = intercept[Exception] {
      Staging.exportManifest(
        docs.withColumn("doc_id",
          when(col("doc_id") === 3L, lit(null: java.lang.Long))
            .otherwise(col("doc_id"))),
        "shard", "doc_id", col("text")).collect()
    }
    assert(ex.getMessage != null)
  }
}
