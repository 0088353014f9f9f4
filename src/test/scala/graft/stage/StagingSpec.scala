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
