package graft.stage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Partitioned columnar staging layer: Snappy Parquet partitioned by ingest
 * date, with partition-pruned day reads.
 *
 * Capability parity with the reference's cleansed layer
 * (`/root/reference/sree-etl-tdk-lambda.py:103-125` — Snappy Parquet
 * partitioned by ingest date) and its pruned scan
 * (`/root/reference/sree-etl-tdk-glue-job.py:38-46` —
 * `push_down_predicate="date = '<today>'"`).
 *
 * Scale notes: the `date` partition layout means a day query lists and reads
 * exactly one directory regardless of total table size: [[readDay]] lists
 * only the day's directory, and a `date` filter over the whole root (the
 * catalog table, [[readAll]]) prunes directories at planning time. So this
 * holds at 100 TB the same way it holds at sf0.01, and given the declared
 * [[stagedSchema]] a day read starts no job before it runs.
 */
object Staging {

  /** Add the ingest-date partition column derived from an event-time col. */
  def withDate(df: DataFrame, tsCol: String = "time"): DataFrame =
    df.withColumn("date", date_format(col(tsCol), "yyyy-MM-dd"))

  /** Stage to Snappy Parquet partitioned by `date`, for a frame holding
    * any number of dates (set-ups that stage a history, backfills). Dynamic
    * partition overwrite: only the date partitions present in `df` are
    * replaced, so a daily ingest re-run is idempotent without clobbering
    * earlier days. Rows are shuffled onto their date before the write so
    * each partition directory gets one well-sized file instead of one
    * sliver per task — without this, T tasks × D days produce T×D small
    * files, the classic small-files failure at scale. A frame known to
    * hold one date takes [[stageDay]] instead, which needs no shuffle. */
  def stage(df: DataFrame, path: String): Unit =
    dateWriter(df.repartition(col("date"))).parquet(path)

  /**
   * [[stage]] for a frame that holds ONE `date` (a pipeline run stamps a
   * literal ingest date): no shuffle. The date shuffle would send the
   * whole day to one reducer, so it bought one file at the price of a
   * second job; here the scan's own partitions are coalesced to
   * `k = max(1, ceil(inputBytes / spark.sql.files.maxPartitionBytes))`
   * and written straight out, so scan, parse and write run in one job and
   * the day gets `k` files, one per `maxPartitionBytes` of input (a 10k-
   * or 1M-line day of ~110-byte lines is one file). `inputBytes` is
   * the size of what `df` was read from, known at planning time (the
   * text relation's size statistic, summed by the scan's own listing).
   * Same layout, dynamic overwrite and compression as [[stage]].
   */
  def stageDay(df: DataFrame, path: String, inputBytes: BigInt): Unit = {
    val split = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val k = ((inputBytes + split - 1) / split).max(1).min(Int.MaxValue).toInt
    dateWriter(df.coalesce(k)).parquet(path)
  }

  private def dateWriter(df: DataFrame) =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy("date")

  /**
   * Partition-pruned read of a single day. Only the day's `date=`
   * directory is listed (`basePath` keeps `date` a partition column), so
   * building the DataFrame costs the same on a 40-day table as on a
   * 1-day one: no listing job past
   * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories,
   * and with `schema` given no footer-inference job either. The equality
   * filter stays on the partition column, so the plan shows
   * `PartitionFilters: [isnotnull(date), (date = …)]` in `.explain`.
   * A day that was never staged reads the whole root under the same
   * filter: empty, with the schema a read of the root has.
   */
  def readDay(
      spark: SparkSession, path: String, date: String,
      schema: Option[StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(spark.read.schema(_))
    val dir = new Path(path, ExternalCatalogUtils.getPartitionPathString("date", date))
    val staged = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
    val read =
      if (staged) reader.option("basePath", path).parquet(dir.toString)
      else reader.parquet(path)
    read.filter(col("date") === lit(date))
  }

  /** Read the whole staged table (all partitions). */
  def readAll(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The canonical cleansed schema, hand-declared (SURVEY.md §1.3) — the
    * 11 parsed CLF columns. Matches the reference's explicit Glue DDL
    * (`/root/reference/sree-etl-tdk-lambda.py:62-78`) with its column-name
    * drift canonicalized on the DDL names. */
  val cleansedDdl: String =
    """ip_address STRING, rfc_1413_identity DOUBLE, user_id BIGINT,
      |time TIMESTAMP, request_method STRING, request_resource STRING,
      |request_protocol STRING, status_code BIGINT, size BIGINT,
      |referer STRING, user_agent STRING""".stripMargin

  /** [[cleansedDdl]] plus the ingest-date partition column — the full
    * catalog-table schema of the staged layout (partition columns last, as
    * Spark orders them). */
  def stagedSchema: StructType =
    StructType.fromDDL(s"$cleansedDdl, date STRING")

  /**
   * Stage as a BUCKETED catalog table: rows are hash-partitioned into
   * `numBuckets` files per partition by `bucketCol` at write time, so
   * later equi-joins and aggregations on that column read co-located
   * data and skip their shuffle entirely — the write-once answer to the
   * biggest recurring cost of a 100 TB fact table joined on the same key
   * every day. Catalyst proves it: a join of two tables bucketed the
   * same way on the join key plans with NO Exchange on either side
   * (StagingSpec asserts exactly that). Bucket counts must match across
   * tables meant to join; `sortBy` within buckets lets the join skip its
   * sort as well when both sides agree.
   */
  def stageBucketed(
      df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /**
   * Stage with a RANGE-SORTED layout: rows are range-partitioned on
   * `sortCols` (sampled split points → `numFiles` contiguous key ranges)
   * and sorted within each partition before the write, so every output
   * file covers a narrow, pairwise-disjoint slice of the key space and
   * parquet's footer min/max statistics become surgical: a point or range
   * predicate on the leading sort column skips whole files and row groups
   * at scan time (StagingSpec asserts file-level disjointness and a
   * full-table span per file for the unsorted layout). This is the
   * data-layout half of data-skipping — partition pruning skips
   * directories by partition VALUE; range-sorting skips files within a
   * partition by CONTENT — and the standard answer ("cluster by") to
   * selective scans over a 100 TB fact table that partitioning alone
   * leaves coarse.
   */
  def stageRangeSorted(
      df: DataFrame, path: String, numFiles: Int, sortCols: Seq[String]): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(path)

  /**
   * Morton (Z-order) value: bit-interleave two non-negative integer
   * columns into one long, so sorting by the result clusters rows that
   * are close in BOTH dimensions. `a`'s bit i lands at position 2i,
   * `b`'s at 2i+1; with the default 21 bits per column the result stays
   * inside a signed long with room to spare.
   *
   * The expression is a static tree of 2×`bits` shift/mask/or terms —
   * all codegen'd built-ins, no UDF. Inputs MUST be non-negative and
   * < 2^bits — and the expression ENFORCES it: an out-of-range value
   * raises at execution time instead of silently dropping its high bits
   * (which would keep the sort "working" while the clustering — and the
   * file skipping built on it — quietly degrades at exactly the large
   * key domains Z-ordering exists for; a negative value's arithmetic
   * shift would likewise smear sign bits across every lane). Pre-bucket
   * wider domains before interleaving, e.g. `col / lit(k)`. NULL inputs
   * pass through as NULL (the layout writers' default ascending order
   * groups them in the first range).
   */
  def zValue(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val al = a.cast("long")
    val bl = b.cast("long")
    val z = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    // one mask test guards both failure modes: a value ≥ 2^bits has a high
    // bit set, a negative value has ALL high bits set (sign extension)
    val highBits = lit(-1L << bits)
    when(al.isNull || bl.isNull, lit(null).cast("long"))
      .when(al.bitwiseOR(bl).bitwiseAND(highBits) === 0L, z)
      .otherwise(raise_error(format_string(
        s"zValue: inputs must be in [0, 2^$bits); got a=%s b=%s — " +
          "pre-bucket wider domains before interleaving", al, bl)))
  }

  /**
   * Stage with a Z-ORDERED layout: rows are range-partitioned and sorted
   * on the Morton interleave of TWO key columns, so every output file
   * covers a small rectangle of the 2-D key space and parquet footer
   * min/max stats skip files for selective predicates on EITHER column —
   * the multi-dimensional extension of [[stageRangeSorted]], whose
   * single-key sort skips only on its leading column while the trailing
   * one spans the full domain in every file (StagingSpec contrasts the
   * two layouts). The standard answer when a 100 TB fact table is
   * queried selectively by more than one key and you only get one
   * physical order to spend.
   */
  def stageZOrdered(
      df: DataFrame, path: String, numFiles: Int,
      colA: String, colB: String, bits: Int = 21): Unit =
    df.withColumn("__graft_z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(path)

  /**
   * CDC log compaction: the LATEST row per key, "latest" defined by the
   * lexicographic order of `orderCols` (make it a total order per key —
   * e.g. a version plus a unique tie-break — or the winner is
   * undefined). Implemented as ONE aggregation with `max_by` over the
   * packed row struct, not a ranking window: the window formulation
   * must shuffle and SORT every change-log row per key, while the
   * aggregate reduces each map task to one candidate row per key before
   * the shuffle — on a 100 TB change log with hot keys, kilobytes
   * instead of the table. Columns come back in `df`'s order.
   */
  def latestByKey(
      df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty)
    val payload = df.columns.filterNot(keyCols.contains)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct(payload.toIndexedSeq.map(col): _*),
        struct(orderCols.map(col): _*)).as("__latest"))
      .select(df.columns.toIndexedSeq.map { c =>
        if (keyCols.contains(c)) col(c) else col(s"__latest.$c")
      }: _*)
  }

  /**
   * Copy-on-write UPSERT into a [[stage]]d layout: merge `updates` into
   * the partitions they touch — and ONLY those partitions — keeping the
   * latest version of each key ([[latestByKey]] semantics over
   * existing ∪ updates). Untouched partitions keep their exact bytes:
   * the existing side reads with a partition-value IN-filter (pruned at
   * planning time) and the write uses dynamic partition overwrite, so a
   * one-day correction to a 10-year table costs one day's rewrite, not
   * ten years'. The touched-partition list is a collected metadata
   * scalar (distinct partition values of the update batch), the same
   * driver-side scale as any partition listing.
   *
   * Requires every key to live in exactly one partition value (true for
   * ingest-date-keyed layouts); a key that MOVES partitions would leave
   * its old row behind — that needs a full-table merge by design.
   * NULL partition values in `updates` THROW: `isin` pruning can never
   * match NULL, so the existing `__HIVE_DEFAULT_PARTITION__` rows would
   * be excluded from the merge while dynamic overwrite still replaced
   * that directory with updates-only rows — silent data loss. Assign a
   * real partition value before upserting (the documented contract is an
   * ingest-date key, which is never NULL).
   *
   * Concurrency contract — ONE maintainer per table: the
   * read-merge-overwrite sequence is not transactional, so two
   * concurrent upserts to the same partition (or an upsert racing
   * [[compact]]) can lose one writer's rows. Serialize all maintenance
   * of a staged path behind a single scheduler slot, the same
   * assumption every non-transactional COW layout makes.
   */
  def upsertPartitions(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String],
      partitionCol: String = "date"): Unit = {
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    require(!touched.contains(null),
      s"upsertPartitions: updates contain NULL '$partitionCol' values; " +
        "NULL cannot be isin-pruned, so the merge would silently drop the " +
        "existing NULL-partition rows. Assign a real partition value first.")
    if (touched.isEmpty) return
    val existing = spark.read.parquet(path)
      .filter(col(partitionCol).isin(touched: _*))
      .select(updates.columns.toIndexedSeq.map(col): _*) // align column order for union
    latestByKey(existing.unionAll(updates), keyCols, orderCols)
      .repartition(col(partitionCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /**
   * Snapshot diff — the change feed between two versions of a keyed
   * table: one row per key that was `insert`ed, `delete`d, or whose
   * `valueCols` changed (`update`); unchanged keys are absent. One
   * shuffled full-outer equi-join on the key, value comparison
   * null-safe (`<=>`), so NULL→value and value→NULL count as updates.
   * This is how a corpus publishes "what changed since yesterday"
   * without shipping the table: downstream consumers (index refresh,
   * incremental re-embedding, cache invalidation) scale with the delta,
   * not the corpus.
   */
  def snapshotDiff(
      before: DataFrame, after: DataFrame,
      keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty)
    val b = before.select(
      keyCols.map(col) ++ valueCols.map(c => col(c).as(s"__b_$c"))
        :+ lit(true).as("__in_b"): _*)
    val a = after.select(
      keyCols.map(col) ++ valueCols.map(c => col(c).as(s"__a_$c"))
        :+ lit(true).as("__in_a"): _*)
    val changed = valueCols
      .map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduce(_ || _)
    b.join(a, keyCols, "full_outer")
      .withColumn("change",
        when(col("__in_b").isNull, lit("insert"))
          .when(col("__in_a").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** Per-partition compaction outcome: file count before/after and the
    * partition's total bytes. Partitions below the trigger are absent. */
  final case class CompactionStat(
      partition: String, filesBefore: Int, filesAfter: Int, bytes: Long)

  /**
   * Small-file compaction for a [[stage]]d (single-column-partitioned)
   * layout: rewrite every partition whose parquet file count exceeds
   * what `targetFileBytes` calls for, coalescing to
   * `ceil(bytes / targetFileBytes)` files. Continuous ingest — a
   * streaming sink draining micro-batches, or many small daily
   * re-loads — accretes slivers; at 100 TB the resulting
   * open/footer/seek overhead and NameNode/listing pressure dominate
   * scan cost, so compaction is standing maintenance, not cleanup.
   *
   * Mechanics per hot partition: read only that partition directory,
   * `repartition(n)`, write to a sibling temp dir, then swap via two
   * FileSystem renames (original → `.bak`, tmp → original) and drop the
   * backup. Readers never see a MIXED directory (each rename is atomic
   * on HDFS-like filesystems), but the swap as a whole is NOT atomic:
   * between the two renames the partition directory is briefly ABSENT,
   * so a concurrent reader in that window sees the partition as empty,
   * and a crash there leaves the table without it until the `.bak` is
   * manually renamed back (the backup always holds the complete old
   * data — recovery is one rename, never data loss). Run compaction in
   * a maintenance window if readers cannot tolerate the gap. Row
   * content is byte-preserved (same schema, same values; StagingSpec
   * asserts set-equality and that cool partitions keep their exact
   * files). The per-partition loop is driver-side METADATA iteration
   * (one listing per partition — the same scale as any
   * table-maintenance job), while every byte of data moves through
   * executors.
   *
   * Concurrency contract — ONE maintainer per table, shared with
   * [[upsertPartitions]]: a compaction racing another compaction or an
   * upsert on the same partition can observe a half-swapped directory
   * or resurrect pre-upsert rows from its already-read snapshot.
   * Serialize all maintenance of a staged path behind a single
   * scheduler slot.
   */
  def compact(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCol: String = "date"): Seq[CompactionStat] = {
    require(targetFileBytes > 0L, s"targetFileBytes must be > 0")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
    parts.flatMap(p => compactOneDir(spark, fs, p.getPath, targetFileBytes))
  }

  /**
   * [[compact]] for a FLAT (unpartitioned) parquet directory — the layout
   * of the persisted dedup/ANN index dirs ([[graft.ext.Dedup
   * .buildDedupIndex]] / [[graft.ext.AnnIvf.buildIvfIndex]] /
   * [[graft.ext.AnnLsh.buildLshIndex]] parquet), whose daily
   * `indexAppend` writes accrete one small file per batch. Same swap
   * mechanics, same absence-window / `.bak`-recovery / one-maintainer
   * contract as [[compact]], applied to the directory itself: the temp
   * and backup dirs are dot-prefixed SIBLINGS of `path`. Returns None
   * when the directory is already at or under the target file count.
   */
  def compactDir(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Option[CompactionStat] = {
    require(targetFileBytes > 0L, s"targetFileBytes must be > 0")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    compactOneDir(spark, fs, root, targetFileBytes)
  }

  /** The shared per-directory rewrite-and-swap core of [[compact]] /
    * [[compactDir]]: coalesce to `ceil(bytes / targetFileBytes)` parquet
    * files via a sibling temp dir and two renames. */
  private def compactOneDir(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      targetFileBytes: Long): Option[CompactionStat] = {
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (files.size <= want) None
    else {
      val tmp = new org.apache.hadoop.fs.Path(
        dir.getParent, s".${dir.getName}.compact-tmp")
      val bak = new org.apache.hadoop.fs.Path(
        dir.getParent, s".${dir.getName}.compact-bak")
      fs.delete(tmp, true); fs.delete(bak, true)
      spark.read.parquet(dir.toString)
        .repartition(want)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(tmp.toString)
      require(fs.rename(dir, bak), s"compact: could not back up $dir")
      require(fs.rename(tmp, dir), s"compact: could not promote $tmp")
      fs.delete(bak, true)
      val after = fs.listStatus(dir).count(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
      Some(CompactionStat(dir.getName, files.size, after, bytes))
    }
  }

  /**
   * Register the staged layout as a catalog table (idempotent), with the
   * schema DECLARED rather than inferred — parity with the reference's
   * hand-written DDL (`sree-etl-tdk-lambda.py:62-78, PARTITIONED BY date`
   * `:78`). Declaring catches drift: a staged file whose columns wander
   * from the canonical schema surfaces as a read error on the catalog
   * table instead of silently changing the table's shape. The MSCK pass
   * discovers the existing `date=` directories (partition METADATA, not
   * schema — still required for an external partitioned location).
   */
  def register(spark: SparkSession, table: String, path: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      // the path goes inside a single-quoted SQL literal: an apostrophe in
      // a filesystem path would otherwise break — or inject into — the DDL
      val ident = quoteIdent(table)
      spark.sql(
        s"""CREATE TABLE $ident ($cleansedDdl, date STRING)
           |USING parquet
           |PARTITIONED BY (date)
           |LOCATION '${quoteLiteral(path)}'""".stripMargin)
      spark.sql(s"MSCK REPAIR TABLE $ident")
    }

  /** Add one staged day to a table [[register]]ed earlier (idempotent).
    * `register` discovers the days staged before the table existed; a day
    * staged after that is invisible through the catalog until its
    * partition is added — the reference loads each day's partition into
    * its Glue table. Metadata only: no listing of other days, no job. */
  def addDay(spark: SparkSession, table: String, date: String): Unit =
    spark.sql(s"ALTER TABLE ${quoteIdent(table)} ADD IF NOT EXISTS " +
      s"PARTITION (date = '${quoteLiteral(date)}')")

  /** Backtick-quote a table name PER dot-separated part: quoting the whole
    * string would turn `db.tbl` into a single-part name and desynchronize
    * the DDL from `tableExists`. */
  private def quoteIdent(table: String): String =
    table.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")

  private def quoteLiteral(v: String): String = v.replace("'", "''")

  /**
   * Export manifest: per-shard row count and an ORDER-DEFINED content
   * checksum — the receipt a dataset handoff ships with, so the
   * receiving side can verify "every shard arrived complete and
   * unmodified" without trusting file sizes. The checksum is replayable
   * by ANY engine from the data alone — no Spark-specific hashing
   * anywhere — and catches row loss, duplication, reordering into
   * another shard, and content mutation alike.
   *
   * Definition (two-level, so no aggregation buffer ever holds a whole
   * shard): rows bucket by `idCol div rowsPerBucket`; each bucket's
   * digest is `md5(concat of per-row md5 hex digests in ascending id
   * order)`; the shard checksum is `md5(concat of bucket digests in
   * ascending bucket order)`. Any engine replays it as two ordered
   * `string_agg` levels (see the q118 oracle). `rowsPerBucket` is part
   * of the checksum definition — record it alongside the manifest.
   *
   * Shape at 100 TB: per-row hashing is a narrow projection; the only
   * collected state is ONE bucket's `(id, digest)` structs (level 1,
   * ≤ `rowsPerBucket` ids ≈ 3 MB at the default 65 536) or one shard's
   * bucket digests (level 2, id-range/`rowsPerBucket` entries — a
   * 10¹²-wide id space is ~15 M buckets ≈ 0.7 GB only if a single
   * shard spans ALL of it; real shards cover their own id range). A
   * 10⁸-row export shard that OOM'd the previous single-level fold is
   * now ~1 500 bounded bucket folds plus a trivial digest chain.
   *
   * Preconditions, enforced or absorbed: a NULL id has no place in the
   * chain order, so it raises at scan time rather than silently
   * differing between engines' NULL orderings; a NULL content digest
   * coalesces to the sentinel `"-"` in engine and oracle alike (an
   * all-NULL bucket checksums to `md5("--…")`, not NULL). Duplicate
   * ids are permitted — the manifest's job is to EXPOSE duplication —
   * their relative order within the chain is (id, digest), total as
   * long as duplicated ids differ in content or are true row copies.
   * Ids must be integral (the bucket derivation is integer division,
   * truncating toward zero in both engines).
   */
  /** [[exportManifest]] over a [[stage]]d layout: one manifest row per
    * partition value. The frame is partition-dimension-sized (days of a
    * date-partitioned table — metadata, not data), which is what lets
    * the maintenance receipts below collect and compare it driver-side. */
  def manifestOf(
      spark: SparkSession, path: String, idCol: String, content: Column,
      partitionCol: String = "date",
      rowsPerBucket: Long = 1L << 16): DataFrame =
    exportManifest(spark.read.parquet(path), partitionCol, idCol, content,
      rowsPerBucket)
      // partition inference may type the directory value (DateType for
      // date=...); the receipt's shard key is its STRING form, so receipts
      // compare stably across readers and engines
      .withColumn("shard", col("shard").cast("string"))

  private def collectManifest(m: DataFrame): Map[String, (Long, String)] =
    m.collect().map(r => String.valueOf(r.get(0)) ->
      ((r.getLong(1), r.getString(2)))).toMap

  /** Fail-fast comparison core of the maintenance receipts. `touched`
    * partitions are EXPECTED to change; any other drift (a lost row, a
    * mutated value, a partition that appeared or vanished) throws with
    * the offending partitions named. Package-visible for direct spec
    * coverage of the failure paths. */
  private[stage] def requireUnchanged(
      before: Map[String, (Long, String)], after: Map[String, (Long, String)],
      op: String, touched: Set[String] = Set.empty): Unit = {
    val drifted = (before.keySet ++ after.keySet).filterNot(touched)
      .filter(p => before.get(p) != after.get(p))
    require(drifted.isEmpty,
      s"$op receipt: partitions changed outside the declared write set: " +
        drifted.toSeq.sorted.mkString(", "))
  }

  /**
   * [[compact]] under a manifest receipt: the partition manifests are
   * computed before and after the rewrite and must be IDENTICAL —
   * compaction changes file layout, never rows, and this makes that
   * claim checked instead of asserted. The engine's own integrity
   * primitive composed with its own maintenance op: a receipt failure
   * aborts loudly AFTER the swap (the `.bak` recovery story in
   * [[compact]] still applies to a crash mid-swap; a receipt mismatch
   * means a corrupted rewrite and names the partitions). Costs one
   * extra full-content read per side — run it where a 100-TB handoff
   * would anyway demand the proof, skip plain [[compact]] where not.
   */
  def compactWithReceipt(
      spark: SparkSession, path: String, idCol: String, content: Column,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCol: String = "date"): Seq[CompactionStat] = {
    val before = collectManifest(
      manifestOf(spark, path, idCol, content, partitionCol))
    val stats = compact(spark, path, targetFileBytes, partitionCol)
    val after = collectManifest(
      manifestOf(spark, path, idCol, content, partitionCol))
    requireUnchanged(before, after, "compact")
    stats
  }

  /**
   * [[upsertPartitions]] under a manifest receipt: only the partitions
   * present in `updates` may change — every other partition's row count
   * and checksum must survive the merge bit-for-bit (the failure this
   * catches is the dynamic-overwrite misconfiguration or path typo that
   * silently clobbers a partition the write never declared). Returns
   * the touched partitions' new manifest rows — the receipt a
   * downstream consumer stores next to the delta.
   */
  def upsertPartitionsWithReceipt(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], orderCols: Seq[String],
      idCol: String, content: Column,
      partitionCol: String = "date"): DataFrame = {
    val before = collectManifest(
      manifestOf(spark, path, idCol, content, partitionCol))
    upsertPartitions(spark, path, updates, keyCols, orderCols, partitionCol)
    val after = collectManifest(
      manifestOf(spark, path, idCol, content, partitionCol))
    val touched = updates.select(col(partitionCol)).distinct()
      .collect().map(r => String.valueOf(r.get(0))).toSet
    requireUnchanged(before, after, "upsertPartitions", touched)
    // return the rows the check VERIFIED — not a lazy plan over the
    // path, which would re-hash the table a third time and could read
    // state a later writer changed after this receipt was issued
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      after.view.filterKeys(touched).toSeq.sortBy(_._1)
        .map { case (s, (n, c)) => org.apache.spark.sql.Row(s, n, c) }
        .asJava,
      StructType(Seq(
        StructField("shard", StringType),
        StructField("n_rows", LongType),
        StructField("checksum", StringType))))
  }

  def exportManifest(
      df: DataFrame, shardCol: String, idCol: String,
      content: Column, rowsPerBucket: Long = 1L << 16): DataFrame = {
    require(rowsPerBucket > 0, s"rowsPerBucket must be positive: $rowsPerBucket")
    val guardedId = when(col(idCol).isNotNull, col(idCol)).otherwise(
      raise_error(lit(s"exportManifest: NULL $idCol — manifest ids must be non-NULL")))
    val buckets = df
      .select(col(shardCol).as("shard"), guardedId.as("_id"),
        coalesce(md5(content.cast("binary")), lit("-")).as("_h"))
      .withColumn("_bkt", expr(s"_id div ${rowsPerBucket}L"))
      .groupBy(col("shard"), col("_bkt"))
      .agg(count(lit(1)).as("_n"),
        md5(concat_ws("",
          transform(sort_array(collect_list(struct(col("_id"), col("_h")))),
            x => x.getField("_h")))
          .cast("binary")).as("_bh"))
    buckets
      .groupBy(col("shard"))
      .agg(sum(col("_n")).as("n_rows"),
        md5(concat_ws("",
          transform(sort_array(collect_list(struct(col("_bkt"), col("_bh")))),
            x => x.getField("_bh")))
          .cast("binary")).as("checksum"))
  }
}
