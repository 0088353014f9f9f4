package graft.stage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
