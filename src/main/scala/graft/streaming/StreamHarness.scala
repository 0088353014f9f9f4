package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/**
 * Hash-gate harness for REAL Structured Streaming runs (SURVEY.md §2.10).
 *
 * The reference's deployment IS incremental ingest — one new log file
 * triggers one processing pass over exactly that file
 * (`/root/reference/README.md:52-54`,
 * `/root/reference/sree-etl-tdk-lambda.py:145-221`) — so the property a
 * streaming CORRECTNESS entry must certify is: a stateful query fed the
 * corpus ONE FILE PER MICRO-BATCH converges to the batch answer. This
 * harness makes that executable under the DuckDB oracle:
 *
 *  1. [[shard]] splits a batch frame into exactly one parquet file per
 *     shard with strictly increasing modification times, so the file
 *     stream source (which orders pending files by mod time) drains them
 *     in shard order — the multi-file inbox the reference's Lambda sees,
 *     reproduced deterministically from the immutable test tables;
 *  2. [[drain]] runs the caller's streaming transform over that inbox
 *     with `maxFilesPerTrigger=1` + `Trigger.AvailableNow` into a memory
 *     sink, BLOCKS to completion, and — the soundness tooth — THROWS
 *     unless at least `minDataBatches` micro-batches actually carried
 *     rows. A run that silently collapsed to one batch (the degenerate
 *     case that certifies nothing about state) poisons the compare
 *     instead of passing it.
 *
 * Scale shape: the harness is test plumbing, but the query under it is
 * the production shape — a checkpointed file source (exactly-once file
 * tracking, no manual bookkeeping), distributed stateful aggregation
 * (partial aggregation per batch, state store keyed by group), and a
 * sink swap away from production (memory → parquet/kafka). At 100 TB the
 * same plan runs with the state store sharded across executors; nothing
 * here is driver-resident except the file moves that build the fixture.
 */
object StreamHarness {

  private val runSeq = new AtomicLong(0L)

  /**
   * Write `df` as exactly `nShards` single-file parquet shards under
   * `shardDir` (skipped if already built — inputs are immutable), file
   * `i` holding the rows where `shardCol = i`, named `shard_i.parquet`
   * with modification time `base + i·2s` so mod-time order == shard
   * order. One pass over `df` (partitioned write, then per-file rename);
   * rows where `shardCol` is null or outside [0, nShards) would be
   * silently dropped, so callers must pass a total shard assignment —
   * enforced here by requiring the shard files to cover `df.count()`.
   */
  def shard(df: DataFrame, shardCol: Column, nShards: Int,
      shardDir: String): Unit = {
    require(nShards >= 2, s"need >= 2 shards for a multi-batch run: $nShards")
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(shardDir)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(new Path(dir, "_built"))) return
    val staged = new Path(dir, "_staging")
    df.withColumn("__shard", shardCol.cast("int"))
      .repartition(col("__shard"))
      .write.mode("overwrite").partitionBy("__shard")
      .parquet(staged.toString)
    val expected = df.count()
    var moved = 0L
    val base = System.currentTimeMillis() - 3600L * 1000
    (0 until nShards).foreach { i =>
      val sub = new Path(staged, s"__shard=$i")
      if (fs.exists(sub)) {
        val parts = fs.listStatus(sub)
          .filter(_.getPath.getName.endsWith(".parquet"))
        require(parts.length == 1,
          s"shard $i wrote ${parts.length} files (repartition by shard " +
            "should yield one)")
        val dest = new Path(dir, f"shard_$i%03d.parquet")
        fs.rename(parts(0).getPath, dest)
        fs.setTimes(dest, base + i * 2000L, -1L)
        moved += spark.read.parquet(dest.toString).count()
      }
    }
    fs.delete(staged, true)
    require(moved == expected,
      s"shard assignment not total: $moved of $expected rows landed " +
        s"in [0, $nShards) — shardCol must cover every row")
    fs.create(new Path(dir, "_built"), true).close()
  }

  /**
   * State-store count from an estimated STATE VOLUME, not a constant:
   * `ceil(stateKeys·bytesPerKey / targetStoreBytes)` rounded up to a
   * power of two, clamped to `[4, defaultParallelism]` — so the count
   * tracks how much state the operator actually keys (a census keyed by
   * 5 event types gets the 4-store floor; a per-user dedup keyed by
   * millions gets one store per ~`targetStoreBytes` of state, capped at
   * the cluster's width). The floor keeps a degenerate estimate from
   * serializing the stream; the power-of-two rounding keeps nearby
   * estimates from flapping the persisted-per-checkpoint count.
   *
   * `stateKeys` is the caller's cardinality estimate — an
   * `approx_count_distinct` over the operator's key columns (HLL++ is
   * deterministic, so the derived count — and the checkpoint layout —
   * is too). `bytesPerKey` is the per-key state weight: ~128 B covers a
   * count/sum census row or a dropDuplicates key; a
   * flatMapGroupsWithState session struct is ~512 B.
   * `spark.graft.stream.targetStoreBytes` (default 128 KiB) is the
   * production knob — at 100 TB raise it toward the usual
   * state-store-size targets rather than letting store count chase the
   * key count. The explicit `spark.graft.stream.statePartitions`
   * override in [[drain]] still wins outright.
   */
  def statePartitionsFor(
      spark: SparkSession, stateKeys: Long, bytesPerKey: Long = 128L,
      maxStores: Int = 0): Int = {
    val target = spark.conf.getOption("spark.graft.stream.targetStoreBytes")
      .map(_.toLong).getOrElse(128L * 1024)
    require(target > 0, s"targetStoreBytes must be positive, got $target")
    val cores = if (maxStores > 0) maxStores
      else math.max(spark.sparkContext.defaultParallelism, 1)
    val raw = math.max(
      math.ceil(math.max(stateKeys, 0L).toDouble * bytesPerKey / target).toLong,
      1L)
    val p2 = if (java.lang.Long.bitCount(raw) == 1) raw
      else java.lang.Long.highestOneBit(raw) * 2
    math.max(math.min(p2, cores.toLong), math.min(4L, cores.toLong)).toInt
  }

  /**
   * Drain `shardDir` through `transform` one file per micro-batch into
   * a memory sink and return the sink's content as a batch frame.
   * Fresh checkpoint per call (a reused checkpoint would mark the files
   * processed and return an empty table on re-run — Bench re-invokes).
   * Throws unless >= `minDataBatches` micro-batches carried input rows:
   * the certificate is about STATE ACROSS BATCHES, and a single-batch
   * run proves nothing.
   */
  def drain(spark: SparkSession, shardDir: String, outputMode: String,
      minDataBatches: Int, statePartitions: Option[Int] = None)
      (transform: DataFrame => DataFrame): DataFrame = {
    val n = runSeq.incrementAndGet()
    val name = s"graft_stream_sink_$n"
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft_ckpt_" +
      s"${ProcessHandle.current().pid()}_$n"
    val schema: StructType = spark.read.parquet(shardDir).schema
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "shard_*.parquet")
      .parquet(shardDir)
    // State-partition sizing (optimization guide §2 — partitioning must
    // match the operator, not the session default): a stateful streaming
    // query's shuffle/state partition count is captured from
    // `spark.sql.shuffle.partitions` at first start and persisted in the
    // checkpoint. Inheriting the session's batch-sweep value (sized to
    // cores for corpus-wide shuffles) over-shards the tiny per-query
    // state: measured on q367 at sf0.1 the drain's wall time scales
    // ~linearly with the count (32→12.5 s, 16→8.6 s, 8→6.1 s, 4→5.4 s;
    // state-store commit wall is the whole difference — 5 grouping keys
    // in 16 KB of state do not need 32 state stores fsyncing per batch).
    // Callers size it to the operator's KEY CARDINALITY, production
    // deployments override with `spark.graft.stream.statePartitions`
    // (state volume / target state-store size, the usual rule); results
    // are partition-count-invariant (hash agg / dropDuplicates /
    // flatMapGroupsWithState all commute with the partitioner), which
    // the unchanged oracle hashes re-certify.
    val wanted = spark.conf.getOption("spark.graft.stream.statePartitions")
      .map(_.toInt).orElse(statePartitions)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    wanted.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
    val q = try {
      val started = transform(src).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      started.awaitTermination()
      started
    } finally {
      // drain is synchronous, so restoring after awaitTermination (not
      // right after start, which races the stream's session snapshot)
      // cannot leak the stream's value into whatever runs next
      wanted.foreach(_ => spark.conf.set("spark.sql.shuffle.partitions", prevParts))
    }
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches >= minDataBatches,
      s"streaming run degenerated to $dataBatches data micro-batch(es); " +
        s"need >= $minDataBatches for a state-across-batches certificate")
    val fs = new Path(ckpt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(ckpt), true)
    spark.table(name)
  }
}
