package graft.ext

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Managed lineage-cut points for the dedup/ANN operators.
 *
 * Why cuts exist at all: Catalyst's projection collapse inlines a column's
 * defining expression into every consumer, so an expensive narrow
 * intermediate (MinHash signature, parsed JSON map, SimHash) placed under a
 * generator or self-join fan-out gets recomputed once per fan-out row —
 * measured 200s+ vs ~1s on the LSH band explode. Materializing the
 * intermediate is the textbook recompute-vs-store win.
 *
 * Two modes, selected by `spark.graft.materialize`:
 *
 *  - `local` (default): `localCheckpoint()` — blocks live in the executors'
 *    BlockManager. Fastest, but blocks are lost with an executor, so a
 *    downstream stage failure cannot recompute them: right for local mode
 *    and short-lived jobs, wrong for a 1000-executor cluster where executor
 *    loss is routine.
 *  - `parquet`: spill to `spark.graft.materialize.dir` (any Hadoop FS —
 *    HDFS/S3 on a cluster) and read back. Survives executor loss and keeps
 *    no BlockManager state; the reliable choice for long cluster jobs.
 *
 * Lifecycle: every cut pins resources (blocks or files) for the life of the
 * session unless released. Callers that fully consume their results (one
 * action, result leaves Spark) should call [[release]] afterwards — Bench
 * and Verify do, per query — which unpersists the pinned blocks and deletes
 * the spill files created since the last release. Do NOT release while a
 * DataFrame derived from a cut is still to be consumed: the cut truncated
 * its lineage, so the data is unrecoverable after release.
 *
 * [[release]] is scoped and synchronous by design:
 *
 *  - Scoped: only the RDDs that [[cut]] itself pinned are unpersisted —
 *    caller-owned `cache()`/`localCheckpoint()` DataFrames (e.g. the
 *    pipeline's cached day slice) are left intact, and a caller can never
 *    lose an unrelated lineage-truncated DataFrame to a release it didn't
 *    ask for.
 *  - Blocking: `unpersist(blocking = true)`. The round-3 bench showed the
 *    async form letting a backlog of block-removal work from earlier
 *    queries collide with later ones (q33 measured ~4× its isolated
 *    steady state); a synchronous release keeps cleanup cost attributed to
 *    the release call site, outside any timed region.
 */
object Materialize {

  private val counter = new AtomicLong(0)
  private val spillPaths = scala.collection.mutable.ArrayBuffer[String]()
  private val cutRddIds = scala.collection.mutable.ArrayBuffer[Int]()

  /** Materialize `df` and cut its lineage (see class doc for mode choice). */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    mode(spark) match {
      case "parquet" =>
        val path = s"${spillDir(spark)}/${spark.sparkContext.applicationId}" +
          s"_cut${counter.incrementAndGet()}"
        df.write.mode("overwrite").parquet(path)
        spillPaths.synchronized { spillPaths += path }
        spark.read.parquet(path)
      case _ =>
        // record exactly the RDD this cut pins: eager localCheckpoint wraps
        // the persisted RDD in a LogicalRDD leaf of the returned plan, so
        // the id comes from the DataFrame itself — never from a before/
        // after diff of the context-global persistent-RDD registry, which
        // under concurrent cuts (or a caller persisting on another thread
        // between the snapshots) could adopt and later force-unpersist an
        // unrelated caller-owned RDD
        val out = df.localCheckpoint()
        val ids = out.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        }
        cutRddIds.synchronized { cutRddIds ++= ids }
        out
    }
  }

  /** Ids currently tracked for the next [[release]] — test visibility. */
  private[ext] def trackedIds: Seq[Int] = cutRddIds.synchronized(cutRddIds.toSeq)

  /**
   * Release everything pinned by [[cut]] since the last release — and ONLY
   * that: tracked checkpoint blocks are unpersisted synchronously and
   * tracked parquet spill directories deleted; persisted RDDs the caller
   * created itself are untouched. Only call once every DataFrame built from
   * the cuts has been consumed.
   */
  def release(spark: SparkSession): Unit = {
    val ids = cutRddIds.synchronized {
      val i = cutRddIds.toList; cutRddIds.clear(); i
    }
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
    val paths = spillPaths.synchronized {
      val p = spillPaths.toList; spillPaths.clear(); p
    }
    paths.foreach { p =>
      val path = new Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
  }

  /**
   * Fan a SMALL scan-rooted frame out to the session's default
   * parallelism before per-row-heavy compute (guide §2.5 "repartition
   * immediately after the read", made size-adaptive): a single-file /
   * single-row-group table caps the SCAN at 1-2 tasks, and any
   * expensive expression fused into that scan stage (window hashing,
   * per-token digests, shingling) runs serially while the rest of the
   * machine idles — the q79 event-log profile showed 2-task stages
   * holding 28 s of a 37 s run on 32 cores.
   *
   * The shuffle is gated on the OPTIMIZER'S SIZE ESTIMATE (for a
   * scan-rooted projection: pruned file bytes): only frames at most
   * `spark.graft.fanBytes` (default 256 MB) are round-robin
   * repartitioned, so at corpus scale — where the scan already has
   * thousands of splits and a keyless repartition would be an
   * accidental full-corpus shuffle (guide §2.4's antipattern) — this is
   * a NO-OP by construction. Row-to-partition assignment does not
   * affect any caller: every consumer is an aggregate/join keyed by its
   * own columns (the repo's partition-independence contract, certified
   * by the 8-core driver runs), and Spark's sort-before-repartition
   * keeps task retries deterministic.
   */
  def fan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val limit = spark.conf.get("spark.graft.fanBytes",
      (256L << 20).toString).toLong
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= limit)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  private def mode(spark: SparkSession): String =
    spark.conf.get("spark.graft.materialize", "local")

  private def spillDir(spark: SparkSession): String =
    spark.conf.get("spark.graft.materialize.dir",
      s"${sys.props("java.io.tmpdir")}/graft_materialize")
}
