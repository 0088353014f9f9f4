package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Shared plumbing for the harness mains: the one place that knows what the
 * engine session is. Callers: [[RunPipeline]], [[Verify]], [[Bench]] (its
 * first session and the fresh-session re-run), [[Explain]] and the test
 * suite's `TestSpark`. `perfbench` builds its own session, reads
 * [[parallelismFloors]] and [[quietRddWarnings]], and runs its queries
 * through [[consume]] and [[dropStreamSinks]].
 */
object Harness {

  /** Session width: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /**
   * The engine session on `local[cpus]`: one shuffle partition per core,
   * UTC, UI off and the [[parallelismFloors]]; `extra` pairs are applied
   * last, so they override any of those. Logs at WARN with
   * [[quietRddWarnings]].
   */
  def session(cpus: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    (parallelismFloors ++ extra).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietRddWarnings()
    spark
  }

  /**
   * The `SPARK_GRAFT_ONLY` query filter shared by Bench and Verify: a
   * comma-separated list of name substrings (e.g. `q18,q37`); a query is
   * selected when its name contains any of them. `None` selects every
   * query, and so does a set-but-empty value (`""`, `" , "`): every name
   * contains "", so treating it as a filter would run the full set while
   * Bench routed its record to the `.partial` path.
   */
  def onlyFilter(raw: Option[String]): Option[String => Boolean] =
    raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
      .map(terms => (name: String) => terms.exists(name.contains))

  /**
   * A JSON string literal: escapes backslash, quote and ALL control chars
   * (< 0x20) — a tab or CR in hand-written oracle SQL would otherwise make the
   * oracle compare's json.load fail and silently drop every result.
   */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /**
   * Engine session defaults that remove two PARALLELISM FLOORS whose
   * stock values serialize heavy-compute-per-byte stages on small or
   * few-row-group inputs (guide §2.2/§2.5/§6; measured at the sf1
   * point, q20_near_dedup 21.7 s → 3.4 s from these two lines alone):
   *
   *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize` (stock
   *    1 MB): AQE's coalescing is parallelism-first, but never below
   *    this size — a few-MB COMPRESSED shuffle (tokenized text packs
   *    ~10×) coalesces to 2-3 partitions and every downstream
   *    per-row-heavy stage (shingling, MinHash, window hashing) runs
   *    2-3-way regardless of cores. 64 KB lets parallelism-first
   *    actually reach the session's parallelism on such shuffles.
   *  - `spark.sql.files.openCostInBytes` (stock 4 MB): the scan
   *    planner's per-file charge FLOORS the split size at 4 MB, so a
   *    20 MB multi-row-group file yields ~3 scan tasks. 128 KB sizes
   *    splits from bytes-per-core instead.
   *
   * Both are SCALE-NEUTRAL upward: at warehouse scale shuffles and
   * files dwarf cores × floor, the floors never bind, and split/
   * partition sizing is governed by maxPartitionBytes / advisory size
   * exactly as stock. They bind only in the small-input + expensive-
   * expression regime. Plain session confs — any deployment can
   * override either at submit time.
   */
  val parallelismFloors: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536",
    "spark.sql.files.openCostInBytes" -> "131072")

  /**
   * Quiet the one WARN we emit by design: `Materialize.release` unpersists
   * locally-checkpointed RDDs after their results are consumed, and
   * `org.apache.spark.rdd.RDD` warns per release that the truncated lineage
   * cannot be recomputed — which is exactly the managed lifecycle contract.
   * 36 queries × several cuts each flooded the round-3 bench stderr and
   * buried real warnings; this drops the rdd-class loggers to ERROR and
   * leaves every other logger at the session default. The package level is
   * needed because Spark's Logging names loggers by the CONCRETE class —
   * the warning arrives tagged `MapPartitionsRDD`, not `RDD`.
   */
  def quietRddWarnings(): Unit =
    Configurator.setLevel("org.apache.spark.rdd", Level.ERROR)

  /**
   * Execute `df` end-to-end, consuming every output column AND the final
   * sort, without materializing anything driver-side: write to the built-in
   * `noop` sink.
   *
   * Why not `count()`: under a count, ColumnPruning deletes unused
   * projections and EliminateSorts the final orderBy, so a bench timing
   * `count()` measures a different plan than the query declares — round-3
   * measured q26's fingerprint column pruned entirely (0.126 s "fingerprint
   * bench" that never hashed a shingle). Why not a checksum aggregate: an
   * `agg(sum(xxhash64(...)))` keeps the columns but still lets
   * EliminateSorts drop the top-level orderBy. The noop sink is a real V2
   * write: every column is produced, the declared output ordering is
   * honored, and nothing is collected or written to disk.
   */
  def consume(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /**
   * Drop the `graft_stream_sink_N` memory-sink temp views a sweep
   * accumulates: each [[graft.streaming.StreamHarness.drain]] registers a
   * fresh one and memory sinks pin their rows in the driver heap for the
   * session's life. Harness-side hygiene between queries (outside every
   * timed region) — a query never reads a sink across invocations, so
   * dropping them changes nothing but the leak.
   */
  def dropStreamSinks(spark: SparkSession): Unit =
    spark.sessionState.catalog.getTempViewNames()
      .filter(_.startsWith("graft_stream_sink_"))
      .foreach(spark.catalog.dropTempView)
}
