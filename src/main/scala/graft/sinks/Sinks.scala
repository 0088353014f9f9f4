package graft.sinks

import org.apache.spark.sql.DataFrame

/**
 * Result-table sinks behind one trait, so the aggregate job is sink-agnostic.
 *
 * The reference writes its two result tables to Oracle over JDBC —
 * overwrite for per-user counts, append for the daily totals row
 * (`/root/reference/sree-etl-tdk-glue-job.py:71-77, 88-94`). JDBC is
 * unreachable in the offline harness, so [[ParquetSink]] carries the same
 * writer-mode semantics (overwrite = replace table, append = add rows) for
 * tests; [[JdbcSink]] is the production writer and is a one-line swap.
 */
trait Sink {
  /** Replace `table` with `df`. Must run `df` as ONE Dataset write action
    * (`df.write…`): `graft.Pipeline` reads the day's totals from an
    * `Observation` on `df`, which only that action records — a sink that
    * ran `df` through an RDD, twice, or not at all would lose the totals
    * or leave the pipeline waiting for them. */
  def overwrite(df: DataFrame, table: String): Unit
  def append(df: DataFrame, table: String): Unit
}

/** Offline stand-in: same overwrite/append semantics onto Parquet dirs. */
final class ParquetSink(root: String) extends Sink {
  def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(s"$root/$table")
  def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").parquet(s"$root/$table")
}

/** Production JDBC writer (`sree-etl-tdk-glue-job.py:72-77,89-94`). */
final class JdbcSink(url: String, props: java.util.Properties) extends Sink {
  def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").jdbc(url, table, props)
  def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").jdbc(url, table, props)
}
