package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.{Harness, SparkEntry}
import graft.ext.Materialize

/**
 * The engine's query mix: a fixed list of `SparkEntry.queries` over a seeded
 * `events` table. [[prime]] is each query's first run (class loading,
 * codegen, the builders' cached scratch staging); it writes the query's
 * result under `out/<query>`, next to its DuckDB oracle SQL in
 * `out/oracle_sql.json`, for the compare that follows the run. One
 * operation is the builder call plus `Harness.consume`, then
 * `Materialize.release` and the stream-sink drop.
 */
final class Queries(spark: SparkSession, tracer: Tracer, data: String, out: File, queries: Seq[String]) {

  private val builders = SparkEntry.queries
  private val missing = queries.filterNot(builders.contains)
  require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
  private val eventRows = spark.read.parquet(s"$data/events.parquet").count()

  private def release(): Unit = { Materialize.release(spark); Harness.dropStreamSinks(spark) }

  def prime(): Unit = {
    queries.foreach { q =>
      builders(q)(spark, data).write.mode("overwrite").parquet(new File(out, q).getPath)
      release()
    }
    val oracle = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    java.nio.file.Files.write(new File(out, "oracle_sql.json").toPath, Json.value(oracle).getBytes("UTF-8"))
  }

  def ops: Seq[Op] = queries.map { q =>
    Op(q, eventRows, () => {
      val df = tracer.span("query.build")(builders(q)(spark, data))
      tracer.span("query.execute")(Harness.consume(df))
      tracer.span("materialize.release")(release())
      () => None
    })
  }
}
