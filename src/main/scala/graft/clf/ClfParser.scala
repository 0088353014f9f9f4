package graft.clf

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.ClfLine

/**
 * Apache combined-log-format parser: one native byte scan per line
 * ([[graft.functions.ClfLine]], a codegen'd Catalyst expression built as
 * a typed Column), no UDFs and no regex over the line.
 *
 * Capability parity with the reference's regex-tokenizing CSV read
 * (`/root/reference/sree-etl-tdk-lambda.py:167-186`): 9 whitespace-separated
 * fields where `[...]` wraps the timestamp and `"..."` wraps request /
 * referer / user-agent; `-` means NULL; the request is split positionally
 * into method / resource / protocol
 * (`/root/reference/sree-etl-tdk-lambda.py:182-186`).
 *
 * Deliberate improvements over the reference:
 *  - quoted fields may contain backslash-escaped quotes (we unescape);
 *  - a resource containing spaces stays intact (first token = method, last
 *    token = protocol, middle = resource) instead of being truncated;
 *  - malformed lines yield an all-NULL row instead of failing the job
 *    (null-row tolerance; [[parse]] can count the rejects as it goes);
 *  - a number out of `bigint` range is NULL, never a runtime error.
 *
 * The grammar is [[clfRegex]]. Its regex formulation — the line regex,
 * then per-field `split`, `rlike`, `regexp_replace`, `regexp_extract` and
 * `try_to_timestamp` — is the twin in the test tree (`ClfRegexParser`),
 * which the native scan must equal row for row.
 */
object ClfParser {

  /** The CLF grammar: groups 1-9 are the fields. [[rejects]] runs it;
    * the native scan follows it byte for byte. */
  private[graft] val clfRegex =
    """^(\S+)\s+(\S+)\s+(\S+)\s+\[([^\]]*+)\]\s+"((?:[^"\\]|\\.)*+)"\s+(\S+)\s+(\S+)\s+"((?:[^"\\]|\\.)*+)"\s+"((?:[^"\\]|\\.)*+)"\s*$"""

  /** CLF timestamp pattern, e.g. `13/Nov/2015:11:45:42 +0000`. */
  private[graft] val tsPattern = "dd/MMM/yyyy:HH:mm:ss Z"

  /**
   * Raw log-directory read (S1/S2/S3): distributed line-oriented text scan
   * of every file matching `glob` under `dir` — the Spark-native form of
   * the reference's list-fetch-decode loop
   * (`/root/reference/sree-etl-tdk-lambda.py:147-164`), which materialized
   * whole files in one process. Returns `value: string` lines ready for
   * [[parse]]; `input_file_name()` is available for provenance.
   */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String,
           glob: String = "*.log"): DataFrame =
    spark.read.option("pathGlobFilter", glob).text(dir)

  /**
   * Parse raw log lines (`value: string`, as produced by `spark.read.text`)
   * into the canonical 11-column cleansed schema (SURVEY.md §1.3): one
   * projection over [[graft.functions.ClfLine]], which scans each line's
   * bytes once and returns the 11 typed columns and a `matched` flag.
   *
   * Given `counts`, the first action over the result also records
   * [[LinesMetric]] (every line) and [[RejectsMetric]] (lines that do not
   * match the grammar, the same count as [[rejects]]) into it, from the
   * same scan's flag. No extra pass, no extra job.
   */
  def parse(raw: DataFrame, counts: Option[Observation] = None): DataFrame = {
    val scanned = raw.select(column(ClfLine(expression(col("value")))).as("_c"))
    val observed = counts.fold(scanned)(scanned.observe(_,
      count(lit(1)).as(LinesMetric),
      count_if(!col("_c").getField(ClfLine.Matched)).as(RejectsMetric)))
    observed.select(ClfLine.schema.fieldNames.filter(_ != ClfLine.Matched)
      .map(f => col("_c").getField(f).as(f)).toSeq: _*)
  }

  /** Names of the two counts [[parse]] records into its `counts`. */
  val LinesMetric = "lines"
  val RejectsMetric = "rejects"

  /** Lines that do not match the CLF grammar, by the [[clfRegex]] itself:
    * the reference that [[parse]]'s observed [[RejectsMetric]] is checked
    * against. */
  def rejects(raw: DataFrame): DataFrame =
    raw.filter(!col("value").rlike(clfRegex))

  /**
   * Render the canonical columns back into a CLF line (parse⁻¹ for
   * non-null fields; used by round-trip property tests and the q05/q07/q08
   * synthesis queries).
   */
  def format(
      ip: Column, userId: Column, ts: Column, method: Column,
      resource: Column, protocol: Column, status: Column, size: Column,
      referer: Column, agent: Column): Column =
    concat(
      coalesce(ip, lit("-")), lit(" - "),
      coalesce(userId.cast("string"), lit("-")), lit(" ["),
      date_format(ts, tsPattern), lit("] \""),
      method, lit(" "), resource, lit(" "), protocol, lit("\" "),
      coalesce(status.cast("string"), lit("-")), lit(" "),
      coalesce(size.cast("string"), lit("-")), lit(" \""),
      coalesce(referer, lit("-")), lit("\" \""),
      coalesce(agent, lit("-")), lit("\"")
    )
}
