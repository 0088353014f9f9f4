package graft.clf

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * Apache combined-log-format parser, expressed entirely with built-in
 * Catalyst expressions (codegen'd, null-safe, pushdown-transparent) — no
 * UDFs.
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
 *    (null-row tolerance; [[parse]] can count the rejects as it goes).
 */
object ClfParser {

  /** One regex over the whole line; groups 1-9 are the CLF fields. */
  private[graft] val clfRegex =
    """^(\S+)\s+(\S+)\s+(\S+)\s+\[([^\]]*+)\]\s+"((?:[^"\\]|\\.)*+)"\s+(\S+)\s+(\S+)\s+"((?:[^"\\]|\\.)*+)"\s+"((?:[^"\\]|\\.)*+)"\s*$"""

  /** CLF timestamp pattern, e.g. `13/Nov/2015:11:45:42 +0000`. */
  private[graft] val tsPattern = "dd/MMM/yyyy:HH:mm:ss Z"

  /** Field separator / match marker used by the single-pass rewrite in
    * [[parse]] — control chars that cannot appear in a sane log line. A
    * valid line that *does* contain them lands on the malformed path
    * (all-NULL row), consistent with the tolerance contract. */
  private val sep  = ""
  private val mark = ""

  /** Unescape `\"` and `\\` inside a quoted field. */
  private def unescape(c: Column): Column =
    regexp_replace(c, """\\(["\\])""", "$1")

  /** ANSI-safe long cast: non-numeric → NULL (never a runtime error). */
  private def asLong(c: Column): Column =
    when(c.rlike("^-?[0-9]+$"), c.cast("long"))

  /** ANSI-safe double cast. */
  private def asDouble(c: Column): Column =
    when(c.rlike("^-?[0-9]+(\\.[0-9]+)?$"), c.cast("double"))

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
   * into the canonical 11-column cleansed schema (SURVEY.md §1.3).
   *
   * Single-pass: the 9-group line regex executes EXACTLY ONCE per line —
   * one `regexp_replace` rewrites a matching line into a control-char-
   * delimited record (`f1f2…`), one `split` recovers the
   * fields, and the `` marker + field count distinguish non-matching
   * lines (regexp_replace leaves those unchanged). At scan-dominated scale
   * the parse regex is the top CPU cost, so this is ~9× less regex work
   * than extracting each group separately. Remaining regexes run on short
   * already-extracted fields, not the line.
   *
   * Given `counts`, the first action over the result also records
   * [[LinesMetric]] (every line) and [[RejectsMetric]] (lines that do not
   * match the grammar, the same count as [[rejects]]) into it, from the
   * same rewrite: a matched line's rewrite drops at least the 8 field
   * gaps, the brackets and the 6 quotes and adds only 9 control chars, so
   * it is always strictly shorter, and a line is a reject exactly when
   * the rewrite left it unchanged. No extra regex, no extra job.
   */
  def parse(raw: DataFrame, counts: Option[Observation] = None): DataFrame = {
    val repl = mark + (1 to 9).map("$" + _).mkString(sep)
    val rewritten = raw
      .withColumn("_m", regexp_replace(col("value"), clfRegex, repl))
    val one = counts.fold(rewritten)(rewritten.observe(_,
        count(lit(1)).as(LinesMetric),
        count_if(col("_m") === col("value")).as(RejectsMetric)))
      .withColumn("_p", split(col("_m"), sep))
      .withColumn("_ok",
        col("_m").startsWith(mark) && size(col("_p")) === 9 &&
          // a raw line that already contains the control chars would
          // garble the rewritten record's field boundaries (it can even
          // split into exactly 9 parts) — such lines are malformed by
          // the tolerance contract, so enforce it: plain substring
          // scans, no extra regex over the line
          !col("value").contains(sep) && !col("value").contains(mark))
    // field i of the matched record; "" and "-" both mean NULL
    def f(i: Int): Column = {
      val v =
        if (i == 1) substring(element_at(col("_p"), 1), 2, Int.MaxValue)
        else element_at(col("_p"), i)
      when(col("_ok"), nullif(nullif(v, lit("")), lit("-")))
    }
    val req = unescape(f(5))
    one.select(
      f(1).as("ip_address"),
      asDouble(f(2)).as("rfc_1413_identity"),
      asLong(f(3)).as("user_id"),
      try_to_timestamp(f(4), lit(tsPattern)).as("time"),
      regexp_extract(req, """^(\S+)""", 1).as("request_method"),
      when(req.rlike("""^\S+\s+.*\s+\S+$"""),
           regexp_extract(req, """^\S+\s+(.*)\s+\S+$""", 1))
        .as("request_resource"),
      when(req.rlike("""^\S+\s+.*\s+\S+$"""),
           regexp_extract(req, """(\S+)$""", 1))
        .as("request_protocol"),
      asLong(f(6)).as("status_code"),
      asLong(f(7)).as("size"),
      unescape(f(8)).as("referer"),
      unescape(f(9)).as("user_agent")
    )
  }

  /** Names of the two counts [[parse]] records into its `counts`. */
  val LinesMetric = "lines"
  val RejectsMetric = "rejects"

  /** Lines that do not match the CLF grammar at all, by a second regex
    * pass: the reference that [[parse]]'s observed [[RejectsMetric]] is
    * checked against. */
  def rejects(raw: DataFrame): DataFrame =
    raw.filter(!col("value").rlike(clfRegex))

  /** [[parse]] with the typed surface: a `Dataset[LogLine]` with
    * compile-time field access, for callers that prefer case-class safety
    * over dynamic `Row`s (SURVEY.md §1.1). Same plan — encoders bind to
    * the identical columns, nothing is materialized. */
  def parseTyped(raw: DataFrame): org.apache.spark.sql.Dataset[LogLine] =
    parse(raw).as[LogLine](org.apache.spark.sql.Encoders.product[LogLine])

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
