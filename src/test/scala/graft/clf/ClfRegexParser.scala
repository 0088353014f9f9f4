package graft.clf

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * The regex formulation of [[ClfParser.parse]], kept as the twin the
 * native scan is checked against: built-in Catalyst expressions only.
 *
 * Single-pass: the 9-group line regex executes EXACTLY ONCE per line —
 * one `regexp_replace` rewrites a matching line into a control-char-
 * delimited record (`U+0002 f1 U+0001 f2 U+0001 … f9`), one `split`
 * recovers the fields, and the U+0002 marker + field count distinguish
 * non-matching lines (regexp_replace leaves those unchanged). The other
 * regexes run on the short extracted fields.
 *
 * Given `counts`, the first action records the line count and the
 * rejects from the same rewrite: a matched line's rewrite drops at least
 * the 8 field gaps, the brackets and the 6 quotes and adds only 9 control
 * chars, so it is always strictly shorter, and a line is a reject exactly
 * when the rewrite left it unchanged. Not so for a line that is not valid
 * UTF-8: `regexp_replace` returns it re-encoded (U+FFFD for the bad
 * bytes), so its reject is not counted here, where the native scan and
 * [[ClfParser.rejects]] count it.
 */
object ClfRegexParser {

  /** Field separator / match marker of the rewrite — control chars that
    * cannot appear in a sane log line. A valid line that *does* contain
    * them lands on the malformed path (all-NULL row), consistent with the
    * tolerance contract. */
  private val sep  = "\u0001"
  private val mark = "\u0002"

  /** Unescape `\"` and `\\` inside a quoted field. */
  private def unescape(c: Column): Column =
    regexp_replace(c, """\\(["\\])""", "$1")

  /** ANSI-safe long cast: non-numeric or out of range → NULL. */
  private def asLong(c: Column): Column =
    when(c.rlike("^-?[0-9]+$"), c.try_cast("long"))

  /** ANSI-safe double cast. */
  private def asDouble(c: Column): Column =
    when(c.rlike("^-?[0-9]+(\\.[0-9]+)?$"), c.try_cast("double"))

  def parse(raw: DataFrame, counts: Option[Observation] = None): DataFrame = {
    val repl = mark + (1 to 9).map("$" + _).mkString(sep)
    val rewritten = raw
      .withColumn("_m", regexp_replace(col("value"), ClfParser.clfRegex, repl))
    val one = counts.fold(rewritten)(rewritten.observe(_,
        count(lit(1)).as(ClfParser.LinesMetric),
        count_if(col("_m") === col("value")).as(ClfParser.RejectsMetric)))
      .withColumn("_p", split(col("_m"), sep))
      .withColumn("_ok",
        col("_m").startsWith(mark) && size(col("_p")) === 9 &&
          // a raw line that already contains the control chars would
          // garble the rewritten record's field boundaries (it can even
          // split into exactly 9 parts) — such lines are malformed by
          // the tolerance contract
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
      try_to_timestamp(f(4), lit(ClfParser.tsPattern)).as("time"),
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
}
