package graft.functions

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.time.{LocalDate, Month, Year}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, GetTimestamp, Literal, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.clf.ClfParser
import graft.stage.Staging

/**
 * Native Catalyst expression: one CLF line → the 11 typed cleansed
 * columns plus a `matched` flag, in one forward scan of the line's UTF-8
 * bytes. It is [[graft.clf.ClfParser.parse]]: a codegen'd call into
 * [[ClfLine.Scanner.compute]].
 *
 * Why a custom Expression: the regex formulation (the twin in the test
 * tree) ran the 9-group line regex once and then, per field, a `split`,
 * four `rlike` guards, three `regexp_replace` unescapes, three
 * `regexp_extract` request splits and a `try_to_timestamp`. Profiled on
 * a 240k-line day (4-core host), the line regex was about 13% of that
 * parse's time and the per-field work after it the rest: about 25 µs a
 * line on one task.
 *
 * Semantics, the twin's by construction (the spec checks them row for
 * row on generated lines):
 *  - grammar: `clfRegex`. Separators are Java's ASCII `\s`
 *    (`[ \t\n\x0B\f\r]`); the bracket field runs to the first `]`; a
 *    quoted field runs to the first unescaped `"`, where `\` escapes any
 *    character except Java's line terminators (`\n`, `\r`, U+0085,
 *    U+2028, U+2029); after the last quote only `\s` may follow, plus
 *    one final U+0085/U+2028/U+2029 that `$` matches before and that
 *    stays on the user agent, as the regex rewrite left it;
 *  - a matched line holding U+0001 or U+0002 (the twin's rewrite
 *    markers) is all-NULL but still matched (the tolerance contract);
 *  - `-` and `""` are NULL; quoted fields unescape `\"` and `\\`;
 *  - numbers: `-?[0-9]+` (`-?[0-9]+(\.[0-9]+)?` for the identity);
 *    anything else, and a value out of `bigint` range, is NULL;
 *  - the request splits into the first `\S+` token, the protocol (the
 *    last `\S+` token) and the resource between them, which may contain
 *    spaces: the twin's three request regexes, `$` included;
 *  - the timestamp `dd/MMM/yyyy:HH:mm:ss ±hhmm` with a canonical
 *    (`Nov`) month and in-range fields is computed here; every other
 *    string goes to Spark's own [[GetTimestamp]], the expression behind
 *    `try_to_timestamp`, with the same pattern and session time zone;
 *  - a line that is not valid UTF-8 is scanned as its decoded form, as
 *    the regex path sees it (invalid bytes become U+FFFD).
 * NULL input → NULL struct.
 */
case class ClfLine(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_clf requires string, got $t")
  }
  override def dataType: DataType = ClfLine.schema
  override def prettyName: String = "graft_clf"

  override def withTimeZone(timeZoneId: String): ClfLine =
    copy(timeZoneId = Some(timeZoneId))

  @transient private lazy val scanner = new ClfLine.Scanner(timeZoneId.get)

  override def nullSafeEval(a: Any): Any = scanner.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("clfScanner", new ClfLine.Scanner(timeZoneId.get))
    defineCodeGen(ctx, ev, a => s"$s.compute($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): ClfLine =
    copy(child = newChild)
}

object ClfLine {

  /** Name of the flag: the line matched the CLF grammar. */
  val Matched = "matched"

  /** The cleansed columns, in `Staging.cleansedDdl` order, then the flag. */
  val schema: StructType =
    StructType.fromDDL(Staging.cleansedDdl).add(Matched, BooleanType, nullable = false)

  private val Fields = 11
  private val Months = "JanFebMarAprMayJunJulAugSepOctNovDec".getBytes(ISO_8859_1)

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Length of the Java line terminator starting at `i`, else 0:
    * `\n`, `\r`, U+0085 (C2 85), U+2028/U+2029 (E2 80 A8/A9). */
  private def terminatorAt(b: Array[Byte], i: Int, n: Int): Int =
    if (i >= n) 0
    else if (b(i) == '\n' || b(i) == '\r') 1
    else if (b(i) == 0xC2.toByte && i + 1 < n && b(i + 1) == 0x85.toByte) 2
    else if (b(i) == 0xE2.toByte && i + 2 < n && b(i + 1) == 0x80.toByte &&
        (b(i + 2) == 0xA8.toByte || b(i + 2) == 0xA9.toByte)) 3
    else 0

  /** Per-expression state: the time zone and the formatter fallback. One
    * instance per plan; `compute` keeps nothing between calls. */
  final class Scanner(timeZone: String) extends Serializable {

    @transient private lazy val fallback = GetTimestamp(
      BoundReference(0, StringType, nullable = true), Literal(ClfParser.tsPattern),
      TimestampType, timeZoneId = Some(timeZone), failOnError = false)

    // field bounds of the current line: [start(i), end(i)) in `b`
    private final class Line(val b: Array[Byte]) {
      val start = new Array[Int](9)
      val end = new Array[Int](9)
      var escaped = 0 // bit i: quoted field i holds a backslash
      var suffix = 0  // bytes of a final terminator after the last quote
      var high = false
      var marker = false
    }

    /** Called from generated code: the 12-field struct for one line. */
    def compute(s: UTF8String): InternalRow = {
      val line = new Line(s.getBytes)
      val matched = scan(line)
      if (line.high && !s.isValid) return compute(UTF8String.fromString(s.toString))
      val out = new Array[Any](Fields + 1)
      out(Fields) = matched
      if (matched && !line.marker) fill(line, out)
      new GenericInternalRow(out)
    }

    /** The grammar walk; records field bounds and whether the line holds
      * a non-ASCII byte or a U+0001/U+0002 marker. */
    private def scan(l: Line): Boolean = {
      val b = l.b
      val n = b.length
      var i = 0
      def see(c: Byte): Unit =
        if (c <= 2) { if (c < 0) l.high = true else if (c != 0) l.marker = true }
      def token(f: Int): Boolean = {
        l.start(f) = i
        while (i < n && !isWs(b(i))) { see(b(i)); i += 1 }
        l.end(f) = i
        i > l.start(f)
      }
      def gap(): Boolean = {
        val from = i
        while (i < n && isWs(b(i))) i += 1
        i > from
      }
      def quoted(f: Int): Boolean = {
        if (i >= n || b(i) != '"') return false
        i += 1
        l.start(f) = i
        while (i < n && b(i) != '"') {
          val c = b(i)
          see(c)
          if (c == '\\') {
            if (i + 1 >= n || terminatorAt(b, i + 1, n) > 0) return false
            l.escaped |= 1 << f
            see(b(i + 1))
            i += 2
          } else i += 1
        }
        if (i >= n) return false
        l.end(f) = i
        i += 1
        true
      }
      val ok = token(0) && gap() && token(1) && gap() && token(2) && gap() && {
        if (i < n && b(i) == '[') {
          i += 1
          l.start(3) = i
          while (i < n && b(i) != ']') { see(b(i)); i += 1 }
          l.end(3) = i
          i < n && { i += 1; true }
        } else false
      } && gap() && quoted(4) && gap() && token(5) && gap() && token(6) && gap() &&
        quoted(7) && gap() && quoted(8)
      if (!ok) {
        while (i < n) { see(b(i)); i += 1 } // flags for the whole line
        return false
      }
      while (i < n && isWs(b(i))) i += 1
      val t = terminatorAt(b, i, n)
      if (i == n) true
      else if (t > 1 && i + t == n) { l.high = true; l.suffix = t; true }
      else {
        while (i < n) { see(b(i)); i += 1 }
        false
      }
    }

    private def fill(l: Line, out: Array[Any]): Unit = {
      val b = l.b
      def len(f: Int) = l.end(f) - l.start(f)
      def isDash(f: Int) = len(f) == 1 && b(l.start(f)) == '-'
      def absent(f: Int) = len(f) == 0 || isDash(f)
      def str(f: Int) = UTF8String.fromBytes(b, l.start(f), len(f))
      def escaped(f: Int) = (l.escaped & (1 << f)) != 0
      def text(f: Int): UTF8String =
        if (escaped(f)) UTF8String.fromBytes(unescape(b, l.start(f), l.end(f))) else str(f)
      out(0) = if (isDash(0)) null else str(0)
      out(1) = if (isDash(1)) null else decimal(b, l.start(1), l.end(1))
      out(2) = if (isDash(2)) null else integer(b, l.start(2), l.end(2))
      out(3) = if (absent(3)) null else timestamp(b, l.start(3), l.end(3))
      if (!absent(4)) {
        if (escaped(4)) { val q = unescape(b, l.start(4), l.end(4)); request(q, 0, q.length, out) }
        else request(b, l.start(4), l.end(4), out)
      }
      out(7) = if (isDash(5)) null else integer(b, l.start(5), l.end(5))
      out(8) = if (isDash(6)) null else integer(b, l.start(6), l.end(6))
      out(9) = if (absent(7)) null else text(7)
      out(10) =
        if (l.suffix == 0) { if (absent(8)) null else text(8) }
        else {
          // the final terminator stays on the last field, after the quote
          val from = l.start(8)
          val raw = new Array[Byte](len(8) + l.suffix)
          System.arraycopy(b, from, raw, 0, len(8))
          System.arraycopy(b, b.length - l.suffix, raw, len(8), l.suffix)
          UTF8String.fromBytes(unescape(raw, 0, raw.length))
        }
    }

    /** `\"` → `"` and `\\` → `\`, left to right; any other `\` stays. */
    private def unescape(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
      val o = new Array[Byte](until - from)
      var i = from
      var j = 0
      while (i < until) {
        if (b(i) == '\\' && i + 1 < until && (b(i + 1) == '"' || b(i + 1) == '\\')) i += 1
        o(j) = b(i); j += 1; i += 1
      }
      java.util.Arrays.copyOf(o, j)
    }

    /** The request split: method, resource, protocol into `out(4..6)`.
      * Tokens are maximal runs of non-`\s` bytes. The resource and
      * protocol exist when the first token is followed by `\s`, the
      * string ends in a token and at most one `\r`, `\n` or `\r\n`, and
      * there are two `\s` bytes between the first and the last token
      * (then the resource may be empty). The resource runs from the end
      * of the first gap to the last `\s` before the protocol, stopped
      * early by a line terminator (which `.` does not cross): a
      * terminator before the last gap means no resource and no protocol. */
    private def request(b: Array[Byte], from: Int, n: Int, out: Array[Any]): Unit = {
      var e1 = from
      while (e1 < n && !isWs(b(e1))) e1 += 1
      out(4) = UTF8String.fromBytes(b, from, e1 - from)
      if (e1 == from || e1 == n) return
      // trailing \s must be "", "\n", "\r" or "\r\n"
      var last = n
      while (last > from && isWs(b(last - 1))) last -= 1
      val tail = n - last
      val tailOk = tail == 0 ||
        (tail == 1 && (b(n - 1) == '\n' || b(n - 1) == '\r')) ||
        (tail == 2 && b(n - 2) == '\r' && b(n - 1) == '\n')
      if (!tailOk || last <= e1) return
      var z = last // protocol = [z, last)
      while (!isWs(b(z - 1))) z -= 1
      var r1 = e1 // first gap = [e1, r1)
      while (isWs(b(r1))) r1 += 1
      var resource: UTF8String = null
      if (r1 == z) {
        if (z - e1 >= 2) resource = UTF8String.EMPTY_UTF8
      } else {
        var a = z - 1 // last gap = [a, z)
        while (isWs(b(a - 1))) a -= 1
        var x = r1
        while (x < n && terminatorAt(b, x, n) == 0) x += 1
        if (x >= a) resource = UTF8String.fromBytes(b, r1, math.min(x, z - 1) - r1)
      }
      if (resource != null) {
        out(5) = resource
        out(6) = UTF8String.fromBytes(b, z, last - z)
      }
    }

    /** `-?[0-9]+` within `bigint`, else NULL. */
    private def integer(b: Array[Byte], from: Int, until: Int): Any = {
      val neg = b(from) == '-'
      var i = if (neg) from + 1 else from
      if (i >= until) return null
      var v = 0L // accumulated negatively: Long.MinValue has no positive twin
      while (i < until) {
        val d = b(i) - '0'
        if (d < 0 || d > 9) return null
        if (v < (Long.MinValue + d) / 10) return null
        v = v * 10 - d
        i += 1
      }
      if (neg) v else if (v == Long.MinValue) null else -v
    }

    /** `-?[0-9]+(\.[0-9]+)?` as a double, else NULL. */
    private def decimal(b: Array[Byte], from: Int, until: Int): Any = {
      var i = if (b(from) == '-') from + 1 else from
      def digits(): Boolean = {
        val s = i
        while (i < until && b(i) >= '0' && b(i) <= '9') i += 1
        i > s
      }
      val ok = digits() && (i == until || (b(i) == '.' && { i += 1; digits() && i == until }))
      if (ok) java.lang.Double.parseDouble(new String(b, from, until - from, ISO_8859_1))
      else null
    }

    /** Canonical `dd/MMM/yyyy:HH:mm:ss ±hhmm` by hand; anything else,
      * or a field out of range, through Spark's formatter. */
    private def timestamp(b: Array[Byte], from: Int, until: Int): Any = {
      def d(i: Int): Int = { val v = b(from + i) - '0'; if (v < 0 || v > 9) -100000 else v }
      def num(i: Int, w: Int): Int = { var v = 0; var k = 0; while (k < w) { v = v * 10 + d(i + k); k += 1 }; v }
      def at(i: Int, c: Char) = b(from + i) == c
      val canonical = until - from == 26 && at(2, '/') && at(6, '/') && at(11, ':') &&
        at(14, ':') && at(17, ':') && at(20, ' ') && (at(21, '+') || at(21, '-'))
      if (canonical) {
        var m = 0
        var k = 0
        while (m == 0 && k < 12) {
          if (b(from + 3) == Months(3 * k) && b(from + 4) == Months(3 * k + 1) &&
              b(from + 5) == Months(3 * k + 2)) m = k + 1
          k += 1
        }
        val day = num(0, 2); val year = num(7, 4)
        val h = num(12, 2); val mi = num(15, 2); val s = num(18, 2)
        val oh = num(22, 2); val om = num(24, 2)
        if (m > 0 && year >= 1 && day >= 1 && day <= Month.of(m).length(Year.isLeap(year)) &&
            h >= 0 && h <= 23 && mi >= 0 && mi <= 59 && s >= 0 && s <= 59 &&
            oh >= 0 && oh <= 17 && om >= 0 && om <= 59) {
          val offset = (oh * 3600 + om * 60) * (if (at(21, '-')) -1 else 1)
          val secs = LocalDate.of(year, m, day).toEpochDay * 86400L +
            h * 3600 + mi * 60 + s - offset
          return secs * 1000000L
        }
      }
      fallback.eval(InternalRow(UTF8String.fromBytes(b, from, until - from)))
    }
  }
}
