package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/**
 * Seeded generator of Apache combined-log days.
 *
 * Every event of a day is a pure function of (seed, day index, line
 * number), so the same call yields the same lines on the Spark driver (ground
 * truth, file writing) and inside Spark tasks (typed history rows).
 *
 * Shape: users are Zipf-skewed over a fixed population, ~78% of requests
 * answer 200, ~0.1% of lines are malformed, ~0.5% carry the `-` (NULL)
 * user, some user agents hold backslash-escaped quotes and some resources
 * contain spaces. A day's lines are split evenly over 24 hourly files with
 * non-decreasing timestamps inside each hour.
 */
object Gen {

  val Users = 4000
  private val ZipfS = 1.1
  val FirstDay: LocalDate = LocalDate.of(2024, 3, 1)

  /** One generated line. `user` < 0 is the NULL user, `size` < 0 is `-`. */
  final case class Ev(
      malformed: Boolean, ip: String, user: Long, ts: Long, method: String,
      resource: String, protocol: String, status: Int, size: Long,
      referer: String, agent: String)

  /** What a day must parse back to (Pipeline.Report and the sink tables). */
  final case class Truth(
      lines: Long, malformed: Long, nullUserLines: Long, status200: Long,
      perUser: Map[Long, Long], rawBytes: Long) {
    def distinctUsers: Long = perUser.size.toLong
  }

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Users)(i => 1.0 / math.pow(i + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private val methods   = Array("GET", "GET", "GET", "GET", "POST", "PUT", "DELETE", "HEAD")
  private val protocols = Array("HTTP/1.1", "HTTP/1.1", "HTTP/1.0", "HTTP/2.0")
  private val pages     = Array("/", "/index.html", "/products", "/cart", "/checkout",
    "/api/v1/items", "/api/v1/users", "/static/app.js", "/static/site.css", "/images/logo.png",
    "/search", "/login", "/logout", "/account", "/help")
  private val others    = Array(304, 404, 302, 500, 403, 201, 503)
  private val referers  = Array("-", "-", "https://www.example.com/", "https://search.example.org/?q=shop",
    "https://news.example.net/story")
  private val agents    = Array("Mozilla/5.0 (X11; Linux x86_64)",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36",
    "curl/8.5.0", "Mozilla/5.0 (compatible; \\\"ExampleBot\\\"/2.1)",
    "python-requests/2.31")

  def date(day: Int): String = FirstDay.plusDays(day.toLong).toString

  private def dayStart(day: Int): Long =
    FirstDay.plusDays(day.toLong).atStartOfDay().toEpochSecond(ZoneOffset.UTC)

  private def rng(seed: Long, day: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + day * 7919L + 17L)

  /** The day's events in file order (hour by hour). */
  def events(seed: Long, day: Int, lines: Int): Iterator[Ev] = {
    val r = rng(seed, day)
    val base = dayStart(day)
    Iterator.range(0, lines).map { i =>
      // evenly spaced through the day, so line i falls in hour i*24/lines
      val ts = base + i.toLong * 86400L / lines
      val malformed = r.nextInt(1000) == 0
      val u = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble()) match {
        case k if k >= 0 => k
        case k => math.min(-k - 1, Users - 1)
      }
      val user = if (r.nextInt(200) == 0) -1L else 1000L + u.toLong * 37L
      val ip = s"10.${(u >> 8) & 255}.${u & 255}.${1 + r.nextInt(250)}"
      val page = pages(r.nextInt(pages.length))
      val resource = r.nextInt(40) match {
        case 0 => s"$page/my file ${r.nextInt(100)}.txt"
        case 1 => s"$page?id=${r.nextInt(100000)}"
        case _ => page
      }
      val status = if (r.nextInt(100) < 78) 200 else others(r.nextInt(others.length))
      val size = if (r.nextInt(50) == 0) -1L else 200L + r.nextInt(50000)
      Ev(malformed, ip, user, ts, methods(r.nextInt(methods.length)), resource,
        protocols(r.nextInt(protocols.length)), status, size,
        referers(r.nextInt(referers.length)), agents(r.nextInt(agents.length)))
    }
  }

  private val tsFormat =
    DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.ENGLISH).withZone(ZoneOffset.UTC)

  /** Render one event as a combined-log line (malformed events as junk). */
  def render(e: Ev): String =
    if (e.malformed)
      // no brackets and no quotes: cannot match the CLF grammar
      s"${e.ip} - ${if (e.user < 0) "-" else e.user} ${tsFormat.format(Instant.ofEpochSecond(e.ts))} " +
        s"${e.method} ${e.resource} ${e.status}"
    else
      s"""${e.ip} - ${if (e.user < 0) "-" else e.user} [${tsFormat.format(Instant.ofEpochSecond(e.ts))}] """ +
        s""""${e.method} ${e.resource} ${e.protocol}" ${e.status} ${if (e.size < 0) "-" else e.size} """ +
        s""""${e.referer}" "${e.agent}""""

  /** Folds a day's events into its [[Truth]]. */
  private final class Tally {
    private val perUser = mutable.HashMap.empty[Long, Long]
    private var lines, malformed, nullUser, ok200, bytes = 0L
    def add(e: Ev, line: String): Unit = {
      lines += 1
      bytes += line.getBytes(UTF_8).length + 1
      if (e.malformed) malformed += 1
      else {
        if (e.user < 0) nullUser += 1 else perUser(e.user) = perUser.getOrElse(e.user, 0L) + 1
        if (e.status == 200) ok200 += 1
      }
    }
    def truth: Truth = Truth(lines, malformed, nullUser, ok200, perUser.toMap, bytes)
  }

  /** Ground truth of a day, from the events alone. */
  def truth(seed: Long, day: Int, lines: Int): Truth = {
    val t = new Tally
    events(seed, day, lines).foreach(e => t.add(e, render(e)))
    t.truth
  }

  /** Write the day as 24 hourly `*.log` files under `dir`; returns its truth. */
  def writeDay(seed: Long, day: Int, lines: Int, dir: File): Truth = {
    dir.mkdirs()
    val t = new Tally
    var hour = -1
    var out: BufferedWriter = null
    try events(seed, day, lines).zipWithIndex.foreach { case (e, i) =>
      val h = (i.toLong * 24 / lines).toInt
      if (h != hour) {
        if (out != null) out.close()
        hour = h
        out = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(new File(dir, f"access-${date(day)}-$h%02d.log")), UTF_8), 1 << 16)
      }
      val line = render(e)
      out.write(line); out.write('\n')
      t.add(e, line)
    } finally if (out != null) out.close()
    t.truth
  }
}
