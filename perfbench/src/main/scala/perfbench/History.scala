package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.analytics.LogAnalytics
import graft.stage.Staging

/**
 * `history`: the read side (the reference's Athena/Glue reads, and the
 * engine's queries). Set-up stages `Days` days of seeded typed rows with
 * the program's own `Staging.withDate`/`Staging.stage` and registers the
 * layout; a pass runs the `LogAnalytics.athenaSql` trio on the table,
 * `DayReads` pruned `Staging.readDay` → `requestsPerUser`/`totalsRow` day
 * reads, one `Staging.readAll` → `sessionCounts`, then the query mix. No
 * CLF parse and no staging writes.
 */
final class History(spark: SparkSession, tracer: Tracer, seed: Long, work: File, corrupt: Boolean,
    queries: Queries) extends Workload {
  val Days = 30
  val Lines = 2000
  val DayReads = 5

  def setupPerPass = false

  private val truths = (0 until Days).map(d => Gen.truth(seed, d, Lines))
  private val readDays = {
    val r = new java.util.SplittableRandom(seed)
    Vector.fill(DayReads)(r.nextInt(Days))
  }
  private var root: File = _
  private var table = ""
  private var tracedReads = 0L

  private def rows(d: Int): Long = truths(d).lines - truths(d).malformed
  private val totalRows = (0 until Days).map(rows).sum

  def setup(rep: Int): Unit = {
    root = new File(work, s"history/s$rep")
    table = s"history_s$rep"
    Files.delete(root)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val (s, n) = (seed, Lines)
    val typed = spark.sparkContext.parallelize(0 until Days, Days)
      .flatMap(d => Gen.events(s, d, n).filterNot(_.malformed).map(History.row))
    Staging.stage(Staging.withDate(spark.createDataFrame(typed, History.schema), "time"), root.getPath)
    Staging.register(spark, table, root.getPath)
  }

  /** The first run of each kind of read and of each query, unchecked. */
  def warm(): Unit = {
    reads.filter(op => !op.name.startsWith("day read") || op.name == s"day read ${readDays.head}")
      .foreach(_.run())
    queries.prime()
  }

  def pass(p: Int): Seq[Op] = reads ++ queries.ops

  private def reads: Seq[Op] = {
    val athena = LogAnalytics.athenaSql(table).zipWithIndex.map { case (sql, i) =>
      Op(s"athena $i", totalRows, () => {
        val got = tracer.span("analytics.aggregate")(spark.sql(sql).collect())
        () => checkAthena(i, got)
      })
    }
    val dayReads = readDays.map { d =>
      Op(s"day read $d", rows(d), () => {
        val date = Gen.date(d)
        val (day, n) = tracer.span("stage.read_day") {
          val day = Staging.readDay(spark, root.getPath, date).cache()
          (day, day.count())
        }
        val (perUser, totals) = tracer.span("analytics.aggregate") {
          (LogAnalytics.requestsPerUser(day).collect(),
            LogAnalytics.totalsRow(day, lit(date), col("status_code") === 200).collect())
        }
        day.unpersist()
        if (tracer.enabled) tracedReads += 1
        () => checkDay(d, n, perUser, totals)
      })
    }
    val sessions = Op("sessions", totalRows, () => {
      val got = tracer.span("analytics.session") {
        LogAnalytics.sessionCounts(Staging.readAll(spark, root.getPath)).collect()
      }
      () => checkSessions(got)
    })
    athena ++ dayReads :+ sessions
  }

  private def truth(d: Int): Gen.Truth =
    if (corrupt) truths(d).copy(status200 = truths(d).status200 + 1) else truths(d)

  private def byUser(rows: Array[Row]): Map[Option[Long], Long] =
    rows.map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap

  private def expected(ts: Seq[Gen.Truth]): Map[Option[Long], Long] = {
    val m = mutable.HashMap.empty[Option[Long], Long]
    ts.foreach { t =>
      t.perUser.foreach { case (u, c) => m(Some(u)) = m.getOrElse(Some(u), 0L) + c }
      if (t.nullUserLines > 0) m(None) = m.getOrElse(None, 0L) + t.nullUserLines
    }
    m.toMap
  }

  private def checkAthena(i: Int, got: Array[Row]): Option[String] = {
    val all = (0 until Days).map(truth)
    val ok = i match {
      case 0 => got.map(_.getLong(0)).toSeq == Seq(all.map(t => t.perUser.values.sum).sum)
      case 1 => byUser(got) == expected(all)
      case _ => got.map(_.getLong(0)).toSeq == Seq(all.map(_.status200).sum)
    }
    if (ok) None else Some(s"athena query $i differs from the generator")
  }

  private def checkDay(d: Int, n: Long, perUser: Array[Row], totals: Array[Row]): Option[String] = {
    val t = truth(d)
    val ok = n == rows(d) && byUser(perUser) == expected(Seq(t)) && totals.length == 1 &&
      totals(0).getAs[Long]("user_count") == t.distinctUsers &&
      totals(0).getAs[Long]("total_successful_requests") == t.status200
    if (ok) None else Some(s"day read ${Gen.date(d)} differs from the generator")
  }

  /** Sessions break after a gap of more than 30 minutes. */
  private lazy val wantSessions: Map[Long, Long] = {
    val ts = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    (0 until Days).foreach(d => Gen.events(seed, d, Lines).foreach { e =>
      if (!e.malformed && e.user >= 0) ts.getOrElseUpdate(e.user, mutable.ArrayBuffer.empty) += e.ts
    })
    ts.map { case (u, xs) =>
      val s = xs.sorted
      u -> (1L + s.indices.drop(1).count(i => s(i) - s(i - 1) > 1800))
    }.toMap
  }

  private def checkSessions(got: Array[Row]): Option[String] = {
    val want = if (corrupt) wantSessions.map { case (u, c) => u -> (c + 1) } else wantSessions
    if (got.map(r => r.getLong(0) -> r.getLong(1)).toMap == want) None
    else Some("sessionCounts differs from the generator")
  }

  def storedBytesRatio: Double =
    Files.parquet(root).map(_.length).sum.toDouble / truths.map(_.rawBytes).sum

  def layerCounts(probe: SparkProbe): Map[String, Double] = Map(
    "stage.files_scanned_per_read" ->
      probe.filesReadBy("stage.read_day").sum.toDouble / math.max(1L, tracedReads * Files.parquet(root).size))
}

object History {
  val schema: StructType = StructType.fromDDL(Staging.cleansedDdl)

  /** A generated event as a row of the cleansed schema. */
  def row(e: Gen.Ev): Row = Row(
    e.ip, null, if (e.user < 0) null else e.user, new Timestamp(e.ts * 1000L),
    e.method, e.resource, e.protocol, e.status.toLong, if (e.size < 0) null else e.size,
    if (e.referer == "-") null else e.referer, e.agent.replace("\\\"", "\""))
}
