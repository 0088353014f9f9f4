package org.apache.spark.graftprobe

import java.io.File

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Harness
import graft.clf.ClfParser
import graft.stage.Staging

/** Throwaway: the layers of one day's stage at 1M and 3M lines, on the
  * tree it is compiled in. For each size it writes a synthetic day of
  * `ClfParser.format` lines in 24 files, then times, best of `reps`
  * after one warm-up round on a 100k-line day:
  *  - scan: the text to a `noop` sink;
  *  - parse: `ClfParser.parse` to a `noop` sink;
  *  - stage_shuffle: `Staging.stage` (the date shuffle, one reducer);
  *  - stage_coalesce: the same write after `coalesce(k)`,
  *    k = ceil(text bytes / spark.sql.files.maxPartitionBytes), no
  *    shuffle (what `Staging.stageDay` does; written out here so the one
  *    probe compiles on a tree without it).
  * args: workDir reps sizes (comma-separated line counts) */
object StageCostProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val sc = spark.sparkContext
    val work = new File(args(0)); val reps = args(1).toInt
    val sizes = args(2).split(",").map(_.toLong)
    val writePlans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (writePlans.size < 2 && qe.executedPlan.toString.contains("InsertIntoHadoopFsRelation"))
          writePlans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    def day(n: Long): String = {
      val dir = new File(work, s"text_$n")
      if (!dir.exists()) {
        val id = col("id")
        spark.range(0, n, 1, 24).select(ClfParser.format(
          ip = concat_ws(".", lit("10"), (id % 250).cast("string"), (id / 250 % 250).cast("string"), lit("7")),
          userId = when(id % 17 === 0, lit(null)).otherwise(id % 5000),
          ts = timestamp_seconds(lit(1447400000L) + id % 86400),
          method = when(id % 5 === 0, lit("POST")).otherwise(lit("GET")),
          resource = concat(lit("/p/"), (id % 1000).cast("string"),
            when(id % 9 === 0, lit("/a b")).otherwise(lit("/index.html"))),
          protocol = lit("HTTP/1.1"),
          status = when(id % 11 === 0, lit(404L)).otherwise(lit(200L)),
          size = when(id % 13 === 0, lit(null)).otherwise(id % 70000),
          referer = when(id % 3 === 0, lit(null)).otherwise(lit("https://example.com/start?a=1")),
          agent = when(id % 7 === 0, lit("Agent \\\"quoted\\\" UA"))
            .otherwise(lit("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"))).as("value"))
          .write.text(dir.getPath)
      }
      dir.getPath
    }
    def bytes(dir: String): Long =
      new File(dir).listFiles().filter(_.getName.endsWith(".txt")).map(_.length).sum
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime; body; sc.listenerBus.waitUntilEmpty()
      (System.nanoTime - t0) / 1e9
    }
    def staged(n: Long) = new File(work, s"staged_$n").getPath
    def ops(n: Long): Seq[(String, () => Unit)] = {
      val text = day(n)
      val raw = () => spark.read.text(text)
      val dated = () => ClfParser.parse(raw()).withColumn("date", lit("2015-11-13"))
      val split = spark.sessionState.conf.filesMaxPartitionBytes
      val k = math.max(1L, (bytes(text) + split - 1) / split).toInt
      Seq(
        "scan" -> (() => Harness.consume(raw())),
        "parse" -> (() => Harness.consume(ClfParser.parse(raw()))),
        "stage_shuffle" -> (() => Staging.stage(dated(), staged(n))),
        "stage_coalesce" -> (() => dated().coalesce(k).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").option("compression", "snappy")
          .partitionBy("date").parquet(staged(n))))
    }
    ops(100000L).foreach { case (_, op) => op() }
    sizes.foreach { n =>
      val o = ops(n)
      val best = scala.collection.mutable.Map[String, Double]()
      (1 to reps).foreach { r =>
        (if (r % 2 == 0) o.reverse else o).foreach { case (name, op) =>
          val s = timed(op())
          val files = if (!name.startsWith("stage")) "" else ",\"files\":" +
            new File(staged(n), "date=2015-11-13").listFiles().count(_.getName.startsWith("part-"))
          println(f"""PROBE {"lines":$n,"rep":$r,"op":"$name","wall_s":$s%.3f$files}""")
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), s)
        }
      }
      println(s"""PROBE_BEST {"lines":$n,"text_bytes":${bytes(day(n))},"cores":4,""" +
        best.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",") + "}")
    }
    writePlans.forEach(p => println("PROBE_WRITE_PLAN " + p.replace("\n", " | ")))
    spark.stop()
  }
}
