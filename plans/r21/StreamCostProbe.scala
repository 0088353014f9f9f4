package org.apache.spark.graftprobe

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.{Harness, SparkEntry}
import graft.ext.Materialize

/** Throwaway: q369 per-batch durationMs sums, task time, and the cost of
  * one createAtomic per checkpoint manager. args: sfDir reps */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val sc = spark.sparkContext
    val sf = args(0); val reps = args(1).toInt
    val dur = mutable.Map[String, Long]().withDefaultValue(0L)
    var batches = 0; var rows = 0L
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
        batches += 1; rows += e.progress.numInputRows
        e.progress.durationMs.asScala.foreach { case (k, v) => dur(k) += v.longValue }
      }
    })
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
    })
    val q = SparkEntry.queries("q369_stream_dedup")
    def once(): Double = {
      val t0 = System.nanoTime
      Harness.consume(q(spark, sf))
      val w = (System.nanoTime - t0) / 1e9
      Materialize.release(spark); Harness.dropStreamSinks(spark)
      sc.listenerBus.waitUntilEmpty()
      w
    }
    once(); once()
    (1 to reps).foreach { r =>
      dur.clear(); batches = 0; rows = 0; taskMs.set(0)
      val w = once()
      Thread.sleep(200)
      val d = dur.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""PROBE {"rep":$r,"wall_s":${"%.3f".format(w)},"batches":$batches,"rows":$rows,"task_ms":${taskMs.get},"durationMs_sum":{$d}}""")
    }
    val dir = new Path(s"${sys.props("java.io.tmpdir")}/graft_cfm_probe_${ProcessHandle.current().pid()}")
    val payload = Array.fill[Byte](200)(7)
    for (round <- 1 to 3; cls <- Seq("FileContextBasedCheckpointFileManager", "FileSystemBasedCheckpointFileManager")) {
      val conf = spark.sessionState.newHadoopConf()
      conf.set("spark.sql.streaming.checkpointFileManagerClass",
        s"org.apache.spark.sql.execution.streaming.checkpointing.$cls")
      val sub = new Path(dir, s"$cls-$round")
      val m = CheckpointFileManager.create(sub, conf)
      m.mkdirs(sub)
      val n = 100
      val t0 = System.nanoTime
      (0 until n).foreach { i =>
        val out = m.createAtomic(new Path(sub, s"f$i"), overwriteIfPossible = false)
        out.write(payload); out.close()
      }
      val ms = (System.nanoTime - t0) / 1e6 / n
      println(s"""PROBE {"manager":"${m.getClass.getSimpleName}","round":$round,"createAtomic_ms":${"%.2f".format(ms)}}""")
    }
    dir.getFileSystem(sc.hadoopConfiguration).delete(dir, true)
    spark.stop()
  }
}
