package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.testbus.BusDrain
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (creation is expensive). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the engine's parallelism-floor defaults (Harness.parallelismFloors)
      // so the suite exercises the same session shape the mains run
      .config(Harness.parallelismFloors.head._1,
        Harness.parallelismFloors.head._2)
      .config(Harness.parallelismFloors(1)._1,
        Harness.parallelismFloors(1)._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the number of Spark jobs it started. */
  protected def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      BusDrain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
