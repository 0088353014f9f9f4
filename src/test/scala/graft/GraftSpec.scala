package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.testbus.BusDrain
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (creation is expensive). */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)
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
