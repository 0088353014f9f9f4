package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
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
    val (r, jobs) = startedJobs(body)
    (r, jobs.size)
  }

  /** `body`'s result and the start events of the Spark jobs it started. */
  protected def startedJobs[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      BusDrain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
