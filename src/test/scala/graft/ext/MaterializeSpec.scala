package graft.ext

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.GraftSpec
import org.apache.spark.storage.StorageLevel

class MaterializeSpec extends GraftSpec {
  import spark.implicits._

  test("cut pins exactly the returned plan's RDD; release drops it and nothing else") {
    Materialize.release(spark) // clean slate
    val mine = (1 to 100).toDF("n").cache()
    mine.count() // caller-owned persisted RDD, never tracked

    val cutDf = Materialize.cut((1 to 50).toDF("m"))
    val tracked = Materialize.trackedIds
    assert(tracked.size == 1)
    // the tracked id is the persisted RDD of the returned plan, not a
    // registry diff — it must be live in the persistent-RDD registry now
    assert(spark.sparkContext.getPersistentRDDs.contains(tracked.head))
    assert(cutDf.count() == 50)

    Materialize.release(spark)
    assert(Materialize.trackedIds.isEmpty)
    assert(!spark.sparkContext.getPersistentRDDs.contains(tracked.head))
    // caller-owned cache untouched
    assert(mine.storageLevel != StorageLevel.NONE)
    mine.unpersist(true)
  }

  test("concurrent cuts never adopt a caller-owned cache persisted in between") {
    Materialize.release(spark)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 cuts racing 8 caller-owned persists: plan-derived attribution
      // can only ever track the cut's own RDD, so release must leave every
      // caller cache standing (the global-diff scheme could adopt one)
      val caches = (1 to 8).map(i => (1 to 200).map(_ * i).toDF(s"c$i"))
      val work = (1 to 8).map { i =>
        Future {
          val cached = caches(i - 1).persist(StorageLevel.MEMORY_ONLY)
          cached.count()
          Materialize.cut((1 to 100).map(_ + i).toDF(s"x$i")).count()
          cached
        }
      }
      val cached = Await.result(Future.sequence(work), 120.seconds)
      assert(Materialize.trackedIds.size == 8)
      Materialize.release(spark)
      cached.foreach { c =>
        assert(c.storageLevel != StorageLevel.NONE, "caller-owned cache was released")
        c.unpersist(true)
      }
    } finally pool.shutdown()
  }
}
