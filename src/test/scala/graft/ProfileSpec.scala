package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite with SparkSpec {
  /** Listeners registered on the context's bus. The bus is
    * `private[spark]` in Scala but public in bytecode. */
  private def listenerCount(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("Profile: a registry key profiled 5 times reports the same jobs, " +
       "counts every task, keeps job wall within wall and detaches") {
    val fn = SparkEntry.queries("q1_pricing")
    Local.evaluate(fn(spark, sf)) // plans, codegen and memos, untimed
    // a slow listener on the shared queue keeps a job's last events queued
    // after the body returns: only a drained Profile still counts them
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(slow)
    val (runs, before, after) =
      try {
        val before = listenerCount()
        val runs = (1 to 5).map { _ =>
          graft.operators.Dedup.releaseCaches()
          Profile(spark)(Local.evaluate(fn(spark, sf)))
        }
        (runs, before, listenerCount())
      } finally spark.sparkContext.removeSparkListener(slow)
    assert(after == before)
    assert(runs.map(_.jobs.size).distinct.size == 1,
      s"job counts differ: ${runs.map(_.jobs.size)}")
    runs.foreach { p =>
      assert(p.jobs.nonEmpty)
      assert(p.tasks >= 1)
      // every job of this key runs its own stages: a job with no stage or
      // task counted lost events the drain should have delivered
      assert(p.jobs.forall(j => j.stages >= 1 && j.tasks >= 1),
        s"events lost: ${p.jobs}")
      assert(p.jobWallMs <= p.wallMs, s"job wall ${p.jobWallMs} > wall ${p.wallMs}")
      assert(p.gapMs >= 0)
    }
  }

  test("Profile: a timed iteration of ann_ivf at sf0.01 is served from " +
       "the memo: no miss and at least one hit") {
    val dir = "/root/testdata/sf0.01"
    val fn = SparkEntry.queries("ann_ivf")
    Local.evaluate(fn(spark, dir)) // trains the centroids, untimed
    graft.operators.Dedup.releaseCaches()
    val p = Profile(spark)(Local.evaluate(fn(spark, dir)))
    assert(p.memoMisses == 0, s"memo misses ${p.memoMisses}")
    assert(p.memoHits >= 1, s"memo hits ${p.memoHits}")
  }
}
