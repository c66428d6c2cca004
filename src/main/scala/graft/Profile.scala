package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** Job/stage/task and memo accounting of one body without the UI: a
  * `SparkListener` is attached around the body, the listener bus is
  * drained (so a job or task event that arrives late is counted, not
  * lost), and the listener is detached. Times are the wall clock Spark
  * stamps job events with, and every job interval is clamped into the
  * body's, so the union of job time never exceeds the body's wall time. */
object Profile {
  /** One job: its interval, the stages that ran for it (skipped stages
    * excluded) and their finished tasks. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int,
                       tasks: Int) {
    def wallMs: Long = endMs - startMs
  }

  /** `memoHits`/`memoMisses`: the [[Memo]] calls the body made. */
  final case class Result(wallMs: Long, jobs: Seq[Job], memoHits: Long,
                          memoMisses: Long) {
    def stages: Int = jobs.map(_.stages).sum
    def tasks: Int = jobs.map(_.tasks).sum

    /** Time at least one job was running. Jobs that overlap (AQE runs
      * query stages as concurrent jobs) count once. */
    def jobWallMs: Long = jobs.sortBy(_.startMs)
      .foldLeft((0L, Long.MinValue)) { case ((covered, reach), j) =>
        (covered + math.max(0L, j.endMs - math.max(j.startMs, reach)),
          math.max(reach, j.endMs))
      }._1

    /** Driver-side time: planning, AQE re-optimisation, collects and
      * driver work between jobs. */
    def gapMs: Long = wallMs - jobWallMs
  }

  def apply(spark: SparkSession)(body: => Unit): Result = {
    val sc = spark.sparkContext
    // the bus delivers one listener's events from a single thread, so a
    // read-then-update of an entry never races another event
    val jobs = TrieMap.empty[Int, Job]
    val stageToJob = TrieMap.empty[Int, Int]
    def update(stage: Int)(f: Job => Job): Unit =
      for (id <- stageToJob.get(stage); j <- jobs.get(id)) jobs(id) = f(j)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs(e.jobId) = Job(e.jobId, e.time, -1L, 0, 0)
        // a stage listed by several jobs runs in the first, if at all
        e.stageIds.foreach(stageToJob.putIfAbsent(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        update(e.stageInfo.stageId)(j => j.copy(stages = j.stages + 1))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        update(e.stageId)(j => j.copy(tasks = j.tasks + 1))
    }
    sc.addSparkListener(listener)
    val (hits0, misses0) = (Memo.hits.get, Memo.misses.get)
    val t0 = System.currentTimeMillis()
    val t1 =
      try { body; System.currentTimeMillis() }
      finally {
        GraftSqlBridge.waitUntilEmpty(sc)
        sc.removeSparkListener(listener)
      }
    // a job still running when the body returned (an abandoned
    // speculative broadcast, say) is charged up to the body's end
    val clamped = jobs.values.toSeq.sortBy(_.id).map { j =>
      j.copy(startMs = math.max(j.startMs, t0),
        endMs = if (j.endMs < 0) t1 else math.min(j.endMs, t1))
    }
    Result(t1 - t0, clamped, Memo.hits.get - hits0,
      Memo.misses.get - misses0)
  }
}
