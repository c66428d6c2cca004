package vbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the span that
  * caused it (-1 for an op's root span); spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - unionNs(children.map(c => (c.startNs, c.endNs)),
      span.startNs, span.endNs)
}

/** In-memory span recorder. While `enabled` is false it runs bodies and
  * records nothing. Entering a span points `jobGroup` at `op<id>/<name>`
  * so the Spark jobs a span starts carry its name. */
final class Tracer(jobGroup: String => Unit) {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var op = -1
  /** Wall-clock ms at the start of each op, to place listener times. */
  val opStartMs = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  /** The root span of each traced op. */
  val rootOf = scala.collection.mutable.Map.empty[Int, Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled || op < 0) body
    else {
      val id = spans.length
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      spans += null // reserve the id; filled when the span ends
      stack = (id, name) :: stack
      jobGroup(s"op$op/$name")
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
        jobGroup(stack.headOption.map(s => s"op$op/${s._2}").orNull)
      }
    }

  /** Root span of op `opId`; nested spans inherit the op id. Work
    * between ops records no span, and its jobs carry no op's group. */
  def op[T](opId: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      op = opId
      opStartMs(opId) = (System.currentTimeMillis(), System.nanoTime())
      val root = spans.length
      try span(name)(body)
      finally {
        rootOf(opId) = spans(root)
        op = -1
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
}

/** Per-job, per-stage and per-planning records from the Spark listener
  * bus. Jobs are attributed through their job group, planning-phase
  * times through the op that was current when the bus delivered them
  * (the harness drains the bus before it moves to the next op). */
final class SparkTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final class Job(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val busyMs = new java.util.concurrent.atomic.AtomicLong()
    val readBytes = new java.util.concurrent.atomic.AtomicLong()
    val readRows = new java.util.concurrent.atomic.AtomicLong()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
  }
  final class Stage(val id: Int, val job: Int) {
    @volatile var wallMs: Long = 0L
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong()
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  /** (op id, planning ms) for every query execution delivered. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
  @volatile var currentOp: Int = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, group, e.time))
    e.stageIds.foreach { s =>
      stageToJob.put(s, e.jobId)
      stages.putIfAbsent(s, new Stage(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (st <- Option(stages.get(info.stageId));
         s <- info.submissionTime; c <- info.completionTime)
      st.wallMs = c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    // a task of a stage no tracked job owns is skipped, never charged to
    // some other job
    for (jobId <- Option(stageToJob.get(e.stageId)).map(_.intValue);
         job <- Option(jobs.get(jobId))) {
      job.tasks.incrementAndGet()
      Option(e.taskInfo).foreach(ti =>
        Option(stages.get(e.stageId)).foreach(_.maxTaskMs
          .accumulateAndGet(ti.duration, (a: Long, b: Long) => math.max(a, b))))
      Option(e.taskMetrics).foreach { m =>
        job.busyMs.addAndGet(m.executorRunTime)
        job.readBytes.addAndGet(m.inputMetrics.bytesRead)
        job.readRows.addAndGet(m.inputMetrics.recordsRead)
        job.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    plans.add((currentOp, qe.tracker.phases.values.map(_.durationMs).sum))

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def jobsOf(groupPrefix: String): Seq[Job] =
    jobs.values.asScala.filter(_.group.startsWith(groupPrefix)).toSeq

  /** Wait until every event posted so far has been delivered, and every
    * started job of a tracked group has ended. */
  def drain(): Unit = {
    org.apache.spark.vbench.Bus.waitUntilEmpty(spark.sparkContext)
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.values.asScala.exists(j => j.group.nonEmpty && j.endMs < 0) &&
           System.currentTimeMillis() < deadline) Thread.sleep(5)
    if (jobs.values.asScala.exists(j => j.group.nonEmpty && j.endMs < 0))
      throw new IllegalStateException("listener drain: a job never ended")
  }
}
