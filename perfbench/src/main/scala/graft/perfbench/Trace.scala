package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id shared by every span of one batch,
  * merge, read or catalog entry; `parent` is the id of the enclosing span
  * (0 for a root). Times are epoch milliseconds (fractional). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, startMs: Double, endMs: Double,
    attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Spark job as seen by the listener, with its task totals. */
final case class JobRec(jobId: Int, group: String, callSite: String, execId: Long,
    submitMs: Double, endMs: Double, firstTaskMs: Double, tasks: Int,
    executorMs: Double, gcMs: Double, shuffleBytes: Long, spillBytes: Long,
    outputBytes: Long)

/** Streaming progress as seen by `StreamingQueryListener`. */
final case class ProgressRec(runId: String, batchId: Long, endMs: Double,
    durations: Map[String, Double], stateCommitMs: Double)

/** In-memory recorder: spans opened around the benchmark's calls into the
  * program, plus Spark's public listener events (jobs and tasks, streaming
  * progress, SQL query phases). Only installed on the traced run; nothing
  * is written until the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  private def nowMs: Double = System.nanoTime() / 1e6 - Tracer.clockOffsetMs

  /** Runs `body` inside a span. A span opened with no enclosing span
    * starts a new operation id. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, op) = outer.headOption.map { case (p, o) => (p, o) }
      .getOrElse((0L, id))
    stack.set((id, op) :: outer)
    val t0 = nowMs
    try body
    finally {
      stack.set(outer)
      spans.add(Span(id, parent, op, name, layer, t0, nowMs))
    }
  }

  /** Records a span whose interval was measured elsewhere (listener
    * events). */
  def add(parent: Span, name: String, layer: String, startMs: Double,
      endMs: Double, attrs: Map[String, Double] = Map.empty): Span = {
    val s = Span(ids.incrementAndGet(), parent.id, parent.op, name, layer,
      startMs, endMs, attrs)
    spans.add(s)
    s
  }

  // --- listener side ---
  private final class JobAcc(val jobId: Int, val group: String,
      val callSite: String, val execId: Long, val submitMs: Double) {
    @volatile var firstTaskMs = Double.MaxValue
    var tasks = 0; var executorMs = 0.0; var gcMs = 0.0
    var shuffleBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
  }
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  /** Physical plan text of each SQL execution, by execution id. */
  val execPlans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  /** (start, end, analysis+optimization+planning ms) per SQL action. */
  val planPhases = new ConcurrentLinkedQueue[(Double, Double, Double)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      // the final stage is named after the job's call site, e.g.
      // "parquet at KafkaToParquet.scala:80"
      val site = if (e.stageInfos.isEmpty) prop("callSite.short")
        else e.stageInfos.maxBy(_.stageId).name
      val exec = prop("spark.sql.execution.id")
      val acc = new JobAcc(e.jobId, prop("spark.jobGroup.id"), site,
        if (exec.isEmpty) -1L else exec.toLong, e.time.toDouble)
      openJobs.put(e.jobId, acc)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(openJobs.get(j)))
        .foreach(a => a.synchronized {
          a.firstTaskMs = math.min(a.firstTaskMs, e.taskInfo.launchTime.toDouble)
        })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(openJobs.get(j)))
        .foreach { a =>
          val m = e.taskMetrics
          a.synchronized {
            a.tasks += 1
            if (m != null) {
              a.executorMs += m.executorRunTime
              a.gcMs += m.jvmGCTime
              a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
              a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
              a.outputBytes += m.outputMetrics.bytesWritten
            }
          }
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { a =>
        a.synchronized {
          jobs.add(JobRec(a.jobId, a.group, a.callSite, a.execId, a.submitMs,
            e.time.toDouble,
            if (a.firstTaskMs == Double.MaxValue) e.time.toDouble else a.firstTaskMs,
            a.tasks, a.executorMs, a.gcMs, a.shuffleBytes, a.spillBytes,
            a.outputBytes))
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execPlans.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val state = Option(p.stateOperators).map(_.map(_.commitTimeMs.toDouble).sum)
        .getOrElse(0.0)
      progress.add(ProgressRec(p.runId.toString, p.batchId,
        end + d.getOrElse("triggerExecution", 0.0), d, state))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // callbacks arrive on the listener bus, after the action: place the
      // action by its own phase start times, not by the callback's clock
      val ph = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get)
      if (ph.nonEmpty) {
        val start = ph.map(_.startTimeMs).min.toDouble
        planPhases.add((start, start + durationNs / 1e6,
          ph.map(_.durationMs.toDouble).sum))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def roots: Seq[Span] = spans.asScala.filter(_.parent == 0).toSeq

  /** Jobs whose submission falls inside `s`, optionally only those of one
    * job group (a streaming query's run id). */
  def jobsIn(s: Span, group: Option[String] = None): Seq[JobRec] =
    jobs.asScala.filter(j => j.submitMs >= s.startMs && j.submitMs <= s.endMs &&
      group.forall(_ == j.group)).toSeq

  /** Progress events of triggers that ended inside `s` (of one streaming
    * query when `runId` is given). */
  def progressIn(s: Span, runId: Option[String] = None): Seq[ProgressRec] =
    progress.asScala.filter(p => runId.forall(_ == p.runId) &&
      p.endMs >= s.startMs && p.endMs <= s.endMs + 50).toSeq

  def planMsIn(s: Span): Double =
    planPhases.asScala.filter { case (a, _, _) => a >= s.startMs && a <= s.endMs }
      .map(_._3).sum

  /** Adds every job inside `s` as a child span. */
  def attachJobs(s: Span, group: Option[String] = None): Seq[JobRec] = {
    val js = jobsIn(s, group)
    js.foreach(j => add(s, s"job ${j.callSite}", "spark", j.submitMs, j.endMs,
      Map("tasks" -> j.tasks, "executor_ms" -> j.executorMs)))
    js
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer. */
  def selfTimeByLayer: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        math.max(0.0, s.durMs - covered)
      }.sum
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${esc(s.name)}",""" +
        s""""layer":"${s.layer}","start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Maps `System.nanoTime` onto the epoch-millisecond clock the listener
    * events carry, so spans and listener intervals compare directly. */
  val clockOffsetMs: Double =
    System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble
}
