package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `parent` is 0 at
  * the root; every span of one query execution carries its `query` id. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, query: Long)

/** Everything recorded during one traced pass. */
final class PassTrace {
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long, Option[Long], String)] // submit, end, sqlId, callsite
  val stageSubmit = mutable.Map.empty[Int, Long]
  val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val sql = mutable.LinkedHashMap.empty[Long, (Long, Long, String)] // start, end, call site
  val streamRuns = mutable.Map.empty[String, (Long, Long)] // runId -> max state rows, bytes
  def add(k: String, v: Double): Unit = counts(k) += v
}

/** The benchmark's listeners, registered through Spark's public listener
  * APIs for the recording passes only. Every event bumps `lastEventMs`
  * so the driver can wait for the asynchronous bus to go quiet before
  * closing a pass and unregistering. */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile private var current: Option[PassTrace] = None
  @volatile var lastEventMs: Long = System.currentTimeMillis()
  @volatile private var openJobs = 0

  def start(p: PassTrace): Unit = synchronized { current = Some(p); openJobs = 0 }
  def stop(): Unit = synchronized { current = None }

  private def rec(f: PassTrace => Unit): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    current.foreach(f)
  }

  /** Blocks until no event has arrived for `quietMs` and every job seen
    * starting has been seen ending, or `maxMs` passes. */
  def drain(quietMs: Long = 100, maxMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (openJobs != 0 || System.currentTimeMillis() - lastEventMs < quietMs)) Thread.sleep(10)
  }

  private def prop(p: Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    synchronized { openJobs += 1 }
    rec { p =>
      // the result stage (highest id) is named after the action's call site
      val site = prop(e.properties, "callSite.short").filter(_.nonEmpty)
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
      val sqlId = prop(e.properties, "spark.sql.execution.id").flatMap(_.toLongOption)
      p.jobs(e.jobId) = (e.time, 0L, sqlId, site)
      e.stageIds.foreach(s => p.stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized { openJobs = math.max(0, openJobs - 1) }
    rec { p =>
      p.jobs.get(e.jobId).foreach { case (s, _, q, site) => p.jobs(e.jobId) = (s, e.time, q, site) }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = rec { p =>
    p.stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = rec { p =>
    val i = e.stageInfo
    val s = i.submissionTime.orElse(p.stageSubmit.get(i.stageId)).getOrElse(0L)
    p.stages += ((i.stageId, s, i.completionTime.getOrElse(s)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec { p =>
    p.add("sched.tasks", 1)
    p.stageSubmit.get(e.stageId).foreach(s => p.add("sched.task_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3))
    Option(e.taskMetrics).foreach { m =>
      p.add("task.run_s", m.executorRunTime / 1e3)
      p.add("task.cpu_s", m.executorCpuTime / 1e9)
      p.add("task.gc_s", m.jvmGCTime / 1e3)
      p.add("scan.input_mb", m.inputMetrics.bytesRead / 1e6)
      p.add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      p.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      p.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      p.add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = rec { p =>
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) p.add("ckpt.block_mb", (b.memSize + b.diskSize) / 1e6)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => rec(p => p.sql(s.executionId) = (s.time, 0L, s.description))
    case s: SparkListenerSQLExecutionEnd =>
      rec(p => p.sql.get(s.executionId).foreach { case (t0, _, d) => p.sql(s.executionId) = (t0, s.time, d) })
    case _ => ()
  }

  private def phases(qe: QueryExecution): Unit = rec { p =>
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    p.add("plan.analysis_s", ms("analysis"))
    p.add("plan.optimize_s", ms("optimization"))
    p.add("plan.physical_s", ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = rec(_ => ())
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = rec(_ => ())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = rec { p =>
      val pr = e.progress
      p.add("stream.batches", 1)
      Option(pr.durationMs.get("triggerExecution")).foreach(ms => p.add("stream.trigger_s", ms / 1e3))
      val ops = Option(pr.stateOperators).getOrElse(Array.empty)
      val key = pr.runId.toString
      val (r0, b0) = p.streamRuns.getOrElse(key, (0L, 0L))
      p.streamRuns(key) = (math.max(r0, ops.map(_.numRowsTotal).sum), math.max(b0, ops.map(_.memoryUsedBytes).sum))
    }
  }
}

object Trace {

  /** Barrier class of a job from its short call site ("count at X.scala:12"). */
  def barrierClass(callSite: String): Option[String] = {
    val op = callSite.takeWhile(_ != ' ')
    if (op.toLowerCase.contains("checkpoint")) Some("barrier.checkpoint_jobs")
    else if (op == "count") Some("barrier.count_jobs")
    else if (Set("collect", "collectAsList", "take", "head", "first", "toLocalIterator", "takeAsList")(op))
      Some("barrier.collect_jobs")
    else None
  }

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Fills the listener-derived metrics of a finished pass and appends
    * its SQL-execution, job and stage spans below the driver spans. */
  def finish(p: PassTrace, wallS: Double, cores: Int, driverSpans: Seq[Span],
             nextId: () => Long, out: mutable.Buffer[Span]): Unit = {
    val jobs = p.jobs.values.toSeq
    p.add("sched.jobs", jobs.size.toDouble)
    p.add("sched.stages", p.stages.size.toDouble)
    p.add("ops.sql_actions", p.sql.size.toDouble)
    // a job belongs to the action that started its SQL execution (AQE
    // runs a query's stages as jobs from its own threads)
    jobs.flatMap(j => barrierClass(j._3.flatMap(p.sql.get).map(_._3).getOrElse(j._4)))
      .foreach(k => p.add(k, 1))
    val busy = unionLength(jobs.map(j => (j._1, j._2))) / 1e3
    p.add("sched.job_busy_s", busy)
    p.add("sched.driver_only_s", math.max(0.0, wallS - busy))
    p.add("sched.slot_util", if (busy > 0) p.counts("task.run_s") / (cores * busy) else 0.0)
    // self time of the ops layer: each ops span minus the jobs inside it
    val jobUs = jobs.map(j => (j._1 * 1000, math.max(j._1, j._2) * 1000))
    driverSpans.filter(s => s.name == "ops.build" || s.name == "ops.exec").foreach { s =>
      val inJobs = unionLength(jobUs.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })
      p.add(s"${s.name}_s", math.max(0L, s.end - s.start - inJobs) / 1e6)
    }
    p.add("stream.state_rows", p.streamRuns.values.map(_._1).sum.toDouble)
    p.add("stream.state_mb", p.streamRuns.values.map(_._2).sum / 1e6)

    // parents: SQL execution -> innermost ops span holding its start;
    // job -> its SQL execution (else ops span); stage -> its job
    val ops = driverSpans.filter(s => s.name.startsWith("ops.") || s.name.startsWith("kernel."))
    def opsAt(tMs: Long): Option[Span] = {
      val us = tMs * 1000
      ops.filter(s => s.start <= us && us <= s.end).sortBy(s => s.end - s.start).headOption
    }
    val sqlSpan = mutable.Map.empty[Long, Span]
    p.sql.foreach { case (id, (s, e, desc)) =>
      val par = opsAt(s)
      val sp = Span(nextId(), s"sql:${desc.takeWhile(!_.isWhitespace)}", s * 1000, math.max(s, e) * 1000, par.map(_.id).getOrElse(0L), par.map(_.query).getOrElse(0L))
      sqlSpan(id) = sp
      out += sp
    }
    val jobSpan = mutable.Map.empty[Int, Span]
    p.jobs.foreach { case (id, (s, e, q, site)) =>
      val par = q.flatMap(sqlSpan.get).orElse(opsAt(s))
      val sp = Span(nextId(), s"job:${site.takeWhile(!_.isWhitespace)}", s * 1000, math.max(s, e) * 1000,
        par.map(_.id).getOrElse(0L), par.map(_.query).getOrElse(0L))
      jobSpan(id) = sp
      out += sp
    }
    p.stages.foreach { case (id, s, e) =>
      val par = p.stageJob.get(id).flatMap(jobSpan.get)
      out += Span(nextId(), "stage", s * 1000, math.max(s, e) * 1000, par.map(_.id).getOrElse(0L), par.map(_.query).getOrElse(0L))
    }
  }
}
