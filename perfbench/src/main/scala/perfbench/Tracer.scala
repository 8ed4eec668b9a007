package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records raw Spark events through public listener APIs. Jobs carry
  * the span the calling thread had open (the `Tracer.SpanKey` local
  * property); query executions carry the wall-clock start of their last
  * planning phase, which run.py places inside a span. run.py derives the
  * per-layer metrics from the records. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Json._

  private val records = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val jobs = new ConcurrentHashMap[Int, Array[Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), StageTasks]()
  val seen = new AtomicLong()
  val pending = new AtomicLong()

  private final class StageTasks {
    val durMs = ArrayBuffer[Long]()
    var launchWaitMs, runMs, cpuNs, gcMs, bytesRead, recordsRead = 0L
    var swBytes, srBytes, fetchWaitMs, spillMem, spillDisk, failed = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    seen.incrementAndGet(); pending.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Array(prop(Tracer.SpanKey), prop("spark.sql.execution.id"),
      e.time, e.stageIds.size))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    seen.incrementAndGet(); pending.decrementAndGet()
    val j = Option(jobs.remove(e.jobId)).getOrElse(Array("", "", e.time, 0))
    records.add(obj("ev" -> "job", "id" -> e.jobId, "span" -> j(0),
      "exec" -> j(1), "start" -> j(2), "end" -> e.time, "stages" -> j(3),
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    seen.incrementAndGet(); pending.incrementAndGet()
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTasks.putIfAbsent(key, new StageTasks)
    submitTimes.put(key, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    seen.incrementAndGet()
    val st = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageTasks)
    val info = e.taskInfo
    st.synchronized {
      st.durMs += info.duration
      if (info.failed || info.killed) st.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime; st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.bytesRead += m.inputMetrics.bytesRead
        st.recordsRead += m.inputMetrics.recordsRead
        st.swBytes += m.shuffleWriteMetrics.bytesWritten
        st.srBytes += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillMem += m.memoryBytesSpilled; st.spillDisk += m.diskBytesSpilled
      }
      st.launchWaitMs += 0L max (info.launchTime - stageSubmit(e.stageId, e.stageAttemptId))
    }
  }

  // a stage's submission reaches the bus before any of its task ends,
  // so each task's wait for a slot is measured against it
  private val submitTimes = new ConcurrentHashMap[(Int, Int), Long]()
  private def stageSubmit(id: Int, attempt: Int): Long =
    Option(submitTimes.get((id, attempt))).getOrElse(Long.MaxValue)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    seen.incrementAndGet(); pending.decrementAndGet()
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    submitTimes.remove(key)
    val st = Option(stageTasks.remove(key)).getOrElse(new StageTasks)
    val sorted = st.durMs.sorted
    records.add(obj("ev" -> "stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
      "job" -> Option(stageJob.get(i.stageId)).getOrElse(-1),
      "submit" -> i.submissionTime.getOrElse(0L), "complete" -> i.completionTime.getOrElse(0L),
      "tasks" -> sorted.size, "failed" -> i.failureReason.isDefined,
      "failed_tasks" -> st.failed,
      "task_max_ms" -> sorted.lastOption.getOrElse(0L),
      "task_median_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)),
      "launch_wait_ms" -> st.launchWaitMs, "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs,
      "gc_ms" -> st.gcMs, "bytes_read" -> st.bytesRead, "records_read" -> st.recordsRead,
      "shuffle_write_bytes" -> st.swBytes, "shuffle_read_bytes" -> st.srBytes,
      "fetch_wait_ms" -> st.fetchWaitMs, "spill_bytes" -> (st.spillMem + st.spillDisk)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQe(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordQe(funcName, qe, 0L, ok = false)

  private def recordQe(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    seen.incrementAndGet()
    val t = qe.tracker
    val phases = t.phases.map { case (k, v) => k -> v.durationMs }
    val rules = t.rules.values
    val graftNs = t.rules.collect { case (k, v) if k.startsWith("graft.") => v.totalTimeNs }.sum
    val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
    val nodes = plan.map(Tracer.flatten).getOrElse(Nil)
    val write = qe.commandExecuted.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c }
      .orElse(qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c })
    val writeBytes = plan.toSeq.flatMap(_.collect { case w: DataWritingCommandExec => w })
      .flatMap(_.metrics.get("numOutputBytes")).map(_.value).sum
    // the latest phase start is wall-clock time on the calling thread,
    // inside the span that created this execution
    val at = t.phases.values.map(_.startTimeMs).foldLeft(0L)(_ max _)
    records.add(obj("ev" -> "qe", "func" -> funcName, "ok" -> ok,
      "dur_ms" -> durationNs / 1e6, "at_ms" -> at,
      "analysis_ms" -> phases.getOrElse("analysis", 0L),
      "optimization_ms" -> phases.getOrElse("optimization", 0L),
      "planning_ms" -> phases.getOrElse("planning", 0L),
      "rule_ns" -> rules.map(_.totalTimeNs).sum, "graft_rule_ns" -> graftNs,
      "rule_invocations" -> rules.map(_.numInvocations).sum,
      "rule_effective" -> rules.map(_.numEffectiveInvocations).sum,
      "command" -> qe.logical.nodeName,
      "write_path" -> write.map(_.outputPath.toString).getOrElse(""),
      "write_bytes" -> writeBytes,
      "shuffles" -> nodes.count(n => n._2.isInstanceOf[ShuffleExchangeExec]),
      "broadcasts" -> nodes.count(n => n._2.isInstanceOf[BroadcastExchangeExec]),
      "stage_scans" -> nodes.count(n => n._2 match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains(Tracer.StagePrefix))
        case _ => false
      }),
      "plan" -> nodes.map { case (d, n) => "  " * d + n.simpleString(200) }.mkString("\n")))
  }

  def drain(): Seq[String] = {
    val out = ArrayBuffer[String]()
    var r = records.poll()
    while (r != null) { out += r; r = records.poll() }
    out.toSeq
  }

  /** Waits until every started job and submitted stage has ended and
    * the bus has been quiet for a moment, so a pass's records are
    * complete before they are drained. */
  def settle(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      !(pending.get() <= 0 && last == seen.get())) {
      last = seen.get(); Thread.sleep(150)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Directory prefix of graft.engine.Staging's per-process stages. */
  val StagePrefix = "graft_stage_"

  /** Depth-first nodes of the executed plan, with AQE wrappers and
    * codegen adapters resolved to the operators they hold, so the
    * final (re-optimised) plan is what is counted. */
  def flatten(root: SparkPlan): Seq[(Int, SparkPlan)] = {
    val out = ArrayBuffer[(Int, SparkPlan)]()
    def go(p: SparkPlan, d: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan, d)
      case s: QueryStageExec => go(s.plan, d)
      case w: WholeStageCodegenExec => go(w.child, d)
      case i: InputAdapter => go(i.child, d)
      case r: ReusedExchangeExec => out += (d -> r)
      case other =>
        out += (d -> other)
        other.children.foreach(go(_, d + 1))
        other.subqueries.foreach(go(_, d + 1))
    }
    go(root, 0)
    out.toSeq
  }
}
