package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Spans of one op share `trace` (the op id);
  * `parent` is 0 for the op's root span. Times are epoch microseconds.
  */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startUs: Long, endUs: Long)

/** What one op caused, summed over its jobs, stages, tasks and query
  * executions. Filled by [[Tracer]]; read after the op's drain.
  */
final class OpCounters {
  var jobs, stages, tasks, exchanges = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, input, spill = 0L
  var analysisMs, optimizerMs, planningMs = 0L
  var builds, hits, buildStageMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exchanges" -> exchanges, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "input_bytes" -> input, "spill_bytes" -> spill,
    "analysis_s" -> analysisMs / 1e3, "optimizer_s" -> optimizerMs / 1e3,
    "planning_s" -> planningMs / 1e3, "builds" -> builds, "hits" -> hits,
    "build_s" -> buildStageMs / 1e3)
}

/** Counts shuffle and broadcast exchanges in an executed plan, through
  * adaptive query stages, subqueries and the plan of an executed command.
  */
object Exchanges extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): Long = plan match {
    case c: CommandResultExec => count(c.commandPhysicalPlan)
    case p => collectWithSubqueries(p) {
      case _: ShuffleExchangeLike => 1
      case _: BroadcastExchangeLike => 1
    }.size.toLong
  }
}

/** Attributes Spark's work to the benchmark op that caused it.
  *
  * Each op sets the local property `perfbench.op` on the client thread;
  * Spark copies local properties to every job the op submits, also from
  * broadcast and subquery threads. Query-execution callbacks carry no
  * properties, so they go to the op that is current when they arrive:
  * ops run one after another and the bus is drained at every op start
  * and end.
  * All spans stay in memory until [[writeSpans]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private val spans = mutable.LinkedHashMap.empty[Long, Span]
  private var nextSpan = 0L
  private val counters = mutable.Map.empty[Long, OpCounters]
  private val rootSpan = mutable.Map.empty[Long, Long]
  @volatile private var current = 0L

  private val jobOp = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Long]
  // persisted RDD ids already materialized, and (job, rdd) pairs counted
  private val builtRdds = mutable.Set.empty[Int]
  private val seenJobRdd = mutable.Set.empty[(Int, Int)]
  private val buildStages = mutable.Set.empty[Int]

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def open(trace: Long, parent: Long, name: String, startUs: Long): Long =
    synchronized {
      nextSpan += 1
      spans(nextSpan) = Span(trace, nextSpan, parent, name, startUs, startUs)
      nextSpan
    }

  private def close(id: Long, endUs: Long): Unit = synchronized {
    spans.get(id).foreach(s => spans(id) = s.copy(endUs = endUs))
  }

  private def span(trace: Long, parent: Long, name: String, s: Long, e: Long): Unit =
    close(open(trace, parent, name, s), e)

  /** Open op `id` as layer `layer`; [[end]] closes it. Work done between
    * ops (untimed checks) is drained first, so none of it is charged to
    * this op. */
  def begin(id: Long, layer: String, startUs: Long): Unit = {
    PerfbenchBus.drain(sc)
    synchronized { counters(id) = new OpCounters; rootSpan(id) = open(id, 0, layer, startUs) }
    current = id
    sc.setLocalProperty("perfbench.op", id.toString)
  }

  /** A benchmark-side child span of op `id` (e.g. a table read's
    * manifest resolution). */
  def child(id: Long, name: String, startUs: Long, endUs: Long): Unit =
    span(id, rootSpan(id), name, startUs, endUs)

  /** Close op `id` at `endUs`, then drain the bus so its counters are
    * complete. */
  def end(id: Long, endUs: Long): OpCounters = {
    close(rootSpan(id), endUs)
    PerfbenchBus.drain(sc)
    sc.setLocalProperty("perfbench.op", null)
    synchronized { current = 0L; counters(id) }
  }

  /** Jobs op `id` has started so far (drains the bus first). */
  def jobsSoFar(id: Long): Long = {
    PerfbenchBus.drain(sc)
    synchronized(counters(id).jobs)
  }

  // a job belongs to the op whose property it carries; untagged jobs
  // (untimed work between ops) belong to none
  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.op")))
      .map(_.toLong).getOrElse(0L)

  private def ctr(op: Long): Option[OpCounters] = counters.get(op)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    ctr(op).foreach { c =>
      c.jobs += 1
      jobSpan(e.jobId) = open(op, rootSpan(op), "exec.job", e.time * 1000L)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (op <- jobOp.get(e.jobId); c <- ctr(op); s <- jobStart.get(e.jobId)) {
      c.jobIntervals += ((s, e.time))
      jobSpan.get(e.jobId).foreach(close(_, e.time * 1000L))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); op <- jobOp.get(job); c <- ctr(op)) {
      val start = info.submissionTime.getOrElse(System.currentTimeMillis())
      stageSpan(info.stageId) = open(op, jobSpan.getOrElse(job, rootSpan(op)),
        "exec.stage", start * 1000L)
      info.rddInfos.filter(_.storageLevel.isValid).foreach { r =>
        val firstInJob = seenJobRdd.add((job, r.id))
        if (builtRdds.add(r.id)) { c.builds += 1; buildStages += info.stageId }
        else if (firstInJob) c.hits += 1
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); op <- jobOp.get(job); c <- ctr(op)) {
      c.stages += 1
      val end = info.completionTime.getOrElse(System.currentTimeMillis())
      if (buildStages(info.stageId))
        c.buildStageMs += end - info.submissionTime.getOrElse(end)
      stageSpan.remove(info.stageId).foreach(close(_, end * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); op <- jobOp.get(job); c <- ctr(op)) {
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.input += m.inputMetrics.bytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val reportedQe = mutable.Set.empty[Long]

  private def planned(qe: QueryExecution, withExchanges: Boolean): Unit = synchronized {
    val op = current
    reportedQe += qe.id
    ctr(op).foreach { c =>
      val ph = qe.tracker.phases
      def phase(k: String, name: String): Long = ph.get(k).map { p =>
        span(op, rootSpan(op), name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
        p.durationMs
      }.getOrElse(0L)
      c.analysisMs += phase("analysis", "plans.analysis")
      c.optimizerMs += phase("optimization", "plans.optimizer")
      c.planningMs += phase("planning", "plans.planning")
      if (withExchanges) c.exchanges += Exchanges.count(qe.executedPlan)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe, withExchanges = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe, withExchanges = false)

  /** Eager analysis of a DataFrame the op built but never executed
    * itself (its rows were written through a new command execution). */
  def analyzedOnly(id: Long, qe: QueryExecution): Unit = synchronized {
    if (!reportedQe(qe.id)) qe.tracker.phases.get("analysis").foreach { p =>
      ctr(id).foreach(_.analysisMs += p.durationMs)
      span(id, rootSpan(id), "plans.analysis", p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
  }

  def writeSpans(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.valuesIterator.foreach { s =>
      w.println(Json.write(Map("trace" -> s.trace, "span" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
    } finally w.close()
  }
}
