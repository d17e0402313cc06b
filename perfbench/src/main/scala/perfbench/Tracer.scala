package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * listener events carry. `op` is the id shared by every span of one op. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

/** What the listeners saw while one op ran. Written from the listener-bus
  * threads, read by the benchmark after the bus has drained. */
final class OpEvents {
  val jobs = mutable.LinkedHashMap[Int, (Long, Long)]()
  val stageJob = mutable.Map[Int, Int]()
  val stages = mutable.LinkedHashMap[Int, (Long, Long)]()
  var tasks, taskMs, runMs, cpuNs, gcMs, spill, shWrite, shRead, fetchMs = 0L
  var inBytes, inRows, outBytes, outRows = 0L
  /** (first phase start ms, last phase end ms, planning s, exchanges) */
  val queries = ArrayBuffer[(Long, Long, Double, Int)]()
  /** (run id, start ms, phase durations ms, state (rows, bytes, commit ms)) */
  val batches = ArrayBuffer[(String, Long, Map[String, Long], Seq[(Long, Long, Long)])]()
}

/** The traced run's three listeners. They are registered from the
  * benchmark only; the program under test is not changed. Events are
  * attributed to the op that is running, which is unambiguous because the
  * benchmark is a closed loop with a single client. */
final class Tracer(spark: SparkSession) {
  @volatile private var cur: OpEvents = null

  private object Plans extends AdaptiveSparkPlanHelper

  private def on(f: OpEvents => Unit): Unit = {
    val ev = cur
    if (ev != null) ev.synchronized(f(ev))
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = on { ev =>
      ev.jobs(e.jobId) = (e.time, e.time)
      e.stageInfos.foreach(s => ev.stageJob(s.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = on { ev =>
      ev.jobs.get(e.jobId).foreach { case (s, _) => ev.jobs(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on { ev =>
      val si = e.stageInfo
      ev.stages(si.stageId) = (si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { ev =>
      ev.tasks += 1
      ev.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        ev.runMs += m.executorRunTime
        ev.cpuNs += m.executorCpuTime
        ev.gcMs += m.jvmGCTime
        ev.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        ev.shWrite += m.shuffleWriteMetrics.bytesWritten
        ev.shRead += m.shuffleReadMetrics.totalBytesRead
        ev.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        ev.inBytes += m.inputMetrics.bytesRead
        ev.inRows += m.inputMetrics.recordsRead
        ev.outBytes += m.outputMetrics.bytesWritten
        ev.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  private val plans = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = on { ev =>
      val phases = qe.tracker.phases.values
      val exchanges = Plans.collectWithSubqueries(qe.executedPlan) { case x: Exchange => x }.size
      if (phases.nonEmpty)
        ev.queries += ((phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max,
          phases.map(_.durationMs).sum / 1e3, exchanges))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = on { ev =>
      val p = e.progress
      val d = p.durationMs.entrySet().toArray.map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
        .map(x => x.getKey -> x.getValue.longValue).toMap
      val state = p.stateOperators.toSeq.map(s => (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs))
      ev.batches += ((p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli, d, state))
    }
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  /** Start recording for one op; `None` stops recording. */
  def begin(ev: Option[OpEvents]): Unit = cur = ev.orNull

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}

object Tracer {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def union(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total, end = 0L
    var start = Long.MinValue
    c.foreach { case (s, e) =>
      if (start == Long.MinValue || s > end) {
        if (start != Long.MinValue) total += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (start != Long.MinValue) total += end - start
    total
  }

  /** Per-op layer numbers and the op's spans.
    * Windows are epoch ms: the op is [t0, t2], construction [t0, t1] and the
    * delivered action [t1, t2]. */
  def summarize(ev: OpEvents, op: Long, name: String, t0: Long, t1: Long, t2: Long,
                nextId: () => Long, cores: Int): (Map[String, Double], Seq[Span]) = ev.synchronized {
    val jobIv = ev.jobs.values.toSeq
    val actionJobsMs = union(jobIv, t1, t2)
    val allJobsMs = union(jobIv, t0, t2)
    val actionQs = ev.queries.filter(_._1 >= t1)
    val lastState = ev.batches.groupBy(_._1).values.map(_.last._4)
    def phase(k: String) = ev.batches.map(_._3.getOrElse(k, 0L)).sum / 1e3
    val m = Map[String, Double](
      "spark.jobs" -> ev.jobs.size.toDouble,
      "spark.stages" -> ev.stages.size.toDouble,
      "spark.tasks" -> ev.tasks.toDouble,
      "spark.jobs_active_s" -> actionJobsMs / 1e3,
      "spark.jobs_all_s" -> allJobsMs / 1e3,
      "spark.exec_run_s" -> ev.runMs / 1e3,
      "spark.exec_cpu_s" -> ev.cpuNs / 1e9,
      "spark.gc_s" -> ev.gcMs / 1e3,
      "spark.task_overhead_s" -> (ev.taskMs - ev.runMs) / 1e3,
      "spark.spill_bytes" -> ev.spill.toDouble,
      "spark.shuffle_write_bytes" -> ev.shWrite.toDouble,
      "spark.shuffle_read_bytes" -> ev.shRead.toDouble,
      "spark.shuffle_fetch_wait_s" -> ev.fetchMs / 1e3,
      "sources.scan_bytes" -> ev.inBytes.toDouble,
      "sources.scan_rows" -> ev.inRows.toDouble,
      "io.rows_written" -> ev.outRows.toDouble,
      "io.bytes_written" -> ev.outBytes.toDouble,
      "plans.planning_s" -> actionQs.map(_._3).sum,
      "plans.exchanges" -> ev.queries.map(_._4).sum.toDouble,
      "streaming.batches" -> ev.batches.size.toDouble,
      "streaming.trigger_s" -> phase("triggerExecution"),
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.wal_commit_s" -> phase("walCommit"),
      "streaming.commit_offsets_s" -> phase("commitOffsets"),
      "streaming.state_commit_s" -> ev.batches.map(_._4.map(_._3).sum).sum / 1e3,
      "streaming.state_rows" -> lastState.map(_.map(_._1).sum).sum.toDouble,
      "streaming.state_bytes" -> lastState.map(_.map(_._2).sum).sum.toDouble,
      "spark.util_num" -> ev.runMs / 1e3,
      "spark.util_den" -> allJobsMs / 1e3 * cores)

    val opSpan = Span(nextId(), 0L, op, s"op $name", t0, t2)
    val cons = Span(nextId(), opSpan.id, op, "construct", t0, t1)
    val act = Span(nextId(), opSpan.id, op, "action", t1, t2)
    def phaseOf(t: Long) = if (t < t1) cons.id else act.id
    val jobSpans = ev.jobs.toSeq.map { case (j, (s, e)) => j -> Span(nextId(), phaseOf(s), op, s"job $j", s, e) }.toMap
    val stageSpans = ev.stages.toSeq.map { case (st, (s, e)) =>
      val parent = ev.stageJob.get(st).flatMap(jobSpans.get).map(_.id).getOrElse(act.id)
      Span(nextId(), parent, op, s"stage $st", s, e)
    }
    val batchSpans = ev.batches.toSeq.map { case (run, s, d, _) =>
      Span(nextId(), phaseOf(s), op, s"batch ${run.take(8)}", s, s + d.getOrElse("triggerExecution", 0L))
    }
    val planSpans = ev.queries.toSeq.map { case (s, e, _, _) => Span(nextId(), phaseOf(s), op, "plan", s, e) }
    (m, Seq(opSpan, cons, act) ++ jobSpans.values ++ stageSpans ++ batchSpans ++ planSpans)
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> ((s.end - s.start) - union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }
}
