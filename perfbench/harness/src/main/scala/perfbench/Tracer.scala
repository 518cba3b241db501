package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer measurement for traced passes, taken from outside the
  * program: Spark's scheduler listener, the query-execution listener
  * (planning-phase tracker and SQL metrics of executed plans) and block
  * updates. Each traced query run carries its own job group, which links
  * jobs, stages and tasks to it; planning and plan metrics are linked by
  * time, which is exact because only one query runs at a time.
  *
  * Spans kept in memory: query -> build / execute -> planning phase /
  * job -> stage. They are written out once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  // epoch-ms clock for the nanoTime stamps the harness takes
  private val nanoToMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def ms(nanos: Long): Double = nanos / 1e6 + nanoToMs

  private val runs = mutable.ArrayBuffer[Run]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val qes = mutable.ArrayBuffer[Qe]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockBytes = 0L
  private var blockPeak = 0L
  private var events = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, group, e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.attemptNumber(),
        stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val i = e.stageInfo
      stages.reverseIterator
        .find(s => s.id == i.stageId && s.attempt == i.attemptNumber())
        .foreach(_.complete =
          i.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks += (if (m == null)
        Task(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
          ok = false, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else Task(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
        e.reason == Success, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        blockBytes -= blocks.getOrElse(key, 0L)
        val size = b.memSize + b.diskSize
        if (b.storageLevel.isValid && size > 0) blocks(key) = size
        else blocks.remove(key)
        blockBytes += blocks.getOrElse(key, 0L)
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
      val plan = flatten(qe.executedPlan)
      def metric(p: SparkPlan, names: String*): Long =
        names.flatMap(p.metrics.get).headOption.map(_.value).getOrElse(0L)
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val rec = Qe(
        phases = phases.map { case (name, p) =>
          (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble) },
        planMs = phases.map(_._2.durationMs).sum.toDouble,
        nodes = plan.size,
        exchanges = plan.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        },
        scanRows = scans.map(metric(_, "numOutputRows")).sum,
        scanBytes = scans.map(metric(_, "filesSize", "staticFilesSize")).sum,
        scanMs = scans.map(metric(_, "scanTime")).sum,
        joinRows = plan.collect { case j: BaseJoinExec => j }
          .map(metric(_, "numOutputRows")).sum,
        writeFiles = plan.collect { case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum)
      lock { qes += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** The executed plan flattened through AQE roots, query stages and
    * subqueries; a reused exchange is counted once, not re-entered. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(flatten)
  }

  private def lock[T](f: => T): T = synchronized { events += 1; f }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits for the listener bus to deliver this pass's events, then
    * detaches: a job still running or a bus still delivering would
    * otherwise lose its tail events. */
  def detach(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (synchronized(events) != last ||
            synchronized(jobs.values.exists(_.end < 0)))) {
      last = synchronized(events)
      Thread.sleep(200)
    }
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  def queryDone(run: String, query: String, pass: Int, t0: Long, t1: Long,
                t2: Long, cachedLeft: Int): Unit = synchronized {
    runs += Run(run, query, pass, ms(t0), ms(t1), ms(t2), cachedLeft)
  }

  /** Per-layer metrics (median over traced passes of each pass's total)
    * and the span record. */
  def finish(tracedPasses: Int): (Map[String, Any], Map[String, Any]) =
    synchronized {
      val runOf = runs.map(r => r.id -> r).toMap
      val jobRun = jobs.values.flatMap(j => runOf.get(j.group).map(j.id -> _)).toMap
      val stageRun = stages.flatMap(s => jobRun.get(s.job).map(r => (s.id, r))).toMap
      val stageSubmit = stages.map(s => (s.id, s.attempt) -> s.submit).toMap
      def within(t: Double, r: Run) = t >= r.t0 - 1 && t <= r.t2 + 1
      val qeRun = qes.flatMap { q =>
        val start = q.phases.headOption.map(_._2).getOrElse(Double.NaN)
        runs.find(within(start, _)).map(q -> _)
      }

      val byPass = runs.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, rs) =>
        val ids = rs.map(_.id).toSet
        val js = jobs.values.filter(j => ids(j.group)).toSeq
        val jids = js.map(_.id).toSet
        val ss = stages.filter(s => jids(s.job))
        val ts = tasks.filter(t => stageRun.get(t.stage).exists(r => ids(r.id)))
        val qs = qeRun.collect { case (q, r) if ids(r.id) => q }
        val wall = rs.map(r => r.t2 - r.t0).sum / 1e3
        val driverOnly = rs.map { r =>
          val iv = ts.filter(t => stageRun.get(t.stage).contains(r))
            .map(t => (t.launch.toDouble max r.t0, t.finish.toDouble min r.t2))
          (r.t2 - r.t0) - union(iv.toSeq)
        }.sum / 1e3
        val mb = 1.0 * (1 << 20)
        val cpuS = ts.map(_.cpuNs).sum / 1e9
        Map[String, Double](
          "build_s" -> rs.map(r => r.t1 - r.t0).sum / 1e3,
          "build_jobs" -> js.count(j => runOf(j.group).t1 >= j.start).toDouble,
          "plan_s" -> qs.map(_.planMs).sum / 1e3,
          "plan_nodes" -> qs.map(_.nodes).sum.toDouble,
          "exchanges" -> qs.map(_.exchanges).sum.toDouble,
          "jobs" -> js.size.toDouble,
          "stages" -> ss.size.toDouble,
          "tasks" -> ts.size.toDouble,
          "driver_only_s" -> driverOnly,
          "task_wait_s" -> ts.map(t =>
            (t.launch - stageSubmit.getOrElse((t.stage, t.attempt), t.launch))
              .max(0L)).sum / 1e3,
          "scan_rows" -> qs.map(_.scanRows).sum.toDouble,
          "scan_mb" -> qs.map(_.scanBytes).sum / mb,
          "scan_s" -> qs.map(_.scanMs).sum / 1e3,
          "shuffle_write_mb" -> ts.map(_.shWrite).sum / mb,
          "shuffle_read_mb" -> ts.map(_.shRead).sum / mb,
          "shuffle_fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
          "spill_mb" -> ts.map(_.spill).sum / mb,
          "executor_run_s" -> ts.map(_.runMs).sum / 1e3,
          "executor_cpu_s" -> cpuS,
          "gc_s" -> ts.map(_.gcMs).sum / 1e3,
          "cpu_util" -> (if (wall > 0) cpuS / (wall * cores) else 0.0),
          "join_rows_out" -> qs.map(_.joinRows).sum.toDouble,
          "write_mb" -> ts.map(_.outBytes).sum / mb,
          "write_rows" -> ts.map(_.outRows).sum.toDouble,
          "write_files" -> qs.map(_.writeFiles).sum.toDouble,
          "cached_rdds_left" -> rs.map(_.cachedLeft).sum.toDouble,
          "failed_tasks" -> ts.count(!_.ok).toDouble,
          "stage_retries" -> ss.count(_.attempt > 0).toDouble)
      }
      val layers = byPass.head.keys.map { k =>
        k -> median(byPass.map(_(k)))
      }.toMap + ("cache_mb_peak" -> blockPeak / (1.0 * (1 << 20)))

      // spans: query -> build / execute -> plan / job -> stage
      val origin = runs.map(_.t0).minOption.getOrElse(0.0)
      val spans = mutable.ArrayBuffer[Map[String, Any]]()
      def span(id: String, parent: String, kind: String, name: String,
               s: Double, e: Double): Unit =
        spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
          "name" -> name, "start_ms" -> (s - origin), "end_ms" -> (e - origin))
      def phase(r: Run, t: Double) =
        if (t < r.t1) s"${r.id}/build" else s"${r.id}/execute"
      for (r <- runs) {
        span(r.id, "", "query", r.query, r.t0, r.t2)
        span(s"${r.id}/build", r.id, "build", r.query, r.t0, r.t1)
        span(s"${r.id}/execute", r.id, "execute", r.query, r.t1, r.t2)
      }
      for ((q, r) <- qeRun; (name, s, e) <- q.phases; i = spans.size)
        span(s"${r.id}/plan$i", phase(r, s), "plan", name, s, e)
      for (j <- jobs.values; r <- runOf.get(j.group)) {
        val end = if (j.end < 0) r.t2 else j.end.toDouble
        span(s"job${j.id}", phase(r, j.start.toDouble), "job", r.query,
          j.start.toDouble, end)
      }
      for (s <- stages if jobRun.contains(s.job)) {
        val end = if (s.complete < 0) s.submit else s.complete
        span(s"stage${s.id}.${s.attempt}", s"job${s.job}", "stage",
          s"stage ${s.id}", s.submit.toDouble, end.toDouble)
      }
      val children = spans.groupBy(_("parent").asInstanceOf[String])
      def d(m: Map[String, Any], k: String) = m(k).asInstanceOf[Double]
      val selfByKind = spans.groupBy(_("kind").asInstanceOf[String]).map {
        case (kind, ss) =>
          kind -> ss.map { s =>
            val (a, b) = (d(s, "start_ms"), d(s, "end_ms"))
            val kids = children.getOrElse(s("id").asInstanceOf[String], Nil)
              .map(c => (d(c, "start_ms") max a, d(c, "end_ms") min b))
            (b - a) - union(kids.toSeq)
          }.sum / 1e3 / math.max(1, tracedPasses)
      }
      (layers, Map("spans" -> spans, "self_s_per_pass" -> selfByKind,
        "traced_passes" -> tracedPasses))
    }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = ce max e
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Tracer {
  final case class Run(id: String, query: String, pass: Int,
      t0: Double, t1: Double, t2: Double,
      cachedLeft: Int)
  final case class Job(id: Int, group: String, start: Long,
      stages: Seq[Int], var end: Long = -1L)
  final case class Stage(id: Int, attempt: Int, job: Int,
      submit: Long, var complete: Long = -1L)
  final case class Task(stage: Int, attempt: Int, launch: Long,
      finish: Long, ok: Boolean, runMs: Long,
      cpuNs: Long, gcMs: Long, shWrite: Long,
      shRead: Long, fetchWaitMs: Long,
      spill: Long, outBytes: Long, outRows: Long)
  final case class Qe(phases: Seq[(String, Double, Double)], planMs: Double,
      nodes: Int, exchanges: Int, scanRows: Long,
      scanBytes: Long, scanMs: Long, joinRows: Long,
      writeFiles: Long)
}
