package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing. While started it listens to Spark's
 * `SparkListener` (SQL executions, jobs, stages, tasks) and
 * `QueryExecutionListener` (`QueryPlanningTracker` phases and the
 * executed plan), and [[Tracer.call]] times the client's calls into the
 * program (the DML statement, the source's table load, a query's
 * construction). After the window, [[layerMetrics]] turns each traced op
 * into spans of those observed intervals only and attributes every
 * instant of the op's wall time to the innermost span's layer (its self
 * time). An instant no span covers stays with `client`. Spans live in
 * memory and are written out with the run's other outputs. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private val execs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val lastEventMs = new AtomicLong(0L)
  private val ops = ArrayBuffer.empty[OpRecord]
  private var on = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.add(JobRec(e.jobId, op, e.time, e.stageIds.size))
      lastEventMs.set(System.currentTimeMillis())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time)
      lastEventMs.set(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(
        job = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1),
        launchMs = i.launchTime, finishMs = i.finishTime,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        inBytes = m.inputMetrics.bytesRead, inRecords = m.inputMetrics.recordsRead,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled))
      lastEventMs.set(System.currentTimeMillis())
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execStarts.put(x.executionId, x.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStarts.remove(x.executionId)).foreach(s => execs.add((s.longValue, x.time)))
        lastEventMs.set(System.currentTimeMillis())
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(QueryRec.of(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      queries.add(QueryRec.of(qe))
  }

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stop listening once the listener bus has delivered what the traced
   * ops produced: every started job ended and no event for 300 ms. */
  def stop(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 5000
    def quiet = jobs.asScala.forall(j => jobEnds.containsKey(j.id)) &&
      System.currentTimeMillis() - lastEventMs.get > 300
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  def record(r: OpRecord): Unit = ops += r

  /** One JSON object per span: id, parent, op, name, layer, start and
   * end (ns on the JVM's monotonic clock). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Json.str(s.name)}, """ +
        s""""layer": ${Json.str(s.layer)}, "start": ${s.start}, "end": ${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def tracedOps: Seq[OpRecord] = ops.toSeq

  /** Every span of every traced op, for the trace file. */
  val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private def span(parent: Int, op: Int, name: String, layer: String,
      start: Long, end: Long): Int = {
    nextSpan += 1
    spans += Span(nextSpan, parent, op, name, layer, start, end)
    nextSpan
  }

  /** Records a direct codec call timed by [[CodecProbe]]. */
  def codecSpan(name: String, start: Long, end: Long): Unit =
    span(0, 0, name, "scbf", start, end)

  /** Per-layer metrics of the traced passes. */
  def layerMetrics(res: LoopResult, wl: Workload): Seq[(String, Double, String)] = {
    val jobList = jobs.asScala.toSeq
    val taskList = tasks.asScala.toSeq
    val queryList = queries.asScala.toSeq
    val tasksByJob = taskList.groupBy(_.job)
    val jobsByOp = jobList.groupBy(_.op)
    val tracedPasses = math.max(1, ops.map(_.pass).distinct.size)
    def perPass(v: Double) = v / tracedPasses
    val selfMs = mutable.LinkedHashMap(Layers.map(_ -> 0.0): _*)
    val firstJobMs = ArrayBuffer.empty[Double]
    val planMs = ArrayBuffer.empty[Double]
    val driverMs = ArrayBuffer.empty[Double]
    var within10 = 0
    var filesPlanned = 0L
    var fracSum = 0.0
    var scbfReads = 0
    var aggOps = 0
    var aggPushed = 0
    var readTaskMs = 0.0
    var readTaskCpuMs = 0.0
    var readBytes = 0L
    var readRecords = 0L
    var rowsOut = 0L
    var writeOutBytes = 0L
    var writeUserBytes = 0L
    var wallMs = 0.0
    val opsByStart = ops.sortBy(_.startMs)

    val execList = execs.asScala.toSeq
    val callList = calls.asScala.toSeq.groupBy(_.op)

    // an instant goes to the highest priority observed interval that
    // covers it: tasks 5, job 4, planning phase 3, client call 2, SQL
    // execution 1; to the op itself (`client`) when none covers it
    opsByStart.foreach { op =>
      def ns(ms: Long): Long =
        math.max(op.start, math.min(op.end, op.start + (ms - op.startMs) * 1000000L))
      def within(ms: Long) = ms >= op.startMs && ms <= op.endMs
      val root = span(0, op.id, op.name, "client", op.start, op.end)
      val iv = ArrayBuffer.empty[(Long, Long, String, Int)]
      iv += ((op.start, op.end, "client", 0))
      execList.filter { case (s, _) => within(s) }.foreach { case (s, e) =>
        span(root, op.id, "sql execution", "spark", ns(s), ns(e))
        iv += ((ns(s), ns(e), "spark", 1))
      }
      callList.getOrElse(op.id, Nil).foreach { c =>
        span(root, op.id, c.name, c.layer, c.start, c.end)
        iv += ((c.start, c.end, c.layer, 2))
      }
      val myQueries = queryList.filter(q => within(q.startMs))
      myQueries.foreach { q =>
        q.phases.foreach { case (ph, (s, e)) =>
          span(root, op.id, ph, op.planLayer, ns(s), ns(e))
          iv += ((ns(s), ns(e), op.planLayer, 3))
        }
      }
      if (op.planLayer == Plan)
        planMs += myQueries.flatMap(_.phases.values.map { case (s, e) => (e - s).toDouble }).sum
      val myJobs = jobsByOp.getOrElse(op.id, Nil)
      var jobCovered = 0L
      if (myJobs.nonEmpty) {
        firstJobMs += (myJobs.map(_.startMs).min - op.startMs).toDouble
        val jobIv = ArrayBuffer.empty[(Long, Long)]
        myJobs.foreach { j =>
          val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(op.endMs)
          val js = span(root, op.id, s"job ${j.id}", "spark", ns(j.startMs), ns(end))
          iv += ((ns(j.startMs), ns(end), "spark", 4))
          jobIv += ((ns(j.startMs), ns(end)))
          val ts = tasksByJob.getOrElse(j.id, Nil)
          Intervals.union(ts.map(t => (ns(t.launchMs), ns(t.finishMs)))).foreach { case (s, e) =>
            span(js, op.id, "tasks", op.workLayer, s, e)
            iv += ((s, e, op.workLayer, 5))
          }
        }
        jobCovered = Intervals.union(jobIv.toSeq).map { case (s, e) => e - s }.sum
      }
      val self = Intervals.attribute(iv.toSeq)
      self.foreach { case (l, v) => selfMs(l) = selfMs.getOrElse(l, 0.0) + v / 1e6 }
      val wall = (op.end - op.start).toDouble
      wallMs += wall / 1e6
      if (self.getOrElse("client", 0L) <= 0.1 * wall) within10 += 1
      if (op.commits) driverMs += (op.end - op.start - jobCovered) / 1e6
      val opTasks = myJobs.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      if (op.kind == "read" && op.workLayer == Scan) {
        readTaskMs += opTasks.map(_.runMs).sum
        readTaskCpuMs += opTasks.map(_.cpuNs).sum / 1e6
        readBytes += opTasks.map(_.inBytes).sum
        readRecords += opTasks.map(_.inRecords).sum
        rowsOut += op.rows
      } else if (op.commits) {
        writeOutBytes += op.bytesWritten
        writeUserBytes += op.userBytes
      }
      val planned = myQueries.map(_.scbfPartitions).sum
      if (op.planLayer == Plan && op.kind == "read" && op.liveFiles > 0) {
        scbfReads += 1
        filesPlanned += planned
        fracSum += planned.toDouble / op.liveFiles
      }
      if (op.agg) {
        aggOps += 1
        if (myQueries.exists(_.aggPushed)) aggPushed += 1
      }
    }

    val tracedJobs = jobList.filter(_.op >= 0)
    val tracedTasks = tracedJobs.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
    val runMs = tracedTasks.map(_.runMs).sum.toDouble
    val tracedWallMs = res.passSeconds.sum * 1000
    def latency(names: String*) = Stats.quantile(ops.filter(o => names.contains(o.name) && o.error.isEmpty)
      .map(o => (o.end - o.start) / 1e6), 0.5) match { case v if v.isNaN => 0.0; case v => v }
    val untraced = Stats.quantile(res.untracedPassSeconds, 0.5)
    val traced = Stats.quantile(res.passSeconds, 0.5)
    def orZero(v: Double) = if (v.isNaN || v.isInfinite) 0.0 else v

    Seq(
      ("spark.jobs", perPass(tracedJobs.size), "count"),
      ("spark.stages", perPass(tracedJobs.map(_.stages).sum), "count"),
      ("spark.tasks", perPass(tracedTasks.size), "count"),
      ("spark.first_job_ms", orZero(Stats.quantile(firstJobMs, 0.5)), "ms"),
      ("spark.executor_run_ms", perPass(runMs), "ms"),
      ("spark.executor_cpu_ms", perPass(tracedTasks.map(_.cpuNs).sum / 1e6), "ms"),
      ("spark.gc_ms", perPass(tracedTasks.map(_.gcMs).sum), "ms"),
      ("spark.shuffle_read_bytes", perPass(tracedTasks.map(_.shuffleRead).sum), "bytes"),
      ("spark.shuffle_write_bytes", perPass(tracedTasks.map(_.shuffleWrite).sum), "bytes"),
      ("spark.spill_bytes", perPass(tracedTasks.map(_.spill).sum), "bytes"),
      ("spark.core_util", orZero(runMs / (tracedWallMs * cores)), "ratio"),
      ("sources.plan.ms", orZero(Stats.quantile(planMs, 0.5)), "ms"),
      ("sources.plan.files_live", wl.liveFiles.toDouble, "count"),
      ("sources.plan.files_planned", if (scbfReads == 0) 0.0 else filesPlanned.toDouble / scbfReads, "count"),
      ("sources.plan.files_planned_frac", if (scbfReads == 0) 0.0 else fracSum / scbfReads, "ratio"),
      ("sources.plan.agg_pushed_frac", if (aggOps == 0) 0.0 else aggPushed.toDouble / aggOps, "ratio"),
      ("sources.scan.bytes_read", perPass(readBytes), "bytes"),
      ("sources.scan.records_read", perPass(readRecords), "count"),
      ("sources.scan.rows_out_per_record_read", if (readRecords == 0) 0.0 else rowsOut.toDouble / readRecords, "ratio"),
      ("sources.scan.task_ms", perPass(readTaskMs), "ms"),
      ("sources.scan.task_cpu_ms", perPass(readTaskCpuMs), "ms"),
      ("sources.commit.append_ms", latency("append", "export"), "ms"),
      ("sources.commit.delete_ms", latency("delete"), "ms"),
      ("sources.commit.update_ms", latency("update"), "ms"),
      ("sources.commit.merge_ms", latency("merge"), "ms"),
      ("sources.commit.optimize_ms", latency("optimize"), "ms"),
      ("sources.commit.driver_ms", orZero(Stats.quantile(driverMs, 0.5)), "ms"),
      ("sources.commit.bytes_written_per_user_byte",
        if (writeUserBytes == 0) 0.0 else writeOutBytes.toDouble / writeUserBytes, "ratio"),
      ("sources.commit.files_rewritten", perPass(ops.map(_.filesRewritten).sum), "count"),
      ("sources.commit.refused", perPass(ops.count(o => o.commits && !o.ok)), "count"),
      ("trace.attributed_frac", if (wallMs == 0) 0.0 else 1 - selfMs("client") / wallMs, "ratio"),
      ("trace.ops_within_10pct", if (ops.isEmpty) 0.0 else within10.toDouble / ops.size, "ratio"),
      ("trace.overhead_frac", orZero(traced / untraced - 1), "ratio"),
    ) ++ selfMs.toSeq.map { case (l, v) => (s"trace.self_ms.$l", perPass(v), "ms") }
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** The traced op the client is running; 0 when none is traced. */
  @volatile var currentOp = 0
  private val calls = new ConcurrentLinkedQueue[CallRec]()

  /** Runs a client call into the program; inside a traced op, its wall
   * interval becomes a span of that op, attributed to `layer`. */
  def call[A](name: String, layer: String)(body: => A): A = {
    val op = currentOp
    if (op == 0) body
    else {
      val start = System.nanoTime()
      try body finally calls.add(CallRec(op, name, layer, start, System.nanoTime()))
    }
  }

  final case class CallRec(op: Int, name: String, layer: String, start: Long, end: Long)

  val Plan = "sources.plan"
  val Scan = "sources.scan"
  val Commit = "sources.commit"
  val Operators = "operators"

  /** Layers a traced op's wall time is attributed to. */
  val Layers = Seq("client", Plan, Scan, Commit, Operators, "spark")

  final case class OpRecord(id: Int, pass: Int, name: String, kind: String,
      workLayer: String, agg: Boolean, traced: Boolean,
      start: Long, end: Long, startMs: Long, endMs: Long, error: Option[String],
      rows: Long, userBytes: Long, liveFiles: Int, filesRewritten: Int, bytesWritten: Long) {
    def ok: Boolean = error.isEmpty
    /** A write through the sources layer's commit path. */
    def commits: Boolean = kind == "write" && workLayer == Commit
    /** SCBF ops plan in the sources layer; the pipeline's parquet
     * queries in Spark's own planner. */
    def planLayer: String = if (workLayer == Operators) "spark" else Plan
    def ms: Double = (end - start) / 1e6
  }

  final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
      start: Long, end: Long)

  final case class JobRec(id: Int, op: Int, startMs: Long, stages: Int)

  final case class TaskRec(job: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** One query execution: its planning phases (wall ms) and what its
   * executed plan scanned. */
  final case class QueryRec(phases: Map[String, (Long, Long)], scbfPartitions: Int,
      aggPushed: Boolean) {
    def startMs: Long = if (phases.isEmpty) Long.MinValue else phases.values.map(_._1).min
  }

  object QueryRec {
    def of(qe: QueryExecution): QueryRec = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      val scans = ArrayBuffer.empty[BatchScanExec]
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") => scans += b
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      try walk(qe.executedPlan) catch { case _: Throwable => () }
      val parts = scans.map(b => try b.inputPartitions.size catch { case _: Throwable => 0 }).sum
      val pushed = scans.exists(_.scan.description().contains("PushedAggregation"))
      QueryRec(phases, parts, pushed)
    }
  }
}

object Intervals {
  /** Union of [s, e) intervals, sorted and disjoint. */
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  /** Self time per layer: every instant goes to the highest-priority
   * interval covering it (deeper spans carry higher priorities), so the
   * layers partition the root interval exactly. */
  def attribute(iv: Seq[(Long, Long, String, Int)]): Map[String, Long] = {
    val cuts = iv.flatMap { case (s, e, _, _) => Seq(s, e) }.distinct.sorted
    val acc = mutable.Map.empty[String, Long]
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = iv.filter { case (s, e, _, _) => s <= a && e >= b }
        if (active.nonEmpty) {
          val layer = active.maxBy(_._4)._3
          acc(layer) = acc.getOrElse(layer, 0L) + (b - a)
        }
      case _ =>
    }
    acc.toMap
  }
}
