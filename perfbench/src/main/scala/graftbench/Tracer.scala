package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at one layer. `parent` is the span that caused
  * it (0 = the workload root). Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double]) {
  def dur: Double = end - start
}

/** Stage-level task metrics, summed over the stage's tasks. */
final case class StageRec(stageId: Int, attempt: Int, name: String,
    start: Double, end: Double, tasks: Int, runMs: Double, cpuNs: Double,
    gcMs: Double, shuffleWrite: Double, shuffleRead: Double, spill: Double,
    input: Double)

final case class JobRec(jobId: Int, op: Long, execId: Long, start: Double,
    var end: Double, stageIds: Seq[Int])

final case class ExecRec(execId: Long, write: Boolean, start: Double,
    var end: Double)

final case class PhaseRec(start: Double, analysis: Double,
    optimization: Double, planning: Double)

/** Listener-based tracer, built only from public Spark listener APIs:
  * a SparkListener (jobs, stages, tasks, SQL executions), a
  * QueryExecutionListener (planning phase times from
  * `QueryExecution.tracker`) and codegen counters sampled around each
  * operation. Operations are spans opened by the benchmark around each
  * call into the engine; a local property on the calling thread links
  * every Spark job to the operation that ran it. Everything stays in
  * memory until [[writeSpans]].
  *
  * Recording is gated by `enabled`, so the same listeners stay
  * registered while untraced operations run (the overhead comparison
  * interleaves traced and untraced passes in one process).
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false

  val OpProperty = "graftbench.op"
  private val ids = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[(Int, Double, Double)]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  private val listener = new SparkListener {
    private def touch(): Unit = lastEvent.set(System.currentTimeMillis())
    private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val openExecs = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      if (enabled) {
        val p = e.properties
        def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
        val j = JobRec(e.jobId, prop(OpProperty).map(_.toLong).getOrElse(0L),
          prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
          e.time.toDouble, Double.NaN, e.stageIds)
        openJobs.put(e.jobId, j)
        jobs.add(j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      Option(openJobs.remove(e.jobId)).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      if (enabled) {
        val s = e.stageInfo
        val m = s.taskMetrics
        stages.add(StageRec(s.stageId, s.attemptNumber(), s.name,
          s.submissionTime.getOrElse(0L).toDouble,
          s.completionTime.getOrElse(0L).toDouble, s.numTasks,
          m.executorRunTime.toDouble, m.executorCpuTime.toDouble,
          m.jvmGCTime.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
          m.shuffleReadMetrics.totalBytesRead.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          m.inputMetrics.bytesRead.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      if (enabled && e.taskInfo != null)
        tasks.add((e.stageId, e.taskInfo.launchTime.toDouble,
          e.taskInfo.finishTime.toDouble))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        touch()
        if (enabled) {
          val write = Option(s.physicalPlanDescription).exists(
            _.contains("InsertIntoHadoopFsRelationCommand"))
          val x = ExecRec(s.executionId, write, s.time.toDouble, Double.NaN)
          openExecs.put(s.executionId, x)
          execs.add(x)
        }
      case s: SparkListenerSQLExecutionEnd =>
        touch()
        Option(openExecs.remove(s.executionId)).foreach(_.end = s.time.toDouble)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (enabled) {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
          .getOrElse(0.0)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
        phases.add(PhaseRec(start.toDouble, d("analysis"), d("optimization"),
          d("planning")))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def codegen: (Double, Double) =
    (CodeGenerator.compileTime / 1e6,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble)

  /** Run `body` as one operation span. Returns its result and wall
    * seconds (from the monotonic clock).
    */
  def op[T](layer: String, name: String)(body: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, id.toString)
    val (c0, k0) = if (enabled) codegen else (0.0, 0.0)
    val wall0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try {
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      if (enabled) {
        val (c1, k1) = codegen
        ops.add(Span(id, 0L, layer, name, wall0, wall0 + sec * 1000,
          Map("compile_ms" -> (c1 - c0), "classes" -> (k1 - k0))))
      }
      (r, sec)
    } finally sc.setLocalProperty(OpProperty, prev)
  }

  /** Wait until the listener bus has delivered every event: no event
    * for `quietMs` and every recorded job and SQL execution closed.
    */
  def drain(quietMs: Long = 400, maxMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled = jobs.asScala.forall(!_.end.isNaN) &&
      execs.asScala.forall(!_.end.isNaN) &&
      System.currentTimeMillis() - lastEvent.get() >= quietMs
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Per-operation layer metrics, for the traced operations of one layer. */
  def opMetrics(op: Span): Map[String, Double] = {
    val within = (t: Double) => t >= op.start - 1 && t <= op.end + 1
    val js = jobs.asScala.filter(j => j.op == op.id).toSeq
    val stageIds = js.flatMap(_.stageIds).toSet
    val ss = stages.asScala.filter(s => stageIds(s.stageId)).toSeq
    val ts = tasks.asScala.filter(t => stageIds(t._1)).toSeq
    val busy = unionLength(ts.map(t => (math.max(t._2, op.start),
      math.min(t._3, op.end))))
    val execIds = js.map(_.execId).toSet
    val commit = execs.asScala.filter(x => x.write && execIds(x.execId))
      .toSeq.map { x =>
        val lastJob = js.filter(_.execId == x.execId).map(_.end).maxOption
          .getOrElse(x.start)
        math.max(0.0, x.end - lastJob)
      }.sum
    val ps = phases.asScala.filter(p => within(p.start)).toSeq
    Map(
      "wall_s" -> op.dur / 1000,
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "no_task_s" -> math.max(0.0, op.dur - busy) / 1000,
      "commit_s" -> commit / 1000,
      "exec_run_s" -> ss.map(_.runMs).sum / 1000,
      "exec_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "exec_gc_s" -> ss.map(_.gcMs).sum / 1000,
      "shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
      "shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6,
      "spill_mb" -> ss.map(_.spill).sum / 1e6,
      "scan_mb" -> ss.map(_.input).sum / 1e6,
      "analysis_s" -> ps.map(_.analysis).sum / 1000,
      "optimization_s" -> ps.map(_.optimization).sum / 1000,
      "planning_s" -> ps.map(_.planning).sum / 1000,
      "compile_s" -> op.attrs("compile_ms") / 1000,
      "classes" -> op.attrs("classes"))
  }

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** All spans: operations, their jobs and the jobs' stages, each with
    * its self time (duration minus the part its children cover).
    */
  def allSpans(root: Span): Seq[Span] = {
    val opSpans = ops.asScala.toSeq
    val jobSpans = jobs.asScala.toSeq.map(j => Span(100000000L + j.jobId,
      if (j.op > 0) j.op else root.id, "spark.job", s"job ${j.jobId}",
      j.start, j.end, Map.empty))
    val firstJob = mutable.Map.empty[Int, Int]
    jobs.asScala.foreach(j => j.stageIds.foreach(s =>
      firstJob.getOrElseUpdate(s, j.jobId)))
    val stageSpans = stages.asScala.toSeq.map(s => Span(
      200000000L + s.stageId * 10L + s.attempt,
      firstJob.get(s.stageId).map(100000000L + _).getOrElse(root.id),
      "spark.stage", s.name, s.start, s.end,
      Map("tasks" -> s.tasks.toDouble, "run_ms" -> s.runMs,
        "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "shuffle_write_b" -> s.shuffleWrite, "shuffle_read_b" -> s.shuffleRead,
        "spill_b" -> s.spill, "input_b" -> s.input)))
    val all = (root +: opSpans.map(o => o.copy(parent = root.id))) ++
      jobSpans ++ stageSpans
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty).filter(_.id != s.id)
      val covered = unionLength(kids.map(k =>
        (math.max(k.start, s.start), math.min(k.end, s.end))))
      s.copy(attrs = s.attrs + ("self_ms" -> (s.dur - covered)))
    }
  }

  def writeSpans(path: java.nio.file.Path, root: Span): Unit = {
    val m = Json.mapper
    val lines = allSpans(root).map { s =>
      m.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "dur_ms" -> s.dur, "attrs" -> s.attrs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
