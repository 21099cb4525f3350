package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed action: a call into the engine that returns how many rows
  * (casts) it produced, and a check of that call's output, run outside
  * the timed region (Some(problem) = wrong output).
  */
final case class Action(layer: String, name: String, run: () => Long,
    check: Long => Option[String], castRows: Boolean = false)

/** What a workload supplies to the measuring loop. */
trait Workload {
  /** Untimed preparation before the first timed action: store builds and
    * the warm-up pass. Runs once per set-up repetition.
    */
  def prepare(spark: SparkSession, tracer: Tracer): Unit
  /** The actions of one pass, in run order. */
  def pass(i: Int): Seq[Action]
  /** Called after each pass, outside the timed region. */
  def afterPass(): Unit = ()
  /** bytes_out_per_byte_in of the workload's conversion output. */
  def bytesRatio: Double
  /** Extra metrics that only this workload measures. */
  def layerMetrics(spark: SparkSession, tracer: Tracer): Map[String, Double]
  def extraReport: Map[String, Any] = Map.empty
}

/** Live heap right after a full GC, sampled after set-up and after
  * every pass; `peak` is the largest sample. Full GCs only, so the value
  * is the live data the engine retains, not a GC-timing artifact. The
  * second GC collects what Spark's ContextCleaner released after the
  * first one enqueued its weak references.
  */
final class HeapWatch {
  var peak = 0L
  def collect(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
}

/** Hypervisor steal correction. On a shared host the VM's vCPUs lose
  * time to other guests (`steal` in /proc/stat). Over an interval, the
  * share busy / (busy + steal) of the vCPU time the VM's runnable
  * threads wanted actually ran; wall time scaled by that share is the
  * time the interval would have taken without steal, if steal fell
  * evenly over it. Without /proc/stat the share is 1.
  */
object StealClock {
  final case class Mark(nanos: Long, busy: Long, steal: Long)

  def mark(): Mark = {
    val ticks = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Exception => Array.fill(8)(0L) }
    // user nice system idle iowait irq softirq steal
    Mark(System.nanoTime(), ticks(0) + ticks(1) + ticks(2) + ticks(5) + ticks(6),
      ticks(7))
  }

  /** (wall seconds, wall seconds net of steal) between two marks. */
  def seconds(from: Mark, to: Mark): (Double, Double) = {
    val wall = (to.nanos - from.nanos) / 1e9
    val busy = (to.busy - from.busy).toDouble
    val steal = (to.steal - from.steal).toDouble
    (wall, if (busy + steal > 0) wall * busy / (busy + steal) else wall)
  }
}

object Main {

  final case class Args(workload: String, dir: String, seconds: Double,
      trace: Boolean, seed: Long, setupReps: Int, spans: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("dir"), m("seconds").toDouble, m("trace") == "1",
      m("seed").toLong, m.getOrElse("setup-reps", "1").toInt, m("spans"))
  }

  def session(dir: String): SparkSession = {
    val s = GraftSession.builder()
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  final case class Done(pass: Int, traced: Boolean, layer: String,
      name: String, sec: Double, rows: Long, castRows: Boolean,
      problem: Option[String], opId: Long)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val manifest = Json.read(s"${a.dir}/wod/manifest.json")
    val heap = new HeapWatch
    val workload: Workload = a.workload match {
      case "convert_files" => new ConvertWorkload(a.dir, manifest, bulk = false)
      case "convert_bulk" => new ConvertWorkload(a.dir, manifest, bulk = true)
      case "query_mix" => new QueryMix(a.dir, manifest, a.seed)
      case w => sys.error(s"unknown workload $w")
    }

    // Set-up, repeated: each repetition is a fresh session plus the
    // workload's preparation; the median is reported, and the last
    // repetition's session runs the timed loop.
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setups = (1 to a.setupReps).map { rep =>
      if (spark != null) { tracer.close(); spark.stop() }
      val m0 = StealClock.mark()
      spark = session(a.dir)
      val start = StealClock.seconds(m0, StealClock.mark())
      tracer = new Tracer(spark)
      tracer.enabled = a.trace && rep == a.setupReps
      workload.prepare(spark, tracer)
      tracer.enabled = false
      (start, StealClock.seconds(m0, StealClock.mark()))
    }
    val setupS = median(setups.map(_._2._2))
    val sessionS = median(setups.map(_._1._2))

    // Timed closed loop, one client: whole passes until `seconds` have
    // elapsed. With tracing, even passes are traced and odd passes are
    // not, so the overhead is measured in the same process.
    heap.collect()
    val done = mutable.ArrayBuffer.empty[Done]
    val walls = mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    var pass = 0
    val minPasses = 2
    while (pass < minPasses || (System.nanoTime() - loop0) / 1e9 < a.seconds) {
      val traced = a.trace && pass % 2 == 0
      workload.pass(pass).foreach { act =>
        tracer.enabled = traced
        val m0 = StealClock.mark()
        val (res, _) = tracer.op(act.layer, act.name) {
          try Right(act.run()) catch { case e: Throwable => Left(e) }
        }
        val (wall, sec) = StealClock.seconds(m0, StealClock.mark())
        walls += wall
        tracer.enabled = false
        val opId = if (traced) tracer.ops.asScala.last.id else 0L
        res match {
          case Right(rows) => done += Done(pass, traced, act.layer, act.name,
            sec, rows, act.castRows, act.check(rows), opId)
          case Left(e) => done += Done(pass, traced, act.layer, act.name,
            sec, 0L, act.castRows,
            Some(s"${act.name} threw ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(300)), opId)
        }
      }
      workload.afterPass()
      heap.collect()
      pass += 1
    }

    val timed = done.filter(!_.traced).toSeq
    val ok = timed.filter(_.problem.isEmpty)
    val lat = timed.map(_.sec)
    val castOps = ok.filter(_.castRows)
    val e2e = Map(
      "setup_s" -> setupS,
      "casts_per_s" -> castOps.map(_.rows).sum / castOps.map(_.sec).sum,
      "bytes_out_per_byte_in" -> workload.bytesRatio,
      "query_p50_s" -> median(lat),
      "query_p90_s" -> quantile(lat, 0.9),
      "queries_per_s" -> ok.size / lat.sum,
      "heap_live_peak_mb" -> heap.peak / 1e6)

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "attempted" -> timed.size,
      "failed" -> (timed.size - ok.size),
      "passes" -> pass,
      "action_counts" -> timed.groupBy(_.name).map { case (n, d) => n -> d.size },
      "action_s" -> done.toSeq.groupBy(_.name).map { case (n, d) =>
        n -> median(d.map(_.sec)) },
      "problems" -> done.flatMap(_.problem).distinct.take(20),
      "timed" -> timed.map(d => Seq(d.pass, d.name, d.sec)),
      "e2e" -> e2e,
      "setups" -> setups.map(_._2._2),
      "setups_wall" -> setups.map(_._2._1),
      "wall_over_net" -> walls.sum / done.map(_.sec).sum)
    if (a.trace) {
      tracer.drain()
      val tracedPasses = done.filter(_.traced).groupBy(_.pass).values.toSeq
      val opsById = tracer.ops.asScala.map(o => o.id -> o).toMap
      val perPass = tracedPasses.map { ds =>
        val ms = ds.flatMap(d => opsById.get(d.opId)).map(tracer.opMetrics)
        ms.flatMap(_.keys).distinct.map(k => k -> ms.map(_(k)).sum).toMap
      }
      def pm(k: String) = median(perPass.map(_(k)))
      val tracedLat = done.filter(_.traced).groupBy(_.pass).values
        .map(_.map(_.sec).sum).toSeq
      val untracedLat = timed.groupBy(_.pass).values.map(_.map(_.sec).sum).toSeq
      val layers = Map(
        "exec.run_s" -> pm("exec_run_s"), "exec.cpu_s" -> pm("exec_cpu_s"),
        "exec.gc_s" -> pm("exec_gc_s"),
        "shuffle.write_mb" -> pm("shuffle_write_mb"),
        "shuffle.read_mb" -> pm("shuffle_read_mb"), "spill.mb" -> pm("spill_mb"),
        "plan.analysis_s" -> pm("analysis_s"),
        "plan.optimization_s" -> pm("optimization_s"),
        "plan.planning_s" -> pm("planning_s"),
        "codegen.compile_s" -> pm("compile_s"), "codegen.classes" -> pm("classes"),
        "query.jobs" -> pm("jobs"), "scan.mb" -> pm("scan_mb"),
        "session.start_s" -> sessionS, "stores.build_s" -> (setupS - sessionS),
        "trace.overhead_frac" -> (median(tracedLat) / median(untracedLat) - 1)
      ) ++ workload.layerMetrics(spark, tracer)
      // per-action medians for the query-level view
      val perAction = done.toSeq.groupBy(_.name).map { case (n, ds) =>
        val ms = ds.flatMap(d => opsById.get(d.opId)).map(tracer.opMetrics)
        n -> Map("s" -> median(ds.map(_.sec)),
          "jobs" -> median(ms.map(_("jobs"))))
      }
      tracer.drain()
      val root = Span(0L, -1L, "workload", a.workload,
        tracer.ops.asScala.map(_.start).minOption.getOrElse(0.0),
        tracer.ops.asScala.map(_.end).maxOption.getOrElse(0.0), Map.empty)
      tracer.writeSpans(Paths.get(a.spans), root)
      report("layers") = layers
      report("per_action") = perAction
    }
    report ++= workload.extraReport
    Json.write(s"${a.dir}/jvm_result.json", report)
    tracer.close()
    spark.stop()
  }

  // ---- helpers shared by the workloads ----

  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  def parquetBytes(root: Path): Long =
    files(root).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def manifestFiles(m: JsonNode): Seq[JsonNode] = m.get("files").asScala.toSeq
}
