package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import graft.queries.Registry
import graft.wod.{WodCorpus, WodPipeline}

/** Benchmark main: runs the headline (bench=true) queries at
  * SPARK_GRAFT_SF_DIR and emits one JSON metrics line for the driver.
  * Each query is fully executed (count() forces the whole plan); a
  * warm-up pass on sf0.001 primes the JVM/codegen so the measured
  * numbers reflect steady-state throughput, not JIT warmup.
  *
  * Each query runs REPEATS times and reports the MIN (all repeats kept
  * in a `runs` map) — single-run jitter from bench order / JIT / GC
  * previously made sub-second per-query deltas unreadable across
  * rounds; min-of-3 is the stable point estimate of the plan's cost.
  *
  * The metrics line is written to BENCH.json (cwd) in addition to
  * stdout — sbt interleaves its own logging with stdout, so a file is
  * the reliable channel for the driver's parser.
  *
  * A query that throws is recorded in an `errors` map (name → message,
  * control characters stripped so the JSON stays parseable) and
  * contributes NO timing — a failure must never masquerade as a fast
  * run.
  */
object Bench {

  private val Repeats = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Isolation knobs (plan-noise forensics + scale probes):
    //   SPARK_GRAFT_SKIP_WOD=1  — queries only, no conversion tail
    //   SPARK_GRAFT_WOD_ONLY=1  — conversion only
    //   SPARK_GRAFT_WOD_FILES=n — conversion corpus size (default 32)
    //   SPARK_GRAFT_WOD_CONC=n  — concurrent file conversions (default 24)
    val skipWod = sys.env.get("SPARK_GRAFT_SKIP_WOD").contains("1")
    val wodOnly = sys.env.get("SPARK_GRAFT_WOD_ONLY").contains("1")
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 — adjudication runs: just these
    // queries (implies no conversion tail unless WOD_ONLY);
    // SPARK_GRAFT_BENCH_REPS=n — more reps for variance forensics
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .map(_.toInt).getOrElse(Repeats)

    val headline =
      if (wodOnly) Seq.empty
      else Registry.all.filter(_.bench)
        .filter(q => only.forall(_.contains(q.name)))
    // JVM/codegen warm-up at the smallest SF (not measured).
    headline.foreach { q =>
      try q.fn(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    val runs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    headline.foreach { q =>
      val ok = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      var i = 0
      while (i < repeats && !failed) {
        val t0 = System.nanoTime()
        try {
          q.fn(spark, sfDir).count()
          ok += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            failed = true
            errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)
        }
        i += 1
      }
      if (!failed && ok.nonEmpty) runs(q.name) = ok.toSeq
      // Outside the timed region: nudge the ContextCleaner (it cleans
      // shuffle files only when their references are GC'd; the bench
      // heap is large enough that organic GC may never run, letting
      // tmp-disk shuffle state accumulate across the suite).
      System.gc()
    }
    // WOD conversion headline — the engine's production path (parse →
    // geohash3-partitioned GeoParquet with the full output contract),
    // end-to-end over a 32-file corpus replicated from the generated
    // corpus (~29 MB gz, 365 k casts, 2.0 M ASCII lines). TWO reps, min
    // reported like every other query (r4's single rep made the number
    // un-diffable against ambient harness load); input replicated once,
    // fresh output dir per rep so resume never short-circuits the timing.
    var castsPerSec = 0.0
    var bulkCastsPerSec = 0.0
    // SPARK_GRAFT_WOD_REPS=n — conversion rep count. Default 3: the
    // r16 adjudication measured the per-file path's rep spread at ~2×
    // on a HEALTHY idle host (6 reps: 48.8–95.1 s; hundreds of tiny
    // driver-scheduled jobs amplify ambient IO jitter), so r15's
    // min-of-2 "1.66× regression" was sampling noise — min-of-3 is the
    // cheapest stable point estimate. Bulk (one job) is ±5% and
    // doesn't need it, but shares the knob for simplicity.
    val wodReps = sys.env.get("SPARK_GRAFT_WOD_REPS")
      .map(_.toInt).getOrElse(3)
    if (!skipWod && !(only.isDefined && !wodOnly)) {
      try {
        val reps = benchWodConvert(spark, wodReps = wodReps, bulk = false)
        runs("wod_convert") = reps.map(_._1)
        val (sec, casts) = reps.minBy(_._1)
        castsPerSec = if (sec > 0) casts / sec else 0.0
      } catch {
        case e: Throwable =>
          errors("wod_convert") = Option(e.getMessage)
            .getOrElse(e.getClass.getName)
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)
      }
      // Same corpus through the ONE-job bulk path (convertBulk) — the
      // many-small-files scale shape; the gap vs wod_convert is the
      // per-file driver scheduling cost made visible.
      try {
        val reps = benchWodConvert(spark, wodReps = wodReps, bulk = true)
        runs("wod_convert_bulk") = reps.map(_._1)
        val (sec, casts) = reps.minBy(_._1)
        bulkCastsPerSec = if (sec > 0) casts / sec else 0.0
      } catch {
        case e: Throwable =>
          errors("wod_convert_bulk") = Option(e.getMessage)
            .getOrElse(e.getClass.getName)
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)
      }
    }

    val timings = runs.map { case (k, v) => k -> v.min }
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // The measured query reps above run BEFORE the conversion benches
    // in a fresh JVM, so they ARE the isolation series (proved r7:
    // SKIP_WOD A/B 5.31s vs same-session full-bench 5.11s — equal
    // within noise; the historical with-tail inflation came from rounds
    // whose totals were read under ambient load). Emitted under the
    // explicit key so BENCH_r{N} carries host-drift-comparable
    // per-query numbers without a manual A/B (r7 verdict item 7).
    val qsIso = timings.collect {
      case (k, v) if !k.startsWith("wod_convert") => "\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val rs = runs.map { case (k, v) =>
      "\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    val calib = hostCalibSec()
    // Calibration anchor: r8's measured host_calib_sec (the first round
    // that emitted the probe). normalized = raw × (calib_now / anchor):
    // a slower host (higher calib) scales throughput UP to
    // anchor-host-equivalent, so round-over-round conversion drift is
    // adjudicated on the normalized number instead of a manual A/B
    // (BENCH_ISOLATION.md; r8 verdict item 5).
    val CalibAnchorSec = 0.801
    val calibPar = hostCalibParSec()
    val calibDecayRaw = hostCalibSustainedDecay()
    // JSON-safety: NaN (no digest batch completed in the last window)
    // would interpolate as the bare token NaN and break every parser of
    // the triad — emit -1.0 as the explicit "probe failed" sentinel.
    val calibDecay = if (calibDecayRaw.isNaN) -1.0 else calibDecayRaw
    val calibIo = hostCalibIoMbps()
    // Conversion is gzip-read + parquet-write bound, NOT CPU bound
    // (BENCH_ISOLATION.md r14: bulk collapsed to 6.4k casts/s at IO
    // 29 MB/s while every CPU probe read healthy). CPU-normalizing it
    // overstated throughput on disk-starved hosts (r14: "164k
    // normalized" at 12 MB/s), so conversion entries normalize by the
    // IO probe against the documented healthy-band anchor instead.
    // Slower disk (lower MB/s) scales throughput UP to
    // anchor-host-equivalent, symmetric for faster disks.
    val IoAnchorMbps = 430.0
    val ioRatio =
      if (calibIo > 0.0) IoAnchorMbps / calibIo else 1.0
    val normCasts = castsPerSec * ioRatio
    val normBulk = bulkCastsPerSec * ioRatio
    // normalized-by-contention: scales throughput by how much slower
    // 32-wide CPU work runs than 1-wide × ideal (par/single ≥ 1; no
    // historical anchor yet — r11 is the first round emitting it).
    val normCastsPar = castsPerSec * (calibPar / calib)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_isolated":$qsIso,"runs":$rs,"errors":$errs,"wod_casts_per_sec":$castsPerSec,"wod_bulk_casts_per_sec":$bulkCastsPerSec,"host_calib_sec":$calib,"host_calib_anchor_sec":$CalibAnchorSec,"host_calib_par_sec":$calibPar,"host_calib_sustained_decay":$calibDecay,"host_calib_io_mbps":$calibIo,"wod_casts_per_sec_normalized":$normCasts,"wod_bulk_casts_per_sec_normalized":$normBulk,"wod_casts_per_sec_normalized_par":$normCastsPar,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("BENCH.json"), line + "\n")
    // Stamped snapshot, COMMITTED at round close: r11's driver bench
    // never ran and BENCH_r11.json simply doesn't exist — the series
    // has a hole no one can backfill. BENCH_latest.json carries the
    // same line plus a wall-clock stamp so every round leaves a
    // committed, dateable bench artifact even when the driver's own
    // snapshot is missed.
    val stamped = line.dropRight(1) +
      s""","run_at":"${java.time.Instant.now()}"}"""
    Files.writeString(Paths.get("BENCH_latest.json"), stamped + "\n")
    // The STDOUT line must survive a truncated capture: r19's PERF
    // comparison was lost because the harness stored only a 2,000-char
    // stdout TAIL and the full line's front (metric/value/queries) was
    // beheaded (r20 verdict item 6 / PERF_r20 prev_bench_ok: false).
    // Print a compact line — every per-query MIN at 6 dp plus all
    // scalar keys, just without the `runs` and `queries_isolated`
    // maps — which fits a 2,000-char tail whole. Full-fidelity record
    // (all reps, the isolated map, full precision) stays in BENCH.json
    // / BENCH_latest.json above; the isolated mins are identical to
    // `queries` minus the wod_convert entries by construction.
    val qs6 = timings.map { case (k, v) => "\"" + k + "\":" + r6(v) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r6(total)},"unit":"sec","queries":$qs6,"errors":$errs,"wod_casts_per_sec":${r6(castsPerSec)},"wod_bulk_casts_per_sec":${r6(bulkCastsPerSec)},"host_calib_sec":${r6(calib)},"host_calib_anchor_sec":$CalibAnchorSec,"host_calib_par_sec":${r6(calibPar)},"host_calib_sustained_decay":${r6(calibDecay)},"host_calib_io_mbps":${r6(calibIo)},"wod_casts_per_sec_normalized":${r6(normCasts)},"wod_bulk_casts_per_sec_normalized":${r6(normBulk)},"wod_casts_per_sec_normalized_par":${r6(normCastsPar)},"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }

  /** A number for the compact JSON line at 6 dp. NaN and ±Infinity
    * (a failed probe) print as -1, the "probe failed" sentinel
    * `host_calib_sustained_decay` already uses: BigDecimal cannot hold
    * them, and a bare NaN token is not JSON.
    */
  private[graft] def r6(v: Double): String =
    if (!java.lang.Double.isFinite(v)) r6(-1.0)
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .underlying.stripTrailingZeros.toPlainString

  /** Replicate the generated WOD corpus's XBT, SUR and DRB members
    * ([[graft.wod.WodCorpus]]) into an n-file corpus
    * (default 32; SPARK_GRAFT_WOD_FILES scales it for the driver-bound
    * probe) and time `wodReps` full `WodPipeline.run`s — fresh output
    * dir each rep, so resume never short-circuits the measurement.
    * Returns (seconds, casts converted) per rep.
    *
    * The generated members have the reference fixtures' cast counts and
    * ASCII line counts (FIXTURES.md §1), but not their values or level
    * structure: records before the switch to the generated corpus timed
    * the reference files, so their figures compare only roughly.
    */
  private def benchWodConvert(spark: org.apache.spark.sql.SparkSession,
      wodReps: Int, bulk: Boolean): Seq[(Double, Long)] = {
    val nFiles = sys.env.get("SPARK_GRAFT_WOD_FILES").map(_.toInt).getOrElse(32)
    // Concurrent conversions scale with the session's cores instead of
    // a flat 24 (guide §2: don't tune constants to one deployment):
    // at the headline 32 cores this still resolves to 24 — the
    // round-over-round series stays comparable — and the driver's
    // lower-core scaling runs no longer queue 24 single-task write
    // jobs onto e.g. 8 cores (A/B in OPTIMIZATION_r20.md). Env
    // override unchanged.
    val conc = sys.env.get("SPARK_GRAFT_WOD_CONC").map(_.toInt)
      .getOrElse(math.min(24,
        math.max(2, spark.sparkContext.defaultParallelism * 3 / 4)))
    val in = Files.createTempDirectory("wodbench_in")
    // 12:10:10 mix at the default 32, scaled proportionally.
    WodCorpus.replicate(in, WodCorpus.Xbt, math.max(1, nFiles * 12 / 32))
    WodCorpus.replicate(in, WodCorpus.Sur, math.max(1, nFiles * 10 / 32))
    WodCorpus.replicate(in, WodCorpus.Drb, math.max(1, nFiles * 10 / 32))
    try {
      (1 to wodReps).map { _ =>
        val out = Files.createTempDirectory("wodbench_out")
        try {
          val cfg = WodPipeline.Config(input = in.toString,
            output = out.toString, datasets = Seq("XBT", "SUR", "DRB"),
            maxConcurrentFiles = conc)
          val t0 = System.nanoTime()
          val casts =
            if (bulk) WodPipeline.convertBulk(spark, cfg)._1
            else WodPipeline.run(spark, cfg).map(_.casts).sum
          val sec = (System.nanoTime() - t0) / 1e9
          (sec, casts)
        } finally deleteRecursively(out)
      }
    } finally deleteRecursively(in)
  }

  /** Fixed single-thread CPU probe: seconds to MD5 a 1 MiB buffer 512
    * times (deterministic work, no allocation in the loop). The bench
    * series drifts ±25% round-over-round with shared-host load on
    * byte-identical code (BENCH_ISOLATION.md r6→r7→r8); this number
    * lets a later round normalize conversion throughput against
    * measured host speed instead of re-running manual A/Bs. Min of 3
    * (first pass absorbs JIT).
    */
  private def hostCalibSec(): Double = {
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    (1 to 3).map { _ =>
      val md = MessageDigest.getInstance("MD5")
      val t0 = System.nanoTime()
      var i = 0
      while (i < 512) { md.update(buf); i += 1 }
      md.digest()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Contended-host probe (r10 verdict): the single-thread probe above
    * cannot see MULTICORE contention, which is what would slow the
    * 32-way per-file conversion loop while leaving a 1-thread MD5
    * unchanged. Run the same MD5 loop on 32 threads at once and report
    * the wall-clock for ALL to finish: on an idle 32-core host this is
    * ≈ the single-thread time; under co-tenant CPU pressure it
    * inflates proportionally. `host_calib_par_sec / host_calib_sec`
    * is the host's effective contention factor for 32-wide work.
    */
  private def hostCalibParSec(threads: Int = 32): Double = {
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => {
          val md = MessageDigest.getInstance("MD5")
          var i = 0
          while (i < 512) { md.update(buf); i += 1 }
          md.digest(): Unit
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Sustained-burn probe (r14): both probes above are ~1 s bursts, so
    * a host with burst-friendly CPU quotas (token-bucket throttling,
    * thermal/frequency decay) looks healthy to them while a sustained
    * 32-wide burn — exactly the 70–200 s conversion loop — runs at the
    * POST-burst rate. Run the 32-thread MD5 loop continuously for
    * ~12 s and report (first 3 s rate) / (last 3 s rate): ≈1.0 on an
    * unthrottled host, >1 when sustained throughput decays below burst
    * throughput. Read `wod_convert` regressions against THIS ratio
    * before suspecting code.
    */
  private def hostCalibSustainedDecay(threads: Int = 32,
      windowSec: Double = 3.0, totalSec: Double = 12.0): Double = {
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    val t0 = System.nanoTime()
    val firstN = new java.util.concurrent.atomic.AtomicLong
    val lastN = new java.util.concurrent.atomic.AtomicLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        val md = MessageDigest.getInstance("MD5")
        while (!stop.get()) {
          var i = 0
          while (i < 16) { md.update(buf); i += 1 }
          md.digest()
          val el = (System.nanoTime() - t0) / 1e9
          if (el < windowSec) firstN.addAndGet(16L): Unit
          else if (el > totalSec - windowSec && el <= totalSec)
            lastN.addAndGet(16L): Unit
          if (el > totalSec) stop.set(true)
        }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    val (f, l) = (firstN.get(), lastN.get())
    if (l == 0L) Double.NaN else f.toDouble / l
  }

  /** Disk probe (r14): the conversion path is gzip-read + parquet-write
    * heavy, so co-tenant DISK pressure slows it while every CPU probe
    * reads healthy. Write 256 MB to the same tmp filesystem the bench
    * uses (force + close), read it back, report round-trip MB/s.
    */
  private def hostCalibIoMbps(): Double = {
    val mb = 256
    val f = Files.createTempFile("graft_ioprobe", ".bin")
    try {
      val buf = new Array[Byte](1 << 20)
      java.util.Arrays.fill(buf, 0x5a.toByte)
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.WRITE)
      var i = 0
      while (i < mb) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
      ch.force(true); ch.close()
      val in = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.READ)
      val rb = java.nio.ByteBuffer.allocate(1 << 20)
      var n = in.read(rb)
      while (n > 0) { rb.clear(); n = in.read(rb) }
      in.close()
      2.0 * mb / ((System.nanoTime() - t0) / 1e9)
    } finally Files.deleteIfExists(f): Unit
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
  }
}
