package graft.wod

import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** CLI mirroring the reference's `Sparkler` option surface
  * (`Sparkler.java:33-74`):
  *
  *   --input/-i <dir|s3a://...>   WOD ASCII root (DATASET/LEVEL/ .gz files)
  *   --output/-o <dir|s3a://...>  output root
  *   --datasets/-d CSV            default APB,...,XBT (Sparkler.java:41-42)
  *   --levels/-l CSV              default OBS (Sparkler.java:43-44)
  *   --subset/-s CSV              only these file names (DatasetTrain.java:73-86)
  *   --overwrite                  redo completed stores
  *   --max-files N                concurrent file conversions (default 4)
  *   --max-attempts N             per-file retry budget (default 3; C6)
  *   --no-fail-fast               report failed files but exit 0
  *   --bulk                       corpus-scale mode: a few jobs per
  *                                (dataset, level) instead of per file
  *                                (WodPipeline.convertBulk — the
  *                                many-small-files escape hatch, ~5× the
  *                                per-file throughput at sf0.1)
  *   --bulk-max-rows-per-cell N   most rows one output file holds
  *                                (default 1000000)
  *   --bulk-concurrency N         concurrent (dataset, level) sub-runs
  *                                (default 4)
  *   --version/-V                 print name+version and exit
  *                                (⇔ `VersionProvider.java:1-22`)
  *
  * The reference's `-bs` batch size has no equivalent: batching bounded
  * its driver-side parse loop; our parse is executor-side and streaming.
  *
  * C4/C6 interaction: the reference's context-level fail-fast listener
  * (abort on any failed Spark job) is correct in its one-JVM-per-file
  * model, where HTCondor restarts the JVM. In this shared-session
  * runner it would kill the context before the per-file retry envelope
  * could act, so the listener attaches only when retries are disabled
  * (`--max-attempts 1` = pure reference semantics); otherwise failure
  * policy is the runner's: bounded retries, then a non-zero exit via
  * the end-of-run failure check.
  */
object Cli {

  /** Jar manifest version when packaged, build.sbt default otherwise —
    * the same manifest-backed scheme as the reference's picocli
    * `VersionProvider`.
    */
  def versionLine: String = {
    val v = Option(getClass.getPackage.getImplementationVersion)
      .getOrElse("0.1.0")
    s"graft wod-ascii-to-parquet $v"
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--version") || args.contains("-V")) {
      println(versionLine)
      return
    }
    val (cfg, bulk) = parse(args)
    val spark = GraftSession.getOrCreate()
    try println(execute(spark, cfg, bulk))
    finally spark.stop()
  }

  private val usage =
    "usage: Cli --input <dir> --output <dir> [--datasets CSV] " +
      "[--levels CSV] [--subset CSV] [--overwrite] " +
      "[--max-files N] [--max-attempts N] [--no-fail-fast] " +
      "[--bulk] [--bulk-max-rows-per-cell N] [--bulk-concurrency N]"

  /** Option surface → (pipeline config, bulk flag). Every value-taking
    * option fails with the usage string on a missing or malformed
    * value — never an out-of-bounds / number-format stack trace.
    */
  def parse(args: Array[String]): (WodPipeline.Config, Boolean) = {
    var cfg = WodPipeline.Config(input = null, output = null)
    var bulk = false
    var i = 0
    def value(): String = {
      require(i + 1 < args.length, s"${args(i)} needs a value\n$usage")
      args(i + 1)
    }
    def intValue(): Int =
      try value().toInt
      catch { case _: NumberFormatException =>
        sys.error(s"${args(i)} needs an integer, got '${value()}'\n$usage") }
    def longValue(): Long =
      try value().toLong
      catch { case _: NumberFormatException =>
        sys.error(s"${args(i)} needs an integer, got '${value()}'\n$usage") }
    while (i < args.length) {
      args(i) match {
        case "--bulk"            => bulk = true; i += 1
        case "--bulk-max-rows-per-cell" =>
          cfg = cfg.copy(bulkMaxRowsPerCellFile = longValue()); i += 2
        case "--bulk-concurrency" =>
          cfg = cfg.copy(bulkConcurrency = intValue()); i += 2
        case "--input" | "-i"    => cfg = cfg.copy(input = value()); i += 2
        case "--output" | "-o"   => cfg = cfg.copy(output = value()); i += 2
        case "--datasets" | "-d" =>
          cfg = cfg.copy(datasets = value().split(",").toSeq); i += 2
        case "--levels" | "-l"   =>
          cfg = cfg.copy(levels = value().split(",").toSeq); i += 2
        case "--subset" | "-s"   =>
          cfg = cfg.copy(subset = value().split(",").toSeq); i += 2
        case "--overwrite"       => cfg = cfg.copy(overwrite = true); i += 1
        case "--max-files"       =>
          cfg = cfg.copy(maxConcurrentFiles = intValue()); i += 2
        case "--max-attempts"    =>
          cfg = cfg.copy(maxAttemptsPerFile = intValue()); i += 2
        case "--no-fail-fast"    => cfg = cfg.copy(failFast = false); i += 1
        case other => sys.error(s"unknown option: $other\n$usage")
      }
    }
    require(cfg.input != null && cfg.output != null, usage)
    (cfg, bulk)
  }

  /** Run the conversion the parsed options describe; returns the
    * summary line `main` prints (separated from `main` so specs can
    * drive the full CLI path on a shared session).
    */
  def execute(spark: SparkSession, cfg: WodPipeline.Config,
      bulk: Boolean): String =
    if (bulk) {
      // bulk failure policy is Spark's own (task retries via
      // spark.task.maxFailures; a failed sub-run job throws) — the
      // per-file retry envelope and the C4 listener don't apply.
      val runs = WodPipeline.convertBulkDetailed(spark, cfg)
      s"[wod] bulk done: ${runs.size} (dataset, level) sub-runs, " +
        s"${runs.map(_.casts).sum} casts, ${runs.map(_.errors).sum} errors"
    } else {
      if (cfg.maxAttemptsPerFile == 1) attachFailFast(spark)
      val results = WodPipeline.run(spark, cfg)
      val ok = results.filter(_.ok)
      val (casts, errors) = (ok.map(_.casts).sum, ok.map(_.errors).sum)
      s"[wod] done: ${ok.size} files, $casts casts, $errors errors" +
        (if (ok.size < results.size)
          s"; ${results.size - ok.size} files FAILED" else "")
    }

  /** Fail-fast listener (reference C4, `Sparkler.java:90-100`): any
    * failed Spark job aborts the application non-zero.
    */
  def attachFailFast(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(end: SparkListenerJobEnd): Unit = end.jobResult match {
        case JobFailed(e) =>
          System.err.println(s"[wod] job ${end.jobId} failed, aborting: $e")
          spark.sparkContext.stop(1)
        case _ => ()
      }
    })
}
