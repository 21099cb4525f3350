package graft.wod

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count}

import graft.sources.WodDataSource.{ErrorColumn, SourceFileColumn, castSchema}

/** End-to-end WOD ASCII → partitioned-parquet conversion with the
  * reference's output contract (SURVEY.md §2-3):
  *
  *   `[out]/yearly/<DATASET>/<LEVEL>/<FILE>.parquet/geohash3=xxx/`
  *     rows sorted by full geohash within partitions
  *     (`DatasetYearTrain.java:128-137`),
  *   `[out]/error/<DATASET>/<LEVEL>/<FILE>.parquet` error side-channel
  *     (`TransformationErrorHandler.java:42-52`), written once per file
  *     (not one file per failed cast — SURVEY §2.1 S7 notes the
  *     reference's 1-row-per-write pattern is an inefficiency, not
  *     semantics),
  *   `_SUCCESS`-based idempotent resume (C2, `DatasetYearTrain.java:89-94`),
  *   SUR→SUR_ALL rename (F4, `DatasetYearTrain.java:39-40,230-233`).
  *
  * Scale design: one conversion per input file, each fully distributed
  * (gzip ⇒ one parse task, then a hash exchange on geohash3 for the
  * partitioned write); multiple files run concurrently through Spark's
  * scheduler. The reference's driver-side parse loop and two-phase
  * `_temp` store (C3) disappear: a single lineage parse→shuffle→write
  * needs no intermediate store, and output-dir atomicity comes from the
  * Hadoop commit protocol's `_temporary` plus a `_SUCCESS` stamped
  * after the error store. The global `orderBy(geohash)` the reference
  * issues before repartitioning is dropped deliberately — its range
  * exchange is destroyed by the following hash repartition (SURVEY
  * §2.3 O1).
  */
object WodPipeline {

  /** Write-time provenance: stamp the layout invariant (`geohash3` is
    * `geohash`'s 3-char prefix) into the `geohash` column's metadata.
    * Spark round-trips field metadata through the parquet footer, so a
    * re-read of an engine-written store carries the tag and
    * [[graft.plans.InferGeohashPartitionFilter]] knows it may infer
    * `geohash3` partition predicates; untagged external data never
    * triggers the rule.
    */
  private val geohashTag = new org.apache.spark.sql.types.MetadataBuilder()
    .putBoolean(graft.plans.InferGeohashPartitionFilter.ProvenanceKey, true)
    .build()

  private def tagGeohash(df: DataFrame): DataFrame =
    df.withColumn("geohash", col("geohash").as("geohash", geohashTag))

  final case class Config(
      input: String,
      output: String,
      datasets: Seq[String] = Seq("APB", "CTD", "DRB", "GLD", "MBT", "MRB",
        "OSD", "PFL", "SUR", "UOR", "XBT"),
      levels: Seq[String] = Seq("OBS"),
      subset: Seq[String] = Seq.empty, // keep only these file names if set
      overwrite: Boolean = false,
      maxConcurrentFiles: Int = 4,
      /** In-engine retry envelope (C6): attempts per file before it is
        * recorded failed — the reference runs ≤5 job starts via
        * HTCondor `periodic_release`
        * (`src/ospool/wod-ascii-to-parquet-spark.submit`); here the
        * loop lives in the runner so a transient write/IO failure
        * can't kill a corpus-wide conversion.
        */
      maxAttemptsPerFile: Int = 3,
      /** Throw after the run if any file exhausted its attempts
        * (automation must notice); the per-file results still carry
        * every outcome for the completeness differ.
        */
      failFast: Boolean = true,
      /** Bulk mode: the most rows one output file holds (the
        * writer's `maxRecordsPerFile`; see [[writeChannels]]).
        */
      bulkMaxRowsPerCellFile: Long = 1000000L,
      /** Concurrent (dataset, level) bulk sub-runs. */
      bulkConcurrency: Int = 4)

  final case class FileTask(src: String, dataset: String, level: String,
      outStore: String, errStore: String)

  /** One file's conversion outcome. `failure` is set when every
    * attempt failed; such a store is left without `_SUCCESS`, so the
    * resume probe and [[Differ]] both see it as missing.
    */
  final case class FileResult(task: FileTask, casts: Long, errors: Long,
      attempts: Int, failure: Option[String]) {
    def ok: Boolean = failure.isEmpty
  }

  /** `<FILE>.gz` → `<FILE>.parquet` with the SUR special case
    * (`SURF_ALL.gz` → `SUR_ALL.parquet`).
    */
  def outputName(dataset: String, gzName: String): String = {
    val base = gzName.replaceAll("\\.gz$", "")
    val renamed =
      if (dataset == "SUR" && base.startsWith("SURF"))
        "SUR" + base.stripPrefix("SURF")
      else base
    renamed + ".parquet"
  }

  /** Enumerate input files `<input>/<DATASET>/<LEVEL>/` `.gz` (driver-side
    * metadata query, like reference `DatasetTrain.java:51-62` — file
    * listing is cheap; the data path is fully distributed).
    */
  def plan(spark: SparkSession, cfg: Config): Seq[FileTask] = {
    val conf = spark.sparkContext.hadoopConfiguration
    for {
      ds <- cfg.datasets
      lvl <- cfg.levels
      dir = new Path(s"${cfg.input}/$ds/$lvl")
      fs = dir.getFileSystem(conf)
      if fs.exists(dir)
      st <- fs.listStatus(dir).toSeq.sortBy(_.getPath.getName)
      name = st.getPath.getName
      if name.endsWith(".gz")
      if cfg.subset.isEmpty || cfg.subset.contains(name)
    } yield FileTask(
      src = st.getPath.toString,
      dataset = ds,
      level = lvl,
      outStore = s"${cfg.output}/yearly/$ds/$lvl/${outputName(ds, name)}",
      errStore = s"${cfg.output}/error/$ds/$lvl/${outputName(ds, name)}")
  }

  /** `_SUCCESS` marker check + `_temporary` crash-residue detection
    * (C2 resume semantics).
    */
  def isComplete(spark: SparkSession, store: String): Boolean = {
    val p = new Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_SUCCESS")) && !fs.exists(new Path(p, "_temporary"))
  }

  /** Convert one file: stream-parse, split casts/errors, write the
    * geohash3-partitioned store (with write-time GeoParquet footers)
    * and the error store ([[writeChannels]]). Returns
    * (castRows, errorRows).
    */
  def convertFile(spark: SparkSession, task: FileTask): (Long, Long) = {
    import spark.implicits._
    writeChannels(spark, WodSource.read(spark, task.src),
      casts = _.drop(SourceFileColumn, ErrorColumn),
      // through the CastError encoder: a field of the nullable `_error`
      // struct would turn the store's non-null castNumber nullable
      errors = _.select(s"$ErrorColumn.*").as[CastError].map(identity).toDF(),
      maxRowsPerFile = 0L, // Spark's "no limit"
      task.outStore, task.errStore)
  }

  /** The one write path of [[convertFile]] and [[convertBulk]]: the
    * cast store, the error store, then (bulk only) the cast store's
    * `_inputs` list of `inputs`, and last its `_SUCCESS`. Returns
    * (castRows, errorRows).
    *
    *  - Jobs: two per clean input (the exchange's map stage, the
    *    sort+write), one more when there are error rows. Nothing is
    *    cached: the error write (rare) reads the input again, and that
    *    scan needs none of the cast columns.
    *  - Channel totals ride the cast write via `Dataset.observe` (a
    *    `CollectMetrics` node above the exchange, below the cast-only
    *    filter, so every row — error rows too — reaches it); see
    *    [[channelCounts]].
    *  - GeoParquet footers need no pre-write extent pass:
    *    [[GeoParquetWriteSupport]] accumulates each part file's true
    *    lon/lat extent as rows stream through it and stamps the
    *    per-file bbox at close.
    *  - The exchange is a hash repartition on geohash3, so every cell
    *    is one write task whatever the shuffle partition sizes (a
    *    REBALANCE would let AQE split any oversized partition by map
    *    ranges, and each split task would write one file for EVERY
    *    cell in it). `maxRowsPerFile` (`maxRecordsPerFile`; 0 = no
    *    limit) bounds a dense cell: the writer rolls to a new file at
    *    it, each still a geohash-sorted run.
    *  - Commit order: the cast store's `_SUCCESS` is the resume marker,
    *    so the committer's own marker is switched off and the marker is
    *    stamped by hand after everything else is written. A crash or a
    *    failure in between leaves a store that resume redoes, never one
    *    it skips with its error rows lost.
    */
  private def writeChannels(spark: SparkSession, parsed: DataFrame,
      casts: DataFrame => DataFrame, errors: DataFrame => DataFrame,
      maxRowsPerFile: Long, castStore: String, errStore: String,
      inputs: Seq[String] = Nil): (Long, Long) = {
    val obs = Observation()
    parsed
      .repartition(col("geohash3"))
      // cast columns are null in error rows, so geohash3 counts casts
      .observe(obs, count(col("geohash3")).as("n_casts"),
        count(col(ErrorColumn)).as("n_errors"))
      .filter(col(ErrorColumn).isNull)
      .transform(casts)
      .transform(tagGeohash)
      // (geohash3, geohash) orders identically to plain geohash
      // (geohash3 IS its 3-char prefix) but ALSO satisfies the
      // dynamic-partition writer's required ordering on the
      // partition column, so FileFormatWriter plans NO second sort
      // before fan-out into the geohash3= dirs.
      .sortWithinPartitions(col("geohash3"), col("geohash"))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRowsPerFile)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
      .partitionBy("geohash3")
      .format(classOf[GeoParquetFileFormat].getName)
      .save(castStore)
    val (nCasts, nErrors) = channelCounts(obs)
    val conf = spark.sparkContext.hadoopConfiguration
    val errPath = new Path(errStore)
    if (nErrors > 0)
      errors(parsed.filter(col(ErrorColumn).isNotNull))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(errStore)
    else errPath.getFileSystem(conf).delete(errPath, true) // stale errors
    val fs = new Path(castStore).getFileSystem(conf)
    if (inputs.nonEmpty) {
      val out = fs.create(new Path(castStore, InputsFile), true)
      try out.write(inputs.map(_ + "\n").mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    fs.create(new Path(castStore, "_SUCCESS"), true).close()
    (nCasts, nErrors)
  }

  /** Channel counts from the write job's observed metrics. Every row
    * crosses the exchange below the `CollectMetrics` node, so the
    * Observation misses its row only when the input has no rows at
    * all: AQE then replaces the empty write subtree, node included,
    * with an empty relation. That case is (0, 0).
    */
  private def channelCounts(obs: Observation): (Long, Long) = {
    val m = obs.get // returns once the action completes; may be empty
    def n(name: String): Long = m.get(name).fold(0L)(_.asInstanceOf[Long])
    (n("n_casts"), n("n_errors"))
  }

  /** `f` over `items` on a pool of `threads` workers, shut down when
    * the last item is done so no idle worker outlives the call.
    */
  private def inParallel[A, B](items: Seq[A], threads: Int)(
      f: A => B): Seq[B] = {
    import scala.collection.parallel.CollectionConverters._
    import scala.collection.parallel.ForkJoinTaskSupport
    val pool = new java.util.concurrent.ForkJoinPool(threads)
    try {
      val par = items.par
      par.tasksupport = new ForkJoinTaskSupport(pool)
      par.map(f).seq
    } finally pool.shutdown()
  }

  /** Run the whole plan with bounded file-level concurrency and the
    * per-file retry envelope (C6). A file that exhausts its attempts
    * is recorded failed — its store has no `_SUCCESS`, so resume and
    * the differ treat it as missing — and, with `failFast`, the run
    * throws after all other files finish (a flaky file never blocks
    * the rest of the corpus, but automation can't mistake a partial
    * run for success).
    */
  def run(spark: SparkSession, cfg: Config): Seq[FileResult] = {
    require(cfg.maxAttemptsPerFile >= 1,
      s"maxAttemptsPerFile must be >= 1, got ${cfg.maxAttemptsPerFile}")
    val tasks = plan(spark, cfg)
    val fs = new Path(cfg.output).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val todo = tasks.filter { t =>
      val done = !cfg.overwrite && isComplete(spark, t.outStore)
      if (done) println(s"[wod] skip (complete): ${t.outStore}")
      else if (cfg.overwrite) fs.delete(new Path(t.outStore), true)
      !done
    }
    val results = inParallel(todo, cfg.maxConcurrentFiles) { t =>
      var attempt = 0
      var res: FileResult = null
      while (res == null) {
        attempt += 1
        try {
          val (nc, ne) = convertFile(spark, t)
          println(s"[wod] ${t.src}: $nc casts, $ne errors -> ${t.outStore}")
          res = FileResult(t, nc, ne, attempt, None)
        } catch {
          case e: Exception if attempt < cfg.maxAttemptsPerFile =>
            System.err.println(s"[wod] attempt $attempt failed for " +
              s"${t.src}, retrying: ${e.getMessage}")
          case e: Exception =>
            System.err.println(s"[wod] FAILED after $attempt attempts: " +
              s"${t.src}: ${e.getMessage}")
            res = FileResult(t, -1, -1, attempt,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
        }
      }
      res
    }
    val failed = results.filter(!_.ok)
    if (cfg.failFast && failed.nonEmpty)
      throw new IllegalStateException(
        s"${failed.size} of ${results.size} conversions failed after " +
          s"${cfg.maxAttemptsPerFile} attempts each: " +
          failed.map(_.task.src).mkString(", "))
    results
  }

  /** One bulk sub-run's outcome ([[convertBulkDetailed]]): a
    * (dataset, level) slice of the corpus, with `skipped = true` when
    * resume found its sub-store already complete.
    */
  final case class BulkRun(dataset: String, level: String, files: Int,
      casts: Long, errors: Long, skipped: Boolean)

  /** BULK mode: convert the planned corpus in O(datasets×levels)
    * Spark jobs (NOT O(files) — [[run]]'s per-file contract costs one
    * driver-scheduled job per input, the documented wall-clock bound
    * at many-small-files scale; at 100 TB that is millions of
    * DAGScheduler events through a single driver event loop).
    *
    * The corpus is split into one SUB-RUN per (dataset, level). Each
    * sub-run is a single fully-distributed lineage — one parse stage
    * over all its files, one hash exchange on geohash3, one
    * dynamic-partitioned write — committed independently under its own
    * `_SUCCESS`. Sub-runs execute concurrently (driver-side bounded
    * pool, like [[run]]) so the cluster stays saturated even when a
    * single dataset has too few files to fill it.
    *
    *  - Output: `<output>/bulk/casts/dataset=<DS>/level=<LVL>/
    *    geohash3=<cell>/` — the analytic layout, with level kept as a
    *    partition dimension (the flat r5 layout lost it). Provenance
    *    is the `src_file` DATA column instead of a store-per-file
    *    directory contract.
    *  - Resume (C2) is per sub-run: a driver crash at 95% loses one
    *    (dataset, level) slice, not the corpus (the reference's
    *    per-file `_SUCCESS` resume, `DatasetYearTrain.java:89-94`, at
    *    bulk granularity). A complete root store short-circuits via
    *    the root `_SUCCESS` stamped after the last sub-run commits.
    *  - Dense cells: the sub-run's write is [[writeChannels]], shared
    *    with [[convertFile]]. Each geohash3 cell is one write task, and
    *    `maxRecordsPerFile` = `cfg.bulkMaxRowsPerCellFile` bounds the
    *    rows of every file, so a dense cell rolls over several files
    *    and an ordinary cell is one file.
    *  - Per-cast (C5) and per-file IO error isolation come from the
    *    `wod` source's `_error` column ([[WodSource.read]]): a failed
    *    cast and an unreadable or damaged member each give one error
    *    row, never a task failure. Error rows land under
    *    `<output>/bulk/errors/dataset=<DS>/level=<LVL>/` with their
    *    source path. Task-level retry inside each job is Spark's own
    *    (`spark.task.maxFailures`), replacing the per-file attempt
    *    envelope (C6) here.
    *
    * Returns (castRows, errorRows) summed over all sub-runs,
    * previously-completed ones included.
    */
  def convertBulk(spark: SparkSession, cfg: Config): (Long, Long) = {
    val runs = convertBulkDetailed(spark, cfg)
    (runs.map(_.casts).sum, runs.map(_.errors).sum)
  }

  /** [[convertBulk]] with per-sub-run outcomes. */
  def convertBulkDetailed(spark: SparkSession, cfg: Config): Seq[BulkRun] = {
    val castStore = s"${cfg.output}/bulk/casts"
    val errStore = s"${cfg.output}/bulk/errors"
    val fs = new Path(cfg.output).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (cfg.overwrite) {
      fs.delete(new Path(castStore), true)
      fs.delete(new Path(errStore), true)
    }
    val tasks = plan(spark, cfg)
    require(tasks.nonEmpty, s"no input files under ${cfg.input}")
    val rootDone = !cfg.overwrite && isComplete(spark, castStore)
    val subRuns = tasks.groupBy(t => (t.dataset, t.level)).toSeq
      .sortBy(_._1)
    val threads = math.max(1, cfg.bulkConcurrency)
    val results = inParallel(subRuns, threads) { case ((ds, lvl), ts) =>
      val subStore = s"$castStore/dataset=$ds/level=$lvl"
      val errSub = s"$errStore/dataset=$ds/level=$lvl"
      // NB: the root marker is deliberately NOT a skip condition —
      // the plan can grow between runs (new dataset, new level); only
      // the sub-store's own probe decides. And a COMMITTED sub-store
      // only short-circuits if its src_file provenance covers every
      // planned input: a .gz added after the sub-run committed redoes
      // the whole (dataset, level) slice — without this, only a
      // corpus-wide overwrite would ever convert it (the differ would
      // report it missing forever with nothing able to act on that).
      // An input with no row in either store (an empty member) counts
      // as covered through the inputs the sub-run's commit recorded.
      val committed = isComplete(spark, subStore)
      val inputs = ts.map(t => fs.makeQualified(new Path(t.src)).toString)
      lazy val (castRows, castProv) = storeProvenance(spark, subStore)
      lazy val (errRows, errProv) = storeProvenance(spark, errSub)
      lazy val fresh = inputs
        .filterNot(castProv ++ errProv ++ recordedInputs(fs, subStore))
      if (committed && fresh.isEmpty) {
        println(s"[wod] bulk skip (complete): $subStore")
        BulkRun(ds, lvl, ts.size, castRows, errRows, skipped = true)
      } else {
        if (committed) println(s"[wod] bulk redo (plan grew by " +
          s"${fresh.size} files): $subStore")
        val (nc, ne) = writeChannels(spark,
          WodSource.read(spark, ts.map(_.src).mkString(",")),
          casts = _.select(col(SourceFileColumn).as("src_file") +:
              castSchema.fieldNames.toSeq.map(col): _*)
            .drop("dataset"), // constant in a sub-run; the dir carries it
          errors = _.select(col(SourceFileColumn).as("src_file"),
            col(s"$ErrorColumn.castNumber"), col(s"$ErrorColumn.error")),
          cfg.bulkMaxRowsPerCellFile, subStore, errSub, inputs)
        println(s"[wod] bulk: $ds/$lvl ${ts.size} files, $nc casts, " +
          s"$ne errors -> $subStore")
        BulkRun(ds, lvl, ts.size, nc, ne, skipped = false)
      }
    }
    // Root marker = "every planned sub-run committed"; stamped last so
    // a crash anywhere above leaves resume to the per-sub-run probes.
    if (!rootDone) fs.create(new Path(castStore, "_SUCCESS"), true).close()
    results
  }

  /** The planned inputs of a committed bulk sub-run, one qualified
    * path per line: written just before the sub-store's `_SUCCESS`, so
    * an uncommitted sub-store is redone whatever it records, and the
    * cast write's overwrite clears a previous run's list.
    */
  private val InputsFile = "_inputs"

  private def recordedInputs(fs: FileSystem,
      subStore: String): Set[String] = {
    val f = new Path(subStore, InputsFile)
    if (!fs.exists(f)) Set.empty
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
      finally in.close()
    }
  }

  /** Row count + `src_file` provenance of a (possibly absent /
    * row-less) parquet store — one column-pruned read serves both the
    * skip branch's counts and its plan-growth check. The collect is
    * bounded by the sub-run's file count (driver-metadata scale, the
    * same order as [[plan]]'s own listing).
    */
  private def storeProvenance(spark: SparkSession,
      store: String): (Long, Set[String]) = {
    val p = new Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (!hasData) (0L, Set.empty[String])
    else {
      val rows = spark.read.parquet(store)
        .groupBy(col("src_file")).agg(count("*").as("n")).collect()
      (rows.map(_.getLong(1)).sum, rows.map(_.getString(0)).toSet)
    }
  }
}
