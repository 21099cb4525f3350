package graft.wod

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

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
  * Scale design: one conversion job per input file, each fully
  * distributed (gzip ⇒ one parse task, then a hash exchange on geohash3
  * for the partitioned write); multiple files run concurrently through
  * Spark's scheduler. The reference's driver-side parse loop and
  * two-phase `_temp` store (C3) disappear: a single lineage
  * parse→shuffle→write needs no intermediate store, and output-dir
  * atomicity comes from the Hadoop commit protocol's `_temporary` +
  * `_SUCCESS`. The global `orderBy(geohash)` the reference issues
  * before repartitioning is dropped deliberately — its range exchange
  * is destroyed by the following hash repartition (SURVEY §2.3 O1).
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

  private def tagGeohash(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("geohash", col("geohash").as("geohash", geohashTag))

  final case class Config(
      input: String,
      output: String,
      datasets: Seq[String] = Seq("APB", "CTD", "DRB", "GLD", "MBT", "MRB",
        "OSD", "PFL", "SUR", "UOR", "XBT"),
      levels: Seq[String] = Seq("OBS"),
      subset: Seq[String] = Seq.empty, // keep only these file names if set
      overwrite: Boolean = false,
      geoMetadata: Boolean = true,
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
      /** Bulk-mode skew guard: a geohash3 cell with more rows than
        * this is salted into ceil(n/this) shards so one dense cell
        * can't become one reducer task / one giant parquet file
        * (see [[convertBulkDetailed]]).
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
    * and the error store. Returns (castRows, errorRows).
    *
    * ONE Spark job per clean file (the common case), two when the file
    * has parse errors. The conversion wall-clock at many-small-files
    * scale is driver-job-count bound, so the former per-file stats job
    * is fused away twice over:
    *
    *  - cast/error counts ride the write job itself via
    *    `Dataset.observe` (a `CollectMetrics` node above the scan —
    *    Catalyst never pushes the cast-only filter through it, so the
    *    error count sees every row);
    *  - the GeoParquet footer bbox no longer needs a pre-write extent
    *    pass at all: [[GeoParquetWriteSupport]] accumulates each part
    *    file's true lon/lat extent as rows stream through it and
    *    stamps the per-file bbox at close (`geobbox=auto`).
    *
    * The parsed rows stay persisted so the error store (rare) is a
    * cache read, not a second gzip parse.
    */
  def convertFile(spark: SparkSession, task: FileTask,
      geoMetadata: Boolean = true): (Long, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.count
    val rows = WodSource.read(spark, task.src)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val obs = Observation()
      // Stays in InternalRow land end-to-end: observe counts both
      // channels (cast columns are null in error rows, so geohash3
      // counts casts), then the cast branch drops the metadata columns.
      val writer = rows
        .observe(obs, count(col("geohash3")).as("n_casts"),
          count(col(ErrorColumn)).as("n_errors"))
        .filter(col(ErrorColumn).isNull)
        .drop(SourceFileColumn, ErrorColumn)
        .transform(tagGeohash)
        .repartition(col("geohash3"))
        // (geohash3, geohash) orders identically to plain geohash
        // (geohash3 IS its 3-char prefix) but ALSO satisfies the
        // dynamic-partition writer's required ordering on the
        // partition column, so FileFormatWriter plans NO second sort
        // before fan-out into the geohash3= dirs.
        .sortWithinPartitions(col("geohash3"), col("geohash"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("geohash3")
      if (geoMetadata)
        writer.format(classOf[GeoParquetFileFormat].getName)
          .option(GeoParquetFileFormat.GeoAutoOption, "auto")
          .save(task.outStore)
      else writer.parquet(task.outStore)
      val (nCasts, nErrors) = channelCounts(obs, rows)
      // through the CastError encoder: a field of the nullable `_error`
      // struct would turn the store's non-null castNumber nullable
      if (nErrors > 0)
        rows.filter(col(ErrorColumn).isNotNull).select(s"$ErrorColumn.*")
          .as[CastError].map(identity).toDF()
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(task.errStore)
      (nCasts, nErrors)
    } finally rows.unpersist()
  }

  /** Channel counts from the write job's observed metrics, with a
    * cached-agg fallback: when the cast channel is EMPTY (an all-error
    * file), AQE replaces the empty write subtree — CollectMetrics node
    * included — with an empty relation, and the Observation never
    * receives its row. The fallback agg runs on the persisted rows
    * (a cache scan, not a re-parse) only in that rare case.
    */
  private def channelCounts(obs: org.apache.spark.sql.Observation,
      rows: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.count
    val m = obs.get // returns once the action completes; may be empty
    if (m.contains("n_casts") && m.contains("n_errors"))
      (m("n_casts").asInstanceOf[Long], m("n_errors").asInstanceOf[Long])
    else {
      val st = rows.agg(count(col("geohash3")), count(col(ErrorColumn))).head()
      (st.getLong(0), st.getLong(1))
    }
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
    import scala.collection.parallel.CollectionConverters._
    import scala.collection.parallel.ForkJoinTaskSupport
    val par = todo.par
    par.tasksupport = new ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(cfg.maxConcurrentFiles))
    val results = par.map { t =>
      var attempt = 0
      var res: FileResult = null
      while (res == null) {
        attempt += 1
        try {
          val (nc, ne) = convertFile(spark, t, cfg.geoMetadata)
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
    }.seq
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
    * over all its files, one hash exchange on (geohash3 [, salt]), one
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
    *  - SKEW GUARD: one very dense geohash3 cell would otherwise map
    *    to ONE reducer task and ONE giant parquet file (AQE skew
    *    splitting does not apply to dynamic-partition writes, and the
    *    write-side sort requirement pins the exchange). Each sub-run
    *    therefore counts rows per cell on the cached parse (a cache
    *    scan, not a re-parse) and salts any cell whose count exceeds
    *    `cfg.bulkMaxRowsPerCellFile` into ceil(n/max) deterministic
    *    shards — `xxhash64(src_file, geohash, castNumber,
    *    cruiseNumber) % factor`, so retried tasks re-derive the same
    *    shard. ceil(n/max) files per hot cell is the EXPECTED outcome
    *    (shards hash into the shuffle-partition space and can
    *    collide onto one reducer); the hard per-file bound comes from
    *    `maxRecordsPerFile` on the write, which rolls a new file at
    *    the limit. The salt feeds ONLY the exchange (dropped before
    *    the write); every output file still holds a geohash-sorted
    *    run, and an unskewed corpus (no cell over the threshold)
    *    takes the exact unsalted plan: one file per cell, no extra
    *    count job beyond the cache scan.
    *  - Per-cast (C5) and per-file IO error isolation come from the
    *    `wod` source's `_error` column ([[WodSource.read]]): a failed
    *    cast and an unreadable or damaged member each give one error
    *    row, never a task failure. Error rows land under
    *    `<output>/bulk/errors/dataset=<DS>/level=<LVL>/` with their
    *    source path. Task-level retry inside each job is Spark's own
    *    (`spark.task.maxFailures`), replacing the per-file attempt
    *    envelope (C6) here.
    *  - GeoParquet footers: same write-time `geobbox=auto` per-file
    *    true-extent stamping as [[convertFile]].
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
    import scala.collection.parallel.CollectionConverters._
    import scala.collection.parallel.ForkJoinTaskSupport
    val par = subRuns.par
    par.tasksupport = new ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(
        math.max(1, cfg.bulkConcurrency)))
    val results = par.map { case ((ds, lvl), ts) =>
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
      val committed = isComplete(spark, subStore)
      lazy val (castRows, castProv) = storeCensus(spark, subStore)
      lazy val (errRows, errProv) = storeCensus(spark, errSub)
      lazy val fresh = ts.map(t =>
        fs.makeQualified(new Path(t.src)).toString)
        .filterNot(castProv ++ errProv)
      if (committed && fresh.isEmpty) {
        println(s"[wod] bulk skip (complete): $subStore")
        BulkRun(ds, lvl, ts.size, castRows, errRows, skipped = true)
      } else {
        if (committed) println(s"[wod] bulk redo (plan grew by " +
          s"${fresh.size} files): $subStore")
        val (nc, ne) = bulkSubRun(spark, cfg, ts, subStore, errSub)
        println(s"[wod] bulk: $ds/$lvl ${ts.size} files, $nc casts, " +
          s"$ne errors -> $subStore")
        BulkRun(ds, lvl, ts.size, nc, ne, skipped = false)
      }
    }.seq
    // Root marker = "every planned sub-run committed"; stamped last so
    // a crash anywhere above leaves resume to the per-sub-run probes.
    if (!rootDone) fs.create(new Path(castStore, "_SUCCESS"), true).close()
    results
  }

  /** Row count + `src_file` provenance of a (possibly absent /
    * row-less) parquet store — one column-pruned read serves both the
    * skip branch's counts and its plan-growth check. The collect is
    * bounded by the sub-run's file count (driver-metadata scale, the
    * same order as [[plan]]'s own listing).
    */
  private def storeCensus(spark: SparkSession,
      store: String): (Long, Set[String]) = {
    import org.apache.spark.sql.functions.count
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

  /** One (dataset, level) bulk sub-run: parse its files, salt any
    * over-threshold cell, write the geohash3-partitioned sub-store +
    * error sub-store. Returns (castRows, errorRows).
    */
  private def bulkSubRun(spark: SparkSession, cfg: Config,
      tasks: Seq[FileTask], subStore: String, errSub: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, count, element_at, lit,
      pmod, typedLit, xxhash64}
    val rows = WodSource.read(spark, tasks.map(_.src).mkString(","))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Census on the cached parse, ONE job for two purposes: per-cell
      // cast counts (skew guard) and the channel totals. Error rows
      // have null cast columns, so they fold into the null-cell group
      // and n_errors sums them; the bounded collect is <= 32^3 cells + 1.
      val census = rows
        .groupBy(col("geohash3").as("cell"))
        .agg(count(col("geohash3")).as("n_casts"),
          count(col(ErrorColumn)).as("n_errors"))
        .collect()
      val nCasts = census.map(_.getLong(1)).sum
      val nErrors = census.map(_.getLong(2)).sum
      // Cells needing more than one shard, cell -> shard count. Empty
      // for an unskewed corpus.
      val hot: Map[String, Int] = census.iterator
        .filter(r => !r.isNullAt(0) && r.getLong(1) > cfg.bulkMaxRowsPerCellFile)
        .map(r => r.getString(0) ->
          math.ceil(r.getLong(1).toDouble / cfg.bulkMaxRowsPerCellFile).toInt)
        .toMap
      // ERROR SUB-STORE FIRST: the cast write's _SUCCESS is the resume
      // marker, so it must be the LAST thing this sub-run produces — a
      // crash between a cast-first write and the error write would
      // leave a store resume deems complete whose error rows are lost
      // permanently (differ reports all-error files missing forever).
      val fs = new Path(errSub).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (nErrors > 0)
        rows.filter(col(ErrorColumn).isNotNull)
          .select(col(SourceFileColumn).as("src_file"),
            col(s"$ErrorColumn.castNumber"), col(s"$ErrorColumn.error"))
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(errSub)
      else fs.delete(new Path(errSub), true) // stale errors from a prior run
      val casts = rows
        .filter(col(ErrorColumn).isNull)
        .select(col(SourceFileColumn).as("src_file") +:
          castSchema.fieldNames.toSeq.map(col): _*)
        .drop("dataset") // constant in a sub-run; the dir carries it
        .transform(tagGeohash)
      val sharded =
        if (hot.isEmpty) casts.repartition(col("geohash3"))
        else casts
          .withColumn("__shard", pmod(
            xxhash64(col("src_file"), col("geohash"), col("castNumber"),
              col("cruiseNumber")),
            coalesce(element_at(typedLit(hot), col("geohash3")), lit(1))))
          .repartition(col("geohash3"), col("__shard"))
          .drop("__shard")
      val writer = sharded
        // (geohash3, geohash) satisfies the dynamic-partition writer's
        // required ordering AND orders identically to plain geohash,
        // so FileFormatWriter plans no second sort (see convertFile).
        .sortWithinPartitions(col("geohash3"), col("geohash"))
        .write.mode(SaveMode.Overwrite)
        // Hard backstop on file size: (cell, shard) hashes into the
        // shuffle-partition space, so two shards of one hot cell CAN
        // land on the same reducer; the salt makes ceil(n/max) files
        // the EXPECTED outcome, this option makes max-rows-per-file a
        // guarantee (the writer rolls to a new file at the bound, each
        // still a sorted run).
        .option("maxRecordsPerFile", cfg.bulkMaxRowsPerCellFile)
        .partitionBy("geohash3")
      if (cfg.geoMetadata)
        writer.format(classOf[GeoParquetFileFormat].getName)
          .option(GeoParquetFileFormat.GeoAutoOption, "auto")
          .save(subStore)
      else writer.parquet(subStore)
      (nCasts, nErrors)
    } finally rows.unpersist()
  }
}
