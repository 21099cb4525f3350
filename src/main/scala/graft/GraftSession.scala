package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the Graft engine.
  *
  * Settings are chosen for correctness-parity with the DuckDB oracle
  * (UTC, nanos-as-long) and for scale sanity (shuffle partitions sized
  * to cores in local mode — on a real cluster this would be
  * cores×executors×2-3, or left to AQE coalescing).
  *
  * The compiled-class cache (`spark.sql.codegen.cache.maxEntries`)
  * holds [[CodegenCacheEntries]] compiled sources instead of Spark's
  * default 100. One pass of the serving mix generates about 250
  * classes, more than the default holds, so the LRU cache evicted each
  * class before its next use and every repeated action paid its Janino
  * compile again (0.5–1.5 s per pass on a 4-core host). The bound is
  * the smallest round number above the 8,198 distinct classes (from
  * 3,583 compiled sources) that `graft.Verify` generates over all 240
  * queries at sf0.01 in one JVM. It is a static conf: the JVM's first
  * generated class fixes the cache size for the driver and local-mode
  * task threads alike.
  */
object GraftSession {

  val CodegenCacheEntries = 10000

  def builder(master: String = defaultMaster,
      shufflePartitions: Int = defaultCpus): SparkSession.Builder = {
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's own extensions: SQL-surface kernels plus the
      // geohash→geohash3 partition-pruning inference rule
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // runtime bloom-filter pruning: on selective shuffle joins the
      // build side injects a bloom filter into the probe side's scan,
      // cutting shuffled bytes — free locally, significant at 100 TB
      // (explicitly on; the default has shifted across Spark releases)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // id-gather fetches (the ANN refine reads a few hundred vids
      // from a corpus-scale companion) push an In filter with far
      // more values than the stock threshold (10) — above it Spark
      // degrades the parquet pushdown to a min/max range, which is
      // the full corpus for scattered ids. Raise it so bounded
      // gathers keep row-group/page pruning.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "10000")
      .config("spark.ui.enabled", "false")
      // local `file://` FS with java.nio setPermission: without
      // libhadoop, stock LocalFileSystem FORKS `chmod` for every
      // created dir / committed file (~3 forks per part file — a
      // measured 34k process launches in 23 s of conversion fleet,
      // the dominant wod_convert term; see NioLocalFileSystem docs).
      // Same bits on disk, no forks. Cluster deploys with native IO
      // or remote FS are unaffected by construction.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      // driver testdata writes TIMESTAMP(NANOS) which the vectorized
      // parquet reader rejects; read as LongType epoch-nanos instead.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // partition dirs carry geohash cells (base32): a cell like "977"
      // must read back as the string "977", never be inferred numeric
      .config("spark.sql.sources.partitionColumnTypeInference.enabled",
        "false")
  }

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def defaultMaster: String = s"local[$defaultCpus]"

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
