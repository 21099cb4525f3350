package graft.wod

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** Bulk-mode contract ([[WodPipeline.convertBulk]] — the O(datasets)
  * jobs many-small-files scale path): identical content to the per-file
  * pipeline, per-file IO error isolation preserved, partition-pruned
  * cell predicates, write-time geo footers.
  */
class WodBulkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: String = _ // every test's scratch dir is under it
  private def fixtures = WodFixtures.dir
  private var inDir: String = _
  private var bulkOut: String = _
  private var perFileOut: String = _
  private var bulkCasts: Long = 0
  private var bulkErrors: Long = 0

  private def scratchDir(prefix: String): String =
    Files.createTempDirectory(Paths.get(tmp), prefix).toString

  private def castStore = s"$bulkOut/bulk/casts"
  private def errStore = s"$bulkOut/bulk/errors"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("wodbulk").toString
    inDir = s"$tmp/in"
    bulkOut = s"$tmp/bulk"
    perFileOut = s"$tmp/perfile"
    for (rel <- Seq("XBT/OBS/XBTO1967.gz", "DRB/OBS/DRBO2000.gz")) {
      val dst = Paths.get(inDir, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(fixtures, rel), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    // a corrupt member: must become error rows, never a job failure
    Files.write(Paths.get(inDir, "XBT/OBS/BROKEN.gz"),
      Array[Byte](0x1f, 0x0b, 0x00, 0x42, 0x42, 0x42))
    val cfg = WodPipeline.Config(input = inDir, output = bulkOut,
      datasets = Seq("XBT", "DRB"))
    val (c, e) = WodPipeline.convertBulk(spark, cfg)
    bulkCasts = c
    bulkErrors = e
    WodPipeline.run(spark, cfg.copy(output = perFileOut))
  }

  override def afterAll(): Unit = TestDirs.deleteTree(Paths.get(tmp))

  test("bulk store carries exactly the per-file pipeline's rows") {
    // (castNumber, cruiseNumber, geohash) identifies a cast across
    // both layouts (per-file stores carry dataset only in their path)
    val key = Seq(col("castNumber"), col("cruiseNumber"), col("geohash"))
    val bulk = spark.read.parquet(castStore).select(key: _*)
    // each per-file store is its own partitioned root — read separately
    val perFile = spark.read
      .parquet(s"$perFileOut/yearly/XBT/OBS/XBTO1967.parquet")
      .select(key: _*)
      .unionAll(spark.read
        .parquet(s"$perFileOut/yearly/DRB/OBS/DRBO2000.parquet")
        .select(key: _*))
    assert(bulk.exceptAll(perFile).count() === 0)
    assert(perFile.exceptAll(bulk).count() === 0)
    assert(bulkCasts === spark.read.parquet(castStore).count())
  }

  test("corrupt member lands in the bulk error store, job completes") {
    assert(bulkErrors >= 1)
    val errs = spark.read.parquet(errStore)
    assert(errs.filter(col("src_file").endsWith("BROKEN.gz")).count() >= 1)
  }

  test("src_file provenance survives into the bulk store") {
    val perSrc = spark.read.parquet(castStore)
      .groupBy(col("src_file")).count().collect()
      .map(r => (r.getString(0).split("/").last, r.getLong(1))).toMap
    assert(perSrc.keySet === Set("XBTO1967.gz", "DRBO2000.gz"))
    assert(perSrc.values.sum === bulkCasts)
  }

  test("dataset+cell predicate prunes the bulk scan to one directory") {
    val cell = spark.read.parquet(castStore)
      .filter(col("dataset") === "XBT")
      .select(col("geohash3")).head().getString(0)
    val df = spark.read.parquet(castStore)
      .filter(col("dataset") === "XBT" && col("geohash3") === cell)
    df.collect() // execute THIS QueryExecution so its scan metrics fill
    val scan = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collectFirst { case s: FileSourceScanExec => s }.get
    val pf = scan.partitionFilters.map(_.toString).mkString(",")
    assert(pf.contains("dataset") && pf.contains("geohash3"),
      s"both partition columns must prune: $pf")
    val dirFiles = Files.list(
      Paths.get(castStore, "dataset=XBT", "level=OBS", s"geohash3=$cell"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .count()
    assert(scan.metrics("numFiles").value === dirFiles,
      "scan must read only the one selected partition directory")
  }

  test("bulk part files carry write-time true-extent geo footers") {
    import scala.jdk.CollectionConverters._
    val one = Files.walk(Paths.get(castStore)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(one.toString),
      spark.sparkContext.hadoopConfiguration))
    val geo =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo")
      finally reader.close()
    assert(geo != null && geo.contains("\"version\":\"1.0.0\""), geo)
    val ext = spark.read.parquet(one.toString)
      .agg(org.apache.spark.sql.functions.min("longitude"),
        org.apache.spark.sql.functions.min("latitude"),
        org.apache.spark.sql.functions.max("longitude"),
        org.apache.spark.sql.functions.max("latitude")).head()
    val bbox = geo.split("\"bbox\":\\[")(1).split("]")(0)
      .split(",").map(_.toDouble)
    assert(bbox(0) === ext.getDouble(0) && bbox(1) === ext.getDouble(1)
      && bbox(2) === ext.getDouble(2) && bbox(3) === ext.getDouble(3),
      s"footer bbox ${bbox.mkString(",")} != file extent $ext")
  }

  test("bulk differ: every input accounted for (errors included), a " +
      "late-added file surfaces as missing") {
    val cfg = WodPipeline.Config(input = inDir, output = bulkOut,
      datasets = Seq("XBT", "DRB"))
    // BROKEN.gz contributed only error rows — still processed
    assert(Differ.missingInBulk(spark, cfg).count() === 0)
    // a file added AFTER the run is exactly what shows up
    Files.copy(Paths.get(fixtures, "XBT/OBS/XBTO1967.gz"),
      Paths.get(inDir, "XBT/OBS/LATE.gz"),
      StandardCopyOption.REPLACE_EXISTING)
    try {
      val miss = Differ.missingInBulk(spark, cfg).collect()
      assert(miss.length === 1 && miss(0).getString(2) === "LATE.gz",
        miss.mkString(";"))
    } finally Files.delete(Paths.get(inDir, "XBT/OBS/LATE.gz"))
  }

  test("unskewed corpus: exactly one file per cell dir") {
    import scala.jdk.CollectionConverters._
    val cellDirs = Files.walk(Paths.get(castStore)).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("geohash3=")).toSeq
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val n = Files.list(d)
        .filter(_.getFileName.toString.endsWith(".parquet")).count()
      assert(n === 1, s"$d must hold exactly one file, found $n")
    }
  }

  test("skew guard: an over-threshold cell splits into multiple files, " +
      "each a sorted run, content intact") {
    import scala.jdk.CollectionConverters._
    val tmp = scratchDir("wodskew")
    // replicate one fixture 3x: same cells, 3x the density, distinct
    // src_file provenance
    val skewIn = s"$tmp/in"
    for (i <- 1 to 3) {
      val dst = Paths.get(skewIn, s"XBT/OBS/XBTO1967_R$i.gz")
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(fixtures, "XBT/OBS/XBTO1967.gz"), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    def convert(out: String, threshold: Long) =
      WodPipeline.convertBulk(spark, WodPipeline.Config(input = skewIn,
        output = out, datasets = Seq("XBT"),
        bulkMaxRowsPerCellFile = threshold))
    convert(s"$tmp/salted", 25L)
    convert(s"$tmp/plain", Long.MaxValue)
    val salted = spark.read.parquet(s"$tmp/salted/bulk/casts")
    val plain = spark.read.parquet(s"$tmp/plain/bulk/casts")
    // content parity between the bounded and the unbounded write
    val key = Seq(col("src_file"), col("castNumber"), col("cruiseNumber"),
      col("geohash"))
    assert(salted.select(key: _*).exceptAll(plain.select(key: _*))
      .count() === 0)
    assert(plain.select(key: _*).exceptAll(salted.select(key: _*))
      .count() === 0)
    val cells = salted.groupBy(col("geohash3")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dense = cells.filter(_._2 >= 200) // factor >= 8: split certain
    assert(dense.nonEmpty,
      s"fixture must have a dense cell; counts: ${cells.values.max}")
    def cellFiles(out: String, cell: String) = Files.list(
      Paths.get(s"$out/bulk/casts", "dataset=XBT", "level=OBS",
        s"geohash3=$cell"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .iterator().asScala.toSeq
    dense.keys.foreach { cell =>
      val files = cellFiles(s"$tmp/salted", cell)
      assert(files.size >= 2,
        s"dense cell $cell (${cells(cell)} rows) must shard, " +
          s"got ${files.size} file(s)")
      // every shard is still a geohash-sorted run
      files.foreach { f =>
        val gh = spark.read.parquet(f.toString)
          .select(col("geohash")).collect().map(_.getString(0))
        assert(gh.sameElements(gh.sorted), s"$f not sorted by geohash")
      }
      assert(cellFiles(s"$tmp/plain", cell).size === 1,
        s"unsalted run must keep one file for $cell")
    }
    // HARD per-file bound: maxRecordsPerFile rolls the file at the
    // limit (each file's row count read from its parquet footer)
    import java.nio.file.Path
    Files.walk(Paths.get(s"$tmp/salted/bulk/casts")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { f: Path =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString),
          spark.sparkContext.hadoopConfiguration))
        val n = try reader.getRecordCount finally reader.close()
        assert(n <= 25L, s"$f holds $n rows, over the hard 25-row bound")
      }
    // under-threshold cells stay single-file even in the salted run
    cells.filter(_._2 <= 25).keys.foreach { cell =>
      assert(cellFiles(s"$tmp/salted", cell).size === 1)
    }
  }

  test("incremental resume: completed sub-runs are skipped when the " +
      "plan grows; crash residue forces a redo") {
    val tmp = scratchDir("wodincr")
    val out = s"$tmp/out"
    def cfg(ds: String*) = WodPipeline.Config(input = inDir,
      output = out, datasets = ds)
    val first = WodPipeline.convertBulkDetailed(spark, cfg("XBT"))
    assert(first.map(r => (r.dataset, r.skipped)) === Seq(("XBT", false)))
    val xbtSuccess = Paths.get(out,
      "bulk/casts/dataset=XBT/level=OBS/_SUCCESS")
    val t0 = Files.getLastModifiedTime(xbtSuccess).toMillis
    // plan grows: XBT sub-run must be skipped, DRB must run
    val second = WodPipeline.convertBulkDetailed(spark, cfg("XBT", "DRB"))
    assert(second.map(r => (r.dataset, r.skipped)).toSet ===
      Set(("XBT", true), ("DRB", false)))
    assert(Files.getLastModifiedTime(xbtSuccess).toMillis === t0,
      "skipped sub-run must not be rewritten")
    assert(second.map(_.casts).sum === bulkCasts)
    assert(second.map(_.errors).sum === bulkErrors)
    // crash residue in one sub-store: _SUCCESS gone, _temporary left
    val drbStore = Paths.get(out, "bulk/casts/dataset=DRB/level=OBS")
    Files.delete(drbStore.resolve("_SUCCESS"))
    Files.createDirectories(drbStore.resolve("_temporary"))
    val third = WodPipeline.convertBulkDetailed(spark, cfg("XBT", "DRB"))
    assert(third.map(r => (r.dataset, r.skipped)).toSet ===
      Set(("XBT", true), ("DRB", false)),
      "a sub-store with crash residue must be redone")
    assert(!Files.exists(drbStore.resolve("_temporary")))
    assert(third.map(_.casts).sum === bulkCasts)
  }

  test("partial-store differ: uncommitted sub-runs' files are missing, " +
      "committed ones are not — across MULTIPLE committed sub-stores " +
      "and MULTIPLE error sub-stores") {
    val tmp = scratchDir("wodpart")
    val in2 = s"$tmp/in"
    val out = s"$tmp/out"
    // two datasets, EACH with a corrupt member (so two committed cast
    // sub-stores AND two error sub-stores — the multi-root reads that
    // need basePath to not trip partition discovery), plus a third
    // dataset that is planned but never converted
    for (rel <- Seq("XBT/OBS/XBTO1967.gz", "DRB/OBS/DRBO2000.gz",
        "APB/OBS/APBO1997.gz")) {
      val dst = Paths.get(in2, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(fixtures, rel), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    for (rel <- Seq("XBT/OBS/BAD1.gz", "DRB/OBS/BAD2.gz"))
      Files.write(Paths.get(in2, rel),
        Array[Byte](0x1f, 0x0b, 0x00, 0x42, 0x42, 0x42))
    WodPipeline.convertBulk(spark, WodPipeline.Config(input = in2,
      output = out, datasets = Seq("XBT", "DRB")))
    assert(Files.exists(Paths.get(out, "bulk/errors/dataset=XBT")) &&
      Files.exists(Paths.get(out, "bulk/errors/dataset=DRB")),
      "both sub-runs must have committed an error sub-store")
    val miss = Differ.missingInBulk(spark, WodPipeline.Config(
      input = in2, output = out, datasets = Seq("XBT", "DRB", "APB")))
      .collect()
    assert(miss.map(_.getString(2)).toSeq === Seq("APBO1997.gz"),
      miss.mkString(";"))
  }

  test("plan growth inside a committed sub-run forces a redo (a " +
      "late-added .gz is converted without overwrite)") {
    val tmp = scratchDir("wodgrow")
    val in2 = s"$tmp/in"
    val out = s"$tmp/out"
    val dst = Paths.get(in2, "XBT/OBS/XBTO1967.gz")
    Files.createDirectories(dst.getParent)
    Files.copy(Paths.get(fixtures, "XBT/OBS/XBTO1967.gz"), dst,
      StandardCopyOption.REPLACE_EXISTING)
    def cfg = WodPipeline.Config(input = in2, output = out,
      datasets = Seq("XBT"))
    val first = WodPipeline.convertBulkDetailed(spark, cfg)
    assert(first.map(_.skipped) === Seq(false))
    val n1 = first.head.casts
    // same plan -> skip (provenance covers everything)
    assert(WodPipeline.convertBulkDetailed(spark, cfg)
      .map(_.skipped) === Seq(true))
    // a file lands in the ALREADY-COMMITTED sub-run's directory: the
    // sub-store's _SUCCESS alone would skip it forever; the provenance
    // check must redo the slice and pick it up
    Files.copy(Paths.get(fixtures, "XBT/OBS/XBTO1967.gz"),
      Paths.get(in2, "XBT/OBS/LATE.gz"),
      StandardCopyOption.REPLACE_EXISTING)
    val third = WodPipeline.convertBulkDetailed(spark, cfg)
    assert(third.map(_.skipped) === Seq(false),
      "grown plan must redo the committed sub-run")
    assert(third.head.casts === 2 * n1)
    val prov = spark.read.parquet(s"$out/bulk/casts")
      .select(col("src_file")).distinct().collect()
      .map(_.getString(0).split("/").last).toSet
    assert(prov === Set("XBTO1967.gz", "LATE.gz"))
    // and the differ agrees the store is now complete
    assert(Differ.missingInBulk(spark, cfg).count() === 0)
  }

  test("bulk resume: a complete store is not rewritten") {
    val before = Files.getLastModifiedTime(
      Paths.get(castStore, "_SUCCESS")).toMillis
    val (c, e) = WodPipeline.convertBulk(spark, WodPipeline.Config(
      input = inDir, output = bulkOut, datasets = Seq("XBT", "DRB")))
    assert(c === bulkCasts && e === bulkErrors)
    val after = Files.getLastModifiedTime(
      Paths.get(castStore, "_SUCCESS")).toMillis
    assert(after === before, "resume must skip the completed bulk store")
  }
}
