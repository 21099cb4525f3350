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

/** Compaction contract: same rows, few files, stats-pruned cell
  * predicates, geohash order and geo footer preserved.
  */
class WodCompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: String = _ // deleted after the last test
  private def fixtures = WodFixtures.dir
  private var store: String = _
  private var compacted: String = _

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("wodcompact").toString
    val inDir = s"$tmp/in"
    for (rel <- Seq("SUR/OBS/SURF_ALL.gz")) {
      val dst = Paths.get(inDir, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(fixtures, rel), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    WodPipeline.run(spark, WodPipeline.Config(input = inDir,
      output = s"$tmp/out", datasets = Seq("SUR")))
    store = s"$tmp/out/yearly/SUR/OBS/SUR_ALL.parquet"
    compacted = s"$tmp/compacted.parquet"
  }

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(Paths.get(tmp))

  private def partFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        Seq(f)
      else Seq.empty
    walk(new java.io.File(dir))
  }

  test("row parity, file-count collapse, order and footer survive") {
    val before = spark.read.parquet(store)
    val rows = WodOps.compactStore(spark, store, compacted, files = 4)
    assert(rows === before.count())

    val filesBefore = partFiles(store).size
    val filesAfter = partFiles(compacted).size
    assert(filesBefore > 50, s"fixture store should be a file storm, " +
      s"got $filesBefore")
    assert(filesAfter <= 4, s"expected <= 4 compacted files, $filesAfter")

    // geohash3 survives as a DATA column with identical values
    import spark.implicits._
    val a = before.select("geohash", "geohash3").as[(String, String)]
      .collect().sorted
    val b = spark.read.parquet(compacted).select("geohash", "geohash3")
      .as[(String, String)].collect().sorted
    assert(a.sameElements(b))

    // within-file geohash ordering (range partition + sort)
    val one = partFiles(compacted).minBy(_.getName)
    val ghs = spark.read.parquet(one.toString)
      .select("geohash").as[String].collect()
    assert(ghs.sameElements(ghs.sorted))

    // geo footer re-stamped at write time
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(one.toString),
      spark.sparkContext.hadoopConfiguration))
    val geo =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo")
      finally reader.close()
    assert(geo != null && geo.contains("\"version\":\"1.0.0\""))

    // ... and with NO caller-supplied bbox, the footer carries the
    // file's TRUE extent: bbox == min/max lon/lat of that file's rows
    // (the auto-bbox contract; a world-default (-180,-90,180,90) or a
    // store-wide copy would both fail this).
    val ext = spark.read.parquet(one.toString)
      .agg(org.apache.spark.sql.functions.min("longitude"),
        org.apache.spark.sql.functions.min("latitude"),
        org.apache.spark.sql.functions.max("longitude"),
        org.apache.spark.sql.functions.max("latitude")).head()
    val bboxJson = geo.split("\"bbox\":\\[")(1).split("]")(0)
      .split(",").map(_.toDouble)
    assert(bboxJson.length === 4)
    assert(bboxJson(0) === ext.getDouble(0) && bboxJson(1) === ext.getDouble(1)
      && bboxJson(2) === ext.getDouble(2) && bboxJson(3) === ext.getDouble(3),
      s"footer bbox ${bboxJson.mkString(",")} != file extent $ext")
  }

  test("cell predicates push down to parquet stats on the compacted layout") {
    import spark.implicits._
    val cell = spark.read.parquet(store).select("geohash3")
      .as[String].head()
    val df = spark.read.parquet(compacted).filter(col("geohash3") === cell)
    val expected = spark.read.parquet(store)
      .filter(col("geohash3") === cell).count()
    assert(df.count() === expected && expected > 0)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(geohash3"),
      s"cell predicate must reach parquet stats: $pushed")
  }
}
