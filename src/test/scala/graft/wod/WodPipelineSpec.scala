package graft.wod

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** End-to-end conversion on the generated corpus, asserting the
  * reference's output contract (FIXTURES.md §2): `_SUCCESS` markers,
  * `geohash3=` partition dirs, within-partition geohash sort, SUR
  * rename, error schema, resume semantics, GeoParquet footer.
  */
class WodPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: String = _ // deleted after the last test
  private def fixtures = WodFixtures.dir
  private var inDir: String = _
  private var outDir: String = _

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("wodpipe").toString
    inDir = s"$tmp/in"; outDir = s"$tmp/out"
    for (rel <- Seq("CTD/OBS/CTDO1971.gz", "SUR/OBS/SURF_ALL.gz")) {
      val dst = Paths.get(inDir, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(fixtures, rel), dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(Paths.get(tmp))

  test("convert fixtures end-to-end with the reference output contract") {
    val cfg = WodPipeline.Config(input = inDir, output = outDir,
      datasets = Seq("CTD", "SUR"), maxConcurrentFiles = 2)
    val results = WodPipeline.run(spark, cfg)
    assert(results.size === 2)
    assert(results.map(_.casts).sum > 12000) // CTD 1 + SUR 12611 casts

    // _SUCCESS + SUR rename (SURF_ALL.gz -> SUR_ALL.parquet)
    val ctdStore = s"$outDir/yearly/CTD/OBS/CTDO1971.parquet"
    val surStore = s"$outDir/yearly/SUR/OBS/SUR_ALL.parquet"
    assert(Files.exists(Paths.get(ctdStore, "_SUCCESS")))
    assert(Files.exists(Paths.get(surStore, "_SUCCESS")))

    // hive partition dirs by geohash3
    val parts = new java.io.File(surStore).listFiles
      .filter(_.isDirectory).map(_.getName)
    assert(parts.nonEmpty && parts.forall(_.startsWith("geohash3=")))

    // rows sorted by geohash within partitions
    import spark.implicits._
    val df = spark.read.parquet(surStore)
    assert(df.count() === 12611 - surErrors)
    val oneFile = new java.io.File(surStore).listFiles
      .filter(_.isDirectory).head.listFiles
      .filter(f => f.getName.endsWith(".parquet")).head
    val ghs = spark.read.parquet(oneFile.toString)
      .select("geohash").as[String].collect()
    assert(ghs.sameElements(ghs.sorted))

    // schema: nested depths present
    assert(df.schema("depths").dataType.typeName === "array")

    // GeoParquet footer on every part file
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(oneFile.toString), conf))
    val geo = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo")
    finally reader.close()
    assert(geo != null && geo.contains("\"version\":\"1.0.0\"") &&
      geo.contains("\"encoding\":\"WKB\""))
    // stamped at write time with the store's TRUE extent, not the
    // global-default bbox (and with no post-hoc rewrite pass)
    assert(geo.contains("\"bbox\":["))
    assert(!geo.contains("\"bbox\":[-180.0,-90.0,180.0,90.0]"))
  }

  private def surErrors: Long = {
    val errStore = s"$outDir/error/SUR/OBS/SUR_ALL.parquet"
    if (Files.exists(Paths.get(errStore)))
      spark.read.parquet(errStore).count()
    else 0L
  }

  test("error store (if any) has the reference CastError schema") {
    val errStore = s"$outDir/error/SUR/OBS/SUR_ALL.parquet"
    if (Files.exists(Paths.get(errStore))) {
      val df = spark.read.parquet(errStore)
      assert(df.columns.sorted === Array("castNumber", "dataset", "error"))
    }
  }

  test("resume skips completed stores; overwrite redoes them") {
    val cfg = WodPipeline.Config(input = inDir, output = outDir,
      datasets = Seq("CTD", "SUR"))
    // second run: everything complete -> nothing converted
    val again = WodPipeline.run(spark, cfg)
    assert(again.isEmpty)
  }

  test("retry envelope: a persistently failing file is retried, " +
      "recorded failed, and fails the run only under failFast") {
    // output root is a regular FILE -> every store write fails
    val blocked = Files.createTempFile(Paths.get(tmp), "wodpipe_blocked", "")
    val cfg = WodPipeline.Config(input = inDir, output = blocked.toString,
      datasets = Seq("CTD"), maxAttemptsPerFile = 2, failFast = false)
    val results = WodPipeline.run(spark, cfg)
    assert(results.size === 1)
    assert(!results.head.ok)
    assert(results.head.attempts === 2) // exhausted exactly the budget
    assert(results.head.casts === -1L)
    // same run with failFast (the default) must throw, naming the file
    val ex = intercept[IllegalStateException] {
      WodPipeline.run(spark, cfg.copy(failFast = true))
    }
    assert(ex.getMessage.contains("CTDO1971.gz"))
  }

  test("geohash3 predicate prunes to matching partition directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val store = s"$outDir/yearly/SUR/OBS/SUR_ALL.parquet"
    val aCell = new java.io.File(store).listFiles.filter(_.isDirectory)
      .head.getName.stripPrefix("geohash3=")
    val df = spark.read.parquet(store)
      .filter(col("geohash3") === aCell)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.partitionFilters.nonEmpty,
      "geohash3 filter must become a partition filter, not a data filter")
    // the scan must touch ONE partition dir, not the whole store
    assert(scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters).size === 1)
  }

  test("geohash matches cast location") {
    import spark.implicits._
    val df = spark.read.parquet(s"$outDir/yearly/CTD/OBS/CTDO1971.parquet")
    val row = df.select("latitude", "longitude", "geohash", "geohash3")
      .as[(Double, Double, String, String)].head()
    assert(row._3 === Geohash.encode(row._1, row._2))
    assert(row._4 === row._3.take(3))
    // CTD cast at 67.3981N -6.3056E — north Atlantic geohash starts gf/gk
    assert(row._3.startsWith("g"))
  }
}
