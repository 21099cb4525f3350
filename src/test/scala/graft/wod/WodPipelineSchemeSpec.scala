package graft.wod

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** A Hadoop FileSystem registered under a NON-file scheme (`mockobj://`),
  * backed by the local disk. Running the whole pipeline through it
  * proves every component resolves its FileSystem from the path's
  * scheme — nothing shells out to `java.io.File` or assumes `file://`.
  */
class MockObjFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mockobj:///")
}

/** The portability half of the reference's s3mock integration test
  * (`SparklerExecutorTest.java:43-112` runs against an in-memory S3 on
  * :8001; this container has no s3mock/hadoop-aws jars, zero egress).
  * What an object store would surface FIRST — a component resolving
  * paths through `java.io.File`/hardcoded `file://` instead of the
  * path's own FileSystem — is exactly what a foreign scheme surfaces
  * too, so every pipeline stage here runs end-to-end on `mockobj://`:
  * listing/planning, gzip read, partitioned GeoParquet write + footer,
  * `_SUCCESS` resume probe, SUR rename, error store, differ. S3A
  * specifics this cannot cover (credentials, rename-as-copy cost,
  * cloud committers) are deployment tuning, not code-path choices.
  */
class WodPipelineSchemeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private def fixtures = WodFixtures.dir
  private var root: String = _ // local dir backing the mockobj:// tree
  private def in = s"mockobj://$root/in"
  private def out = s"mockobj://$root/out"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockobj.impl", classOf[MockObjFileSystem].getName)
    root = Files.createTempDirectory("wodscheme").toString
    for (rel <- Seq("CTD/OBS/CTDO1971.gz", "SUR/OBS/SURF_ALL.gz")) {
      val dst = Paths.get(s"$root/in", rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(fixtures, rel), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(Paths.get(root))

  private def fs =
    new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("full conversion runs on a non-file scheme") {
    val cfg = WodPipeline.Config(input = in, output = out,
      datasets = Seq("CTD", "SUR"), maxConcurrentFiles = 2)
    val results = WodPipeline.run(spark, cfg)
    assert(results.size === 2)
    assert(results.map(_.casts).sum > 12000)

    // contract checks through the scheme-resolved FS (no java.io here)
    val ctdStore = s"$out/yearly/CTD/OBS/CTDO1971.parquet"
    val surStore = s"$out/yearly/SUR/OBS/SUR_ALL.parquet" // SUR rename
    assert(fs.exists(new Path(ctdStore, "_SUCCESS")))
    assert(fs.exists(new Path(surStore, "_SUCCESS")))
    val parts = fs.listStatus(new Path(surStore))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(parts.nonEmpty && parts.forall(_.startsWith("geohash3=")))

    // re-read through the scheme
    val df = spark.read.parquet(surStore)
    assert(df.count() > 12000)

    // GeoParquet footer stamped at write time, through the scheme.
    // (plain listStatus recursion: RawLocalFileSystem's listFiles
    // located-status path can't carry a foreign scheme — a quirk of
    // the mock, not of the pipeline)
    def findPart(dir: Path): Option[Path] =
      fs.listStatus(dir).sortBy(_.getPath.getName).collectFirst {
        case st if st.isFile && st.getPath.getName.endsWith(".parquet") =>
          st.getPath
      }.orElse(fs.listStatus(dir).filter(_.isDirectory)
        .flatMap(d => findPart(d.getPath)).headOption)
    val one = findPart(new Path(surStore)).orNull
    assert(one != null)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      one, spark.sparkContext.hadoopConfiguration))
    val geo =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo")
      finally reader.close()
    assert(geo != null && geo.contains("\"version\":\"1.0.0\""))
  }

  test("resume probe and differ see completion through the scheme") {
    val cfg = WodPipeline.Config(input = in, output = out,
      datasets = Seq("CTD", "SUR"))
    assert(WodPipeline.run(spark, cfg).isEmpty) // everything complete
    assert(Differ.missing(spark, cfg).count() === 0)

    // knock out one store's _SUCCESS: differ reports it missing
    fs.delete(new Path(s"$out/yearly/CTD/OBS/CTDO1971.parquet/_SUCCESS"),
      false)
    val miss = Differ.missing(spark, cfg).collect()
    assert(miss.map(_.getString(2)).toSeq === Seq("CTDO1971.gz"))
  }
}
