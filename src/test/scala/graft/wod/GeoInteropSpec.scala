package graft.wod

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** Geometry round-trip through an EXTERNAL reader (SURVEY §7.4
  * deviation evidence): `tools/geo_interop_check.py` reads a store the
  * engine just wrote using DuckDB (parquet + footers) and a
  * from-scratch OGC WKB parser — no Spark, no shared code — and
  * asserts (1) every WKB point decodes to exactly the row's
  * (longitude, latitude); (2) every decoded point falls inside its
  * file's `geo` footer bbox; (3) footer-bbox file pruning is exact for
  * a bbox query window (prunes no matching row). The reference gets
  * the equivalent guarantee from Sedona's typed GeoParquet writer
  * (`DatasetYearTrain.java:131-137`); we assert it across
  * implementations instead.
  */
class GeoInteropSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: String = _ // deleted after the last test
  private def fixtures = WodFixtures.dir
  private var inDir: String = _
  private var outDir: String = _

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("wodgeo").toString
    inDir = s"$tmp/in"; outDir = s"$tmp/out"
    val dst = Paths.get(inDir, "XBT/OBS/XBTO1967.gz")
    Files.createDirectories(dst.getParent)
    Files.copy(Paths.get(fixtures, "XBT/OBS/XBTO1967.gz"), dst,
      StandardCopyOption.REPLACE_EXISTING)
  }

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(Paths.get(tmp))

  test("external reader round-trips WKB geometry and footer bbox " +
      "pruning is exact") {
    val cfg = WodPipeline.Config(input = inDir, output = outDir,
      datasets = Seq("XBT"))
    val results = WodPipeline.run(spark, cfg)
    assert(results.forall(_.ok) && results.map(_.casts).sum > 9000)

    val store = s"$outDir/yearly/XBT/OBS/XBTO1967.parquet"
    val out = new StringBuilder
    val proc = new ProcessBuilder(
      "python3", "tools/geo_interop_check.py", store)
      .redirectErrorStream(true).start()
    scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().foreach(l => out.append(l).append('\n'))
    val code = proc.waitFor()
    assert(code === 0, s"geo_interop_check failed:\n$out")
    assert(out.toString.contains("round-trip OK"), out.toString)
    assert(out.toString.contains("INTEROP OK"), out.toString)
  }
}
