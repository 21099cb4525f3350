package graft.wod

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** CLI contract (reference entry-point parity, `Sparkler.java:134-136`):
  * the option surface maps onto the pipeline config, and BOTH modes —
  * per-file and `--bulk` — are reachable end-to-end from parsed argv,
  * exactly the path `main` takes minus the session stop.
  */
class CliSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: String = _ // deleted after the last test
  private def fixtures = WodFixtures.dir
  private var inDir: String = _
  private var outRoot: String = _

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("wodcli").toString
    inDir = s"$tmp/in"
    outRoot = s"$tmp/out"
    for (rel <- Seq("XBT/OBS/XBTO1967.gz", "DRB/OBS/DRBO2000.gz")) {
      val dst = Paths.get(inDir, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(fixtures, rel), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def afterAll(): Unit = TestDirs.deleteTree(Paths.get(tmp))

  test("parse maps every option onto the config") {
    val (cfg, bulk) = Cli.parse(Array(
      "--input", "/in", "--output", "/out",
      "--datasets", "XBT,DRB", "--levels", "OBS,STD",
      "--subset", "XBTO1967.gz",
      "--overwrite", "--max-files", "7",
      "--max-attempts", "1", "--no-fail-fast",
      "--bulk", "--bulk-max-rows-per-cell", "123", "--bulk-concurrency", "2"))
    assert(bulk)
    assert(cfg.input === "/in" && cfg.output === "/out")
    assert(cfg.datasets === Seq("XBT", "DRB"))
    assert(cfg.levels === Seq("OBS", "STD"))
    assert(cfg.subset === Seq("XBTO1967.gz"))
    assert(cfg.overwrite && !cfg.failFast)
    assert(cfg.maxConcurrentFiles === 7 && cfg.maxAttemptsPerFile === 1)
    assert(cfg.bulkMaxRowsPerCellFile === 123L && cfg.bulkConcurrency === 2)
    assertThrows[RuntimeException](Cli.parse(Array("--bogus")))
    // every store is GeoParquet: the footer opt-out is gone
    val noGeo = intercept[RuntimeException](Cli.parse(Array("--no-geo")))
    assert(noGeo.getMessage.startsWith("unknown option: --no-geo"))
    assertThrows[IllegalArgumentException](Cli.parse(Array("--bulk")))
    assert(Cli.versionLine.startsWith("graft wod-ascii-to-parquet"))
  }

  test("per-file mode end-to-end from argv") {
    val out = s"$outRoot/perfile"
    val (cfg, bulk) = Cli.parse(Array(
      "--input", inDir, "--output", out, "--datasets", "XBT,DRB"))
    assert(!bulk)
    val line = Cli.execute(spark, cfg, bulk)
    assert(line.matches("""\[wod\] done: 2 files, \d+ casts, \d+ errors"""),
      line)
    val store = spark.read.parquet(s"$out/yearly/XBT/OBS/XBTO1967.parquet")
    assert(store.count() > 0)
  }

  test("--bulk mode end-to-end from argv: corpus converted in one " +
      "shuffled job per (dataset, level)") {
    val out = s"$outRoot/bulk"
    val (cfg, bulk) = Cli.parse(Array(
      "--input", inDir, "--output", out, "--datasets", "XBT,DRB",
      "--bulk", "--bulk-max-rows-per-cell", "500000",
      "--bulk-concurrency", "2"))
    assert(bulk)
    val line = Cli.execute(spark, cfg, bulk)
    assert(line.matches(
      """\[wod\] bulk done: 2 \(dataset, level\) sub-runs, \d+ casts, \d+ errors"""),
      line)
    val store = spark.read.parquet(s"$out/bulk/casts")
    assert(store.count() > 0)
    // both datasets landed in the partitioned store
    assert(store.select("dataset").distinct().count() === 2)
    // resume: a second CLI invocation re-reports the same totals
    // without redoing work (sub-run _SUCCESS probes short-circuit)
    assert(Cli.execute(spark, cfg, bulk) === line)
  }
}
