package graft.wod

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** Completeness differ: expected-minus-produced over synthesized
  * listings (the differ plans from file METADATA only, so the inputs
  * can be empty marker files — no parse involved).
  */
class DifferSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: java.nio.file.Path = _
  private var inDir: String = _
  private var outDir: String = _

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("differ")
    inDir = s"$tmp/in"; outDir = s"$tmp/out"
    // three expected inputs across two datasets (SUR exercises rename)
    for (rel <- Seq("CTD/OBS/CTDO1971.gz", "CTD/OBS/CTDO1972.gz",
        "SUR/OBS/SURF_ALL.gz")) {
      val p = Paths.get(inDir, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.emptyByteArray)
    }
    // produced: 1971 complete; SUR complete-but-crashed (_temporary
    // residue); 1972 absent entirely
    for ((store, residue) <- Seq(
        ("yearly/CTD/OBS/CTDO1971.parquet", false),
        ("yearly/SUR/OBS/SUR_ALL.parquet", true))) {
      val d = Paths.get(outDir, store)
      Files.createDirectories(d)
      Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
      if (residue) Files.createDirectories(d.resolve("_temporary"))
    }
  }

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(tmp)

  test("missing = never produced + crash residue, not the complete one") {
    val cfg = WodPipeline.Config(input = inDir, output = outDir,
      datasets = Seq("CTD", "SUR"))
    val got = Differ.missing(spark, cfg)
      .select("dataset", "file").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === Seq(("CTD", "CTDO1972.gz"), ("SUR", "SURF_ALL.gz")))
  }

  test("runnable report: one csv line per missing conversion") {
    val report = Files.createTempDirectory(tmp, "differrep").resolve("missing.csv")
    // main() spins its own session via getOrCreate -> same test session
    Differ.main(Array(inDir, outDir, report.toString))
    val lines = Files.readAllLines(report)
    assert(lines.size === 2)
    assert(lines.get(0) === "CTD,OBS,CTDO1972.gz")
    assert(lines.get(1) === "SUR,OBS,SURF_ALL.gz")
  }
}
