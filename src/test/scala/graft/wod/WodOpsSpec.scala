package graft.wod

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll

import graft.TestDirs

/** The tests that read fixture members run on the generated corpus and
  * again on the reference's NOAA-written members wherever they are
  * present ([[WodFixtureSuite]]).
  */
class WodOpsSpec extends WodFixtureSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ctdAt(fixtures: String) = spark.read.format("wod")
    .load(s"$fixtures/CTD/OBS/CTDO1971.gz")

  fixtureTest("measurements view: one row per observation") { fixtures =>
    val ctd = ctdAt(fixtures)
    val m = WodOps.measurements(ctd)
    // the CTD cast has 562 levels × 3 variables, all present
    assert(m.count() === 562L * 3)
    import spark.implicits._
    val codes = m.select($"variableCode").distinct()
      .as[Int].collect().sorted
    assert(codes === Array(1, 2, 25))
  }

  fixtureTest("typed Aggregator matches the untyped depth rollup") { fixtures =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val casts = spark.read.format("wod")
      .load(fixtures)
      .as[Cast]
    val typed = casts.groupByKey(_.dataset)
      .agg(DepthStatsAggregator.toColumn.name("stats"))
      .collect().map { case (ds, st) => (ds, st.casts, st.levels, st.maxDepth) }
      .sortBy(_._1)
    val untyped = casts.toDF()
      .select($"dataset", size($"depths").cast("long").as("n"),
        expr("array_max(transform(depths, d -> d.depth))").as("mx"))
      .groupBy($"dataset")
      .agg(count(lit(1)).as("casts"), sum($"n").as("levels"),
        max($"mx").as("maxDepth"))
      .orderBy($"dataset")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        java.lang.Double.valueOf(r.getDouble(3))))
    assert(typed.map(t => (t._1, t._2, t._3)).toSeq ===
      untyped.map(t => (t._1, t._2, t._3)).toSeq)
    typed.zip(untyped).foreach { case (t, u) =>
      assert(t._4 === u._4, s"maxDepth mismatch for ${t._1}")
    }
  }

  test("missingConversions: EXCEPT semantics via anti join") {
    import spark.implicits._
    val expected = Seq(("XBT", 1967), ("XBT", 1968), ("CTD", 1971))
      .toDF("dataset", "year")
    val produced = Seq(("XBT", 1967), ("CTD", 1971))
      .toDF("dataset", "year")
    val missing = WodOps.missingConversions(expected, produced)
      .as[(String, Int)].collect()
    assert(missing.toSeq === Seq(("XBT", 1968)))
  }

  test("Cli --version surface matches the manifest-backed scheme") {
    assert(Cli.versionLine.matches("graft wod-ascii-to-parquet \\S+"))
  }

  test("corrupt gzip and empty file surface as errors, not crashes") {
    val tmp = java.nio.file.Files.createTempDirectory("wodbad")
    try {
      // corrupt gzip: header bytes only
      java.nio.file.Files.write(tmp.resolve("bad.gz"),
        Array[Byte](0x1f, 0x8b.toByte, 8, 0, 1, 2, 3))
      // empty (valid) gzip member
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(tmp.resolve("empty.gz")))
      out.close()
      val empty = WodSource.read(spark, tmp.resolve("empty.gz").toString)
      assert(empty.count() === 0)
      val bad = WodSource.read(spark, tmp.resolve("bad.gz").toString)
      // corrupt stream must not kill the job: parse yields error rows or
      // nothing, but the action completes
      val rows = bad.collect()
      assert(rows.forall(r => r.isNullAt(r.fieldIndex("castNumber")) &&
        !r.isNullAt(r.fieldIndex("_error"))))
    } finally TestDirs.deleteTree(tmp)
  }

  fixtureTest("profileStats: plausible ocean physics per depth bucket") { fixtures =>
    val ctd = ctdAt(fixtures)
    import spark.implicits._
    val stats = WodOps.profileStats(ctd).as[
      (String, Int, Long, Long, Double, Double, Double, Double)].collect()
    assert(stats.nonEmpty)
    // temperature (code 1) decreases with depth in the N Atlantic cast
    val temp = stats.filter(r => r._2 == 1).sortBy(_._3)
    assert(temp.head._8 > temp.last._8,
      s"surface max temp ${temp.head._8} should exceed deep ${temp.last._8}")
    // observation counts match level density
    assert(stats.map(_._4).sum === WodOps.measurements(ctd)
      .filter($"qcFlag" === 0 && $"depth".isNotNull).count())
  }
}
