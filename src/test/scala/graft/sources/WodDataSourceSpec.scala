package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs
import graft.wod.{CastWriter, WodFixtures}

/** The `wod` DSv2 source over members rendered with [[CastWriter]] in
  * the `<DATASET>/<LEVEL>/<FILE>.gz` layout: six members over five
  * datasets, one of them a 562-level cast.
  */
class WodDataSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var root: Path = _
  private def member(rel: String): String = root.resolve(rel).toString

  // XBTO1967: 30 one-level casts of 1967, even numbers US, odd JP
  private val xbt = 1000 until 1030
  private def xbtCast(n: Int): String =
    CastWriter.profile(n, if (n % 2 == 0) "US" else "JP", 1967,
      (12000L + n, 3), (-40000L - n, 3), 1)
  // CTDO1971: the 562-level cast first, then four one-level casts
  private val deepCast = 19950762
  private val deepLevels = 562
  private val ctdTail = 2000 until 2004
  // (member, cast count)
  private val members = Seq(
    "XBT/OBS/XBTO1967.gz" -> xbt.size,
    "XBT/STD/XBTS1967.gz" -> 3,
    "CTD/OBS/CTDO1971.gz" -> (1 + ctdTail.size),
    "APB/OBS/APBO2001.gz" -> 2,
    "DRB/OBS/DRBO2002.gz" -> 2,
    "SUR/OBS/SURO2003.gz" -> 2)

  private def write(rel: String, casts: Seq[String]): Unit =
    CastWriter.writeMember(root.resolve(rel), casts)

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    root = Files.createTempDirectory("wodds")
    write("XBT/OBS/XBTO1967.gz", xbt.map(xbtCast))
    write("CTD/OBS/CTDO1971.gz",
      CastWriter.profile(deepCast, "GB", 1971, (673981L, 4), (-63056L, 4),
        deepLevels) +: ctdTail.map(n =>
        CastWriter.profile(n, "GB", 1971, (600000L, 4), (-50000L, 4), 1)))
    for ((rel, n) <- members if !Set("XBT/OBS/XBTO1967.gz",
        "CTD/OBS/CTDO1971.gz")(rel))
      write(rel, (1 to n).map(CastWriter.oneLevel(_)))
  }

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(root)

  test("spark.read.format(wod) over one member") {
    val df = spark.read.format("wod").load(member("XBT/OBS/XBTO1967.gz"))
    assert(df.count() === xbt.size)
    assert(df.schema.fieldNames.contains("geohash3"))
    // column pruning + predicate work through the scan
    import spark.implicits._
    val us = df.filter($"country" === "US")
    assert(us.select($"year").distinct().as[Int].collect() === Array(1967))
    assert(us.select($"castNumber").as[Int].collect().sorted ===
      xbt.filter(_ % 2 == 0).toArray)
  }

  test("directory load: one partition per gz member") {
    val df = spark.read.format("wod").load(root.toString)
    assert(df.rdd.getNumPartitions === members.size)
    assert(df.count() === members.map(_._2).sum)
    // dataset inferred from <DATASET>/<LEVEL>/<FILE> layout
    import spark.implicits._
    val ds = df.select($"dataset").distinct().as[String].collect().sorted
    assert(ds === Array("APB", "CTD", "DRB", "SUR", "XBT"))
  }

  test("column pruning reaches the wod scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = spark.read.format("wod")
      .load(member("CTD/OBS/CTDO1971.gz"))
      .select("castNumber", "geohash3")
    df.count()
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans.nonEmpty)
    assert(scans.head.toSet === Set("castNumber", "geohash3"),
      s"scan must read only required columns, got ${scans.head}")
    assert(df.head().getInt(0) === deepCast)
  }

  test("nested pruning at parse time: a header-only projection builds " +
      "ZERO per-depth structs, a depths projection builds them, and " +
      "the accepted-cast set is projection-independent") {
    import graft.wod.CastParser
    val f = member("CTD/OBS/CTDO1971.gz")
    CastParser.levelStructsBuilt.set(0L)
    val headerOnly = spark.read.format("wod").load(f)
      .select("castNumber", "geohash3")
    val nHeader = headerOnly.count()
    assert(CastParser.levelStructsBuilt.get() === 0L,
      "header-only scans must never build per-depth structs")
    // a depths-READING action (count() alone would prune depths away
    // again) must build exactly one struct per level
    val row = spark.read.format("wod").load(f)
      .selectExpr("count(*) AS n", "sum(size(depths)) AS levels")
      .head()
    val (nFull, totalLevels) = (row.getLong(0), row.getLong(1))
    assert(totalLevels === deepLevels + ctdTail.size)
    assert(CastParser.levelStructsBuilt.get() === totalLevels,
      s"a depths projection must build one struct per level " +
        s"(built ${CastParser.levelStructsBuilt.get()}, " +
        s"levels $totalLevels)")
    // validate-but-don't-allocate: the profile section is decoded in
    // both modes, so projection can never change the row set
    assert(nHeader === nFull,
      "the accepted-cast set must be identical in every projection")
    assert(nHeader === 1 + ctdTail.size)
    assert(headerOnly.head().getInt(0) === deepCast)
  }

  test("SQL over the wod source") {
    spark.read.format("wod").load(member("CTD/OBS/CTDO1971.gz"))
      .createOrReplaceTempView("wod_casts")
    val row = spark.sql(
      """SELECT castNumber, size(depths) AS n_depths, geohash3
         FROM wod_casts""").head()
    assert(row.getInt(0) === deepCast)
    assert(row.getInt(1) === deepLevels)
    assert(row.getString(2) ===
      graft.wod.Geohash.encode(67.3981, -6.3056).take(3))
  }
}
