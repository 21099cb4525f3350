package graft.wod

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

import CastWriter.{oneLevel => cast}

/** The one WOD reader's error contract on rendered gzip members, through
  * SQL (`spark.read.format("wod")`), [[WodPipeline.run]] and
  * [[WodPipeline.convertBulk]]: good casts, a member with malformed
  * casts, a truncated member, a corrupt-header member and an empty one.
  */
class WodErrorChannelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: Path = _
  private def in = tmp.resolve("in")
  private def member(rel: String): String = in.resolve(rel).toString
  private def qualified(rel: String): String = "file:" + member(rel)

  /** gzip with a sync flush after each record; returns the member and
    * the compressed length after each record.
    */
  private def gzip(records: Seq[String]): (Array[Byte], Seq[Int]) = {
    val bytes = new ByteArrayOutputStream
    val gz = new GZIPOutputStream(bytes, true)
    val ends = records.map { r => gz.write(r.getBytes(US_ASCII)); gz.flush(); bytes.size }
    gz.close()
    (bytes.toByteArray, ends)
  }

  private def write(rel: String, bytes: Array[Byte]): Unit = {
    val p = in.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private val good = 1 to 20
  private val truncated = 201 to 230
  // cast 104 has a bad final flag (parse error), 107 no location
  // (transform error)
  private val malformedErrors = Seq(104, 107)
  private val cutCast = 220
  private var truncPrefix: Array[Byte] = _

  /** Expected valid cast numbers and error cast numbers per member. */
  private val expected = Map(
    "CTD/OBS/GOOD.gz" -> (good, Seq.empty[Int]),
    "CTD/OBS/MALFORMED.gz" -> ((101 to 110).filterNot(malformedErrors.contains),
      malformedErrors),
    "XBT/OBS/TRUNC.gz" -> (truncated.filter(_ < cutCast), Seq(-1)),
    "XBT/OBS/HEADER.gz" -> (Seq.empty[Int], Seq(-1)),
    "XBT/OBS/EMPTY.gz" -> (Seq.empty[Int], Seq.empty[Int]))

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("woderr")
    write("CTD/OBS/GOOD.gz", gzip(good.map(cast(_)))._1)
    write("CTD/OBS/MALFORMED.gz", gzip((101 to 110).map {
      case 104 =>
        val r = cast(104)
        val core = r.stripTrailing()
        core.init + "~" + r.drop(core.length)
      case 107 => cast(107, located = false)
      case n => cast(n)
    })._1)
    // cut halfway through cast 220's compressed bytes
    val (gz, ends) = gzip(truncated.map(cast(_)))
    val j = truncated.indexOf(cutCast)
    truncPrefix = gz.take((ends(j - 1) + ends(j)) / 2)
    write("XBT/OBS/TRUNC.gz", truncPrefix)
    write("XBT/OBS/HEADER.gz", Array[Byte](0x1f, 0x8b.toByte, 8, 0, 1, 2, 3))
    write("XBT/OBS/EMPTY.gz", gzip(Nil)._1)
  }

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(tmp)

  private def castNumbers(rows: Array[Row]): Seq[Int] =
    rows.filter(_.isNullAt(1)).map(_.getInt(0)).toSeq.sorted

  test("a plain read returns exactly the valid casts") {
    val rows = spark.read.format("wod").load(in.toString)
      .select("castNumber").collect()
    assert(rows.map(_.getInt(0)).toSeq.sorted ===
      expected.values.flatMap(_._1).toSeq.sorted)
  }

  test("a read that references _error adds exactly the expected error rows") {
    val rows = spark.read.format("wod").load(in.toString)
      .select(col("castNumber"), col("_error"), col("_source_file"),
        col("geohash3"))
      .collect()
    val byFile = rows.groupBy(_.getString(2))
    assert(byFile.keySet === expected.keySet.filter(_ != "XBT/OBS/EMPTY.gz")
      .map(qualified))
    for ((rel, (casts, errors)) <- expected) {
      val rs = byFile.getOrElse(qualified(rel), Array.empty[Row])
      assert(castNumbers(rs) === casts, rel)
      val errs = rs.filterNot(_.isNullAt(1))
      assert(errs.map(_.getStruct(1).getInt(1)).toSeq.sorted === errors, rel)
      assert(errs.forall(r => r.isNullAt(0) && r.isNullAt(3)),
        s"$rel: cast columns must be null in error rows")
      errs.map(_.getStruct(1)).foreach { e =>
        assert(e.getString(0) === rel.split("/").head)
        if (e.getInt(1) == -1) assert(e.getString(2).contains(qualified(rel)))
      }
    }
  }

  test("a truncated member keeps every complete cast before the cut, " +
      "then one error row naming the file") {
    // the cut really falls inside cast 220: the decodable prefix holds
    // casts 201..219 whole and cast 220 only in part
    val decoded = new ByteArrayOutputStream
    val gz = new GZIPInputStream(new ByteArrayInputStream(truncPrefix))
    try {
      val b = new Array[Byte](1)
      while (gz.read(b) > 0) decoded.write(b)
    } catch { case _: EOFException => () }
    val before = truncated.takeWhile(_ < cutCast).map(cast(_).length).sum
    assert(decoded.size > before - 1 && decoded.size < before + cast(cutCast).length)

    val rows = spark.read.format("wod").load(member("XBT/OBS/TRUNC.gz"))
      .select(col("castNumber"), col("_error")).collect()
    assert(castNumbers(rows) === truncated.filter(_ < cutCast))
    val errs = rows.filterNot(_.isNullAt(1)).map(_.getStruct(1))
    assert(errs.length === 1)
    assert(errs.head.getString(2).contains(qualified("XBT/OBS/TRUNC.gz")))
  }

  test("corrupt gzip header: one error row, no task failure; an empty " +
      "member: no rows") {
    val header = member("XBT/OBS/HEADER.gz")
    assert(spark.read.format("wod").load(header).count() === 0)
    val errs = spark.read.format("wod").load(header).select("_error").collect()
    assert(errs.length === 1 && errs.head.getStruct(0).getInt(1) === -1)
    assert(spark.read.format("wod").load(member("XBT/OBS/EMPTY.gz"))
      .select("_error", "castNumber").collect().isEmpty)
  }

  test("_source_file is the fully qualified path for every kind of load") {
    def sources(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("_source_file").distinct().collect().map(_.getString(0)).toSet
    val file = "CTD/OBS/GOOD.gz"
    assert(sources(spark.read.format("wod").load(member(file))) ===
      Set(qualified(file)))
    assert(sources(spark.read.format("wod").load(in.resolve("CTD").toString)) ===
      Set(qualified(file), qualified("CTD/OBS/MALFORMED.gz")))
  }

  test("load(a, b) reads both members") {
    val (a, b) = (member("CTD/OBS/GOOD.gz"), member("XBT/OBS/TRUNC.gz"))
    def n(paths: String*) = spark.read.format("wod").load(paths: _*).count()
    assert(n(a, b) === n(a) + n(b))
    assert(n(a, b) === good.size + truncated.count(_ < cutCast))
    // (collected, not counted: a count prunes `_error` away, and error
    // rows appear only in scans that reference it)
    assert(WodSource.read(spark, s"$a,$b").collect().length === n(a, b) + 1)
  }

  private def footer(store: String): String = {
    val part = Files.walk(Paths.get(store))
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .findFirst().get
    val conf = spark.sparkContext.hadoopConfiguration
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.toString), conf))
    try r.getFooter.getFileMetaData.getSchema.toString.trim finally r.close()
  }

  test("WodPipeline.run: exact per-store counts, unchanged error-store schema") {
    val out = tmp.resolve("perfile").toString
    val results = WodPipeline.run(spark, WodPipeline.Config(input = in.toString,
      output = out, datasets = Seq("CTD", "XBT")))
    val got = results.map(r => Paths.get(r.task.src).getFileName.toString ->
      (r.casts, r.errors)).toMap
    assert(got === expected.map { case (rel, (c, e)) =>
      rel.split("/").last -> (c.size.toLong, e.size.toLong) })
    for (r <- results) {
      assert(WodPipeline.isComplete(spark, r.task.outStore))
      if (r.casts > 0)
        assert(spark.read.parquet(r.task.outStore).count() === r.casts)
      if (r.errors > 0) {
        assert(spark.read.parquet(r.task.errStore).count() === r.errors)
        assert(footer(r.task.errStore) ===
          """message spark_schema {
            |  optional binary dataset (STRING);
            |  required int32 castNumber;
            |  optional binary error (STRING);
            |}""".stripMargin)
      }
    }
  }

  test("convertBulk: exact per-sub-run counts, unchanged error-store " +
      "schema, and a second run skips a complete sub-run") {
    val cfg = WodPipeline.Config(input = in.toString,
      output = tmp.resolve("bulk").toString, datasets = Seq("CTD", "XBT"))
    def totals(ds: String) = {
      val files = expected.filter(_._1.startsWith(ds)).values
      (files.map(_._1.size.toLong).sum, files.map(_._2.size.toLong).sum)
    }
    val runs = WodPipeline.convertBulkDetailed(spark, cfg)
    assert(runs.map(r => r.dataset -> (r.casts, r.errors)).toMap ===
      Map("CTD" -> totals("CTD"), "XBT" -> totals("XBT")))
    val errStore = s"${cfg.output}/bulk/errors"
    val errs = spark.read.parquet(errStore)
      .groupBy("src_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(errs === expected.collect { case (rel, (_, e)) if e.nonEmpty =>
      qualified(rel) -> e.size.toLong })
    assert(footer(s"$errStore/dataset=CTD/level=OBS") ===
      """message spark_schema {
        |  optional binary src_file (STRING);
        |  optional int32 castNumber;
        |  optional binary error (STRING);
        |}""".stripMargin)
    val casts = spark.read.parquet(s"${cfg.output}/bulk/casts")
    assert(casts.count() === runs.map(_.casts).sum)
    assert(casts.columns.take(2) === Array("src_file", "castNumber"))
    // both slices skip on resume, XBT too: its empty member leaves no
    // src_file row in either store, but the sub-run's commit recorded
    // it as a planned input
    assert(WodPipeline.convertBulkDetailed(spark, cfg)
      .map(r => r.dataset -> r.skipped) === Seq("CTD" -> true,
        "XBT" -> true))
  }
}
