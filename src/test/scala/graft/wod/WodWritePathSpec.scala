package graft.wod

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import CastWriter.{oneLevel => cast}

/** The one write path of [[WodPipeline.convertFile]] and
  * [[WodPipeline.convertBulk]]: its commit order (the cast store's
  * `_SUCCESS` comes last), its Spark job counts, and one write task
  * per geohash3 cell.
  */
class WodWritePathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  private var tmp: Path = _

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    tmp = Files.createTempDirectory("wodwrite")
    // casts 3 and 6 have no location: a transform error row each
    CastWriter.writeMember(tmp.resolve("in/CTD/OBS/MALFORMED.gz"),
      (1 to 8).map(n => cast(n, located = n % 3 != 0)))
    CastWriter.writeMember(tmp.resolve("in/XBT/OBS/CLEAN.gz"),
      (1 to 40).map(cast(_)))
  }

  override def afterAll(): Unit = {
    spark.stop()
    WodFixtures.deleteTree(tmp)
  }

  private def in = tmp.resolve("in").toString

  test("a failed error-store write leaves the cast store incomplete, and " +
      "resume converts the file with every error row") {
    val out = tmp.resolve("crash")
    val cfg = WodPipeline.Config(input = in, output = out.toString,
      datasets = Seq("CTD"), failFast = false)
    // a regular file where the error store's parent directory must go
    val blocker = out.resolve("error/CTD/OBS")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, Array[Byte](1))
    val failed = WodPipeline.run(spark, cfg)
    assert(failed.size === 1 && !failed.head.ok)
    val outStore = failed.head.task.outStore
    assert(!WodPipeline.isComplete(spark, outStore),
      "the cast store must not be marked complete before its errors land")

    Files.delete(blocker)
    val resumed = WodPipeline.run(spark, cfg)
    assert(resumed.map(r => (r.ok, r.casts, r.errors)) === Seq((true, 6L, 2L)))
    assert(WodPipeline.isComplete(spark, outStore))
    val errs = spark.read.parquet(resumed.head.task.errStore)
      .select("castNumber").collect().map(_.getInt(0)).sorted
    assert(errs.toSeq === Seq(3, 6))
  }

  /** The Spark jobs `body` starts. They are told apart by two marker
    * jobs around `body`: the listener bus delivers events in order, so
    * once the closing marker's start has arrived, so has every event
    * `body` posted.
    */
  private def traced(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    def marker(): Int = {
      val tag = s"marker-${java.util.UUID.randomUUID}"
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      def seen = jobs.asScala.find(
        _.properties.getProperty("spark.job.description") == tag)
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      seen.getOrElse(fail(s"$tag never reached the listener")).jobId
    }
    sc.addSparkListener(listener)
    try {
      val first = marker()
      body
      val last = marker()
      jobs.asScala.map(_.jobId).filter(j => j > first && j < last).toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("job counts: three per clean conversion, four with error rows") {
    def bulk(ds: String) = WodPipeline.convertBulk(spark, WodPipeline.Config(
      input = in, output = tmp.resolve(s"jobs-bulk-$ds").toString,
      datasets = Seq(ds)))
    val cleanJobs = traced(assert(bulk("XBT") === ((40L, 0L))))
    // the cache build, the exchange's map stage and the sort+write
    assert(cleanJobs.size === 3, "clean bulk slice")
    val errJobs = traced(assert(bulk("CTD") === ((6L, 2L))))
    assert(errJobs.size === 4, "bulk slice with errors: + the error write")
    val task = WodPipeline.plan(spark, WodPipeline.Config(input = in,
      output = tmp.resolve("jobs-file").toString, datasets = Seq("XBT"))).head
    val fileJobs = traced(
      assert(WodPipeline.convertFile(spark, task) === ((40L, 0L))))
    assert(fileJobs.size === 3, "clean convertFile")
  }

  test("each geohash3 cell is one write task and one file, even when the " +
      "shuffle partitions outgrow AQE's advisory size") {
    // 3 copies of the XBT member: 3 map tasks, so a run-time split by
    // map ranges could cut a partition and every cell in it
    val skewIn = tmp.resolve("skew-in")
    for (i <- 1 to 3) {
      val dst = skewIn.resolve(s"XBT/OBS/XBTO1967_R$i.gz")
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(WodFixtures.dir, "XBT/OBS/XBTO1967.gz"), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    val out = tmp.resolve("skew-out").toString
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try WodPipeline.convertBulk(spark, WodPipeline.Config(
      input = skewIn.toString, output = out, datasets = Seq("XBT")))
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val cells = Files.list(Paths.get(out, "bulk/casts/dataset=XBT/level=OBS"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("geohash3="))
      .toSeq
    assert(cells.size > 1)
    cells.foreach { c =>
      val files = Files.list(c).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.size === 1, s"$c holds ${files.size} files")
    }
  }
}
