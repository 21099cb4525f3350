package graft.wod

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

import CastWriter.{oneLevel => cast}

/** The one write path of [[WodPipeline.convertFile]] and
  * [[WodPipeline.convertBulk]]: its commit order (the cast store's
  * `_SUCCESS` comes last), its Spark job counts, that it caches
  * nothing, one write task per geohash3 cell, and that the runners'
  * thread pools end with the call.
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
    TestDirs.deleteTree(tmp)
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

  /** What `body` asks of Spark: the jobs it starts and the cached RDD
    * blocks it stores. Its events are told apart by two marker jobs
    * around `body`: the listener bus delivers events in order, so once
    * the closing marker's start has arrived, so has every event `body`
    * posted.
    */
  private def traced(body: => Unit): (Seq[Int], Seq[RDDBlockId]) = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        events.add(e)
    }
    def marker(): SparkListenerJobStart = {
      val tag = s"marker-${java.util.UUID.randomUUID}"
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      def seen = events.asScala.collectFirst {
        case j: SparkListenerJobStart
            if j.properties.getProperty("spark.job.description") == tag => j
      }
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      seen.getOrElse(fail(s"$tag never reached the listener"))
    }
    sc.addSparkListener(listener)
    try {
      val first = marker()
      body
      val last = marker()
      val during = events.asScala.toSeq
        .dropWhile(_ ne first).drop(1).takeWhile(_ ne last)
      (during.collect { case j: SparkListenerJobStart => j.jobId },
        during.collect { case SparkListenerBlockUpdated(u) => u.blockId }
          .collect { case b: RDDBlockId => b })
    } finally sc.removeSparkListener(listener)
  }

  test("two jobs per clean conversion, three with error rows; " +
      "nothing cached") {
    def bulk(ds: String) = WodPipeline.convertBulk(spark, WodPipeline.Config(
      input = in, output = tmp.resolve(s"jobs-bulk-$ds").toString,
      datasets = Seq(ds)))
    val (cleanJobs, cleanBlocks) = traced(assert(bulk("XBT") === ((40L, 0L))))
    // the exchange's map stage and the sort+write
    assert(cleanJobs.size === 2, "clean bulk slice")
    val (errJobs, errBlocks) = traced(assert(bulk("CTD") === ((6L, 2L))))
    assert(errJobs.size === 3, "bulk slice with errors: + the error write")
    val task = WodPipeline.plan(spark, WodPipeline.Config(input = in,
      output = tmp.resolve("jobs-file").toString, datasets = Seq("XBT"))).head
    val (fileJobs, fileBlocks) = traced(
      assert(WodPipeline.convertFile(spark, task) === ((40L, 0L))))
    assert(fileJobs.size === 2, "clean convertFile")
    assert((cleanBlocks ++ errBlocks ++ fileBlocks).isEmpty,
      "a conversion caches nothing")
  }

  test("the bulk and per-file pools leave no worker thread behind") {
    // ForkJoinPool names its workers ForkJoinPool-<pool>-worker-<n>,
    // numbering pools in creation order: the pools the calls make lie
    // strictly between two probe pools made around them
    def probePool(): Int = {
      val pool = new java.util.concurrent.ForkJoinPool(1)
      try pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = Thread.currentThread.getName
      }).get().split('-')(1).toInt
      finally pool.shutdown()
    }
    val before = probePool()
    for (i <- 1 to 3) WodPipeline.convertBulk(spark, WodPipeline.Config(
      input = in, output = tmp.resolve(s"pools-$i").toString,
      datasets = Seq("XBT")))
    WodPipeline.run(spark, WodPipeline.Config(input = in,
      output = tmp.resolve("pools-run").toString, datasets = Seq("XBT")))
    val after = probePool()
    val Worker = """ForkJoinPool-(\d+)-worker-\d+""".r
    def leftOver = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.isAlive).map(_.getName).collect {
        case n @ Worker(p) if p.toInt > before && p.toInt < after => n
      }
    assert(after - before > 4, "the four calls made fewer than four pools")
    // shutdown is asynchronous: idle workers exit on their own
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (leftOver.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leftOver.isEmpty)
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
