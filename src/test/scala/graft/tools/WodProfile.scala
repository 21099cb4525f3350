package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.wod.{GeoParquetFileFormat, WodCorpus, WodPipeline, WodSource}

/** Decomposes the per-file conversion path's wall-clock (guide §1:
  * measure FIRST): on the bench's own 32-file corpus, time
  *
  *   parse      — gzip → cast rows, noop-discarded (the floor)
  *   parse+persist — a cache materialization of the parse
  *   write      — the current convertFile (observe + exchange +
  *                partitioned GeoParquet write)
  *   fused      — a no-persist, no-exchange variant (single task per
  *                file: parse → sort → dynamic-partition write)
  *
  * so the persist / exchange / commit terms are separated instead of
  * guessed. Same ForkJoin concurrency as the bench (24).
  */
object WodProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val in = Files.createTempDirectory("wodprof_in")
    WodCorpus.replicate(in, WodCorpus.Xbt, 12)
    WodCorpus.replicate(in, WodCorpus.Sur, 10)
    WodCorpus.replicate(in, WodCorpus.Drb, 10)
    val cfg = WodPipeline.Config(input = in.toString, output = "unused",
      datasets = Seq("XBT", "SUR", "DRB"), maxConcurrentFiles = 24)
    val tasks = WodPipeline.plan(spark, cfg)
    println(s"${tasks.size} files")

    def par[T](xs: Seq[T])(f: T => Unit): Unit = {
      import scala.collection.parallel.CollectionConverters._
      import scala.collection.parallel.ForkJoinTaskSupport
      val p = xs.par
      p.tasksupport = new ForkJoinTaskSupport(
        new java.util.concurrent.ForkJoinPool(24))
      p.foreach(f)
    }
    // task-thread sampler (SPARK_GRAFT_WODPROF_SAMPLE=1): where do
    // parse/convert task threads actually spend — r21 Act 4 forensics
    val profOn = sys.env.get("SPARK_GRAFT_WODPROF_SAMPLE").contains("1")
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (t.getName.startsWith("Executor task launch") &&
                st.nonEmpty) {
              val key = st.take(4).map(f =>
                f.getClassName.split('.').last + "." + f.getMethodName)
                .mkString(" <- ")
              hist.merge(key, 1, Integer.sum(_, _))
            }
          }
        }
        Thread.sleep(3)
      }
    })
    sampler.setDaemon(true)
    if (profOn) sampler.start()
    def timed(name: String)(body: => Unit): Unit = {
      (1 to 3).foreach { i =>
        if (profOn && i == 3) { hist.clear(); sampling = true }
        val t0 = System.nanoTime()
        body
        println(f"$name%-16s rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        if (profOn && i == 3) {
          sampling = false
          import scala.jdk.CollectionConverters._
          hist.asScala.toSeq.sortBy(-_._2).take(10)
            .foreach { case (k, v) => println(s"  HOT $v  $k") }
        }
      }
    }

    // (a) parse floor: every file through the parser, noop sink
    timed("parse-noop") {
      par(tasks) { t =>
        WodSource.read(spark, t.src).toDF()
          .write.format("noop").mode("overwrite").save()
      }
    }
    // (b) parse + persist (a cache materialization of the parse)
    timed("parse-persist") {
      par(tasks) { t =>
        val rows = WodSource.read(spark, t.src)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try rows.toDF().write.format("noop").mode("overwrite").save()
        finally rows.unpersist(blocking = true)
      }
    }
    def uniq(out: Path, t: WodPipeline.FileTask): String = {
      val base = new java.io.File(t.src).getName.stripSuffix(".gz")
      s"$out/yearly/${t.dataset}/${t.level}/$base.parquet"
    }
    // (c) the real thing
    timed("convertFile") {
      val out = Files.createTempDirectory("wodprof_out")
      try par(tasks) { t =>
        WodPipeline.convertFile(spark,
          t.copy(outStore = uniq(out, t),
            errStore = uniq(out, t).replace("/yearly/", "/error/")))
      } finally deleteRecursively(out)
    }
    // (d) fused: no persist, no exchange — parse task sorts + writes
    timed("fused") {
      val out = Files.createTempDirectory("wodprof_out")
      try par(tasks) { t =>
        WodSource.read(spark, t.src).toDF()
          .filter(col("_error").isNull)
          .drop("_source_file", "_error")
          .sortWithinPartitions(col("geohash3"), col("geohash"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("geohash3")
          .format(classOf[GeoParquetFileFormat].getName)
          .save(uniq(out, t))
      } finally deleteRecursively(out)
    }
    // (e) fused + plain parquet (prices the GeoParquet footer work)
    timed("fused-plain") {
      val out = Files.createTempDirectory("wodprof_out")
      try par(tasks) { t =>
        WodSource.read(spark, t.src).toDF()
          .filter(col("_error").isNull)
          .drop("_source_file", "_error")
          .sortWithinPartitions(col("geohash3"), col("geohash"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("geohash3")
          .parquet(uniq(out, t))
      } finally deleteRecursively(out)
    }
    deleteRecursively(in)
    spark.stop()
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
  }
}
