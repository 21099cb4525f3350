package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.wod.{GeoParquetFileFormat, WodCorpus, WodPipeline, WodSource}

/** Fleet-contention probe: the bench's 32-file corpus through the
  * fused parse→sort→partitioned-write plan at 24-way concurrency,
  * A/B'd between /tmp (ext4 — the bench's own target) and /dev/shm
  * (tmpfs). Equal times ⇒ the fleet slowdown is in-JVM (locks/GC);
  * tmpfs much faster ⇒ filesystem metadata ops under concurrency are
  * the wall. Prints PID so a JFR recording can be attached.
  */
object WodFleet {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"PID=${ProcessHandle.current().pid()}")
    val in = Files.createTempDirectory("wodfleet_in")
    WodCorpus.replicate(in, WodCorpus.Xbt, 12)
    WodCorpus.replicate(in, WodCorpus.Sur, 10)
    WodCorpus.replicate(in, WodCorpus.Drb, 10)
    val cfg = WodPipeline.Config(input = in.toString, output = "unused",
      datasets = Seq("XBT", "SUR", "DRB"), maxConcurrentFiles = 24)
    val tasks = WodPipeline.plan(spark, cfg)

    def par[T](xs: Seq[T])(f: T => Unit): Unit = {
      import scala.collection.parallel.CollectionConverters._
      import scala.collection.parallel.ForkJoinTaskSupport
      val p = xs.par
      p.tasksupport = new ForkJoinTaskSupport(
        new java.util.concurrent.ForkJoinPool(24))
      p.foreach(f)
    }
    def fleet(base: Path): Double = {
      val out = Files.createTempDirectory(base, "wodfleet_out")
      val t0 = System.nanoTime()
      par(tasks) { t =>
        val name = new java.io.File(t.src).getName.stripSuffix(".gz")
        WodSource.read(spark, t.src).toDF()
          .filter(col("_error").isNull)
          .drop("_source_file", "_error")
          .sortWithinPartitions(col("geohash3"), col("geohash"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("geohash3")
          .format(classOf[GeoParquetFileFormat].getName)
          .save(s"$out/yearly/${t.dataset}/${t.level}/$name.parquet")
      }
      val s = (System.nanoTime() - t0) / 1e9
      deleteRecursively(out)
      s
    }
    val shm = Paths.get("/dev/shm/wodfleet")
    Files.createDirectories(shm)
    val tmp = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    (1 to 3).foreach { i =>
      val a = fleet(tmp)
      val b = fleet(shm)
      println(f"round$i ext4=$a%.2f s  shm=$b%.2f s")
    }
    deleteRecursively(shm)
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
