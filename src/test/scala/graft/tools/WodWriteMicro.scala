package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.wod.{GeoParquetFileFormat, WodCorpus, WodFixtures, WodSource}

/** Micro-decomposition of ONE per-file store write (guide §1): the
  * same parsed, locally-cached 12.6k-cast DataFrame written
  *
  *   flat   — coalesce(1), no partitioning (1 file: the parquet floor)
  *   part   — partitionBy(geohash3) under committer v1 (the current
  *            shape, ~97 part files)
  *   partv2 — same under mapreduce.fileoutputcommitter.algorithm
  *            .version=2 (task commit renames directly into the
  *            final store: the job-commit serial mergePaths walk
  *            disappears)
  *
  * 8 reps each, min + median printed — this host's ambient-IO noise
  * is ±2×, so single-shot numbers are unreadable.
  */
object WodWriteMicro {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = s"${WodFixtures.dir}/${WodCorpus.Drb}"
    val df = WodSource.read(spark, src).toDF()
      .filter(col("_error").isNull).drop("_source_file", "_error")
      .sortWithinPartitions(col("geohash3"), col("geohash"))
      .cache()
    println(s"rows=${df.count()} cells=" +
      df.select("geohash3").distinct().count())

    // task-thread sampler (SPARK_GRAFT_WODMICRO_PROF=1): attribute the
    // per-part-file marginal to actual frames (writer init vs commit
    // rename vs column flush) instead of guessing — r21 Act 4 evidence
    val prof = sys.env.get("SPARK_GRAFT_WODMICRO_PROF").contains("1")
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
    if (prof) sampler.start()

    def reps2(base: Path, name: String)(body: Path => Unit): Unit = {
      if (prof) { hist.clear(); sampling = true }
      val ts = (1 to 8).map { _ =>
        val out = Files.createTempDirectory(base, "wodmicro")
        val t0 = System.nanoTime()
        body(out)
        val s = (System.nanoTime() - t0) / 1e9
        deleteRecursively(out)
        s
      }.sorted
      println(f"$name%-8s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f " +
        s"all=${ts.map(t => f"$t%.2f").mkString(",")}")
      if (prof) {
        sampling = false
        import scala.jdk.CollectionConverters._
        hist.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (k, v) =>
          println(s"  HOT $v  $k")
        }
      }
    }
    def reps(name: String)(body: Path => Unit): Unit =
      reps2(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), name)(body)

    reps("flat") { out =>
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/store.parquet")
    }
    reps("part") { out =>
      df.write.mode(SaveMode.Overwrite).partitionBy("geohash3")
        .format(classOf[GeoParquetFileFormat].getName)
        .save(s"$out/store.parquet")
    }
    spark.sparkContext.hadoopConfiguration.setInt(
      "mapreduce.fileoutputcommitter.algorithm.version", 2)
    reps("partv2") { out =>
      df.write.mode(SaveMode.Overwrite).partitionBy("geohash3")
        .format(classOf[GeoParquetFileFormat].getName)
        .save(s"$out/store.parquet")
    }
    spark.sparkContext.hadoopConfiguration.setInt(
      "mapreduce.fileoutputcommitter.algorithm.version", 1)
    // CPU-vs-FS split: same write on tmpfs — if this is fast, the
    // per-part-file cost is filesystem ops, not writer CPU.
    val shm = java.nio.file.Paths.get("/dev/shm/wodmicro")
    Files.createDirectories(shm)
    reps2(shm, "partshm") { out =>
      df.write.mode(SaveMode.Overwrite).partitionBy("geohash3")
        .format(classOf[GeoParquetFileFormat].getName)
        .save(s"$out/store.parquet")
    }
    deleteRecursively(shm)
    // checksum split: LocalFileSystem writes a .crc sidecar per part
    // file (create+write+rename ×2 per cell) and checksums every byte;
    // setWriteChecksum(false) prices that without changing the plan.
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    lfs.setWriteChecksum(false)
    lfs.setVerifyChecksum(false)
    reps("partnocrc") { out =>
      df.write.mode(SaveMode.Overwrite).partitionBy("geohash3")
        .format(classOf[GeoParquetFileFormat].getName)
        .save(s"$out/store.parquet")
    }
    spark.stop()
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
  }
}
