package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.wod.{GeoParquetFileFormat, WodCorpus, WodFixtures, WodSource}

/** Profiling harness: loops the partitioned per-file store write for
  * ~90 s so a JFR recording can be attached (`jcmd <pid> JFR.start`)
  * and the per-part-file writer cost read from real stacks instead of
  * guessed (guide §1 / §7.3).
  */
object WodWriteLoop {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = s"${WodFixtures.dir}/${WodCorpus.Drb}"
    val df = WodSource.read(spark, src).toDF()
      .filter(col("_error").isNull).drop("_source_file", "_error")
      .sortWithinPartitions(col("geohash3"), col("geohash"))
      .cache()
    df.count()
    println(s"PID=${ProcessHandle.current().pid()}")
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 < 90) {
      val out = Files.createTempDirectory("wodloop")
      df.write.mode(SaveMode.Overwrite).partitionBy("geohash3")
        .format(classOf[GeoParquetFileFormat].getName)
        .save(s"$out/store.parquet")
      deleteRecursively(out)
      n += 1
    }
    println(s"LOOPS=$n in 90s")
    spark.stop()
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
  }
}
