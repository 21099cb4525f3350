package graft.tools

import org.apache.spark.sql.functions._

/** Measured backing for the stored-SQ8 bandwidth claim: bytes on disk
  * for the scanned inverted lists (float vs INT8) and min-of-3 probe
  * latency of both stored indexes over the same corpus/queries. The
  * list bytes are what a probe's corpus-scale scan moves; the float
  * `_vecs` companion is fetched only at candidate scale (rerank), so
  * it is priced separately.
  */
object Sq8SizeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val vecs = graft.queries.Tables.embeddings(spark, sfDir)
    val flat = "sq8bench_flat"
    val sq8 = "sq8bench_sq8"
    graft.operators.IvfStore.write(vecs, "vec_id",
      "embedding", dims = 64, codec = graft.operators.ListCodec.Flat,
      k = Some(16), table = flat,
      location = Some(java.nio.file.Files
        .createTempDirectory("sq8bench_flat").toString))
    graft.operators.IvfStore.write(vecs, "vec_id",
      "embedding", dims = 64, codec = graft.operators.ListCodec.Sq8,
      k = Some(16), table = sq8,
      location = Some(java.nio.file.Files
        .createTempDirectory("sq8bench_sq8").toString))
    def bytesOf(t: String): Long = {
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
          .location.toString))
      Option(loc.listFiles()).fold(0L)(
        _.filter(_.getName.endsWith(".parquet")).map(_.length()).sum)
    }
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def probeFlat(): Long = graft.operators.IvfStore
      .probe(spark, flat, vecs, "vec_id", "embedding",
        dims = 64, nprobe = 3).count()
    def probeSq8(): Long = graft.operators.IvfStore
      .probe(spark, sq8, vecs, "vec_id", "embedding",
        dims = 64, nprobe = 3, rerank = 10).count()
    probeFlat(); probeSq8() // warm
    val tf = (1 to 3).map(_ => time(probeFlat())).min
    val tq = (1 to 3).map(_ => time(probeSq8())).min
    val bf = bytesOf(flat)
    val bq = bytesOf(sq8)
    val bv = bytesOf(sq8 + "_vecs")
    println(f"SQ8_BENCH flat_list_bytes=$bf sq8_list_bytes=$bq " +
      f"ratio=${bf.toDouble / bq}%.2f rerank_vecs_bytes=$bv " +
      f"flat_probe_min=$tf%.3f sq8_probe_min=$tq%.3f")
    Seq(flat, s"${flat}_centroids", sq8, s"${sq8}_centroids",
      s"${sq8}_vecs").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.stop()
  }
}
