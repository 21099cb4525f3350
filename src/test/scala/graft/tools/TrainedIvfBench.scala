package graft.tools

import org.apache.spark.sql.functions._

/** The trained-coarse-quantizer case, measured: on CLUSTERED data the
  * deterministic first-k quantizer centers every list wherever the low
  * vids sit, so list sizes skew and a probe's candidate count degrades
  * from nprobe·n/k toward the HOT list's size. `writeIvfPqIndex
  * (trainIters = 2)` runs two Lloyd refinements
  * ([[graft.operators.SimilarityOps.trainCentroids]]) before indexing;
  * nothing downstream changes (raw-vector PQ codes are valid under
  * either quantizer — probes, appends, deletes, SQL all identical).
  *
  * Corpus: 16 well-separated Gaussian clusters in BLOCK vid layout
  * (cluster = vid / (n/16)), so ALL first-k seeds land inside cluster
  * 0 — the adversarial real-data shape (AnnRecallSpec's fixture,
  * replicated to bench scale). A fixed 64-query batch probes both
  * stores at the same nprobe/rerank; skew = max list size / mean.
  *
  * One JSON line per scale on stdout (TRAINEDIVF ...).
  */
object TrainedIvfBench {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_TIVF_ROWS", "65536").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_TIVF_K", "256").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_TIVF_REPS", "3").toInt
    val dims = 32
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic clustered corpus (seeded per row, not per JVM):
    // center c of cluster j from a fixed seed; point = center + noise
    val rnd = new scala.util.Random(97)
    val centers = Seq.fill(16)(Seq.fill(dims)(rnd.nextGaussian() * 2))
    val block = rows / 16
    // SPARK_GRAFT_TIVF_UNIFORM=1: the OTHER side of the default
    // decision (r20 verdict item 7) — an unclustered corpus where
    // first-k seeding has no adversary, so the measurement prices
    // what training COSTS when it cannot help
    val uniform = sys.env.get("SPARK_GRAFT_TIVF_UNIFORM").contains("1")
    val corpusLocal = (0 until rows).map { i =>
      val pr = new scala.util.Random(1000L + i)
      if (uniform) (i.toLong, Seq.fill(dims)(pr.nextGaussian()))
      else {
        val c = centers(i / block)
        (i.toLong, c.map(_ + pr.nextGaussian() * 0.3))
      }
    }
    val path = java.nio.file.Files
      .createTempDirectory("tivf_corpus").toString
    corpusLocal.toDF("vec_id", "e").repartition(32)
      .write.mode("overwrite").parquet(path)
    val corpus = spark.read.parquet(path)
    val queries = corpus.filter(col("vec_id") % lit(block) === 7)
      .limit(64)

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def skewOf(t: String): (Double, Int, Long) = {
      val sizes = spark.table(t).groupBy(col("cid")).count()
        .collect().map(_.getLong(1))
      (sizes.max.toDouble / (sizes.sum.toDouble / sizes.length),
        sizes.length, sizes.max)
    }

    Seq(0, 2).foreach { iters =>
      val t = s"tivf_idx_$iters"
      val tBuild = time {
        graft.operators.IvfStore.write(corpus, "vec_id",
          "e", dims = dims, codec = graft.operators.ListCodec.Pq(4, 32),
          k = Some(k), table = t,
          location = Some(java.nio.file.Files
            .createTempDirectory(s"tivf_$iters").toString),
          trainIters = iters); 0L
      }
      val (skew, lists, maxList) = skewOf(t)
      def probe(): Long = graft.operators.IvfStore
        .probe(spark, t, queries, "vec_id", "e",
          dims = dims, nprobe = 3, rerank = 10).count()
      probe() // warm-up
      val tP = (1 to reps).map(_ => time(probe())).min
      println(f"""TRAINEDIVF {"train_iters":$iters,"rows":$rows,""" +
        f""""k":$k,"lists":$lists,"skew_max_over_mean":$skew%.2f,""" +
        f""""max_list":$maxList,"build_s":$tBuild%.3f,""" +
        f""""probe_s":$tP%.3f}""")
      Seq(t, s"${t}_centroids", s"${t}_codebooks", s"${t}_vecs")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
    spark.stop()
  }
}
