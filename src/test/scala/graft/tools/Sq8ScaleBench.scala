package graft.tools

import org.apache.spark.sql.functions._

/** The SQ8 tier's END-TO-END case, measured in its target regime.
  *
  * BENCH_SCALE.md (r17) showed the stored-SQ8 probe LOSING to the
  * float probe at sf0.1 warm (CPU-bound: every list byte is already in
  * page cache, so the 4.5× byte advantage buys nothing and the int8
  * rescale costs a little extra). The tier exists for the regime where
  * the corpus-scale list scan is DISK-bound — this tool measures both
  * probes there, honestly, on this box:
  *
  *  - replicate the sf0.1 embeddings corpus at 1×/8×/32× (vid-offset
  *    replicas — same layout/build path as the real indexes);
  *  - build BOTH stored indexes per scale;
  *  - probe with a FIXED 64-query batch (the serving shape: query
  *    batch stays constant while the corpus grows);
  *  - time each probe min-of-3 in TWO cache regimes: WARM (page cache
  *    holds the lists — the r17 measurement) and COLD (`sync; echo 3 >
  *    /proc/sys/vm/drop_caches` before every rep, so the scan pays
  *    real disk reads at the box's ~500 MB/s — the 100 TB regime,
  *    where lists can never all be resident).
  *
  * One JSON line per scale on stdout (SQ8SCALE ...): list bytes both
  * tiers, warm and cold min latencies both tiers.
  */
object Sq8ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SQ8_SCALES", "1,8,32")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_SQ8_REPS", "3").toInt
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    val queries = base.filter(col("vec_id") < 64)

    def dropCaches(): Unit = {
      val p = new ProcessBuilder("sh", "-c",
        "sync; echo 3 > /proc/sys/vm/drop_caches").inheritIO().start()
      require(p.waitFor() == 0, "drop_caches failed — run as root")
    }
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

    scales.foreach { scale =>
      // perturbed replicas: identical replica vectors parquet-compress
      // (dictionary/RLE) to a fraction of their true size and fake
      // the bytes story (ScaleBench's vocabulary-suffix lesson, vector
      // edition) — a per-replica additive offset keeps every stored
      // vector distinct while preserving the base corpus's structure
      val corpus =
        if (scale == 1) base
        else {
          // parallelism discipline: the sf0.1 source is ONE parquet
          // file, so repartition the TINY base BEFORE the replicate ×
          // perturb chain (the broadcast cross join preserves the
          // stream side's partitioning — repartitioning after would
          // evaluate every perturbation on one task), and MATERIALIZE
          // the corpus once (each index build would otherwise
          // recompute the whole chain)
          val path = java.nio.file.Files
            .createTempDirectory(s"sq8scale_c$scale").toString
          base.repartition(64)
            .crossJoin(broadcast(spark.range(scale.toLong).toDF("r")))
            .select((col("vec_id") + col("r") * 10000000L).as("vec_id"),
              transform(col("embedding"),
                x => x + (col("r") % 97).cast("float") * lit(0.001f))
                .as("embedding"))
            .write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        }
      // the REAL index shape: list count grows ~√n with the corpus
      // (faiss guidance) — fixed k would make candidates-per-query
      // linear in corpus size and the probe CPU-bound at any scale
      // (measured: the k=16 run is exactly that), which is an index
      // misconfiguration, not a tier property
      val k = math.min(1024, 16 * math.sqrt(scale.toDouble)).toInt
        .max(16)
      val flat = s"sq8scale_flat_$scale"
      val sq8 = s"sq8scale_sq8_$scale"
      graft.operators.IvfStore.write(corpus, "vec_id",
        "embedding", dims = 64, codec = graft.operators.ListCodec.Flat,
        k = Some(k), table = flat,
        location = Some(java.nio.file.Files
          .createTempDirectory(s"sq8scale_f$scale").toString))
      graft.operators.IvfStore.write(corpus, "vec_id",
        "embedding", dims = 64, codec = graft.operators.ListCodec.Sq8,
        k = Some(k), table = sq8,
        location = Some(java.nio.file.Files
          .createTempDirectory(s"sq8scale_q$scale").toString))
      def probeFlat(): Long = graft.operators.IvfStore
        .probe(spark, flat, queries, "vec_id", "embedding",
          dims = 64, nprobe = 3).count()
      def probeSq8(): Long = graft.operators.IvfStore
        .probe(spark, sq8, queries, "vec_id", "embedding",
          dims = 64, nprobe = 3, rerank = 10).count()
      // warm regime: one untimed warm-up, then min-of-reps
      probeFlat(); probeSq8()
      val warmF = (1 to reps).map(_ => time(probeFlat())).min
      val warmQ = (1 to reps).map(_ => time(probeSq8())).min
      // cold regime: drop the page cache before EVERY rep; alternate
      // the two probes so neither systematically inherits a warmer
      // cache from the other
      val coldF = (1 to reps).map { _ =>
        dropCaches(); time(probeFlat())
      }.min
      val coldQ = (1 to reps).map { _ =>
        dropCaches(); time(probeSq8())
      }.min
      val bf = bytesOf(flat)
      val bq = bytesOf(sq8)
      println(f"""SQ8SCALE {"scale":$scale,"k":$k,"corpus_rows":${corpus.count()},""" +
        f""""flat_list_bytes":$bf,"sq8_list_bytes":$bq,""" +
        f""""bytes_ratio":${bf.toDouble / bq}%.2f,""" +
        f""""warm_flat_s":$warmF%.3f,"warm_sq8_s":$warmQ%.3f,""" +
        f""""cold_flat_s":$coldF%.3f,"cold_sq8_s":$coldQ%.3f}""")
      Seq(flat, s"${flat}_centroids", sq8, s"${sq8}_centroids",
        s"${sq8}_vecs").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    spark.stop()
  }
}
