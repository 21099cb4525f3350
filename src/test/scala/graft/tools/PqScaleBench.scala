package graft.tools

import org.apache.spark.sql.functions._

/** The IVF-PQ tier's END-TO-END case: flat-ADC serving cost is
  * corpus-proportional BY CONSTRUCTION, probed-list serving is not.
  *
  * BENCH_SCALE.md (r18) proved the shape on SQ8: fixed-k (= linear
  * candidates per query) sent a fixed 64-query batch from 1.56 s to
  * 25.1 s over a 64× corpus growth, and the `topk_pairs` interpreted
  * per-row update was the dominant CPU term. The r18 flat PQ store
  * ([[graft.operators.SimilarityOps.writePqIndex]]) has exactly that
  * candidate shape — every serving batch ADC-scores the whole corpus
  * — which is why IVF-PQ ([[graft.operators.SimilarityOps
  * .writeIvfPqIndex]]) exists. This tool measures both PQ layouts on
  * the same replicated corpora:
  *
  *  - replicate the sf0.1 embeddings at 1×/8×/64× (vid-offset +
  *    perturbation — Sq8ScaleBench's corpus discipline, materialized
  *    once);
  *  - build the FLAT PQ store and the IVF-PQ store (k ≈ 16·√scale,
  *    the faiss-correct list growth) per scale;
  *  - probe both with a FIXED 64-query batch at the same bounded
  *    rerank, min-of-reps after a warm-up.
  *
  * Expected: flat probe latency grows ~linearly with scale (candidates
  * = n per query); IVF-PQ stays ~flat (candidates = nprobe·n/k with
  * k ~ √n — √-growth per list, and the probed-list In(cid) pushdown
  * keeps unprobed bytes unread). Warm regime only: PQ code bytes are
  * m per vector (the 64×-scale code table is ~4 MB) — the flat tier's
  * cliff is CPU, not IO, so page cache is irrelevant to the claim.
  *
  * One JSON line per scale on stdout (PQSCALE ...).
  */
object PqScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_PQ_SCALES", "1,8,64")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_PQ_REPS", "3").toInt
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    val queries = base.filter(col("vec_id") < 64)

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
      val corpus =
        if (scale == 1) base
        else {
          val path = java.nio.file.Files
            .createTempDirectory(s"pqscale_c$scale").toString
          base.repartition(64)
            .crossJoin(broadcast(spark.range(scale.toLong).toDF("r")))
            .select((col("vec_id") + col("r") * 10000000L).as("vec_id"),
              transform(col("embedding"),
                x => x + (col("r") % 97).cast("float") * lit(0.001f))
                .as("embedding"))
            .write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        }
      val k = math.min(1024, 16 * math.sqrt(scale.toDouble)).toInt
        .max(16)
      val flat = s"pqscale_flat_$scale"
      val ivf = s"pqscale_ivf_$scale"
      val fivf = s"pqscale_fivf_$scale"
      // build (ingest) timings: the float IVF build writes the same
      // coarse lists WITHOUT the PQ encode, so (ivfpq_build − float
      // IVF build) isolates what the interpreted pqEncode HOF +
      // codebook training actually cost per ingested vector — the
      // number that decides whether a pq_encode kernel is warranted
      val tBuildFlat = time {
        graft.operators.IvfStore.write(corpus, "vec_id",
          "embedding", dims = 64, codec = graft.operators.ListCodec.Pq(4, 16),
          k = None, table = flat,
          location = Some(java.nio.file.Files
            .createTempDirectory(s"pqscale_f$scale").toString)); 0L
      }
      val tBuildIvf = time {
        graft.operators.IvfStore.write(corpus, "vec_id",
          "embedding", dims = 64, codec = graft.operators.ListCodec.Pq(4, 16),
          k = Some(k), table = ivf,
          location = Some(java.nio.file.Files
            .createTempDirectory(s"pqscale_i$scale").toString)); 0L
      }
      val tBuildFloatIvf = time {
        graft.operators.IvfStore.write(corpus, "vec_id",
          "embedding", dims = 64, codec = graft.operators.ListCodec.Flat,
          k = Some(k), table = fivf,
          location = Some(java.nio.file.Files
            .createTempDirectory(s"pqscale_fi$scale").toString)); 0L
      }
      spark.sql(s"DROP TABLE IF EXISTS $fivf")
      spark.sql(s"DROP TABLE IF EXISTS ${fivf}_centroids")
      def probeFlat(rr: Int): Long = graft.operators.IvfStore
        .probe(spark, flat, queries, "vec_id", "embedding",
          dims = 64, rerank = rr).count()
      def probeIvf(rr: Int): Long = graft.operators.IvfStore
        .probe(spark, ivf, queries, "vec_id", "embedding",
          dims = 64, nprobe = 3, rerank = rr).count()
      probeFlat(10); probeIvf(10) // warm-up (JIT + catalog)
      probeFlat(1); probeIvf(1)
      val tF = (1 to reps).map(_ => time(probeFlat(10))).min
      val tI = (1 to reps).map(_ => time(probeIvf(10))).min
      // rerank=1: survivor selection takes the codegen'd min-struct
      // fast path instead of the interpreted TypedImperative update —
      // the delta vs rerank=10 isolates the per-candidate cost of the
      // interpreted topk_pairs update on the same candidate stream
      val tF1 = (1 to reps).map(_ => time(probeFlat(1))).min
      val tI1 = (1 to reps).map(_ => time(probeIvf(1))).min
      val n = corpus.count()
      val candFlat = 64L * (n - 1) // every corpus row per query
      val candIvf = 64L * 3 * (n / k) // nprobe lists of ~n/k
      println(f"""PQSCALE {"scale":$scale,"k":$k,"corpus_rows":$n,""" +
        f""""flat_code_bytes":${bytesOf(flat)},""" +
        f""""ivf_code_bytes":${bytesOf(ivf)},""" +
        f""""cand_flat":$candFlat,"cand_ivfpq":$candIvf,""" +
        f""""flat_probe_s":$tF%.3f,"ivfpq_probe_s":$tI%.3f,""" +
        f""""flat_probe_r1_s":$tF1%.3f,"ivfpq_probe_r1_s":$tI1%.3f,""" +
        f""""flat_build_s":$tBuildFlat%.3f,""" +
        f""""ivfpq_build_s":$tBuildIvf%.3f,""" +
        f""""floativf_build_s":$tBuildFloatIvf%.3f}""")
      Seq(flat, s"${flat}_codebooks", s"${flat}_vecs",
        ivf, s"${ivf}_centroids", s"${ivf}_codebooks", s"${ivf}_vecs")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    spark.stop()
  }
}
