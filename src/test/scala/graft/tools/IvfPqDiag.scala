package graft.tools

import org.apache.spark.sql.functions._

/** One-off diagnosis: decompose the IVF-PQ probe's wall-clock into
  * Spark JOBS at two rerank settings, on a replicated corpus (the
  * PqScaleBench shape). Prints one line per job (duration, stage
  * count, task count) and the probe total.
  */
object IvfPqDiag {
  def main(args: Array[String]): Unit = {
    val scale = sys.env.getOrElse("SPARK_GRAFT_DIAG_SCALE", "64").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B hook: SPARK_GRAFT_DIAG_AQE=off prices the per-stage AQE
    // re-planning share of the serving floor (r21 Act 2 forensics)
    if (sys.env.get("SPARK_GRAFT_DIAG_AQE").contains("off"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    val queries = base.filter(col("vec_id") < 64)
    val path = java.nio.file.Files
      .createTempDirectory(s"ivfpqdiag_c$scale").toString
    base.repartition(64)
      .crossJoin(broadcast(spark.range(scale.toLong).toDF("r")))
      .select((col("vec_id") + col("r") * 10000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + (col("r") % 97).cast("float") * lit(0.001f))
          .as("embedding"))
      .write.mode("overwrite").parquet(path)
    val corpus = spark.read.parquet(path)
    val k = math.min(1024, 16 * math.sqrt(scale.toDouble)).toInt.max(16)
    val t = s"ivfpqdiag_idx_$scale"
    graft.operators.IvfStore.write(corpus, "vec_id",
      "embedding", dims = 64, codec = graft.operators.ListCodec.Pq(4, 16),
      k = Some(k), table = t,
      location = Some(java.nio.file.Files
        .createTempDirectory(s"ivfpqdiag_i$scale").toString))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ntasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(j.jobId, System.nanoTime())
          ntasks.put(j.jobId,
            j.stageInfos.map(_.numTasks).sum)
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.put(j.jobId,
            System.nanoTime() - starts.getOrDefault(j.jobId, 0L))
      })

    // driver-stack sampler (SPARK_GRAFT_DIAG_PROF=1): histogram the
    // MAIN thread's stacks during each probe to attribute the
    // between-jobs driver share (planning vs codegen vs scheduling)
    val prof = sys.env.get("SPARK_GRAFT_DIAG_PROF").contains("1")
    val mainThread = Thread.currentThread()
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          // classify by the deepest "interesting" frame family
          val key = st.collectFirst {
            case f if f.getClassName.contains("janino") ||
              f.getClassName.contains("CodeGenerator") => "codegen"
            case f if f.getClassName.contains("RuleExecutor") ||
              f.getClassName.contains("Optimizer") ||
              f.getClassName.contains("Analyzer") => "optimize/analyze"
            case f if f.getClassName.contains("AdaptiveSparkPlan") =>
              "aqe-loop"
            case f if f.getClassName.contains("QueryPlanner") ||
              f.getClassName.contains("SparkStrategies") => "planning"
            case f if f.getMethodName == "awaitResult" ||
              f.getMethodName.contains("await") => "await-jobs"
            case f if f.getClassName.contains("parquet") => "parquet-meta"
          }.getOrElse(st.headOption.fold("idle")(f =>
            f.getClassName.split('.').last + "." + f.getMethodName))
          hist.merge(key, 1, Integer.sum(_, _))
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    if (prof) sampler.start()
    // SPARK_GRAFT_DIAG_SEQ: rerank sequence (default alternates to
    // expose shape-flip costs; a constant sequence models steady
    // serving, where repeated identical plans should hit the codegen
    // cache)
    sys.env.getOrElse("SPARK_GRAFT_DIAG_SEQ", "10,1,10,1")
      .split(',').map(_.trim.toInt).toSeq.foreach { rr =>
      jobs.clear(); starts.clear(); ntasks.clear(); hist.clear()
      sampling = true
      val t0 = System.nanoTime()
      val n = graft.operators.IvfStore
        .probe(spark, t, queries, "vec_id", "embedding",
          dims = 64, nprobe = 3, rerank = rr).count()
      val tot = (System.nanoTime() - t0) / 1e9
      sampling = false
      Thread.sleep(200) // let listener events drain
      val parts = jobs.entrySet().iterator()
      val sb = new StringBuilder
      while (parts.hasNext) {
        val e = parts.next()
        sb.append(f"job${e.getKey}=${e.getValue / 1e9}%.3fs/" +
          f"${ntasks.getOrDefault(e.getKey, -1)}t ")
      }
      println(f"IVFPQDIAG rerank=$rr rows=$n total=$tot%.3fs $sb")
      if (prof) {
        import scala.jdk.CollectionConverters._
        val top = hist.asScala.toSeq.sortBy(-_._2).take(8)
          .map { case (k, v) => f"$k=${v * 5 / 1000.0}%.2fs" }
        println(s"IVFPQPROF rerank=$rr ${top.mkString(" ")}")
      }
    }
    Seq(t, s"${t}_centroids", s"${t}_codebooks", s"${t}_vecs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    spark.stop()
  }
}
