package graft.tools

import org.apache.spark.sql.functions._

/** Scratch diagnostics for the stored-SQ8 probe's cost structure at
  * corpus scale (which stage dominates: quantized scan, rerank
  * window, gather fetch).
  */
object Sq8Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SQ8_DIAG_SCALE", "64").toInt
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.queries.Tables.embeddings(spark, sfDir)
    // perturbed replicas: unique vectors per replica (see ScaleBench's
    // vocabulary-suffix lesson — identical replicas compress away)
    val corpus = base.crossJoin(spark.range(scale.toLong).toDF("r"))
      .select((col("vec_id") + col("r") * 10000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + (col("r") % 97).cast("float") * lit(0.001f))
          .as("embedding"))
    val sq8 = "sq8diag_idx"
    graft.operators.IvfStore.write(corpus, "vec_id",
      "embedding", dims = 64, codec = graft.operators.ListCodec.Sq8,
      k = Some(16), table = sq8,
      location = Some(java.nio.file.Files
        .createTempDirectory(s"sq8diag").toString))
    val queries = base.filter(col("vec_id") < 64)
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"SQ8DIAG $tag rows=$n t=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    // full probe (gather on) — 3 reps, first is JIT-cold
    (1 to 3).foreach(i => time(s"probe_full_$i")(
      graft.operators.IvfStore
        .probe(spark, sq8, queries, "vec_id", "embedding",
          dims = 64, nprobe = 3, rerank = 10).count()))
    // pieces: candidate scan only (no window)
    val cents = spark.table(sq8 + "_centroids")
      .orderBy(col("cid")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    val centArr = array(cents.toSeq.map { case (cid, ce) =>
      var ss = 0.0
      ce.foreach(x => ss += x * x)
      struct(lit(cid).as("cid"),
        array(ce.map(lit(_)): _*).as("ce"),
        lit(math.sqrt(ss)).as("cn"))
    }: _*)
    val q = base.filter(col("vec_id") < 64)
      .select(col("vec_id").as("vid"),
        transform(col("embedding"), _.cast("double")).as("e"))
      .withColumn("nrm", sqrt(aggregate(col("e"), lit(0.0),
        (a, x) => a + x * x)))
      .withColumn("amax", aggregate(col("e"), lit(0.0),
        (a, x) => greatest(a, abs(x))))
      .withColumn("qv", transform(col("e"), x =>
        (signum(x) * least(lit(127.0),
          floor(abs(x) * (lit(127.0) / col("amax")) + lit(0.5))))
          .cast("byte")))
      .select(col("vid").as("id_a"), col("qv").as("qa"),
        col("amax").as("amax_a"), col("nrm").as("na"),
        explode(transform(
          slice(array_sort(transform(centArr, c => struct(
            (-round(graft.functions.VectorFunctions.array_dot(col("e"),
              c.getField("ce"))
              / (col("nrm") * c.getField("cn")), 6)).as("ns"),
            c.getField("cid").as("cid")))), 1, 3),
          s => s.getField("cid"))).as("cid"))
    val index = spark.table(sq8).select(col("cid"),
      col("vid").as("id_b"), col("q").as("qb"),
      col("amax").as("amax_b"), col("nrm").as("nb"))
    val qscored = q.join(index, Seq("cid"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("qscore",
        graft.functions.VectorFunctions.array_dot_q8(col("qa"), col("qb"))
          .cast("double"))
    time("scan_only")(qscored.count())
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("qscore").desc, col("id_b"))
    time("scan_plus_window")(qscored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).count())
    // agg-based top-k alternative: per-partition partial max-struct?
    time("scan_plus_grouptop")(qscored
      .select(col("id_a"), struct(col("qscore"), col("id_b")).as("c"))
      .groupBy(col("id_a"))
      .agg(slice(reverse(array_sort(collect_list(col("c")))), 1, 10)
        .as("top")).count())
    // the survivors→vecs fetch in isolation: window survivors, then
    // gather-vs-join fetch of float rows
    val w2 = Window.partitionBy(col("id_a"))
      .orderBy(col("qscore").desc, col("id_b"))
    val surv = qscored.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= 10).select(col("id_a"), col("id_b"))
    val vecs = spark.table(sq8 + "_vecs")
    time("ids_collect") {
      surv.select(col("id_b")).distinct().collect().length.toLong
    }
    val ids = surv.select(col("id_b")).distinct().collect()
      .map(_.getLong(0)).toSeq
    time("fetch_in_filter")(vecs
      .filter(col("vid").isInCollection(ids)).count())
    time("fetch_join")(vecs.join(
      surv.select(col("id_b").as("vid")).distinct(), Seq("vid")).count())
    time("full_join_refine")(surv
      .join(vecs.select(col("vid").as("id_b"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("id_b")).count())
    spark.sql(s"EXPLAIN FORMATTED SELECT 1").collect() // no-op
    Seq(sq8, s"${sq8}_centroids", s"${sq8}_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.stop()
  }
}
