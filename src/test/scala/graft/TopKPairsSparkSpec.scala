package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark-LEVEL differential coverage of `topk_pairs` k>1 (the
  * bounded-heap engine, deliberately kept — see the r21 note in
  * topKPairsAggregate.scala): the kept set must equal the
  * `ROW_NUMBER() OVER (ORDER BY score DESC, id) <= k` oracle,
  * best-first, under multi-partition partial/final merges, null
  * skipping, tie storms, and ±0.0 — TopKPairsSpec pins the buffer in
  * isolation, this pins the full operator path (hash agg dispatch,
  * buffer (de)serialization across the exchange, SQL registration).
  */
class TopKPairsSparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def oracle(xs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    xs.sortBy { case (s, id) => (-s, id) }.take(k)

  private def run(rows: Seq[(Long, java.lang.Double, java.lang.Long)],
      k: Int, parts: Int): Map[Long, Seq[(Double, Long)]] = {
    import spark.implicits._
    val df = rows.toDF("g", "s", "id").repartition(parts)
    df.groupBy(col("g"))
      .agg(graft.functions.VectorFunctions
        .topk_pairs(col("s"), col("id"), k).as("tk"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1)
        .map(p => (p.getDouble(0), p.getLong(1))).toSeq)
      .toMap
  }

  test("property: kept set == window oracle across k, partitions, ties") {
    val rnd = new scala.util.Random(20260819L)
    for (trial <- 0 until 30) {
      val k = Seq(2, 3, 5, 10, 16)(rnd.nextInt(5))
      val groups = rnd.nextInt(4) + 1
      val rows = (0 until rnd.nextInt(300) + 1).map { i =>
        val g = rnd.nextInt(groups).toLong
        // small score set forces ties; ~8% null score / null id
        val s: java.lang.Double =
          if (rnd.nextInt(12) == 0) null
          else rnd.nextInt(6).toDouble
        val id: java.lang.Long =
          if (rnd.nextInt(25) == 0) null else i.toLong
        (g, s, id)
      }
      val got = run(rows, k, parts = rnd.nextInt(6) + 1)
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> oracle(rs.collect {
          case (_, s, id) if s != null && id != null =>
            (s.doubleValue(), id.longValue())
        }, k)
      }
      assert(got === want, s"trial $trial k=$k")
    }
  }

  test("k>1 runs on ObjectHashAggregate (the deliberate heap engine)") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i % 3L, i.toDouble, i.toLong))
      .toDF("g", "s", "id")
      .groupBy(col("g"))
      .agg(graft.functions.VectorFunctions
        .topk_pairs(col("s"), col("id"), 10).as("tk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("SQL surface dispatches small k; parity with the heap path") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    (0 until 500).map(i => (i % 5L, rnd.nextInt(9).toDouble, i.toLong))
      .toDF("g", "s", "id").createOrReplaceTempView("tkp_small_v")
    def viaSql(k: Int) = spark.sql(
      s"SELECT g, topk_pairs(s, id, $k) AS tk FROM tkp_small_v GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Row](1)
        .map(p => (p.getDouble(0), p.getLong(1))).toSeq).toMap
    // every k > 1 runs the bounded heap: the k=100 answer truncated to
    // 10 must agree with the k=10 answer on the shared prefix
    val small = viaSql(10)
    val heap = viaSql(100).map { case (g, v) => g -> v.take(10) }
    assert(small === heap)
  }

  test("-0.0 ties 0.0 (id breaks), short groups, all-null group") {
    import spark.implicits._
    val rows: Seq[(Long, java.lang.Double, java.lang.Long)] = Seq(
      (0L, java.lang.Double.valueOf(-0.0), java.lang.Long.valueOf(20L)),
      (0L, java.lang.Double.valueOf(0.0), java.lang.Long.valueOf(10L)),
      (0L, java.lang.Double.valueOf(-1.0), java.lang.Long.valueOf(1L)),
      (1L, java.lang.Double.valueOf(5.0), java.lang.Long.valueOf(7L)),
      (2L, null, java.lang.Long.valueOf(9L)))
    val got = run(rows, k = 3, parts = 3)
    // ±0.0 tie → ids 10 then 20; group 1 returns 1 < k pairs;
    // group 2 has no rankable candidate → empty array
    assert(got(0L).map(_._2) === Seq(10L, 20L, 1L))
    assert(got(1L) === Seq((5.0, 7L)))
    assert(got(2L) === Seq.empty)
  }
}
