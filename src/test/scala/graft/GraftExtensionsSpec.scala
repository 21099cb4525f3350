package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("SQL users reach the graft kernels via spark.sql.extensions") {
    // getOrCreate would hand back another suite's live session — force
    // a fresh context whose extensions come from this builder (later
    // suites lazily getOrCreate their own again)
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = GraftSession.builder("local[2]", 2).getOrCreate()
    try {
      val row = spark.sql(
        """SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
                  array_norm(array(3.0d, 4.0d)) AS nrm,
                  simhash(array('the', 'cat')) AS fp,
                  shingle_array(array('a','b','c','d'), 3) AS sh,
                  minhash_signature(array('a b c'), 2) AS sig,
                  geohash_encode(67.3981d, -6.3056d) AS gh""").head()
      assert(row.getDouble(0) === 11.0)
      assert(row.getDouble(1) === 5.0)
      assert(row.getLong(2) !== 0L)
      assert(row.getSeq[String](3) === Seq("a b c", "b c d"))
      assert(row.getSeq[Long](4).length === 2)
      assert(row.getString(5) === graft.wod.Geohash.encode(67.3981, -6.3056))
      // the aggregate kernel resolves through the same registry (the
      // analyzer wraps the raw AggregateFunction itself)
      val tk = spark.sql(
        """SELECT g, topk_values(v, 2) AS tk FROM VALUES
             (1, 5.0d), (1, 1.0d), (1, 9.0d), (1, 7.0d), (2, 3.0d)
           AS t(g, v) GROUP BY g ORDER BY g""").collect()
      assert(tk(0).getSeq[Double](1) === Seq(9.0, 7.0))
      assert(tk(1).getSeq[Double](1) === Seq(3.0))
      // ...and the (score, id) top-k pair aggregate (the SQ8 rerank
      // survivor kernel): best-first, ties on id ASC
      val tkp = spark.sql(
        """SELECT g, topk_pairs(s, i, 2) AS tk FROM VALUES
             (1, 5.0d, 10L), (1, 9.0d, 20L), (1, 9.0d, 15L),
             (2, 3.0d, 1L)
           AS t(g, s, i) GROUP BY g ORDER BY g""").collect()
      assert(tkp(0).getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getDouble(0), r.getLong(1))) ===
        Seq((9.0, 15L), (9.0, 20L)))
      assert(tkp(1).getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getDouble(0), r.getLong(1))) === Seq((3.0, 1L)))
      // the KMV sketch family resolves in SQL end-to-end:
      // sketch per group → merge across groups → estimate (exact <k)
      val kmv = spark.sql(
        """SELECT kmv_estimate(kmv_merge(sk)) AS est FROM (
             SELECT g, kmv_sketch(h, 8) AS sk FROM VALUES
               (1, 10L), (1, 20L), (1, 20L), (2, 30L), (2, 10L)
             AS t(g, h) GROUP BY g)""").head()
      assert(kmv.getLong(0) === 3L) // distinct hashes {10, 20, 30}
      // set algebra over two sketches: A={10,20,30}, B={20,30,40} →
      // union {10,20,30,40} (size 4, exact estimate below k),
      // overlap = |{20,30}| = 2
      val setops = spark.sql(
        """SELECT kmv_overlap(a.sk, b.sk) AS ov,
                  kmv_size(kmv_union(a.sk, b.sk)) AS m,
                  kmv_estimate(kmv_union(a.sk, b.sk)) AS est
           FROM (SELECT kmv_sketch(h, 8) AS sk FROM VALUES
                   (10L), (20L), (30L) AS t(h)) a,
                (SELECT kmv_sketch(h, 8) AS sk FROM VALUES
                   (20L), (30L), (40L) AS t(h)) b""").head()
      assert((setops.getLong(0), setops.getLong(1), setops.getLong(2))
        === ((2L, 4L, 4L)))
      // ...and the bottom-k sample family: sketch per group → merge →
      // nearest-rank quantile (exact below k)
      val bk = spark.sql(
        """SELECT bksample_quantile(bksample_merge(sk), 0.5d) AS med
           FROM (
             SELECT g, bksample_sketch(h, x, 8) AS sk FROM VALUES
               (1, 10L, 500L), (1, 20L, 100L), (1, 20L, 900L),
               (2, 30L, 300L), (2, 40L, 700L)
             AS t(g, h, x) GROUP BY g)""").head()
      // distinct hashes {10,20,30,40} carry {500, 100 (min of dup),
      // 300, 700} → sorted {100,300,500,700}, rank floor(3·0.5)=1 → 300
      assert(bk.getLong(0) === 300L)
      // ...and the sample itself comes back in ascending-hash order
      val bkv = spark.sql(
        """SELECT bksample_values(bksample_sketch(h, x, 8)) AS sample
           FROM VALUES (10L, 500L), (20L, 100L), (20L, 900L),
             (30L, 300L), (40L, 700L) AS t(h, x)""").head()
      assert(bkv.getSeq[Long](0) === Seq(500L, 100L, 300L, 700L))
      // ...and the count-min family: sketch → merge → point query.
      // 10 occurs 3x (2 in g=1, 1 in g=2), 20 once; ample width so
      // the estimates are exact here
      val cms = spark.sql(
        """SELECT cms_query(m, 10L) AS f10, cms_query(m, 20L) AS f20,
                  cms_query(m, 99L) AS f99
           FROM (SELECT cms_merge(sk) AS m FROM (
             SELECT g, cms_sketch(h, 1024, 3) AS sk FROM VALUES
               (1, 10L), (1, 10L), (1, 20L), (2, 10L)
             AS t(g, h) GROUP BY g))""").head()
      assert((cms.getLong(0), cms.getLong(1), cms.getLong(2))
        === ((3L, 1L, 0L)))
    } finally spark.stop()
  }

  test("TopKBuffer: top-k multiset is merge-order independent and " +
      "bounded at k slots") {
    import org.apache.spark.sql.graft.TopKBuffer
    val vals = Array.tabulate(500)(i => ((i * 7919) % 251).toDouble)
    // one buffer fed sequentially vs many partial buffers merged in
    // two different orders — all three must agree exactly
    val whole = new TopKBuffer(10)
    vals.foreach(whole.add)
    def partial(slices: Seq[Range]): Array[Double] = {
      val bufs = slices.map { r =>
        val b = new TopKBuffer(10); r.foreach(i => b.add(vals(i))); b
      }
      val acc = new TopKBuffer(10)
      bufs.foreach(acc.merge)
      acc.result()
    }
    val fwd = partial(Seq(0 until 100, 100 until 350, 350 until 500))
    val rev = partial(Seq(350 until 500, 0 until 100, 100 until 350))
    assert(fwd.toSeq === whole.result().toSeq)
    assert(rev.toSeq === whole.result().toSeq)
    assert(fwd.toSeq === vals.sorted.reverse.take(10).toSeq)
    // serialize round-trip preserves the heap content
    val rt = TopKBuffer.deserialize(10, whole.serialize())
    assert(rt.result().toSeq === whole.result().toSeq)
  }
}
