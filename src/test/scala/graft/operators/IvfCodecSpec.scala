package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** One table of cases over every list codec of [[IvfStore]] — Flat,
  * Sq8 and Pq with coarse lists, and flat Pq (vid-bucketed code rows,
  * no `cid`) — on one small seeded corpus. The delta's ids all sit
  * above the base's, so the first-k centroids and the first-`codes`
  * codebook rows frozen at the base build equal a full rebuild's: an
  * append (plain or merge-on-read) followed by a probe must then
  * answer exactly like a fresh build over base ∪ delta.
  */
class IvfCodecSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  /** Every temp dir the suite makes, deleted in [[afterAll]]. */
  private lazy val suiteDir =
    java.nio.file.Files.createTempDirectory("graft_codec")

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(suiteDir)

  private val dims = 8

  private lazy val vecs = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    (0L until 80L).map(i => (i, Seq.fill(dims)(rnd.nextDouble() * 4 - 2)))
      .toDF("vec_id", "embedding")
  }
  private def base = vecs.filter(col("vec_id") < 60)
  private def delta = vecs.filter(col("vec_id") >= 60)

  /** (name, codec, coarse quantizer k) */
  private val cases = Seq(
    ("flat", ListCodec.Flat, Some(4)),
    ("sq8", ListCodec.Sq8, Some(4)),
    ("ivfpq", ListCodec.Pq(2, 16), Some(4)),
    ("flatpq", ListCodec.Pq(2, 16), None))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory(suiteDir, "t").toString

  private def drop(t: String): Unit = {
    BucketedStores.dropVersioned(spark, t)
    (s"${t}_applied" +: IvfStore.Companions.map(t + _.suffix))
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  private def build(t: String, codec: ListCodec, k: Option[Int],
      from: org.apache.spark.sql.DataFrame, mor: Boolean = false): Unit = {
    drop(t)
    IvfStore.write(from, "vec_id", "embedding", dims = dims,
      codec = codec, k = k, table = t, buckets = 2,
      location = Some(tmp()), mor = mor)
  }

  private def nprobe(k: Option[Int]) = if (k.isDefined) 2 else 1
  private def rerank(codec: ListCodec) = if (codec.refines) 8 else 0

  private def probe(t: String, codec: ListCodec, k: Option[Int]) =
    IvfStore.probe(spark, t, vecs, "vec_id", "embedding", dims = dims,
      nprobe = nprobe(k), rerank = rerank(codec))
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  for ((name, codec, k) <- cases) {
    test(s"$name: the API probe equals GRAFT_ANN row for row at k = 1") {
      val t = s"codec_sql_$name"
      build(t, codec, k, vecs)
      vecs.createOrReplaceTempView("codec_q")
      val rr = if (codec.refines) s", ${rerank(codec)}" else ""
      val viaSql = spark.sql("SELECT id_a, ann_id, score FROM " +
        s"GRAFT_ANN('$t', 'codec_q', 1, ${nprobe(k)}$rr) ORDER BY id_a")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val api = probe(t, codec, k)
      assert(api.length === 80)
      assert(viaSql === api)
      drop(t)
    }

    test(s"$name: a plain append, then a probe, equals a fresh build " +
        "over base ∪ delta; a replayed batchId lands nothing") {
      val (t, one) = (s"codec_app_$name", s"codec_one_$name")
      build(t, codec, k, base)
      IvfStore.append(spark, t, delta, "vec_id", "embedding", dims,
        buckets = 2, batchId = Some(1L))
      IvfStore.append(spark, t, delta, "vec_id", "embedding", dims,
        buckets = 2, batchId = Some(1L))
      assert(spark.table(t).count() === 80L)
      if (codec.refines) assert(spark.table(s"${t}_vecs").count() === 80L)
      build(one, codec, k, vecs)
      assert(probe(t, codec, k) === probe(one, codec, k))
      Seq(t, one).foreach(drop)
    }

    test(s"$name: a merge-on-read append, then a probe, equals a fresh " +
        "build over base ∪ delta") {
      val (t, one) = (s"codec_mor_$name", s"codec_morone_$name")
      build(t, codec, k, base, mor = true)
      val seq = IvfStore.morAppend(spark, t, delta, "vec_id", "embedding",
        dims, buckets = 2)
      assert(spark.table(t).count() === 80L)
      assert(BucketedStores.readMorAsOfSeq(spark, t, Seq("vid"), "vid",
        seq - 1).count() === 60L)
      build(one, codec, k, vecs)
      assert(probe(t, codec, k) === probe(one, codec, k))
      Seq(t, one).foreach(drop)
    }
  }

  test("the codec dispatch reads the lists' schema alone") {
    assert(IvfStore.layout(Seq("cid", "vid", "e", "nrm")) ===
      Some(ListCodec.Flat -> true))
    assert(IvfStore.layout(Seq("cid", "vid", "q", "amax", "nrm", "_seq")) ===
      Some(ListCodec.Sq8 -> true))
    assert(IvfStore.layout(Seq("vid", "codes")) ===
      Some(ListCodec.Pq(0, 0) -> false))
    assert(IvfStore.layout(Seq("id", "text")) === None)
    assert(IvfStore.companions(ListCodec.Pq(2, 16), coarse = false)
      .map(_.suffix) === Seq("_codebooks", "_vecs"))
    assert(IvfStore.companions(ListCodec.Flat, coarse = true)
      .map(_.suffix) === Seq("_centroids"))
  }
}
