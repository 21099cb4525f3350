package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Delete-bearing maintenance of the three stored indexes (LSH dd20,
  * BM25 tx41, IVF sim10). The oracle rows prove cross-engine
  * rebuild-equivalence; this spec proves the two things the oracle
  * alone cannot:
  *
  *   1. NON-VACUOUSNESS — before maintenance, the deleted entities
  *      genuinely surface (LSH candidate pairs, ANN top-1 answers,
  *      BM25 top-10 hits), so "gone after maintenance" is a real
  *      state change, not an accident of the fixture;
  *   2. ENGINE-SIDE rebuild equivalence — the incrementally-maintained
  *      store content equals a from-scratch build over the
  *      post-changelog corpus (dd20/tx41), row for row.
  *
  * Fixture: deletes = doc/vec id % 7 == 3, upserts = surviving
  * id % 5 == 0 (DedupQueries.indexChangelog's convention).
  */
class IndexDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def hex = Integer.toHexString(dir.hashCode)

  private def documents =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))

  test("dd20: deleted docs are LSH candidates BEFORE maintenance, " +
      "absent after, and the maintained index equals a fresh rebuild") {
    // pre-state: a full-corpus index; the upserts' ORIGINAL text finds
    // deleted partners through it
    val pre = "idxdel_lsh_pre"
    spark.sql(s"DROP TABLE IF EXISTS $pre")
    TextDedupOps.writeLshIndex(documents, "doc_id", "text", pre,
      numHashes = 8, bands = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("idxdel_lsh_pre").toString))
    val upsertOrig = documents
      .filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 5 === 0)
    val preHits = TextDedupOps.probeLshIndex(spark, pre, upsertOrig,
      "doc_id", "text", numHashes = 8, bands = 2)
      .filter(col("id_a") % 7 === 3 || col("id_b") % 7 === 3)
      .count()
    assert(preHits > 0,
      "fixture must make deleted docs real candidates pre-maintenance")

    // run the registered end-to-end query (build → adopt → changelog →
    // probe); its output must contain NO deleted id on either side
    val post = Registry.byName("dd20_index_delete_maintenance")
      .fn(spark, dir)
    assert(post.filter(col("id_a") % 7 === 3 || col("id_b") % 7 === 3)
      .count() === 0L)

    // engine-side rebuild equivalence: maintained view content ==
    // fresh index over the post-changelog corpus
    val maintained = spark.table(s"dd_lsh_del_$hex")
    val postCorpus = documents.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" upd")))
          .otherwise(col("text")).as("text"))
    val rebuilt = "idxdel_lsh_rebuilt"
    spark.sql(s"DROP TABLE IF EXISTS $rebuilt")
    TextDedupOps.writeLshIndex(postCorpus, "doc_id", "text", rebuilt,
      numHashes = 8, bands = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("idxdel_lsh_rebuilt").toString))
    val fresh = spark.table(rebuilt)
    assert(maintained.exceptAll(fresh).count() === 0L)
    assert(fresh.exceptAll(maintained).count() === 0L)
  }

  test("tx41: deleted docs rank in BM25 top-10 BEFORE maintenance, " +
      "never after, and the maintained index serves the rebuild's " +
      "exact ranking") {
    val terms = Seq("spark", "vector", "hash", "window")
    // pre-state: full-corpus index ranks deleted docs
    val pre = "idxdel_bm25_pre"
    Seq(pre, pre + "_docs", pre + "_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    TextRetrievalOps.writeTextIndex(documents, "doc_id", "text", pre,
      location = Some(java.nio.file.Files
        .createTempDirectory("idxdel_bm25_pre").toString))
    val preTop = TextRetrievalOps.bm25TopK(spark, pre, terms, topK = 10)
    assert(preTop.filter(col("doc_id") % 7 === 3).count() > 0,
      "fixture must rank deleted docs pre-maintenance")

    // registered query: full build → adopt → changelog with deletes
    val post = Registry.byName("tx41_text_index_deletes").fn(spark, dir)
      .collect().toSeq
    assert(post.nonEmpty)
    assert(!post.exists(_.getLong(0) % 7 == 3))

    // the maintained postings carry no deleted doc at all
    val t = s"graft_text_del_$hex"
    assert(spark.table(t).filter(col("doc_id") % 7 === 3).count() === 0L)
    assert(spark.table(t + "_docs").filter(col("doc_id") % 7 === 3)
      .count() === 0L)

    // engine-side rebuild equivalence on the served ranking
    val postCorpus = documents.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" upd")))
          .otherwise(col("text")).as("text"))
    val rebuilt = "idxdel_bm25_rebuilt"
    Seq(rebuilt, rebuilt + "_docs", rebuilt + "_meta")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    TextRetrievalOps.writeTextIndex(postCorpus, "doc_id", "text",
      rebuilt, location = Some(java.nio.file.Files
        .createTempDirectory("idxdel_bm25_rebuilt").toString))
    val freshTop = TextRetrievalOps
      .bm25TopK(spark, rebuilt, terms, topK = 10).collect().toSeq
    assert(post === freshTop)
  }

  test("sim10: deleted vectors are ANN answers BEFORE maintenance and " +
      "can never be returned after") {
    // pre-state: survivors querying the full index get deleted top-1s
    val pre = "idxdel_ivf_pre"
    Seq(pre, pre + "_centroids")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 64, codec = ListCodec.Flat, k = Some(16), table = pre,
      location = Some(java.nio.file.Files
        .createTempDirectory("idxdel_ivf_pre").toString))
    val survivors = vecs.filter(col("vec_id") % 7 =!= 3)
    val preAns = IvfStore.probe(spark, pre, survivors,
      "vec_id", "embedding", dims = 64, nprobe = 3)
    assert(preAns.filter(col("ann_id") % 7 === 3).count() > 0,
      "fixture must return deleted vectors pre-maintenance")

    val post = Registry.byName("sim10_ivf_delete_maintenance")
      .fn(spark, dir)
    assert(post.count() > 0)
    assert(post.filter(col("ann_id") % 7 === 3).count() === 0L)
    // the maintained lists carry no deleted vector
    assert(spark.table(s"sim_ivf_del_$hex")
      .filter(col("vid") % 7 === 3).count() === 0L)
  }

  test("tx42/sim11: merge-on-read maintenance never rewrites a " +
      "generation — tombstones append, served content drops the ids") {
    import graft.queries.{SimilarityQueries, TextQueries}
    // IVF: run sim11's registered body, then prove the MoR shape
    SimilarityQueries.sim11IvfMorDeletes.fn(spark, dir).collect()
    val ivf = s"sim_ivf_mor_$hex"
    assert(BucketedStores.currentGeneration(spark, ivf) === ivf + "__v1",
      "sim11 must never advance the generation (tombstones only)")
    assert(spark.table(BucketedStores.currentTombstones(spark, ivf))
      .count() > 0, "sim11 must have appended tombstones")
    assert(spark.table(ivf).filter(col("vid") % 7 === 3).count() === 0L,
      "no tombstoned vector may be served")
    // BM25: same for both row tables of the text index
    TextQueries.tx42TextIndexMorDeletes.fn(spark, dir).collect()
    val tx = s"graft_text_mor_$hex"
    for (t <- Seq(tx, tx + "_docs")) {
      assert(BucketedStores.currentGeneration(spark, t) === t + "__v1",
        s"tx42 must never advance $t's generation")
      assert(spark.table(t).filter(col("doc_id") % 7 === 3)
        .count() === 0L, s"no tombstoned doc may be served from $t")
    }
  }

  test("snapshot retention + time travel: retain=1 keeps the previous " +
      "generation readable AS OF its version while the view serves the " +
      "new one; the window slides; retain=0 retires history") {
    import org.apache.spark.sql.functions.lit
    val t = "idxdel_timetravel"
    BucketedStores.dropVersioned(spark, t)
    val base = documents.limit(200).select(col("doc_id"),
      org.apache.spark.sql.functions.md5(col("text")).as("h"))
    base.repartition(4, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("h")), lit(4)))
      .write.bucketBy(4, "h").sortBy("h", "doc_id")
      .option("path", java.nio.file.Files
        .createTempDirectory(s"graft_tt_$t").toString)
      .saveAsTable(t)
    BucketedStores.adoptVersioned(spark, t)
    val v1Rows = spark.table(t).collect().toSet

    // delta 1 with retention: v1 stays readable, view serves v2
    val rm = documents.limit(200).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"))
    BucketedStores.applyDeltaAtomic(spark, t, Seq("h"),
      Seq("h", "doc_id"), 4, "doc_id", rm, None, retain = 1)
    assert(BucketedStores.generations(spark, t) === Seq(1, 2))
    assert(BucketedStores.readGeneration(spark, t, 1).collect().toSet
      === v1Rows, "the retained snapshot must be the PRE-delta content")
    val v2Rows = spark.table(t).collect().toSet
    assert(v2Rows === BucketedStores.readGeneration(spark, t, 2)
      .collect().toSet)
    assert(v2Rows.size < v1Rows.size && v2Rows.subsetOf(v1Rows))

    // delta 2, same retention: the window SLIDES — v1 retired, v2 kept
    val rm2 = documents.limit(200).filter(col("doc_id") % 5 === 1)
      .select(col("doc_id"))
    BucketedStores.applyDeltaAtomic(spark, t, Seq("h"),
      Seq("h", "doc_id"), 4, "doc_id", rm2, None, retain = 1)
    assert(BucketedStores.generations(spark, t) === Seq(2, 3))
    assert(BucketedStores.readGeneration(spark, t, 2).collect().toSet
      === v2Rows)
    intercept[IllegalArgumentException](
      BucketedStores.readGeneration(spark, t, 1))

    // retain=0 (the default everywhere today) retires all history
    BucketedStores.compactAtomic(spark, t, Seq("h"), Seq("h", "doc_id"), 4)
    assert(BucketedStores.generations(spark, t) === Seq(4))
    BucketedStores.dropVersioned(spark, t)
  }

  test("dropVersioned removes a plain table and a versioned store " +
      "without error") {
    def write(t: String): Unit = documents.limit(20).select(col("doc_id"))
      .write.option("path", java.nio.file.Files
        .createTempDirectory(s"graft_drop_$t").toString)
      .saveAsTable(t)
    val plain = "idxdel_drop_plain"
    val versioned = "idxdel_drop_versioned"
    Seq(plain, versioned).foreach(BucketedStores.dropVersioned(spark, _))
    write(plain)
    write(versioned)
    BucketedStores.adoptVersioned(spark, versioned)
    assert(spark.catalog.getTable(versioned).tableType === "VIEW")
    Seq(plain, versioned).foreach(BucketedStores.dropVersioned(spark, _))
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("idxdel_drop_"))
    assert(left.isEmpty, s"left behind: ${left.mkString(", ")}")
  }

  test("MoR as-of-seq read reproduces the state after each committed " +
      "batch, within the compaction era") {
    import org.apache.spark.sql.functions.lit
    val t = "idxdel_mor_asof"
    BucketedStores.dropVersioned(spark, t)
    val base = documents.limit(100).select(col("doc_id"),
      org.apache.spark.sql.functions.md5(col("text")).as("h"))
    base.withColumn("_seq", lit(0L))
      .repartition(4, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("h")), lit(4)))
      .write.bucketBy(4, "h").sortBy("h", "doc_id")
      .option("path", java.nio.file.Files
        .createTempDirectory(s"graft_morasof_$t").toString)
      .saveAsTable(t)
    BucketedStores.adoptVersioned(spark, t)
    BucketedStores.morEnable(spark, t, Seq("doc_id"), "doc_id")
    def asOf(s: Long) = BucketedStores.readMorAsOfSeq(spark, t,
      Seq("doc_id"), "doc_id", s)
      .select(col("doc_id"), col("h")).collect().toSet
    val v0 = spark.table(t).select(col("doc_id"), col("h"))
      .collect().toSet

    // batch 1: delete %3, upsert %7 (replacement rows at the same seq)
    val s1 = BucketedStores.morNextSeq(spark, t)
    val rm1 = documents.limit(100)
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 7 === 0)
      .select(col("doc_id"))
    BucketedStores.morDelete(spark, t, rm1, s1)
    BucketedStores.morAppend(spark, t,
      documents.limit(100).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.md5(col("text")).as("h")),
      s1, Seq("h"), Seq("h", "doc_id"), 4)
    val live1 = spark.table(t).select(col("doc_id"), col("h"))
      .collect().toSet

    // batch 2: delete %5
    val s2 = BucketedStores.morNextSeq(spark, t)
    BucketedStores.morDelete(spark, t,
      documents.limit(100).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id")), s2)
    val live2 = spark.table(t).select(col("doc_id"), col("h"))
      .collect().toSet

    assert(asOf(0) === v0, "seq 0 must be the as-built state")
    assert(asOf(s1) === live1, "as-of batch 1 must equal its live view")
    assert(asOf(s2) === live2, "as-of head must equal the live view")
    assert((live1 != v0) && (live2 != live1), "batches must have bitten")
    BucketedStores.dropVersioned(spark, t)
  }
}
