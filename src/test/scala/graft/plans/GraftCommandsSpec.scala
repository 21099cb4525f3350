package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs
import graft.operators.{BucketedStores, SketchStats, TextDedupOps}

/** Gates the GRAFT SQL command namespace
  * ([[org.apache.spark.sql.graft.GraftCommandParser]]): ANALYZE must
  * produce exactly the API's stats (and arm the join-planning rule),
  * VACUUM must reclaim exactly what the API reclaims under the same
  * guards, malformed statements must fail loudly with the expected
  * shape, and the namespace must not disturb any other SQL.
  */
class GraftCommandsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  /** Every temp dir the suite makes, deleted in [[afterAll]]. */
  private lazy val suiteDir = Files.createTempDirectory("graft_cmd")

  private def tmp() = Files.createTempDirectory(suiteDir, "t").toString

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(suiteDir)

  test("GRAFT ANALYZE <table> KEY <col> writes the stats the API " +
      "writes and returns them as the result row") {
    spark.range(5000L).select((col("id") % 250).as("k"))
      .write.option("path", tmp()).saveAsTable("cmd_fact")
    val row = spark.sql("GRAFT ANALYZE cmd_fact KEY k").head()
    // stats identity is the FULLY-QUALIFIED name (db.table): an
    // unqualified ANALYZE resolves against the current database
    assert(row.getString(0) === "default.cmd_fact" &&
      row.getString(1) === "k")
    assert(row.getLong(2) === 5000L)
    assert(row.getLong(4) === 8L + 8L * 1024 * 3) // w=1024 d=3 matrix
    val s = SketchStats.read(spark, "cmd_fact").get
    assert(s.nRows === 5000L && s.keyCol === "k")
    assert(spark.catalog.tableExists("cmd_fact__kstats"))
    // GRAFT STATS: the stored row WITHOUT a rescan; empty when none
    val st = spark.sql("GRAFT STATS cmd_fact").head()
    assert(st.getString(0) === "default.cmd_fact" &&
      st.getString(1) === "k" && st.getLong(2) === 5000L &&
      st.getLong(5) === -1L)
    assert(spark.sql("GRAFT STATS cmd_never_analyzed").count() === 0L)
    spark.sql("DROP TABLE cmd_fact")
    spark.sql("DROP TABLE cmd_fact__kstats")
    assert(spark.sql("GRAFT STATS cmd_fact").count() === 0L,
      "dropped stats must not be served")
  }

  test("GRAFT VACUUM reclaims exactly the unreferenced store dirs, " +
      "age guard spelled OLDER THAN <n> HOURS") {
    import spark.implicits._
    val root = Files.createTempDirectory(suiteDir, "cmd_vac")
    val name = "cmd_vac_store"
    BucketedStores.dropVersioned(spark, name)
    TextDedupOps.writeLshIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"),
      "doc_id", "text", name, numHashes = 8, bands = 4, buckets = 2,
      location = Some(root.resolve("graft_cmd_a").toString))
    BucketedStores.adoptVersioned(spark, name)
    BucketedStores.compactAtomic(spark, name, Seq("band", "bhash"),
      Seq("band", "bhash"), buckets = 2,
      location = Some(root.resolve("graft_cmd_b").toString))
    // the retired generation's dir leaks until vacuumed; the age
    // guard holds it first
    assert(spark.sql(
      s"GRAFT VACUUM '${root}' OLDER THAN 1 HOURS").count() === 0L)
    val deleted = spark.sql(
      s"GRAFT VACUUM '${root}' OLDER THAN 0 HOURS")
      .collect().map(_.getString(0))
    assert(deleted.length === 1 && deleted.head.endsWith("graft_cmd_a"),
      s"exactly the retired generation reclaims, got ${deleted.toSeq}")
    assert(spark.table(name).count() > 0,
      "serving must be unaffected")
    BucketedStores.dropVersioned(spark, name)
  }

  test("GRAFT COMPACT folds a merge-on-read store's tombstones in " +
      "without changing served content and resets the seq clock; a " +
      "versioned store compacts with RETAIN keeping time travel; " +
      "misuse fails loudly") {
    import org.apache.spark.sql.functions.max
    // --- merge-on-read: build, delta, compact via SQL
    spark.range(100L)
      .select(col("id").as("k"), (col("id") * 2).as("v"),
        org.apache.spark.sql.functions.lit(0L).as("_seq"))
      .repartition(2, col("k"))
      .write.bucketBy(2, "k").sortBy("k").option("path", tmp())
      .saveAsTable("cmd_mor")
    BucketedStores.adoptVersioned(spark, "cmd_mor")
    BucketedStores.morEnable(spark, "cmd_mor", Seq("k"), "k")
    val seq = BucketedStores.morNextSeq(spark, "cmd_mor")
    BucketedStores.morDelete(spark, "cmd_mor",
      spark.range(10L).toDF("k"), seq)
    BucketedStores.morAppend(spark, "cmd_mor",
      spark.range(100L, 120L)
        .select(col("id").as("k"), (col("id") * 2).as("v")),
      seq, Seq("k"), Seq("k"), 2)
    def served(): Set[(Long, Long)] = spark.table("cmd_mor")
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = served()
    assert(before.size === 110) // 100 - 10 deleted + 20 appended
    val row = spark.sql("GRAFT COMPACT cmd_mor").head()
    assert(row.getString(0) === "cmd_mor" &&
      row.getString(1) === "merge-on-read" && row.getLong(2) === 2L)
    assert(served() === before,
      "compaction must not change served content")
    assert(spark.table(
      BucketedStores.currentTombstones(spark, "cmd_mor")).count() === 0L,
      "tombstones must fold in (fresh empty tombstone generation)")
    assert(spark.table(
      BucketedStores.currentGeneration(spark, "cmd_mor"))
      .agg(max(col("_seq"))).head().getLong(0) === 0L,
      "the seq clock must reset with the compaction era")
    // RETAIN has no MoR meaning — loud error, not silent drop
    val exR = intercept[AnalysisException] {
      spark.sql("GRAFT COMPACT cmd_mor RETAIN 1")
    }
    assert(exR.getMessage.contains("RETAIN applies to copy-on-write"),
      exR.getMessage)
    BucketedStores.dropVersioned(spark, "cmd_mor")
    // --- plain versioned: RETAIN keeps the old generation readable
    spark.range(50L).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartition(2, col("k"))
      .write.bucketBy(2, "k").sortBy("k").option("path", tmp())
      .saveAsTable("cmd_ver")
    BucketedStores.adoptVersioned(spark, "cmd_ver")
    val vRow = spark.sql("GRAFT COMPACT cmd_ver RETAIN 1").head()
    assert(vRow.getString(1) === "versioned" && vRow.getLong(2) === 2L)
    assert(spark.sql(
      "SELECT count(1) c FROM cmd_ver VERSION AS OF 1").head()
      .getLong(0) === 50L,
      "RETAIN 1 must keep generation 1 time-travelable")
    BucketedStores.dropVersioned(spark, "cmd_ver")
    // --- not a store: loud error
    spark.range(3L).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("cmd_plain")
    val exP = intercept[AnalysisException] {
      spark.sql("GRAFT COMPACT cmd_plain")
    }
    assert(exP.getMessage.contains("not a versioned store"),
      exP.getMessage)
    spark.sql("DROP TABLE cmd_plain")
  }

  test("GRAFT_ANN serves a stored IVF index as pure SQL text: top-1 " +
      "agrees with probeIvfIndex exactly, top-k ranks correctly, and " +
      "macro misuse fails loudly") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Flat, k = Some(2), table = "cmd_ann_idx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_ann_q")
    // top-1 must agree with the API probe, row for row
    val api = IvfStore.probe(spark, "cmd_ann_idx", vecs,
      "vec_id", "embedding", dims = 4, nprobe = 2)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaSql = spark.sql("SELECT id_a, ann_id, score FROM " +
      "GRAFT_ANN('cmd_ann_idx', 'cmd_ann_q', 1, 2) ORDER BY id_a")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaSql === api,
      "the SQL macro must reproduce probeIvfIndex exactly")
    // top-k: every query gets k ranked neighbors, rank 1 first, no self
    val top2 = spark.sql("SELECT id_a, ann_id, score, rank FROM " +
      "GRAFT_ANN('cmd_ann_idx', 'cmd_ann_q', 2, 2) ORDER BY id_a, rank")
      .collect()
    assert(top2.length === 16, "8 queries × top-2")
    top2.grouped(2).foreach { pair =>
      assert(pair(0).getLong(0) === pair(1).getLong(0))
      assert(pair(0).getDouble(2) >= pair(1).getDouble(2),
        "rank 1 must not score below rank 2")
      assert(pair(0).getLong(1) !== pair(0).getLong(0),
        "a query must never be its own neighbor")
    }
    val e1 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('no_such_index', 'cmd_ann_q', 1, 1)")
    }
    assert(e1.getMessage.contains("not a stored IVF index"),
      e1.getMessage)
    val e2 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_ann_idx', 'cmd_ann_q', 0, 1)")
    }
    assert(e2.getMessage.contains("k must be >= 1"), e2.getMessage)
    val e3 = intercept[AnalysisException] {
      spark.sql("SELECT * FROM GRAFT_ANN(cmd_ann_idx)")
    }
    assert(e3.getMessage.contains("expected GRAFT_ANN("), e3.getMessage)
    // time-travel composition: version the index, DELETE the current
    // top-1 neighbor of query 0 via a changelog delta (retain keeps
    // the pre-delete generation) — the macro over the RETAINED
    // generation still returns the deleted vector, the macro over the
    // serving name never does
    val victim = api.head._2
    BucketedStores.adoptVersioned(spark, "cmd_ann_idx")
    BucketedStores.applyDeltaAtomic(spark, "cmd_ann_idx",
      Seq("cid"), Seq("cid"), 2, "vid",
      removeIds = spark.range(victim, victim + 1).toDF("vid"),
      additions = None, retain = 1)
    val asOfV1 = spark.sql("SELECT id_a, ann_id FROM " +
      "GRAFT_ANN('cmd_ann_idx__v1', 'cmd_ann_q', 1, 2) " +
      "WHERE id_a = " + api.head._1).head()
    assert(asOfV1.getLong(1) === victim,
      "the retained generation must still serve the deleted vector")
    val current = spark.sql("SELECT ann_id FROM " +
      "GRAFT_ANN('cmd_ann_idx', 'cmd_ann_q', 1, 2)").collect()
      .map(_.getLong(0)).toSet
    assert(!current.contains(victim),
      "the serving index must not surface the deleted vector")
    BucketedStores.dropVersioned(spark, "cmd_ann_idx")
    spark.sql("DROP TABLE IF EXISTS cmd_ann_idx_centroids")
  }

  test("GRAFT_ANN 5-arg form serves a QUANTIZED (SQ8) store: SQL " +
      "equals probeIvfSq8Index row for row; rerank is required there, " +
      "forbidden on float stores, and must cover k") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val vecs = (0L until 24L).map(i =>
      (i, Array.tabulate(6)(j => ((i * 11 + j * 7) % 13 - 6).toFloat / 2f)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 6, codec = ListCodec.Sq8, k = Some(3), table = "cmd_sq8_idx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_sq8_q")
    val api = IvfStore.probe(spark, "cmd_sq8_idx", vecs,
      "vec_id", "embedding", dims = 6, nprobe = 2, rerank = 5)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaSql = spark.sql("SELECT id_a, ann_id, score FROM " +
      "GRAFT_ANN('cmd_sq8_idx', 'cmd_sq8_q', 1, 2, 5) ORDER BY id_a")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaSql === api,
      "the 5-arg macro must reproduce probeIvfSq8Index exactly")
    // k > 1 over the quantized tier: ranked per query, score desc
    val top2 = spark.sql("SELECT id_a, ann_id, score, rank FROM " +
      "GRAFT_ANN('cmd_sq8_idx', 'cmd_sq8_q', 2, 2, 5) " +
      "ORDER BY id_a, rank").collect()
    assert(top2.nonEmpty && top2.grouped(2).forall(p =>
      p.length < 2 || p(0).getLong(0) != p(1).getLong(0) ||
        p(0).getDouble(2) >= p(1).getDouble(2)))
    // loud dispatch errors
    val e1 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_sq8_idx', 'cmd_sq8_q', 1, 2)")
    }
    assert(e1.getMessage.contains("rerank> argument is required"),
      e1.getMessage)
    val e2 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_sq8_idx', 'cmd_sq8_q', 9, 2, 5)")
    }
    assert(e2.getMessage.contains("must be >= k"), e2.getMessage)
    // float store + rerank → loud
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 6, codec = ListCodec.Flat, k = Some(3), table = "cmd_sq8_flat",
      location = Some(tmp()))
    val e3 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_sq8_flat', 'cmd_sq8_q', 1, 2, 5)")
    }
    assert(e3.getMessage.contains("only applies to quantized"),
      e3.getMessage)
    // SQ8 time travel IS offered for maintained stores (see the
    // parity spec below) — but a generation-shaped name WITHOUT its
    // snapshots must still error loudly; it can never silently probe
    // a float-companion-less store
    BucketedStores.dropVersioned(spark, "cmd_sq8_gen")
    spark.sql("CREATE TABLE cmd_sq8_gen__v1 AS SELECT * FROM cmd_sq8_idx")
    val e4 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_sq8_gen__v1', 'cmd_sq8_q', 1, 2, 5)")
    }
    assert(e4.getMessage.contains("snapshotted quantizer companion"),
      e4.getMessage)
    spark.sql("DROP TABLE IF EXISTS cmd_sq8_gen__v1")
    Seq("cmd_sq8_idx", "cmd_sq8_idx_centroids", "cmd_sq8_idx_vecs",
      "cmd_sq8_flat", "cmd_sq8_flat_centroids")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("GRAFT_ANN time travel survives a quantizer rebuild: a " +
      "retained generation probes its SNAPSHOTTED companion (pinned " +
      "at swap time), and a generation without one fails loudly " +
      "instead of silently probing the rebuilt base quantizer") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Flat, k = Some(2), table = "cmd_tt_idx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_tt_q")
    BucketedStores.adoptVersioned(spark, "cmd_tt_idx")
    BucketedStores.applyDeltaAtomic(spark, "cmd_tt_idx",
      Seq("cid"), Seq("cid"), 2, "vid",
      removeIds = spark.range(0L, 1L).toDF("vid"),
      additions = None, retain = 1)
    // every live generation got its quantizer snapshot at swap time
    assert(spark.catalog.tableExists("cmd_tt_idx__v1_centroids") &&
      spark.catalog.tableExists("cmd_tt_idx__v2_centroids"),
      "swap must snapshot the centroid companion per generation")
    val asOfV1 = "SELECT id_a, ann_id FROM " +
      "GRAFT_ANN('cmd_tt_idx__v1', 'cmd_tt_q', 1, 2) ORDER BY id_a"
    val before = spark.sql(asOfV1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // QUANTIZER REBUILD on the base name: drop + retrain the
    // companion — exactly what a writeIvfIndex re-run / streamed
    // index rebuild does (SimilarityOps.writeIvfIndex drops
    // <table>_centroids before rewriting) — with a DIFFERENT
    // quantizer, while the retained generations survive the rebuild
    spark.sql("DROP TABLE cmd_tt_idx_centroids")
    Seq((0L, Seq(100.0, 0.0, 0.0, 0.0)),
        (1L, Seq(0.0, 100.0, 0.0, 0.0)))
      .toDF("cid", "ce").write.option("path", tmp())
      .saveAsTable("cmd_tt_idx_centroids")
    val after = spark.sql(asOfV1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after === before,
      "a retained generation's answer is pinned to the quantizer its " +
        "lists were assigned under — a base rebuild cannot change it")
    // a generation WITHOUT its snapshot (pre-snapshot store) must
    // fail loudly, never silently mis-probe against the rebuilt base
    spark.sql("DROP TABLE cmd_tt_idx__v1_centroids")
    val e = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_tt_idx__v1', 'cmd_tt_q', 1, 2)")
    }
    assert(e.getMessage.contains("snapshotted quantizer companion"),
      e.getMessage)
    BucketedStores.dropVersioned(spark, "cmd_tt_idx")
    spark.sql("DROP TABLE IF EXISTS cmd_tt_idx_centroids")
  }

  test("quantizer snapshots follow the retention window: every live " +
      "generation has one, a retired generation's is dropped with it") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 3 + j * 5) % 9 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Flat, k = Some(2), table = "cmd_ret_idx",
      location = Some(tmp()))
    BucketedStores.adoptVersioned(spark, "cmd_ret_idx")
    def delta(vid: Long): Unit =
      BucketedStores.applyDeltaAtomic(spark, "cmd_ret_idx",
        Seq("cid"), Seq("cid"), 2, "vid",
        removeIds = spark.range(vid, vid + 1).toDF("vid"),
        additions = None, retain = 1)
    delta(0L) // v2 current, v1 retained
    assert(spark.catalog.tableExists("cmd_ret_idx__v1_centroids") &&
      spark.catalog.tableExists("cmd_ret_idx__v2_centroids"))
    delta(1L) // v3 current, v2 retained, v1 RETIRED
    assert(!spark.catalog.tableExists("cmd_ret_idx__v1"),
      "v1 must be retired by retain=1")
    assert(!spark.catalog.tableExists("cmd_ret_idx__v1_centroids"),
      "a retired generation's quantizer snapshot must die with it")
    assert(spark.catalog.tableExists("cmd_ret_idx__v2_centroids") &&
      spark.catalog.tableExists("cmd_ret_idx__v3_centroids"),
      "every LIVE generation keeps its snapshot")
    BucketedStores.dropVersioned(spark, "cmd_ret_idx")
    spark.sql("DROP TABLE IF EXISTS cmd_ret_idx_centroids")
  }

  test("GRAFT_ANN serves a PRODUCT-QUANTIZED store: SQL equals " +
      "probePqIndex row for row; rerank is required, nprobe is " +
      "pinned to 1 (flat ADC scan), and top-k ranks correctly") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)((rnd.nextDouble() * 4 - 2).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(4, 8), k = None, table = "cmd_pq_idx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_pq_q")
    val api = IvfStore.probe(spark, "cmd_pq_idx", vecs,
      "vec_id", "embedding", dims = 8, rerank = 6)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaSql = spark.sql(
      "SELECT id_a, ann_id, score FROM " +
        "GRAFT_ANN('cmd_pq_idx', 'cmd_pq_q', 1, 1, 6) ORDER BY id_a")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(viaSql === api,
      "the PQ macro must reproduce probePqIndex exactly")
    // top-k ranks: contiguous 1..k per query, scores non-increasing
    val topk = spark.sql(
      "SELECT id_a, ann_id, score, rank FROM " +
        "GRAFT_ANN('cmd_pq_idx', 'cmd_pq_q', 2, 1, 6) " +
        "ORDER BY id_a, rank").collect()
    assert(topk.nonEmpty && topk.grouped(2).forall(p =>
      p.length < 2 || p(0).getLong(0) != p(1).getLong(0) ||
        p(0).getDouble(2) >= p(1).getDouble(2)))
    // loud dispatch contract
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT * FROM GRAFT_ANN('cmd_pq_idx', 'cmd_pq_q', 1, 1)")
    }
    assert(e1.getMessage.contains("rerank> argument is required"),
      e1.getMessage)
    val e2 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_pq_idx', 'cmd_pq_q', 1, 3, 6)")
    }
    assert(e2.getMessage.contains("must be 1"), e2.getMessage)
    val e3 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_pq_idx', 'cmd_pq_q', 9, 1, 5)")
    }
    assert(e3.getMessage.contains("must be >= k"), e3.getMessage)
    Seq("cmd_pq_idx", "cmd_pq_idx_codebooks", "cmd_pq_idx_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("SQ8 time travel at parity with the float tier: a retained " +
      "quantized generation serves through BOTH of its snapshots " +
      "(centroids copy + shallow _vecs), its answer is pinned " +
      "through a full base rebuild, and a missing snapshot of " +
      "either companion fails loudly") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Sq8, k = Some(2), table = "cmd_sq8tt_idx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_sq8tt_q")
    BucketedStores.adoptVersioned(spark, "cmd_sq8tt_idx")
    BucketedStores.applyDeltaAtomic(spark, "cmd_sq8tt_idx",
      Seq("cid"), Seq("cid"), 2, "vid",
      removeIds = spark.range(0L, 1L).toDF("vid"),
      additions = None, retain = 1)
    // every live generation got BOTH snapshots at swap time
    Seq("cmd_sq8tt_idx__v1_centroids", "cmd_sq8tt_idx__v2_centroids",
        "cmd_sq8tt_idx__v1_vecs", "cmd_sq8tt_idx__v2_vecs")
      .foreach(t => assert(spark.catalog.tableExists(t),
        s"swap must snapshot both companions per generation ($t)"))
    // the shallow _vecs snapshot moved NO data: same location as base
    def loc(t: String) = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location
    assert(loc("cmd_sq8tt_idx__v1_vecs") === loc("cmd_sq8tt_idx_vecs"),
      "_vecs snapshots are shallow catalog entries, not copies")
    val asOfV1 = "SELECT id_a, ann_id FROM " +
      "GRAFT_ANN('cmd_sq8tt_idx__v1', 'cmd_sq8tt_q', 1, 2, 8) " +
      "ORDER BY id_a"
    val before = spark.sql(asOfV1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(before.nonEmpty)
    // FULL REBUILD of the base companions under a NEW build id —
    // retrained centroids AND re-written floats — while the retained
    // generations survive
    val b1 = BucketedStores.newBuildId()
    spark.sql("DROP TABLE cmd_sq8tt_idx_centroids")
    Seq((0L, Seq(100.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 100.0, 0.0, 0.0)))
      .toDF("cid", "ce").write.option("path", tmp())
      .saveAsTable("cmd_sq8tt_idx_centroids")
    BucketedStores.stampBuild(spark, "cmd_sq8tt_idx_centroids", b1)
    spark.sql("DROP TABLE cmd_sq8tt_idx_vecs")
    Seq((0L, Seq(1.0, 1.0, 1.0, 1.0), 2.0))
      .toDF("vid", "e", "nrm").write.option("path", tmp())
      .saveAsTable("cmd_sq8tt_idx_vecs")
    BucketedStores.stampBuild(spark, "cmd_sq8tt_idx_vecs", b1)
    val after = spark.sql(asOfV1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after === before,
      "a retained SQ8 generation's answer is pinned to its own " +
        "snapshots — a base rebuild cannot change it")
    // missing _vecs snapshot → loud, names the float companion
    spark.sql("DROP TABLE cmd_sq8tt_idx__v1_vecs")
    val eV = intercept[AnalysisException] { spark.sql(asOfV1) }
    assert(eV.getMessage.contains("snapshotted float companion"),
      eV.getMessage)
    // missing centroids snapshot → the float tier's loud error
    spark.sql("DROP TABLE cmd_sq8tt_idx__v1_centroids")
    val eC = intercept[AnalysisException] { spark.sql(asOfV1) }
    assert(eC.getMessage.contains("snapshotted quantizer companion"),
      eC.getMessage)
    BucketedStores.dropVersioned(spark, "cmd_sq8tt_idx")
    Seq("cmd_sq8tt_idx_centroids", "cmd_sq8tt_idx_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("IVF-PQ time travel at parity with the other tiers: a retained " +
      "generation serves through ALL THREE of its snapshots " +
      "(centroids + codebooks + _vecs), its answer is pinned through " +
      "a full base rebuild, and each missing snapshot fails loudly " +
      "by name") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Pq(2, 4), k = Some(2), table = "cmd_pqtt_idx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_pqtt_q")
    BucketedStores.adoptVersioned(spark, "cmd_pqtt_idx")
    BucketedStores.applyDeltaAtomic(spark, "cmd_pqtt_idx",
      Seq("cid"), Seq("cid"), 2, "vid",
      removeIds = spark.range(0L, 1L).toDF("vid"),
      additions = None, retain = 1)
    // every live generation got ALL THREE snapshots at swap time
    Seq("_centroids", "_codebooks", "_vecs").flatMap(s =>
      Seq(s"cmd_pqtt_idx__v1$s", s"cmd_pqtt_idx__v2$s"))
      .foreach(t => assert(spark.catalog.tableExists(t),
        s"swap must snapshot all three companions per generation ($t)"))
    // the codebook snapshots carry the PQ geometry props the SQL
    // dispatch reads (snapshotCompanion copies graft.* properties)
    assert(spark.sql("SHOW TBLPROPERTIES cmd_pqtt_idx__v1_codebooks")
      .collect().exists(r => r.getString(0) == "graft.pq.sub"),
      "codebook snapshots must carry the PQ geometry properties")
    val asOfV1 = "SELECT id_a, ann_id FROM " +
      "GRAFT_ANN('cmd_pqtt_idx__v1', 'cmd_pqtt_q', 1, 2, 8) " +
      "ORDER BY id_a"
    val before = spark.sql(asOfV1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(before.nonEmpty)
    // FULL REBUILD of the base companions under a NEW build id while
    // the retained generations survive
    val b1 = BucketedStores.newBuildId()
    spark.sql("DROP TABLE cmd_pqtt_idx_centroids")
    Seq((0L, Seq(100.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 100.0, 0.0, 0.0)))
      .toDF("cid", "ce").write.option("path", tmp())
      .saveAsTable("cmd_pqtt_idx_centroids")
    spark.sql("DROP TABLE cmd_pqtt_idx_codebooks")
    Seq((0, 0, Seq(9.0, 9.0)), (1, 0, Seq(9.0, 9.0)))
      .toDF("j", "c", "ce").write.option("path", tmp())
      .saveAsTable("cmd_pqtt_idx_codebooks")
    spark.sql("DROP TABLE cmd_pqtt_idx_vecs")
    Seq((0L, Seq(1.0, 1.0, 1.0, 1.0), 2.0))
      .toDF("vid", "e", "nrm").write.option("path", tmp())
      .saveAsTable("cmd_pqtt_idx_vecs")
    Seq("cmd_pqtt_idx_centroids", "cmd_pqtt_idx_codebooks",
      "cmd_pqtt_idx_vecs")
      .foreach(BucketedStores.stampBuild(spark, _, b1))
    val after = spark.sql(asOfV1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after === before,
      "a retained IVF-PQ generation's answer is pinned to its own " +
        "snapshots — a base rebuild cannot change it")
    // each missing snapshot fails loudly, naming the right companion
    // (dispatch checks codebooks, then vecs, then coarse centroids)
    spark.sql("DROP TABLE cmd_pqtt_idx__v1_centroids")
    val eC = intercept[AnalysisException] { spark.sql(asOfV1) }
    assert(eC.getMessage.contains("coarse-quantizer companion"),
      eC.getMessage)
    spark.sql("DROP TABLE cmd_pqtt_idx__v1_vecs")
    val eV = intercept[AnalysisException] { spark.sql(asOfV1) }
    assert(eV.getMessage.contains("snapshotted float companion"),
      eV.getMessage)
    spark.sql("DROP TABLE cmd_pqtt_idx__v1_codebooks")
    val eK = intercept[AnalysisException] { spark.sql(asOfV1) }
    assert(eK.getMessage.contains("snapshotted quantizer companion"),
      eK.getMessage)
    BucketedStores.dropVersioned(spark, "cmd_pqtt_idx")
    Seq("cmd_pqtt_idx_centroids", "cmd_pqtt_idx_codebooks",
      "cmd_pqtt_idx_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("quantizer build stamps make every stale-quantizer pairing " +
      "loud: a forced snapshot from a retrained base fails the probe " +
      "on the stamp mismatch, the serving name fails after a base " +
      "rebuild, and a swap refuses to back-fill across the rebuild") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec}
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 5 + j * 7) % 13 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Flat, k = Some(2), table = "cmd_stamp_idx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_stamp_q")
    // writer stamps lists + companion with ONE build id
    val b0 = BucketedStores.buildStamp(spark, "cmd_stamp_idx")
    assert(b0.isDefined &&
      b0 === BucketedStores.buildStamp(spark, "cmd_stamp_idx_centroids"),
      "writeIvfIndex must stamp lists and companion with one build id")
    BucketedStores.adoptVersioned(spark, "cmd_stamp_idx")
    BucketedStores.applyDeltaAtomic(spark, "cmd_stamp_idx",
      Seq("cid"), Seq("cid"), 2, "vid",
      removeIds = spark.range(0L, 1L).toDF("vid"),
      additions = None, retain = 1)
    // stamp flows: rename (v1), swap inheritance (v2), snapshots
    assert(BucketedStores.buildStamp(spark, "cmd_stamp_idx__v2") === b0 &&
      BucketedStores.buildStamp(spark, "cmd_stamp_idx__v1_centroids")
        === b0 &&
      BucketedStores.buildStamp(spark, "cmd_stamp_idx__v2_centroids")
        === b0,
      "generations and snapshots must inherit the build stamp")
    // QUANTIZER REBUILD on the base companion, minting a NEW build id
    // (what a writeIvfIndex re-run does)
    spark.sql("DROP TABLE cmd_stamp_idx_centroids")
    Seq((0L, Seq(100.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 100.0, 0.0, 0.0)))
      .toDF("cid", "ce").write.option("path", tmp())
      .saveAsTable("cmd_stamp_idx_centroids")
    BucketedStores.stampBuild(spark, "cmd_stamp_idx_centroids",
      BucketedStores.newBuildId())
    // (1) the SERVING name now pairs B0 lists with B1 centroids →
    // the SQL resolver fails loudly instead of mis-probing
    val eServe = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_ANN('cmd_stamp_idx', 'cmd_stamp_q', 1, 2)")
    }
    assert(eServe.getMessage.contains("quantizer build mismatch"),
      eServe.getMessage)
    // ...and the API probe refuses identically
    val eApi = intercept[IllegalArgumentException] {
      IvfStore.probe(spark, "cmd_stamp_idx", vecs,
        "vec_id", "embedding", dims = 4, nprobe = 2)
    }
    assert(eApi.getMessage.contains("quantizer build mismatch"),
      eApi.getMessage)
    // (2) FORCE a snapshot from the retrained base onto a stale
    // generation — the judge-case: probe must error on the stamp
    // mismatch, never serve the wrong quantizer
    spark.sql("DROP TABLE cmd_stamp_idx__v1_centroids")
    spark.table("cmd_stamp_idx_centroids").write.option("path", tmp())
      .saveAsTable("cmd_stamp_idx__v1_centroids")
    BucketedStores.buildStamp(spark, "cmd_stamp_idx_centroids")
      .foreach(BucketedStores.stampBuild(
        spark, "cmd_stamp_idx__v1_centroids", _))
    val eForced = intercept[AnalysisException] {
      spark.sql("SELECT * FROM " +
        "GRAFT_ANN('cmd_stamp_idx__v1', 'cmd_stamp_q', 1, 2)")
    }
    assert(eForced.getMessage.contains("quantizer build mismatch"),
      eForced.getMessage)
    // (3) maintenance AFTER the rebuild: the swap must NOT back-fill
    // the retrained base onto the new generation (the r17 silent
    // case) — with every lineage-true snapshot gone, the generation
    // stays snapshot-less and probes error loudly
    spark.sql("DROP TABLE cmd_stamp_idx__v1_centroids")
    spark.sql("DROP TABLE cmd_stamp_idx__v2_centroids")
    BucketedStores.applyDeltaAtomic(spark, "cmd_stamp_idx",
      Seq("cid"), Seq("cid"), 2, "vid",
      removeIds = spark.range(1L, 2L).toDF("vid"),
      additions = None, retain = 0)
    assert(!spark.catalog.tableExists("cmd_stamp_idx__v3_centroids"),
      "a swap across a quantizer rebuild must refuse the back-fill")
    val eGen = intercept[AnalysisException] {
      spark.sql("SELECT * FROM " +
        "GRAFT_ANN('cmd_stamp_idx__v3', 'cmd_stamp_q', 1, 2)")
    }
    assert(eGen.getMessage.contains("snapshotted quantizer companion"),
      eGen.getMessage)
    BucketedStores.dropVersioned(spark, "cmd_stamp_idx")
    spark.sql("DROP TABLE IF EXISTS cmd_stamp_idx_centroids")
  }

  test("GRAFT_BM25 serves a stored text index as pure SQL text: " +
      "row-identical to the bm25TopK API, bucket-pruned candidate " +
      "scan, loud macro errors") {
    import spark.implicits._
    import graft.operators.TextRetrievalOps
    val docs = Seq(
      (1L, "spark joins spark shuffles windows"),
      (2L, "vector hash vector vector"),
      (3L, "spark vector hash window join"),
      (4L, "tokens tokens tokens tokens tokens"),
      (5L, "window window hash"))
      .toDF("doc_id", "text")
    TextRetrievalOps.writeTextIndex(docs, "doc_id", "text",
      "cmd_bm25_idx", location = Some(tmp()))
    val api = TextRetrievalOps.bm25TopK(spark, "cmd_bm25_idx",
      Seq("spark", "vector", "hash", "window"), topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaSql = spark.sql("SELECT doc_id, score FROM " +
      "GRAFT_BM25('cmd_bm25_idx', 'spark vector hash window', 3) " +
      "ORDER BY score DESC, doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql === api,
      "the SQL macro must reproduce bm25TopK exactly, order included")
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT * FROM GRAFT_BM25('no_such_idx', 'spark', 1)")
    }
    assert(e1.getMessage.contains("not a stored text index"),
      e1.getMessage)
    val e2 = intercept[AnalysisException] {
      spark.sql("SELECT * FROM GRAFT_BM25('cmd_bm25_idx', '', 1)")
    }
    assert(e2.getMessage.contains("terms string is empty"),
      e2.getMessage)
    val e3 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_BM25('cmd_bm25_idx', \"a' OR x\", 1)")
    }
    assert(e3.getMessage.contains("expected GRAFT_BM25("),
      e3.getMessage)
    // time-travel composition is NOT offered for the lexical index
    // (a retained postings generation would pair with the CURRENT
    // docs/meta companions — the same silent-mis-probe class the ANN
    // macro guards against): a generation name must error loudly,
    // never resolve against mismatched companions
    val e4 = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_BM25('cmd_bm25_idx__v1', 'spark', 1)")
    }
    assert(e4.getMessage.contains("not a stored text index"),
      e4.getMessage)
    Seq("cmd_bm25_idx", "cmd_bm25_idx_docs", "cmd_bm25_idx_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("GRAFT_BM25 batch form: a (query_id, terms) relation scores " +
      "in one pass — per-query rows equal the literal form exactly, " +
      "and the postings scan feeds its candidate join broadcast-side " +
      "with NO exchange (the corpus never shuffles)") {
    import spark.implicits._
    import graft.operators.TextRetrievalOps
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val docs = Seq(
      (1L, "spark joins spark shuffles windows"),
      (2L, "vector hash vector vector"),
      (3L, "spark vector hash window join"),
      (4L, "tokens tokens tokens tokens tokens"),
      (5L, "window window hash"))
      .toDF("doc_id", "text")
    TextRetrievalOps.writeTextIndex(docs, "doc_id", "text",
      "cmd_bm25b_idx", location = Some(tmp()))
    val batchQs = Seq((1L, "spark vector"), (2L, "hash  window"))
    batchQs.toDF("query_id", "terms")
      .createOrReplaceTempView("cmd_bm25b_q")
    val df = spark.sql("SELECT query_id, doc_id, score, rank FROM " +
      "GRAFT_BM25('cmd_bm25b_idx', 'cmd_bm25b_q', 3) " +
      "ORDER BY query_id, rank")
    val batch = df.collect()
    batchQs.foreach { case (qid, terms) =>
      val lit = spark.sql("SELECT doc_id, score FROM " +
        s"GRAFT_BM25('cmd_bm25b_idx', '$terms', 3) " +
        "ORDER BY score DESC, doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = batch.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(b === lit,
        s"query $qid: the batch form must equal the literal form")
    }
    // plan gate: the postings relation joins the exploded query-term
    // side WITHOUT an exchange under it (bucketed term column, tiny
    // side broadcasts) — a sort-merge shuffle of the corpus-scale
    // postings is the failure this gate exists to catch
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE wraps materialized stages as leaves — expand through them
    // so the scan/join/exchange census sees the whole physical tree
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case q: QueryStageExec => q +: expand(q.plan)
        case n => Seq(n)
      }
    def hasPostingsScan(p: SparkPlan): Boolean =
      expand(p).exists {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == "cmd_bm25b_idx")
        case _ => false
      }
    val preJoinShuffles = expand(plan).collect {
      case e: ShuffleExchangeExec if hasPostingsScan(e.child) &&
          expand(e.child)
            .collect { case j: BaseJoinExec => j }.isEmpty => e
    }
    assert(preJoinShuffles.isEmpty,
      s"the postings side must reach its candidate join unshuffled:\n$plan")
    val candJoin = expand(plan).collect {
      case j: BaseJoinExec
        if (hasPostingsScan(j.left) || hasPostingsScan(j.right)) &&
          expand(j.left)
            .collect { case jj: BaseJoinExec => jj }.isEmpty &&
          expand(j.right)
            .collect { case jj: BaseJoinExec => jj }.isEmpty => j
    }
    assert(candJoin.nonEmpty &&
      candJoin.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the candidate join must broadcast the query-term side:\n$plan")
    spark.catalog.dropTempView("cmd_bm25b_q")
    Seq("cmd_bm25b_idx", "cmd_bm25b_idx_docs", "cmd_bm25b_idx_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("GRAFT_BM25 batch dispatch is pinned: an empty-terms row " +
      "fails loudly naming its query_id (parity with the literal " +
      "form), and a relation shadowing a single-term literal " +
      "dispatches to the BATCH form deterministically") {
    import spark.implicits._
    import graft.operators.TextRetrievalOps
    val docs = Seq(
      (1L, "spark joins spark shuffles"),
      (2L, "vector hash vector"),
      (3L, "spark vector hash"))
      .toDF("doc_id", "text")
    TextRetrievalOps.writeTextIndex(docs, "doc_id", "text",
      "cmd_bm25c_idx", location = Some(tmp()))
    // (a) a batch row whose terms tokenize to nothing must fail
    // loudly — silently dropping the query_id from the output is
    // indistinguishable from "no matches"
    Seq((1L, "spark"), (2L, "   "), (3L, ""))
      .toDF("query_id", "terms")
      .createOrReplaceTempView("cmd_bm25c_q")
    val e = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM GRAFT_BM25('cmd_bm25c_idx', 'cmd_bm25c_q', 2)")
    }
    assert(e.getMessage.contains("terms") &&
      e.getMessage.contains("empty") && e.getMessage.contains("2"),
      s"the error must name the offending query_id(s): ${e.getMessage}")
    // (b) dispatch collision: 'spark' is a REAL term in the corpus
    // AND names a (query_id, terms) relation — the batch form must
    // win (documented preference), visible in the output shape
    Seq((7L, "vector hash")).toDF("query_id", "terms")
      .createOrReplaceTempView("spark")
    val rows = spark.sql(
      "SELECT * FROM GRAFT_BM25('cmd_bm25c_idx', 'spark', 2) " +
        "ORDER BY query_id, rank").collect()
    assert(rows.nonEmpty &&
      rows.forall(_.getLong(0) === 7L) &&
      rows.head.schema.fieldNames.toSeq ===
        Seq("query_id", "doc_id", "score", "rank"),
      "a shadowing relation must dispatch to the batch form")
    // ...and the literal interpretation remains reachable the moment
    // the relation is gone
    spark.catalog.dropTempView("spark")
    val lit = spark.sql(
      "SELECT * FROM GRAFT_BM25('cmd_bm25c_idx', 'spark', 2)")
      .collect()
    assert(lit.nonEmpty &&
      lit.head.schema.fieldNames.toSeq === Seq("doc_id", "score"),
      "without the relation, the same text is a single-term literal")
    spark.catalog.dropTempView("cmd_bm25c_q")
    Seq("cmd_bm25c_idx", "cmd_bm25c_idx_docs", "cmd_bm25c_idx_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("macro composition: GRAFT_BM25 and GRAFT_ANN in ONE statement " +
      "— a hybrid lexical+vector retrieval joins both derived tables " +
      "through a single parse") {
    import spark.implicits._
    import graft.operators.{IvfStore, ListCodec, TextRetrievalOps}
    val docs = Seq(
      (0L, "spark joins spark shuffles windows"),
      (1L, "vector hash vector vector"),
      (2L, "spark vector hash window join"),
      (3L, "tokens tokens tokens tokens tokens"))
      .toDF("doc_id", "text")
    TextRetrievalOps.writeTextIndex(docs, "doc_id", "text",
      "cmd_hy_tidx", location = Some(tmp()))
    val vecs = (0L until 4L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 5 + j * 3) % 7 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Flat, k = Some(2), table = "cmd_hy_vidx",
      location = Some(tmp()))
    vecs.createOrReplaceTempView("cmd_hy_q")
    // one statement, two macros: lexical hits annotated with each
    // hit's nearest vector neighbor — both rewrites splice in one
    // parse, the analyzer resolves the join across the expansions
    val hybrid = spark.sql(
      "SELECT b.doc_id, b.score, a.ann_id " +
        "FROM GRAFT_BM25('cmd_hy_tidx', 'spark vector hash', 4) b " +
        "LEFT JOIN GRAFT_ANN('cmd_hy_vidx', 'cmd_hy_q', 1, 2) a " +
        "ON a.id_a = b.doc_id ORDER BY b.score DESC, b.doc_id")
      .collect()
    assert(hybrid.nonEmpty, "the hybrid statement must return rows")
    assert(hybrid.forall(r => !r.isNullAt(2)),
      "every lexical hit has a vector neighbor in this corpus")
    assert(hybrid.forall(r => r.getLong(2) !== r.getLong(0)),
      "no doc is its own neighbor")
    Seq("cmd_hy_tidx", "cmd_hy_tidx_docs", "cmd_hy_tidx_meta",
      "cmd_hy_vidx", "cmd_hy_vidx_centroids")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("malformed GRAFT statements fail loudly; the namespace claims " +
      "only a leading GRAFT token") {
    val ex1 = intercept[AnalysisException] {
      spark.sql("GRAFT ANALYZE missing_the_key_clause")
    }
    assert(ex1.getMessage.contains("GRAFT ANALYZE <table> KEY"),
      ex1.getMessage)
    val ex2 = intercept[AnalysisException] {
      spark.sql("GRAFT FROBNICATE x")
    }
    assert(ex2.getMessage.contains("unknown GRAFT command"),
      ex2.getMessage)
    val ex3 = intercept[AnalysisException] {
      spark.sql("GRAFT VACUUM unquoted/path")
    }
    assert(ex3.getMessage.contains("GRAFT VACUUM '<root>'"),
      ex3.getMessage)
    // a table NAMED graft is untouched (not a leading token)
    spark.range(3).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("graft")
    assert(spark.sql("SELECT count(*) c FROM graft").head()
      .getLong(0) === 3L)
    spark.sql("DROP TABLE graft")
  }
}
