package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs
import graft.operators.BucketedStores

/** Gates [[org.apache.spark.sql.graft.StoreTimeTravelRewrite]]: SQL
  * `VERSION AS OF k` must read exactly the retained generation
  * (byte-equal to `readGeneration`), retired generations must fail
  * loudly with the live window in the message, `TIMESTAMP AS OF` must
  * resolve to what the serving view showed at that instant, MoR
  * stores must be rejected toward `readMorAsOfSeq`, and everything
  * that is not a graft versioned store must stand down to Spark's own
  * behavior.
  */
class StoreTimeTravelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  /** Every temp dir the suite makes, deleted in [[afterAll]]. */
  private lazy val suiteDir = Files.createTempDirectory("graft_ttl")

  private def tmp() = Files.createTempDirectory(suiteDir, "t").toString

  override def afterAll(): Unit =
    try spark.stop() finally TestDirs.deleteTree(suiteDir)

  /** A versioned store with three generations (10, 20, 30 rows),
    * retain=2 so all three stay live.
    */
  private def buildStore(name: String, retain: Int): Unit = {
    spark.range(10).select(col("id").as("k"), lit(1L).as("gen"))
      .repartition(2, col("k"))
      .write.bucketBy(2, "k").sortBy("k").option("path", tmp())
      .saveAsTable(name)
    BucketedStores.adoptVersioned(spark, name)
    for (g <- 2 to 3)
      BucketedStores.applyDeltaAtomic(spark, name,
        Seq("k"), Seq("k"), 2, "k",
        removeIds = spark.range(0).select(col("id").as("k")),
        additions = Some(spark.range(10L * (g - 1), 10L * g)
          .select(col("id").as("k"), lit(g.toLong).as("gen"))),
        location = Some(tmp()), retain = retain)
  }

  test("VERSION AS OF k reads exactly the retained generation, and a " +
      "retired k fails loudly listing the live window") {
    buildStore("ttl_store", retain = 1) // live: v2, v3
    assert(spark.sql("SELECT count(*) c FROM ttl_store VERSION AS OF 2")
      .head().getLong(0) === 20L)
    assert(spark.sql("SELECT count(*) c FROM ttl_store VERSION AS OF 3")
      .head().getLong(0) === 30L)
    // byte-equality with the API read
    val viaSql = spark.sql("SELECT * FROM ttl_store VERSION AS OF 2")
      .orderBy("k").collect().toSeq
    val viaApi = BucketedStores.readGeneration(spark, "ttl_store", 2)
      .orderBy("k").collect().toSeq
    assert(viaSql === viaApi)
    // current serving view is unaffected
    assert(spark.table("ttl_store").count() === 30L)
    // generation 1 was retired by retain=1
    val ex = intercept[AnalysisException] {
      spark.sql("SELECT * FROM ttl_store VERSION AS OF 1").collect()
    }
    assert(ex.getMessage.contains("GRAFT_TIME_TRAVEL") &&
      ex.getMessage.contains("not retained") &&
      ex.getMessage.contains("2, 3"), ex.getMessage)
    // non-integer version on a graft store: loud, branded
    val ex2 = intercept[AnalysisException] {
      spark.sql("SELECT * FROM ttl_store VERSION AS OF 'abc'").collect()
    }
    assert(ex2.getMessage.contains("GRAFT_TIME_TRAVEL"), ex2.getMessage)
  }

  test("TIMESTAMP AS OF resolves to the newest generation created at " +
      "or before the cutoff; before-history fails loudly") {
    buildStore("ttl_ts_store", retain = 2) // live: v1, v2, v3
    def createMs(k: Int) = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"ttl_ts_store__v$k"))
      .createTime
    // a cutoff at v2's creation instant (v3 is strictly later —
    // catalog createTime is millis, and generations are seconds apart
    // only if the writes were; use v2's own stamp, inclusive)
    val atV2 = new java.sql.Timestamp(createMs(2))
    val n = spark.sql(
      s"SELECT count(*) c FROM ttl_ts_store TIMESTAMP AS OF '$atV2'")
      .head().getLong(0)
    // v3 may share v2's millisecond on a fast machine — then the tie
    // breaks to v3 (the generation the view served after the swap)
    assert(n === 20L || (n === 30L && createMs(3) == createMs(2)),
      s"got $n rows; v2@${createMs(2)} v3@${createMs(3)}")
    // after everything: the newest generation
    val late = new java.sql.Timestamp(createMs(3) + 60000L)
    assert(spark.sql(
      s"SELECT count(*) c FROM ttl_ts_store TIMESTAMP AS OF '$late'")
      .head().getLong(0) === 30L)
    // before the oldest retained generation: loud error
    val early = new java.sql.Timestamp(createMs(1) - 60000L)
    val ex = intercept[AnalysisException] {
      spark.sql(
        s"SELECT * FROM ttl_ts_store TIMESTAMP AS OF '$early'").collect()
    }
    assert(ex.getMessage.contains("GRAFT_TIME_TRAVEL") &&
      ex.getMessage.contains("no generation"), ex.getMessage)
  }

  test("a merge-on-read store's VERSION AS OF is the SEQUENCE read: " +
      "byte-equal to readMorAsOfSeq at every seq, qualified refs " +
      "work through the alias, TIMESTAMP AS OF fails with guidance") {
    spark.range(10)
      .select(col("id").as("k"), lit(0L).as("_seq"))
      .repartition(2, col("k"))
      .write.bucketBy(2, "k").sortBy("k").option("path", tmp())
      .saveAsTable("ttl_mor")
    BucketedStores.adoptVersioned(spark, "ttl_mor")
    BucketedStores.morEnable(spark, "ttl_mor", Seq("k"), "k")
    // batch 1: delete keys 0-2, upsert key 1 with new content
    import spark.implicits._
    BucketedStores.morDelete(spark, "ttl_mor",
      Seq(0L, 1L, 2L).toDF("k"), seq = 1L)
    BucketedStores.morAppend(spark, "ttl_mor",
      Seq((1L, 1L)).toDF("k", "_seq"), seq = 1L, Seq("k"), Seq("k"), 2)
    for (seq <- 0L to 1L) {
      val viaSql = spark.sql(
        s"SELECT k FROM ttl_mor VERSION AS OF $seq ORDER BY k")
        .as[Long].collect().toSeq
      val viaApi = BucketedStores.readMorAsOfSeq(spark, "ttl_mor",
        Seq("k"), "k", seq).select("k").orderBy("k")
        .as[Long].collect().toSeq
      assert(viaSql === viaApi, s"seq=$seq: $viaSql vs $viaApi")
    }
    // as-built state really is pre-delete; the live view is post
    assert(spark.sql("SELECT count(*) c FROM ttl_mor VERSION AS OF 0")
      .head().getLong(0) === 10L)
    assert(spark.table("ttl_mor").count() === 8L)
    // qualified column references resolve through the spliced alias
    assert(spark.sql("SELECT max(ttl_mor.k) m FROM ttl_mor " +
      "VERSION AS OF 0 WHERE ttl_mor.k < 5").head().getLong(0) === 4L)
    val ex = intercept[AnalysisException] {
      spark.sql(
        "SELECT * FROM ttl_mor TIMESTAMP AS OF '2026-01-01'").collect()
    }
    assert(ex.getMessage.contains("VERSION AS OF <seq>"), ex.getMessage)
  }

  test("snapshot DIFF in one statement: two generations of one store " +
      "join under different AS OF clauses; FOR VERSION AS OF and " +
      "quoted versions parse; comments and string literals never " +
      "trigger the rewrite") {
    buildStore("ttl_diff", retain = 2)
    // what did the changelog between generations 1 and 3 add?
    val added = spark.sql(
      """SELECT count(*) c
         FROM ttl_diff VERSION AS OF 3 cur
         LEFT ANTI JOIN ttl_diff FOR VERSION AS OF '1' old
           ON cur.k = old.k""").head().getLong(0)
    assert(added === 20L, s"generations 1->3 added 20 keys, got $added")
    // a commented-out clause and a string literal are inert
    val inert = spark.sql(
      """SELECT count(*) c, 'not ttl_diff VERSION AS OF 1' AS s
         FROM ttl_diff -- ttl_diff VERSION AS OF 1
         GROUP BY 2""").head().getLong(0)
    assert(inert === 30L, "the live view must serve generation 3")
  }

  test("rewrite COMPOSITION: an ASOF JOIN against a time-traveled " +
      "store in one statement — both parser rewrites splice the same " +
      "text and land on the as-of operator over the retained snapshot") {
    import spark.implicits._
    // a versioned reference store: gen 1 has one price row per key,
    // gen 2 adds a LATER row per key that would win any as-of match
    Seq((1L, 10L, 100L), (2L, 10L, 200L))
      .toDF("k", "t", "price").repartition(2, col("k"))
      .write.bucketBy(2, "k").sortBy("k").option("path", tmp())
      .saveAsTable("ttl_prices")
    BucketedStores.adoptVersioned(spark, "ttl_prices")
    BucketedStores.applyDeltaAtomic(spark, "ttl_prices",
      Seq("k"), Seq("k"), 2, "k",
      removeIds = spark.range(0).select(col("id").as("k")),
      additions = Some(Seq((1L, 50L, 111L), (2L, 50L, 222L))
        .toDF("k", "t", "price")),
      location = Some(tmp()), retain = 1)
    Seq((1L, 60L), (2L, 60L)).toDF("ck", "ct")
      .createOrReplaceTempView("ttl_clicks")
    // against the LIVE store the t=50 rows win; against the retained
    // snapshot the t=10 rows must win — the composition is only
    // correct if BOTH rewrites fired on the one statement
    val live = spark.sql(
      """SELECT c.ck, p.price FROM ttl_clicks c
         ASOF JOIN ttl_prices p ON c.ck = p.k AND p.t <= c.ct
         ORDER BY c.ck""").collect().map(_.getLong(1)).toSeq
    assert(live === Seq(111L, 222L), s"live as-of picked $live")
    val asOf = spark.sql(
      """SELECT c.ck, p.price FROM ttl_clicks c
         ASOF JOIN ttl_prices VERSION AS OF 1 p
           ON c.ck = p.k AND p.t <= c.ct
         ORDER BY c.ck""").collect().map(_.getLong(1)).toSeq
    assert(asOf === Seq(100L, 200L),
      s"snapshot as-of must see only generation 1, picked $asOf")
  }

  test("no-op fuzz: every registered oracle SQL text passes through " +
      "ALL FOUR parser rewrites byte-identical — ordinary SQL is " +
      "never touched") {
    import org.apache.spark.sql.graft.{AsOfSqlRewrite, GraftAnnRewrite, GraftBm25Rewrite, StoreTimeTravelRewrite}
    val corpus = graft.SparkEntry.oracleSql.values.toSeq
    assert(corpus.size > 200, "the fuzz corpus should be the registry")
    // the as-of family's oracles USE the shared ASOF dialect (DuckDB
    // speaks it natively) — for those the rewrite firing is the
    // feature, not a false positive
    val asofDialect = corpus.filter(_.toUpperCase.contains("ASOF")).toSet
    assert(asofDialect.nonEmpty && asofDialect.size < 15,
      s"sanity: the dialect set is the as-of family, " +
        s"got ${asofDialect.size}")
    corpus.foreach { sql =>
      if (!asofDialect.contains(sql))
        assert(AsOfSqlRewrite(sql) === sql,
          s"ASOF rewrite touched ordinary SQL:\n$sql")
      assert(StoreTimeTravelRewrite(spark, sql) === sql,
        s"time-travel rewrite touched ordinary SQL:\n$sql")
      assert(GraftAnnRewrite(spark, sql) === sql,
        s"GRAFT_ANN rewrite touched ordinary SQL:\n$sql")
      assert(GraftBm25Rewrite(spark, sql) === sql,
        s"GRAFT_BM25 rewrite touched ordinary SQL:\n$sql")
    }
  }

  test("stand-down: VERSION AS OF on a non-store table keeps Spark's " +
      "own error (not a graft-branded one)") {
    spark.range(5).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("ttl_plain")
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM ttl_plain VERSION AS OF 1").collect()
    }
    assert(!ex.getMessage.contains("GRAFT_TIME_TRAVEL"), ex.getMessage)
  }
}
