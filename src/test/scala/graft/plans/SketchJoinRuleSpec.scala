package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs
import graft.operators.SketchStats

/** Gates [[SketchJoinRule]]: the physical join strategy must provably
  * FLIP on the stored sketch stats (broadcast when the stats say a
  * side fits, shuffle when they say it doesn't), with Spark's own
  * broadcast decision disabled so the flip can only come from the
  * rule; missing stats and un-analyzed keys stand down; and the
  * runaway gate fails a fanning-out join at PLANNING time from sketch
  * bytes, except when a filter makes the table-level estimate an
  * upper bound.
  */
class SketchJoinRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  /** Every temp dir the suite makes, deleted in [[afterAll]]. */
  private lazy val suiteDir = Files.createTempDirectory("graft_sjr")

  private def tmp() = Files.createTempDirectory(suiteDir, "t").toString

  override def beforeAll(): Unit = {
    // fact: 40k rows over 2k distinct keys; dim: one row per key
    spark.range(40000L)
      .select((col("id") % 2000).as("k"), col("id").as("payload"))
      .write.option("path", tmp()).saveAsTable("sjr_fact")
    spark.range(2000L)
      .select(col("id").as("k"), (col("id") * 7).as("attr"))
      .write.option("path", tmp()).saveAsTable("sjr_dim")
    // a twin dim with NO stats, for the stand-down case
    spark.range(2000L)
      .select(col("id").as("k"), (col("id") * 7).as("attr"))
      .write.option("path", tmp()).saveAsTable("sjr_dim_nostats")
    SketchStats.analyzeKey(spark, "sjr_fact", "k")
    SketchStats.analyzeKey(spark, "sjr_dim", "k")
  }

  override def afterAll(): Unit = {
    Seq("sjr_fact", "sjr_dim", "sjr_dim_nostats",
      "sjr_fact__kstats", "sjr_dim__kstats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try spark.stop() finally TestDirs.deleteTree(suiteDir)
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Spark's own broadcast path OFF — any BroadcastHashJoin in these
    * tests can only come from the rule's hint.
    */
  private def noAutoBroadcast[T](extra: (String, String)*)(f: => T): T = {
    val keys = ("spark.sql.autoBroadcastJoinThreshold" -> "-1") +: extra
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def theJoin(): DataFrame =
    spark.table("sjr_fact").join(spark.table("sjr_dim"), Seq("k"))
      .agg(sum(col("payload") * col("attr")).as("s"))

  test("broadcast direction: with Spark's own threshold at -1, the " +
      "stored stats alone flip the join to BroadcastHashJoin") {
    noAutoBroadcast() {
      val plan = executed(theJoin())
      assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"expected the rule's hint to broadcast the dim side:\n$plan")
    }
  }

  test("shuffle direction: a budget below both stored sizes means no " +
      "hint — the same join sort-merges") {
    noAutoBroadcast("spark.graft.sketchJoin.broadcastBytes" -> "1") {
      val plan = executed(theJoin())
      assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"budget=1 byte must not broadcast:\n$plan")
      assert(plan.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"expected a shuffle join:\n$plan")
    }
  }

  test("stand-down: a side without stats leaves the plan to Spark") {
    noAutoBroadcast() {
      val j = spark.table("sjr_fact")
        .join(spark.table("sjr_dim_nostats"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      val plan = executed(j)
      assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"no stats must mean no hint:\n$plan")
    }
  }

  test("stand-down: a join on a NON-analyzed column gets no hint") {
    noAutoBroadcast() {
      val j = spark.table("sjr_fact").as("f")
        .join(spark.table("sjr_dim").as("d"),
          col("f.payload") === col("d.attr"))
        .agg(count(lit(1)).as("n"))
      val plan = executed(j)
      assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"the sketch says nothing about payload=attr joins:\n$plan")
    }
  }

  test("outer joins hint only the non-preserved side: LEFT JOIN " +
      "broadcasts the dim on the right; with the dim on the LEFT of a " +
      "LEFT JOIN the rule must stand down (the preserved side can't " +
      "build-broadcast)") {
    // a budget that admits the dim but NOT the fact — at the default
    // 10 MB both fit and the rule could legitimately broadcast either
    val dimBytes = SketchStats.read(spark, "sjr_dim").get.sizeBytes
    val factBytes = SketchStats.read(spark, "sjr_fact").get.sizeBytes
    assert(dimBytes < factBytes)
    noAutoBroadcast(
      "spark.graft.sketchJoin.broadcastBytes" -> dimBytes.toString) {
      val leftOuter = spark.table("sjr_fact")
        .join(spark.table("sjr_dim"), Seq("k"), "left")
        .agg(count(lit(1)).as("n"))
      assert(executed(leftOuter)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "LEFT JOIN with the small side on the right must broadcast it")
      val dimPreserved = spark.table("sjr_dim")
        .join(spark.table("sjr_fact"), Seq("k"), "left")
        .agg(count(lit(1)).as("n"))
      val plan = executed(dimPreserved)
      assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"only the fact side is hintable here and it exceeds the " +
          s"budget:\n$plan")
      // the dedup keep-list shape: a LEFT SEMI probe of the fact
      // against the dim broadcasts the dim (build side)
      val semi = spark.table("sjr_fact")
        .join(spark.table("sjr_dim"), Seq("k"), "left_semi")
        .agg(count(lit(1)).as("n"))
      val semiPlan = executed(semi)
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      assert(semiPlan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"LEFT SEMI must broadcast the statted right side:\n$semiPlan")
    }
  }

  test("user hints win: an explicit MERGE hint disables the rule") {
    noAutoBroadcast() {
      val j = spark.table("sjr_fact")
        .join(spark.table("sjr_dim").hint("merge"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      val plan = executed(j)
      assert(!plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"explicit user strategy must not be overridden:\n$plan")
    }
  }

  test("runaway gate: the sketch estimate fails a fanning-out join at " +
      "planning, names the estimate, and a filtered side downgrades " +
      "the gate to a warning") {
    noAutoBroadcast("spark.graft.sketchJoin.failRows" -> "10000") {
      // fact ⋈ dim on k produces 40k rows — over the 10k limit
      val ex = intercept[AnalysisException] { theJoin().collect() }
      assert(ex.getMessage.contains("GRAFT_SKETCH_JOIN") &&
        ex.getMessage.contains("exceeds"),
        s"unexpected message: ${ex.getMessage}")
      // the estimate is one-sided: reported ≥ exact (40000)
      val est = "output (\\d+) rows".r.findFirstMatchIn(ex.getMessage)
        .map(_.group(1).toLong)
      assert(est.exists(_ >= 40000L), s"estimate missing or below " +
        s"exact in: ${ex.getMessage}")
      // a filter on the fact side → table-level sketch is an upper
      // bound → must run, not throw
      val filtered = spark.table("sjr_fact").filter(col("k") < 10)
        .join(spark.table("sjr_dim"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      assert(filtered.collect().head.getLong(0) === 200L)
    }
  }

  test("delta-only stats maintenance: applyDelta(added/deleted) is " +
      "BYTE-equal to a from-scratch analyzeKey rescan, and subtracting " +
      "keys the store never held fails loudly") {
    spark.range(1000L).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("sjr_delta")
    val s1 = SketchStats.analyzeKey(spark, "sjr_delta", "k")
    // append a batch, maintain stats from the delta alone
    val batch = spark.range(1000L, 1200L).select(col("id").as("k"))
    batch.write.mode("append").saveAsTable("sjr_delta")
    val incr = SketchStats.applyDelta(spark, "sjr_delta",
      added = Some(batch), deleted = None)
    val full = SketchStats.analyzeKey(spark, "sjr_delta", "k")
    assert(incr.nRows === full.nRows)
    assert(java.util.Arrays.equals(incr.cms, full.cms),
      "incremental sketch must be byte-equal to the rescan")
    // delete the same batch from the stats: back to the original
    val back = SketchStats.applyDelta(spark, "sjr_delta",
      added = None, deleted = Some(batch))
    assert(back.nRows === s1.nRows)
    assert(java.util.Arrays.equals(back.cms, s1.cms),
      "add-then-delete must restore the original sketch exactly")
    // a replayed batch id is a NO-OP — the at-least-once foreachBatch
    // guard: applying the same delta twice under one id leaves the
    // stats bit-identical
    val once = SketchStats.applyDelta(spark, "sjr_delta",
      added = Some(batch), deleted = None, batchId = Some(7L))
    val replay = SketchStats.applyDelta(spark, "sjr_delta",
      added = Some(batch), deleted = None, batchId = Some(7L))
    assert(replay.nRows === once.nRows &&
      java.util.Arrays.equals(replay.cms, once.cms) &&
      replay.lastBatch === 7L,
      "replayed batch id must not double-apply")
    SketchStats.applyDelta(spark, "sjr_delta", added = None,
      deleted = Some(batch), batchId = Some(8L)): Unit
    // subtracting keys never added drives a counter negative — the
    // loud-failure contract (deterministic: fixed md5 hashing)
    val ex = intercept[Exception] {
      SketchStats.applyDelta(spark, "sjr_delta", added = None,
        deleted = Some(spark.range(500000L, 500200L)
          .select(col("id").as("k"))))
    }
    assert(ex.getMessage.contains("negative"), ex.getMessage)
    Seq("sjr_delta", "sjr_delta__kstats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("store lifecycle keeps the planner honest: analyzing a " +
      "versioned store arms the rule through the view AND on " +
      "time-traveled reads; compaction carries stats; a " +
      "content-changing delta kills them (stand-down, never stale)") {
    import graft.operators.BucketedStores
    spark.range(3000L)
      .select((col("id") % 300).as("k"), col("id").as("p"))
      .repartition(4, col("k"))
      .write.bucketBy(4, "k").sortBy("k").option("path", tmp())
      .saveAsTable("sjr_store")
    BucketedStores.adoptVersioned(spark, "sjr_store")
    SketchStats.analyzeKey(spark, "sjr_store", "k")
    // the serving view expands to the generation table before the rule
    // runs — the analyze must have armed the GENERATION, not just the
    // name the user typed
    noAutoBroadcast() {
      val j = spark.table("sjr_store")
        .join(spark.table("sjr_dim"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      assert(executed(j).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "analyzing the store name must arm the rule through the view")
    }
    // compaction preserves content: stats carry to the new generation,
    // and the RETAINED old one keeps its own — a time-traveled join
    // still plans with the hint (a historical rescan is exactly where
    // losing sketch planning would hurt most)
    BucketedStores.compactAtomic(spark, "sjr_store", Seq("k"), Seq("k"),
      4, retain = 1)
    noAutoBroadcast() {
      val j = spark.table("sjr_store")
        .join(spark.table("sjr_dim"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      assert(executed(j).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "stats must survive a content-preserving compaction")
      val tt = spark.sql(
        "SELECT count(1) AS n FROM sjr_store VERSION AS OF 1 s " +
          "JOIN sjr_dim d ON s.k = d.k")
      assert(executed(tt).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "a VERSION AS OF read of a retained generation must keep its " +
          "sketch-planned broadcast")
    }
    // a changelog delta changes content the store APIs can't price
    // delta-only (removed ids, not removed ROWS) — the stats must DIE
    // so the rule stands down; stale stats on a store that grew are
    // the runaway broadcast the rule exists to prevent
    BucketedStores.applyDeltaAtomic(spark, "sjr_store", Seq("k"),
      Seq("k"), 4, "k",
      removeIds = spark.range(5L).select(col("id").as("k")),
      additions = None)
    assert(SketchStats.read(spark, "sjr_store").isEmpty,
      "a content-changing delta must invalidate the serving stats")
    noAutoBroadcast() {
      val j = spark.table("sjr_store")
        .join(spark.table("sjr_dim"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      assert(!executed(j).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "after an unpriced delta the rule must stand down")
    }
    BucketedStores.dropVersioned(spark, "sjr_store")
  }

  test("merge-on-read maintenance prices what it holds: morAppend " +
      "delta-maintains the serving stats byte-equal to a rescan; " +
      "morDelete (unpriceable from id-level tombstones) kills them") {
    import graft.operators.BucketedStores
    spark.range(2000L)
      .select((col("id") % 200).as("k"), col("id").as("p"),
        lit(0L).as("_seq"))
      .repartition(4, col("k"))
      .write.bucketBy(4, "k").sortBy("k").option("path", tmp())
      .saveAsTable("sjr_mor")
    BucketedStores.adoptVersioned(spark, "sjr_mor")
    BucketedStores.morEnable(spark, "sjr_mor", Seq("k"), "k")
    SketchStats.analyzeKey(spark, "sjr_mor", "k")
    val seq = BucketedStores.morNextSeq(spark, "sjr_mor")
    val add = spark.range(2000L, 2100L)
      .select((col("id") % 200).as("k"), col("id").as("p"))
    BucketedStores.morAppend(spark, "sjr_mor", add, seq,
      Seq("k"), Seq("k"), 4)
    val maintained = SketchStats.read(spark, "sjr_mor").get
    val rescan = SketchStats.analyzeKey(spark, "sjr_mor", "k")
    assert(maintained.nRows === rescan.nRows,
      "morAppend must fold the appended rows into the stats")
    assert(java.util.Arrays.equals(maintained.cms, rescan.cms),
      "the delta-maintained sketch must be byte-equal to a rescan")
    BucketedStores.morDelete(spark, "sjr_mor",
      spark.range(3L).select(col("id").as("k")),
      BucketedStores.morNextSeq(spark, "sjr_mor"))
    assert(SketchStats.read(spark, "sjr_mor").isEmpty,
      "a MoR delete must invalidate the serving stats")
    BucketedStores.dropVersioned(spark, "sjr_mor")
  }

  test("catalog events keep the cache honest: DROP + re-CREATE of an " +
      "analyzed table stands the rule down instead of serving ghost " +
      "stats; a fresh analyze re-arms") {
    spark.range(100L).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("sjr_ghost")
    SketchStats.analyzeKey(spark, "sjr_ghost", "k")
    assert(SketchStats.read(spark, "sjr_ghost").isDefined)
    spark.sql("DROP TABLE sjr_ghost")
    spark.range(5000L).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("sjr_ghost")
    assert(SketchStats.read(spark, "sjr_ghost").isEmpty,
      "stats analyzed on the dropped table must not describe the " +
        "re-created one")
    assert(SketchStats.analyzeKey(spark, "sjr_ghost", "k").nRows
      === 5000L)
    assert(SketchStats.read(spark, "sjr_ghost").exists(_.nRows === 5000L))
    Seq("sjr_ghost", "sjr_ghost__kstats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("stats identity is db-qualified: GRAFT ANALYZE db.t arms the " +
      "rule for db.t only — a same-named table elsewhere never " +
      "borrows its stats") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sjr_db")
    spark.range(2000L)
      .select(col("id").as("k"), (col("id") * 3).as("attr"))
      .write.option("path", tmp()).saveAsTable("sjr_db.sjr_qdim")
    // same-named, UN-analyzed twin in the current database
    spark.range(2000L)
      .select(col("id").as("k"), (col("id") * 3).as("attr"))
      .write.option("path", tmp()).saveAsTable("sjr_qdim")
    spark.sql("GRAFT ANALYZE sjr_db.sjr_qdim KEY k")
    assert(SketchStats.read(spark, "sjr_db.sjr_qdim").isDefined)
    assert(SketchStats.read(spark, "sjr_qdim").isEmpty,
      "the default-db twin must not resolve to sjr_db's stats")
    noAutoBroadcast() {
      val armed = spark.table("sjr_fact")
        .join(spark.table("sjr_db.sjr_qdim"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      assert(executed(armed)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "the analyzed qualified table must get the hint")
      val unarmed = spark.table("sjr_fact")
        .join(spark.table("sjr_qdim"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      assert(!executed(unarmed)
        .exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "the un-analyzed twin must stand down")
    }
    Seq("sjr_qdim", "sjr_db.sjr_qdim", "sjr_db.sjr_qdim__kstats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("DROP DATABASE IF EXISTS sjr_db")
  }

  test("estimator failure stands the GATE down, not the plan: tables " +
      "analyzed with different sketch shapes make the inner product " +
      "throw — with failRows armed the join must still run AND still " +
      "get its broadcast hint from the stored sizes") {
    spark.range(4000L).select((col("id") % 100).as("k"))
      .write.option("path", tmp()).saveAsTable("sjr_shape_a")
    spark.range(100L).select(col("id").as("k"))
      .write.option("path", tmp()).saveAsTable("sjr_shape_b")
    SketchStats.analyzeKey(spark, "sjr_shape_a", "k") // w=1024, d=3
    SketchStats.analyzeKey(spark, "sjr_shape_b", "k", w = 512, d = 3)
    val a = SketchStats.read(spark, "sjr_shape_a").get
    val b = SketchStats.read(spark, "sjr_shape_b").get
    intercept[Exception] { SketchStats.estimateJoinRows(a, b) }
    noAutoBroadcast("spark.graft.sketchJoin.failRows" -> "1") {
      def j() = spark.table("sjr_shape_a")
        .join(spark.table("sjr_shape_b"), Seq("k"))
        .agg(count(lit(1)).as("n"))
      // failRows=1 would fail ANY estimable join — only the estimator
      // standing down lets this run; the hint needs only sizeBytes
      assert(j().collect().head.getLong(0) === 4000L,
        "a broken estimate must never kill planning")
      // fresh DataFrame for the plan check: a collected one's adaptive
      // plan hides the join inside materialized query stages
      val plan = executed(j())
      assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"the broadcast decision proceeds on stored sizes:\n$plan")
    }
    Seq("sjr_shape_a", "sjr_shape_b", "sjr_shape_a__kstats",
      "sjr_shape_b__kstats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("the estimate itself: one-sided and within the CMS error band") {
    val f = SketchStats.read(spark, "sjr_fact").get
    val d = SketchStats.read(spark, "sjr_dim").get
    assert(f.nRows === 40000L && d.nRows === 2000L)
    val est = SketchStats.estimateJoinRows(f, d)
    val exact = 40000L // every fact row matches exactly one dim row
    assert(est >= exact, s"CMS inner product must be one-sided: $est")
    // error bound: e/w · |A|·|B| (Cormode & Muthukrishnan §4.2)
    val bound = exact +
      math.ceil(math.E / 1024.0 * 40000.0 * 2000.0).toLong
    assert(est <= bound, s"est=$est exceeds the ε·|A||B| band $bound")
  }
}
