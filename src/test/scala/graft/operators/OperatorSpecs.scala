package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 4).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("decodeStub: deterministic normalized 16-bin histogram") {
    val bytes = Array[Byte](0x00, 0x10, 0x10, 0x7f, -1) // bins 0,1,1,7,15
    val h = MultimodalOps.decodeStub(bytes)
    assert(h.length === 16)
    assert(h(0) === 0.2f && h(1) === 0.4f && h(7) === 0.2f && h(15) === 0.2f)
    assert(math.abs(h.sum - 1.0f) < 1e-6)
    assert(MultimodalOps.decodeStub(Array.empty[Byte]).forall(_ == 0f))
  }

  test("extractFeatures: partition-local batch pipeline preserves rows") {
    import spark.implicits._
    val media = Seq(
      MultimodalOps.MediaRow(1L, "image/fake", "hello".getBytes("UTF-8"), 4, 4),
      MultimodalOps.MediaRow(2L, "image/fake", Array.empty[Byte], 0, 0))
      .toDS().repartition(3)
    val feats = MultimodalOps.extractFeatures(media, batchSize = 1)
      .collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq === Seq(1L, 2L))
    assert(feats.head.n_bytes === 5L)
    assert(feats.head.features.toSeq ===
      MultimodalOps.decodeStub("hello".getBytes("UTF-8")).toSeq)
  }

  test("langId: stopword-profile heuristic on real sentences") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat and it is happy"),
      (2L, "el perro corre en la casa y no se detiene"),
      (3L, "der hund und die katze sind nicht zu hause"),
      (4L, "je ne sais pas le nom de il"),
      (5L, "我 是 一 个 人 他 在 的")).toDF("id", "text")
    val out = df.select($"id",
      TextAnalysisOps.langId($"text").as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "es")
    assert(out(3L) === "de")
    assert(out(4L) === "fr")
    assert(out(5L) === "zh")
  }

  test("sessionize: distributed result equals a sequential reference " +
      "on randomized inputs (seeded property)") {
    import spark.implicits._
    import graft.streaming.EventsStreaming
    import graft.streaming.EventsStreaming.UserSession
    // driver-side reference: per user, sort by (ts, cents), linear split
    // — the distributed path must match it whatever the partitioning
    def reference(evs: Seq[(Long, Long, Long)], gap: Long)
        : Set[UserSession] =
      evs.groupBy(_._1).flatMap { case (u, es) =>
        val sorted = es.map(e => (e._2, e._3)).sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
        var (n, start, last, cents) = (0L, 0L, 0L, 0L)
        for ((ts, c) <- sorted) {
          if (n == 0) { n = 1; start = ts; last = ts; cents = c }
          else if (ts - last >= gap) {
            out += UserSession(u, n, start, last, cents)
            n = 1; start = ts; last = ts; cents = c
          } else { n += 1; last = ts; cents += c }
        }
        if (n > 0) out += UserSession(u, n, start, last, cents)
        out
      }.toSet
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val n = rnd.nextInt(61) // 0 events is a legal corpus
      // tiny ts domain forces duplicate timestamps AND gap crossings
      val evs = Seq.fill(n)((1L + rnd.nextInt(4).toLong,
        rnd.nextInt(2000).toLong, (rnd.nextInt(251) - 50).toLong))
      val gap = Seq(1L, 7L, 100L, 500L)(rnd.nextInt(4))
      val got = EventsStreaming
        .sessionize(evs.toDS().repartition(3), gapUs = gap)
        .collect().toSet
      val want = reference(evs, gap)
      assert(got === want,
        s"trial $trial (n=$n gap=$gap): got ${got.size} sessions, " +
          s"want ${want.size}; diff=${(got -- want) ++ (want -- got)}")
    }
  }

  test("sessionize: splits on gap, closes trailing session") {
    import spark.implicits._
    val events = Seq(
      (1L, 1000L, 100L), (1L, 2000L, 200L),            // session 1
      (1L, 999999999L, 500L),                          // session 2
      (2L, 50L, 700L))                                 // session 3
      .toDS()
    val sessions = graft.streaming.EventsStreaming
      .sessionize(events, gapUs = 10000L)
      .collect().sortBy(s => (s.user_id, s.start_us))
    assert(sessions.length === 3)
    assert(sessions(0) === graft.streaming.EventsStreaming.UserSession(
      1L, 2, 1000L, 2000L, 300L))
    assert(sessions(1).n_events === 1 && sessions(1).start_us === 999999999L)
    assert(sessions(2).user_id === 2L)
  }

  test("minhash LSH finds a planted near-duplicate") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base),
      (2L, base + " phi"),                      // near-dup of 1
      (3L, "completely different words entirely unrelated content here " +
        "nothing shared at all with anything else whatsoever okay"))
      .toDF("doc_id", "text")
    val pairs = TextDedupOps.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 8, bands = 4, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.8))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("phash near-dup: identical payloads pair at Hamming 0; a " +
      "perturbed payload pairs near 0; unrelated content stays distant") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = Array.fill[Byte](600)((rng.nextInt(256) - 128).toByte)
    val nearDup = base.clone(); nearDup(300) = (nearDup(300) ^ 0x7f).toByte
    val other = Array.fill[Byte](600)((rng.nextInt(64)).toByte)
    val media = Seq(
      (1L, base), (2L, base.clone()), (3L, nearDup), (4L, other))
      .toDF("media_id", "content")
    val pairs = MultimodalOps.phashNearDupPairs(media, "media_id",
      "content", maxHamming = 60)
      .as[(Long, Long, Long)].collect().toSet
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.get((1L, 2L)).contains(0L),
      s"identical payloads must collide at Hamming 0: $pairs")
    // one flipped byte moves ONE segment's mean: at most a few bits
    assert(byPair.get((1L, 3L)).exists(_ <= 2L),
      s"single-byte perturbation must stay within 2 bits: $pairs")
    // unrelated content pairs only if a band collides, and then far
    assert(pairs.filter(p => p._2 == 4L).forall(_._3 > 10L),
      s"unrelated payload must not look like a near-dup: $pairs")
  }

  test("stored phash index: a delta probe equals the all-pairs operator " +
      "restricted to the delta; a delete batch swaps atomically and the " +
      "retained snapshot still serves the pre-delete state via SQL " +
      "VERSION AS OF") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val base = Array.fill[Byte](600)((rng.nextInt(256) - 128).toByte)
    val nearDup = base.clone(); nearDup(300) = (nearDup(300) ^ 0x7f).toByte
    val other = Array.fill[Byte](600)(rng.nextInt(64).toByte)
    val media = Seq(
      (1L, base), (2L, base.clone()), (3L, nearDup), (4L, other))
      .toDF("media_id", "content")
    val table = "t_phash_idx_spec"
    BucketedStores.dropVersioned(spark, table)
    MultimodalOps.writePhashIndex(media, "media_id", "content", table,
      buckets = 2, location = Some(java.nio.file.Files
        .createTempDirectory("t_phash_idx").toString))
    // probe the pair 3 forms against the indexed corpus: identical to
    // the all-pairs operator's rows touching 3
    val delta = media.filter(col("media_id") === 3L)
    val probed = MultimodalOps.probePhashIndex(spark, table, delta,
      "media_id", "content", maxHamming = 60)
      .as[(Long, Long, Long)].collect().toSet
    val allPairs = MultimodalOps.phashNearDupPairs(media, "media_id",
      "content", maxHamming = 60)
      .as[(Long, Long, Long)].collect().toSet
      .filter(p => p._1 == 3L || p._2 == 3L)
    assert(probed === allPairs,
      s"probe must equal the operator's delta-restricted pairs: " +
        s"$probed vs $allPairs")
    // delete asset 2 (delta-scale, atomic swap, retain the snapshot)
    BucketedStores.adoptVersioned(spark, table)
    MultimodalOps.applyPhashIndexDelta(spark, table,
      deleteIds = Seq(2L).toDF("media_id"), upserts = None,
      idCol = "media_id", contentCol = "content", buckets = 2,
      retain = 1)
    val afterDelete = MultimodalOps.probePhashIndex(spark, table,
      media.filter(col("media_id") === 1L), "media_id", "content",
      maxHamming = 60).as[(Long, Long, Long)].collect().toSet
    assert(!afterDelete.exists(p => p._1 == 2L || p._2 == 2L),
      s"deleted asset must stop pairing: $afterDelete")
    assert(afterDelete.exists(p => p._1 == 1L && p._2 == 3L),
      s"surviving near-dup must still pair: $afterDelete")
    // the retained generation is yesterday's index, reachable from SQL
    val snapIds = spark.sql(
      s"SELECT DISTINCT media_id FROM $table VERSION AS OF 1")
      .as[Long].collect().toSet
    assert(snapIds === Set(1L, 2L, 3L, 4L),
      s"the pre-delete snapshot must still hold asset 2: $snapIds")
    BucketedStores.dropVersioned(spark, table)
  }

  test("stored LSH index serves two successive deltas with NO rebuild — " +
      "results match the on-the-fly incremental operator, index files " +
      "untouched between probes") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, base),
      (2L, base + " phi"), // near-dup of 1
      (3L, "completely different words entirely unrelated content here " +
        "nothing shared at all with anything else whatsoever okay"),
      (4L, base + " chi psi")) // near-dup of 1 and 2
      .toDF("doc_id", "text")
    val table = "t_idx_reuse_spec"
    TextDedupOps.writeLshIndex(corpus, "doc_id", "text", table,
      numHashes = 8, bands = 4, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_idx_reuse").toString))
    val loc = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString))
    def snapshot(): Map[String, Long] =
      loc.listFiles().filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val filesAfterWrite = snapshot()
    assert(filesAfterWrite.nonEmpty)

    def probe(ids: Long*): Set[(Long, Long, Double)] =
      TextDedupOps.probeLshIndex(spark, table,
        corpus.filter(col("doc_id").isin(ids: _*)), "doc_id", "text",
        numHashes = 8, bands = 4, minJaccard = 0.5)
        .as[(Long, Long, Double)].collect().toSet
    def reference(ids: Long*): Set[(Long, Long, Double)] =
      TextDedupOps.incrementalLshPairs(corpus,
        Seq(ids: _*).toDF("doc_id"), "doc_id", "text",
        numHashes = 8, bands = 4, minJaccard = 0.5)
        .as[(Long, Long, Double)].collect().toSet

    // delta 1: doc 2 changed → pairs touching 2
    val got1 = probe(2L)
    assert(got1 === reference(2L) && got1.nonEmpty, s"delta1: $got1")
    // delta 2 against the SAME stored index: doc 4 changed
    val got2 = probe(4L)
    assert(got2 === reference(4L) && got2.nonEmpty, s"delta2: $got2")
    // the index was read, never rewritten: same files, same mtimes
    assert(snapshot() === filesAfterWrite,
      "probing must not touch the stored index files")

    // MAINTENANCE: append a brand-new doc's bands; the next probe must
    // see it — through the SAME bucket layout (old files untouched)
    val newDoc = Seq((5L, base + " omega")).toDF("doc_id", "text")
    TextDedupOps.appendToLshIndex(spark, table, newDoc, "doc_id", "text",
      numHashes = 8, bands = 4, buckets = 2)
    val got3 = TextDedupOps.probeLshIndex(spark, table, newDoc,
      "doc_id", "text", numHashes = 8, bands = 4, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got3.exists(p => p._1 == 1L && p._2 == 5L && p._3 > 0.8),
      s"the appended near-dup must pair with the stored corpus: $got3")
    val after = snapshot()
    assert(filesAfterWrite.forall { case (f, m) => after.get(f).contains(m) },
      "append must only ADD files — the standing index is immutable")
    assert(after.size > filesAfterWrite.size, "append must add bucket files")
    spark.sql(s"DROP TABLE $table")
  }

  test("index compaction: repeated appends grow the file count; compact " +
      "collapses it to <= buckets, preserves probe results AND the " +
      "bucket-aligned (shuffle-free) scan") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((1L, base), (2L, base + " phi"),
      (3L, "entirely different unrelated content nothing shared at all"))
      .toDF("doc_id", "text")
    val table = "t_idx_compact_spec"
    TextDedupOps.writeLshIndex(corpus, "doc_id", "text", table,
      numHashes = 8, bands = 4, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_idx_compact").toString))
    (10L to 12L).foreach { id =>
      TextDedupOps.appendToLshIndex(spark, table,
        Seq((id, base + s" suffix$id")).toDF("doc_id", "text"),
        "doc_id", "text", numHashes = 8, bands = 4, buckets = 2)
    }
    def files(): Int = {
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
          .location.toString))
      loc.listFiles().count(_.getName.endsWith(".parquet"))
    }
    def probe(): Set[(Long, Long, Double)] = {
      val q = Seq((20L, base + " omega")).toDF("doc_id", "text")
      TextDedupOps.probeLshIndex(spark, table, q, "doc_id", "text",
        numHashes = 8, bands = 4, minJaccard = 0.5)
        .as[(Long, Long, Double)].collect().toSet
    }
    val grown = files()
    assert(grown > 2, s"3 appends over 2 buckets must grow files: $grown")
    val before = probe()
    assert(before.nonEmpty)
    BucketedStores.compactLshIndex(spark, table, buckets = 2)
    assert(files() <= 2, s"compaction must collapse to <= buckets files")
    assert(probe() === before, "compaction must not change probe results")
    // the swapped-in table still carries the bucket spec: the probe's
    // index side scans bucketed (zero-shuffle), exchange-free to check
    val q = Seq((20L, base + " omega")).toDF("doc_id", "text")
    val plan = TextDedupOps.probeLshIndex(spark, table, q, "doc_id",
      "text", numHashes = 8, bands = 4, minJaccard = 0.5)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_compact_")) => s
    }
    assert(scans.nonEmpty && scans.forall(_.bucketedScan),
      s"compacted index must still scan bucket-aligned:\n$plan")
    spark.sql(s"DROP TABLE $table")
  }

  test("versioned store: adopt flips serving to a view; compactAtomic " +
      "swaps generations in one catalog op, preserves probe results " +
      "and the bucket-aligned scan; old generation is dropped") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((1L, base), (2L, base + " phi"),
      (3L, "entirely different unrelated content nothing shared at all"))
      .toDF("doc_id", "text")
    val name = "t_idx_versioned_spec"
    TextDedupOps.writeLshIndex(corpus, "doc_id", "text", name,
      numHashes = 8, bands = 4, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_idx_versioned").toString))
    def probe(): Set[(Long, Long, Double)] = {
      val q = Seq((20L, base + " omega")).toDF("doc_id", "text")
      TextDedupOps.probeLshIndex(spark, name, q, "doc_id", "text",
        numHashes = 8, bands = 4, minJaccard = 0.5)
        .as[(Long, Long, Double)].collect().toSet
    }
    val before = probe()
    assert(before.nonEmpty)

    // one-time adoption: served name becomes a view over __v1
    BucketedStores.adoptVersioned(spark, name)
    assert(spark.catalog.getTable(name).tableType === "VIEW",
      "served name must be a view after adoption")
    assert(BucketedStores.currentGeneration(spark, name) === name + "__v1")
    assert(probe() === before, "adoption must not change probe results")

    // grow the current generation, then compact with the atomic swap
    (10L to 12L).foreach { id =>
      TextDedupOps.appendToLshIndex(spark,
        BucketedStores.currentGeneration(spark, name),
        Seq((id, base + s" suffix$id")).toDF("doc_id", "text"),
        "doc_id", "text", numHashes = 8, bands = 4, buckets = 2)
    }
    val grownProbe = probe()
    BucketedStores.compactLshIndexAtomic(spark, name, buckets = 2)
    assert(BucketedStores.currentGeneration(spark, name) === name + "__v2")
    assert(!spark.catalog.tableExists(name + "__v1"),
      "old generation must be dropped after the swap")
    assert(probe() === grownProbe,
      "atomic compaction must not change probe results")
    // file count collapsed back to <= buckets in the new generation
    val loc = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name + "__v2"))
        .location.toString))
    assert(loc.listFiles().count(_.getName.endsWith(".parquet")) <= 2,
      "compaction must collapse to <= buckets files")
    // the VIEW indirection must not cost the bucket-aligned scan
    val q = Seq((20L, base + " omega")).toDF("doc_id", "text")
    val plan = TextDedupOps.probeLshIndex(spark, name, q, "doc_id",
      "text", numHashes = 8, bands = 4, minJaccard = 0.5)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_gen_")) => s
    }
    assert(scans.nonEmpty && scans.forall(_.bucketedScan),
      s"probe through the serving view must scan bucket-aligned:\n$plan")
    spark.sql(s"DROP VIEW $name")
    spark.sql(s"DROP TABLE ${name}__v2")
  }

  test("queryBbox / queryPolygon: the user API returns exactly the " +
      "plain-predicate rows — the range cover only prunes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (1 to 500).map { i =>
      val lat = rnd.nextDouble() * 180 - 90
      val lon = rnd.nextDouble() * 360 - 180
      (i.toLong, lat, lon, graft.wod.Geohash.encode(lat, lon, 12))
    }.toDF("id", "latitude", "longitude", "geohash")
    val (latLo, latHi, lonLo, lonHi) = (-35.0, 20.0, -60.0, 45.0)
    val viaApi = GeoOps.queryBbox(pts, latLo, latHi, lonLo, lonHi)
      .select("id").as[Long].collect().toSet
    val plain = pts.filter(col("latitude") >= latLo &&
        col("latitude") <= latHi && col("longitude") >= lonLo &&
        col("longitude") <= lonHi)
      .select("id").as[Long].collect().toSet
    assert(viaApi === plain && plain.nonEmpty)

    def u(v: Double): Long = math.round(v * 1e6)
    val diamond = Seq( // CCW inscribed diamond of the box
      (u((latLo + latHi) / 2), u(lonHi)), (u(latHi), u((lonLo + lonHi) / 2)),
      (u((latLo + latHi) / 2), u(lonLo)), (u(latLo), u((lonLo + lonHi) / 2)))
    val viaPoly = GeoOps.queryPolygon(pts, diamond)
      .select("id").as[Long].collect().toSet
    val plainPoly = pts.filter(GeoOps.convexPolygonContains(
        col("latitude"), col("longitude"), diamond))
      .select("id").as[Long].collect().toSet
    assert(viaPoly === plainPoly && plainPoly.nonEmpty)
    assert(viaPoly.subsetOf(plain), "diamond ⊂ box")
  }

  test("stored IVF-SQ8 index: lists persist 1-byte/dim INT8 vectors, " +
      "the stored probe equals the in-memory ivfSq8Top1 row for row, " +
      "and the quantized scan feeds its candidate join bucket-aligned") {
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    val vecs = (0L until 40L).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 13 + j * 5) % 17 - 8).toDouble / 3)))
      .toDF("vec_id", "embedding")
    val table = "t_sq8_spec"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Sq8, k = Some(4), table = table, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_sq8").toString))
    // the bandwidth claim is the STORED type: 1 byte per dimension
    assert(spark.table(table).schema("q").dataType
      .asInstanceOf[ArrayType].elementType === ByteType,
      "quantized lists must persist as array<tinyint>")
    val mem = SimilarityOps.ivfSq8Top1(vecs, "vec_id", "embedding",
      dims = 8, k = 4, nprobe = 2, rerank = 5)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val storedDf = IvfStore.probe(spark, table, vecs,
      "vec_id", "embedding", dims = 8, nprobe = 2, rerank = 5)
      .orderBy(col("id_a"))
    val stored = storedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(stored === mem,
      "storage must be an execution detail: stored probe == in-memory")
    // plan gate: the INT8 list scan reaches its cid candidate join
    // with NO exchange under it (bucket-aligned; only the query side,
    // exploded at (query × nprobe) scale, may move)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = storedDf.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case q: QueryStageExec => q +: expand(q.plan)
        case n => Seq(n)
      }
    def hasListScan(p: SparkPlan): Boolean = expand(p).exists {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table == table)
      case _ => false
    }
    val listShuffles = expand(plan).collect {
      case e: ShuffleExchangeExec if hasListScan(e.child) &&
          expand(e.child)
            .collect { case j: BaseJoinExec => j }.isEmpty => e
    }
    assert(listShuffles.isEmpty,
      s"the quantized lists must never shuffle before their join:\n$plan")
    // the rerank-survivor selection is the bounded topk_pairs
    // aggregate, NEVER a candidate-set window (a row_number window
    // shuffles and sorts every candidate — measured ~5 s at a
    // 12M-candidate scale against agg-scan cost)
    import org.apache.spark.sql.execution.window.WindowExec
    assert(expand(plan).collect { case wx: WindowExec => wx }.isEmpty,
      s"the SQ8 probe must not sort candidates through a window:\n$plan")
    Seq(table, s"${table}_centroids", s"${table}_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("SQ8 correctness envelope: with rerank covering every " +
      "candidate, the stored-SQ8 probe equals the float probe " +
      "EXACTLY, and the int8_quantize kernel is bit-equal to its " +
      "HOF spelling on pseudo-random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 48L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
      .toDF("vec_id", "embedding")
    // kernel == HOF formula, element for element
    val amaxCol = aggregate(col("embedding"), lit(0.0),
      (a, x) => greatest(a, abs(x)))
    val mismatches = vecs
      .select(
        graft.functions.VectorFunctions
          .int8_quantize(col("embedding"), amaxCol).as("kq"),
        transform(col("embedding"), x =>
          (signum(x) * least(lit(127.0),
            floor(abs(x) * (lit(127.0) / amaxCol) + lit(0.5))))
            .cast("byte")).as("hq"))
      .filter(not(col("kq") <=> col("hq")))
      .count()
    assert(mismatches === 0L,
      "int8_quantize must reproduce the HOF quantization bit-exactly")
    // the zero vector: the kernel guards amax = 0 (all-zero output)
    // where the raw HOF spelling divides by zero under ANSI
    val zq = Seq((999L, Seq.fill(8)(0.0))).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions
        .int8_quantize(col("embedding"), amaxCol).as("kq"))
      .head().getSeq[Byte](0)
    assert(zq.length === 8 && zq.forall(_ === 0.toByte),
      "the zero vector must quantize to all zeros, not throw")
    // envelope: same corpus, same quantizer — full rerank recovers the
    // float probe's answer exactly (identical candidate sets, exact
    // scores, same tie-break)
    val f = "t_env_flat"
    val q = "t_env_sq8"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Flat, k = Some(4), table = f,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_env_f").toString))
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Sq8, k = Some(4), table = q,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_env_q").toString))
    val flat = IvfStore.probe(spark, f, vecs,
      "vec_id", "embedding", dims = 8, nprobe = 2)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val sq8Full = IvfStore.probe(spark, q, vecs,
      "vec_id", "embedding", dims = 8, nprobe = 2, rerank = 48)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(sq8Full === flat,
      "full-rerank SQ8 must equal the float probe exactly — the " +
        "quantized pass only PRUNES, the exact re-rank decides")
    Seq(f, s"${f}_centroids", q, s"${q}_centroids", s"${q}_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bounded-batch probes prune the lists scan to the probed " +
      "cids: the In(cid) predicate reaches the parquet scan as a " +
      "pushed filter (read only the probed lists — the textbook IVF " +
      "probe shape)") {
    import spark.implicits._
    val vecs = (0L until 4000L).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 13 + j * 5) % 17 - 8).toDouble / 3)))
      .toDF("vec_id", "embedding")
    val t = "t_prune_idx"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Flat, k = Some(64), table = t,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_prune").toString))
    val queries = vecs.filter(col("vec_id") < 4)
    val df = IvfStore.probe(spark, t, queries,
      "vec_id", "embedding", dims = 8, nprobe = 2)
    val ex = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ex.contains("In(cid"),
      s"a 4-query batch over a 64-list index must push In(cid):\n$ex")
    // and the pruned probe still answers (semantics-neutral filter)
    assert(df.count() === 4)
    Seq(t, s"${t}_centroids")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("large-k quantizers ship as one plan literal and the probe " +
      "stays exact: k = 100 with nprobe = k IS exhaustive exact " +
      "search") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 300L).map(i =>
      (i, Seq.fill(6)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    val t = "t_bigk_idx"
    val k = 100 // the r20 code shipped k > 64 as a broadcast cross join
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 6, codec = ListCodec.Flat, k = Some(k), table = t, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_bigk").toString))
    val queries = vecs.filter(col("vec_id") < 5)
    val got = IvfStore.probe(spark, t, queries,
      "vec_id", "embedding", dims = 6, nprobe = k)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.rint(d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)) * 1e6) / 1e6
    }
    val expect = corpus.take(5).map { case (qid, qv) =>
      val best = corpus.filter(_._1 != qid)
        .map { case (cid2, cv) => (cos(qv, cv), cid2) }
        .maxBy { case (sc, cid2) => (sc, -cid2) }
      (qid, best._2)
    }
    assert(got === expect,
      "nprobe = k probe through the broadcast quantizer must equal " +
        "exact cosine top-1")
    Seq(t, s"${t}_centroids")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("stored-SQ8 probe serves an EXTERNAL query table: query ids " +
      "disjoint from the corpus still get their exact-rerank answer " +
      "(the rerank reads query floats from the query relation, not " +
      "the corpus _vecs companion)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 40L).map(i =>
      (i, Seq.fill(6)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    // external queries: ids 1000+ (nothing in common with corpus vids);
    // q1000 is an exact copy of corpus vector 3 — its top-1 must be
    // id 3 at score 1.0; the rest are fresh random vectors
    val queries = ((1000L, corpus(3)._2) +: (1001L until 1004L).map(i =>
      (i, Seq.fill(6)(rnd.nextDouble() * 4 - 2)))).toDF(
      "vec_id", "embedding")
    val t = "t_sq8_ext"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 6, codec = ListCodec.Sq8, k = Some(4), table = t, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_sq8_ext").toString))
    val got = IvfStore.probe(spark, t, queries,
      "vec_id", "embedding", dims = 6, nprobe = 4, rerank = 40)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.size === 4,
      "every external query must produce a row — an empty result " +
        "means the rerank joined query floats out of the corpus store")
    // oracle: driver-side exact cosine top-1 (nprobe = all centroids,
    // rerank = |corpus| → the probe IS exhaustive exact search)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      math.rint(r * 1e6) / 1e6
    }
    val expect = queries.collect().map { qr =>
      val (qid, qv) = (qr.getLong(0), qr.getSeq[Double](1))
      val best = corpus.map { case (cid, cv) => (cos(qv, cv), cid) }
        .maxBy { case (s, cid) => (s, -cid) }
      (qid, best._2, best._1)
    }.sortBy(_._1).toSeq
    assert(got.map(g => (g._1, g._2)) === expect.map(e => (e._1, e._2)),
      "external-query stored-SQ8 probe must equal exact cosine top-1")
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 2e-6,
        s"score mismatch for query ${g._1}: ${g._3} vs ${e._3}")
    }
    assert(got.head === ((1000L, 3L, 1.0)),
      "a query equal to corpus vector 3 must return it at score 1.0")
    Seq(t, s"${t}_centroids", s"${t}_vecs")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("stored PQ index: code rows persist m bytes per vector, all " +
      "three tables share one build stamp, an external query table " +
      "gets exact answers at full rerank, and the probe plan carries " +
      "no candidate window") {
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    val t = "t_pq_spec"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(4, 8), k = None, table = t, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pq").toString))
    // the compression claim IS the stored type: array<tinyint>, m slots
    assert(spark.table(t).schema("codes").dataType
      .asInstanceOf[ArrayType].elementType === ByteType,
      "PQ codes must persist as array<tinyint>")
    assert(spark.table(t).select(size(col("codes"))).distinct()
      .collect().map(_.getInt(0)).toSeq === Seq(4),
      "one code byte per subspace")
    // one build id across lists + both companions
    val stamp = graft.operators.BucketedStores.buildStamp(spark, t)
    assert(stamp.isDefined &&
      stamp === graft.operators.BucketedStores
        .buildStamp(spark, t + "_codebooks") &&
      stamp === graft.operators.BucketedStores
        .buildStamp(spark, t + "_vecs"),
      "writePqIndex must stamp lists and both companions")
    // external query ids (disjoint from corpus) + full rerank = exact
    val queries = ((900L, corpus(7)._2) +: (901L until 904L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))).toDF(
      "vec_id", "embedding")
    val df = IvfStore.probe(spark, t, queries,
      "vec_id", "embedding", dims = 8, rerank = 60)
    val got = df.orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.rint(d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)) * 1e6) / 1e6
    }
    val expect = queries.collect().map { qr =>
      val (qid, qv) = (qr.getLong(0), qr.getSeq[Double](1))
      val best = corpus.map { case (cid2, cv) => (cos(qv, cv), cid2) }
        .maxBy { case (sc, cid2) => (sc, -cid2) }
      (qid, best._2)
    }.sortBy(_._1).toSeq
    assert(got.map(g => (g._1, g._2)) === expect,
      "external-query full-rerank PQ probe must equal exact top-1")
    assert(got.head._2 === 7L && got.head._3 === 1.0,
      "a query equal to corpus vector 7 must return it at 1.0")
    // no window in the probe plan (TopKPairs selection)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def expand(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case qs: QueryStageExec => qs +: expand(qs.plan)
        case n => Seq(n)
      }
    assert(expand(plan).collect { case w: WindowExec => w }.isEmpty,
      s"the PQ probe must not sort candidates through a window:\n$plan")
    Seq(t, s"${t}_codebooks", s"${t}_vecs")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("PQ time travel at parity with the other tiers: a retained " +
      "generation probes its snapshotted codebooks + floats, a base " +
      "rebuild cannot change it, and a stamp mismatch on the serving " +
      "name fails loudly") {
    import spark.implicits._
    import graft.operators.BucketedStores
    val vecs = (0L until 20L).map(i =>
      (i, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toDouble)))
      .toDF("vec_id", "embedding")
    val t = "t_pq_tt"
    BucketedStores.dropVersioned(spark, t)
    Seq(s"${t}_codebooks", s"${t}_vecs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Pq(2, 4), k = None, table = t, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pq_tt").toString))
    BucketedStores.adoptVersioned(spark, t)
    BucketedStores.applyDeltaAtomic(spark, t, Seq("vid"), Seq("vid"),
      2, "vid", removeIds = spark.range(0L, 1L).toDF("vid"),
      additions = None, retain = 1)
    Seq(s"${t}__v1_codebooks", s"${t}__v2_codebooks",
        s"${t}__v1_vecs", s"${t}__v2_vecs")
      .foreach(x => assert(spark.catalog.tableExists(x),
        s"swap must snapshot both PQ companions per generation ($x)"))
    val queries = vecs.filter(col("vec_id") < 3)
    def probe(name: String) = IvfStore.probe(spark, name,
      queries, "vec_id", "embedding", dims = 4, rerank = 20)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = probe(s"${t}__v1")
    assert(before.nonEmpty)
    // the SQL surface composes with PQ time travel too: the snapshot
    // carried graft.pq.sub, so the generation name expands (this is
    // the property-carry path — a snapshot serving differently from
    // its source would fail here)
    queries.createOrReplaceTempView("t_pq_tt_q")
    val sqlBefore = spark.sql("SELECT id_a, ann_id FROM " +
      s"GRAFT_ANN('${t}__v1', 't_pq_tt_q', 1, 1, 20) ORDER BY id_a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sqlBefore === before,
      "GRAFT_ANN on a PQ generation must equal the API probe")
    // full rebuild of both base companions under a new build id
    val b1 = BucketedStores.newBuildId()
    spark.sql(s"DROP TABLE ${t}_codebooks")
    Seq((0, 0, Seq(100.0, 0.0)), (0, 1, Seq(0.0, 100.0)),
        (1, 0, Seq(100.0, 0.0)), (1, 1, Seq(0.0, 100.0)))
      .toDF("j", "c", "ce").write.option("path",
        java.nio.file.Files.createTempDirectory("pqtt").toString)
      .saveAsTable(s"${t}_codebooks")
    BucketedStores.stampBuild(spark, s"${t}_codebooks", b1)
    assert(probe(s"${t}__v1") === before,
      "a retained PQ generation's answer is pinned to its snapshots")
    // the serving name now pairs old code rows with a retrained
    // quantizer → loud stamp-mismatch error
    val e = intercept[IllegalArgumentException] { probe(t) }
    assert(e.getMessage.contains("quantizer build mismatch"),
      e.getMessage)
    BucketedStores.dropVersioned(spark, t)
    Seq(s"${t}_codebooks", s"${t}_vecs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("stored IVF index: append assigns a vector delta to the frozen " +
      "quantizer through the same bucket layout — next probe sees it, " +
      "old list files untouched") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.9, 0.3, 0.0, 0.0)),
      (4L, Seq(0.1, 0.99, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val table = "t_ivf_append_spec"
    IvfStore.write(corpus, "vec_id", "embedding",
      dims = 4, codec = ListCodec.Flat, k = Some(2), table = table, buckets = 2,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_ivf_append").toString))
    val loc = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location.toString))
    def snapshot(): Map[String, Long] =
      loc.listFiles().filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val filesAfterWrite = snapshot()
    assert(filesAfterWrite.nonEmpty)

    val delta = Seq((10L, Seq(0.98, 0.05, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    IvfStore.append(spark, table, delta,
      "vec_id", "embedding", dims = 4, buckets = 2)
    // a follow-up query nearest the appended vector must retrieve IT
    // through the stored lists (nprobe=1: only the hot list is read)
    val probe = Seq((11L, Seq(0.97, 0.06, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = IvfStore.probe(spark, table, probe,
      "vec_id", "embedding", dims = 4, nprobe = 1)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1 && got.head._2 == 10L,
      s"appended vector must be retrievable: ${got.toSeq}")
    val after = snapshot()
    assert(filesAfterWrite.forall { case (f, m) => after.get(f).contains(m) },
      "append must only ADD files — the stored lists are immutable")
    assert(after.size > filesAfterWrite.size, "append must add bucket files")
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_centroids")
  }

  test("convexPolygonContains: exact µ° half-plane test — inside, " +
      "outside, and ON-edge points classify correctly and match a " +
      "reference implementation on random points") {
    import spark.implicits._
    // diamond around (10, 20): N=(17,20) E=(10,34) S=(3,20) W=(10,6)
    val poly = Seq((10000000L, 34000000L), (17000000L, 20000000L),
      (10000000L, 6000000L), (3000000L, 20000000L))
    def reference(lat: Double, lon: Double): Boolean = {
      val py = math.round(lat * 1e6); val px = math.round(lon * 1e6)
      (poly :+ poly.head).sliding(2).forall {
        case Seq((y1, x1), (y2, x2)) =>
          (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= 0
      }
    }
    val rng = new scala.util.Random(11)
    val pts = Seq(
      (10.0, 20.0, true),   // center
      (17.0, 20.0, true),   // vertex (boundary counts as inside)
      (13.5, 27.0, true),   // ON the E→N edge midpoint
      (16.9, 27.0, false),  // in the box corner, outside the diamond
      (3.1, 6.2, false),
      (10.0, 33.99, true)) ++
      Seq.fill(200) {
        val la = 10.0 + (rng.nextDouble() - 0.5) * 16
        val lo = 20.0 + (rng.nextDouble() - 0.5) * 30
        (la, lo, reference(la, lo))
      }
    val got = pts.toDF("lat", "lon", "want")
      .withColumn("got", GeoOps.convexPolygonContains(
        col("lat"), col("lon"), poly))
      .as[(Double, Double, Boolean, Boolean)].collect()
    got.foreach { case (la, lo, want, g) =>
      assert(g == want, s"($la, $lo): expected $want")
    }
  }

  test("connectedComponents: transitive chains collapse to one cluster") {
    import spark.implicits._
    // chain 1-2-3 (transitive), isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = ClusterOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) === 1L && cc(2L) === 1L && cc(3L) === 1L)
    assert(cc(10L) === 10L && cc(11L) === 10L)
  }

  test("connectedComponentsStar == min-label propagation on random " +
      "graphs, and collapses a long chain in logarithmic rounds") {
    import spark.implicits._
    // deep chain (diameter 63 — propagation needs 60+ iterations,
    // star contraction a handful), plus random clutter components
    val rnd = new scala.util.Random(13)
    val chain = (1L until 64L).map(i => (i, i + 1))
    val clutter = (1 to 120).map { _ =>
      val a = 100L + rnd.nextInt(80); val b = 100L + rnd.nextInt(80)
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2)
    val pairs = (chain ++ clutter).toDF("id_a", "id_b")
    val want = ClusterOps.connectedComponents(pairs, maxIter = 100)
      .as[(Long, Long)].collect().toMap
    val got = ClusterOps.connectedComponentsStar(pairs, maxRounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(got === want,
      "star contraction must produce identical (doc_id, cluster_id) " +
        "labels — same min-id canonical roots")
    assert(want(64L) === 1L, "chain must collapse to its minimum")
  }

  test("salted aggregation is bit-identical to direct groupBy") {
    import spark.implicits._
    // skewed keys: one key holds 80% of rows
    val df = ((1 to 800).map(i => ("hot", i.toLong, i * 1.01)) ++
      (1 to 200).map(i => (s"k${i % 7}", i.toLong, i * 2.02)))
      .toDF("key", "id", "v")
    val direct = df.groupBy($"key")
      .agg(count(lit(1)).as("n"),
        sum($"v".cast("decimal(18,6)")).cast("double").as("total"))
      .orderBy($"key").collect()
    val salted = SkewOps.saltedCountSum(df, $"key", $"v", 16, $"id")
      .withColumnRenamed("k", "key").orderBy($"key").collect()
    assert(salted.toSeq === direct.toSeq)
  }

  test("multi-probe ANN pairs within clusters like banded LSH") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def cluster(center: Array[Double], n: Int, from: Int) =
      (0 until n).map { i =>
        (from + i.toLong,
          center.map(c => (c + rnd.nextGaussian() * 0.01).toFloat))
      }
    val vecs = (cluster(Array.fill(8)(1.0), 6, 0) ++
      cluster(Array.fill(8)(-1.0), 6, 100)).toDF("vec_id", "embedding")
    val ann = SimilarityOps.multiProbeTop1(vecs, "vec_id", "embedding",
      dims = 8, cellBits = 4).as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty)
    assert(ann.forall(p => (p._1 < 100) == (p._2 < 100)))
    assert(ann.forall(_._3 > 0.9))
  }

  test("ANN top-1 agrees with brute force on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // two tight clusters far apart; ANN must pair within clusters
    def cluster(center: Array[Double], n: Int, from: Int) =
      (0 until n).map { i =>
        (from + i.toLong,
          center.map(c => (c + rnd.nextGaussian() * 0.01).toFloat))
      }
    val vecs = (cluster(Array.fill(8)(1.0), 5, 0) ++
      cluster(Array.fill(8)(-1.0), 5, 100)).toDF("vec_id", "embedding")
    val ann = SimilarityOps.annTop1(vecs, "vec_id", "embedding", dims = 8,
      planes = 8, bands = 4).as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty)
    // neighbors stay within the same cluster (ids 0-4 vs 100-104)
    assert(ann.forall(p => (p._1 < 100) == (p._2 < 100)))
    assert(ann.forall(_._3 > 0.9))
  }

  test("int8_quant_stats: zero vector, exact scale hit, clipping, " +
      "interpreted == codegen") {
    import graft.functions.VectorFunctions.int8_quant_stats
    import spark.implicits._
    val rows = Seq(
      (1L, Array(0.0, 0.0, 0.0)),          // zero vector -> [0,0,0]
      (2L, Array(2.0, -2.0, 1.0)),         // amax maps to exactly 127
      (3L, Array(0.5)),                    // single element = its own amax
      (4L, Array(1e-300, 1.0))             // tiny value quantizes to 0
    ).toDF("id", "e")
    val out = rows.select(col("id"), int8_quant_stats(col("e")).as("st"))
      .select(col("id"), col("st")(0).as("amax"),
        col("st")(1).cast("long").as("sq"),
        col("st")(2).cast("long").as("eu"))
      .orderBy(col("id"))
      .as[(Long, Double, Long, Long)].collect()
    assert(out(0) === ((1L, 0.0, 0L, 0L)))
    // amax=2 -> scale=63.5; |q| = 127,127,64 (1.0*63.5+0.5 -> 64)
    assert(out(1)._2 === 2.0 && out(1)._3 === (127L + 127L + 64L))
    assert(out(2) === ((3L, 0.5, 127L, 0L))) // own amax -> q=127, err=0
    assert(out(3)._3 === 127L) // tiny element contributes q=0
    // interpreted eval path must agree with the codegen'd result
    val expr = org.apache.spark.sql.graft.Int8QuantStats(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0, -2.0, 1.0),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
    assert(interp(0) === 2.0 && interp(1) === 318.0)
  }

  test("rolling_hash: O(n) rolling update equals naive per-window " +
      "refold, boundary cases covered") {
    import graft.functions.VectorFunctions.rolling_hash
    import spark.implicits._
    val B = 1000003L
    val M = 2147483647L
    def naive(t: Seq[Long], w: Int): Seq[Long] = {
      val r = t.map(x => ((x % M) + M) % M)
      if (r.length < w) Seq.empty
      else r.sliding(w).map(_.foldLeft(0L)((a, b) => (a * B + b) % M)).toSeq
    }
    val rng = new scala.util.Random(42)
    val cases = Seq(
      Seq.empty[Long],                       // under-window
      Seq(7L),                               // under-window
      Seq.fill(8)(rng.nextLong()),           // exactly one window
      Seq.fill(100)(rng.nextLong()),         // long stream, neg inputs
      Seq.fill(20)(1152921504606846975L))    // max 60-bit hash values
    val out = cases.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray) }
      .toDF("id", "th")
      .select(col("id"), rolling_hash(col("th"), 8).as("rh"))
      .orderBy(col("id"))
      .as[(Long, Seq[Long])].collect()
    for (((c, _), (_, rh)) <- cases.zipWithIndex.zip(out))
      assert(rh === naive(c, 8), s"input $c")
    // every emitted hash is a canonical residue
    assert(out.flatMap(_._2).forall(h => h >= 0 && h < M))
  }

  test("packManifest: offsets, boundary straddling, and per-stream " +
      "independence match the hand-computed example") {
    import spark.implicits._
    def text(n: Int): String = Seq.fill(n)("x").mkString(" ")
    val docs = Seq(
      ("a", 1L, text(4)), ("a", 2L, text(5)), ("a", 3L, text(3)),
      ("a", 4L, text(12)), ("b", 5L, text(7)))
      .toDF("source", "doc_id", "text")
    val got = PackingOps.packManifest(docs, "source", "doc_id", "text", 10)
      .orderBy("source", "doc_id")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      // stream a: [0,4) [4,9) [9,12) [12,24) over capacity 10 —
      // doc 3 straddles the 10-token boundary, doc 4 spans seqs 1-2
      ("a", 1L, 4L, 0L, 0L, 0L, 1L),
      ("a", 2L, 5L, 4L, 0L, 0L, 1L),
      ("a", 3L, 3L, 9L, 0L, 1L, 2L),
      ("a", 4L, 12L, 12L, 1L, 2L, 2L),
      // stream b restarts at offset 0: packing is per-stream
      ("b", 5L, 7L, 0L, 0L, 0L, 1L)))
    // invariant: a stream's sequence count covers its token total
    val aSeqs = got.filter(_._1 == "a").map(_._6).max + 1
    assert(aSeqs === math.ceil(24.0 / 10).toLong)
  }

  test("applyMergeTable: one data-driven fold equals the sequential " +
      "per-merge folds, including merges chaining into merged symbols") {
    import spark.implicits._
    val words = Seq("banana", "bandana", "abba", "aaaa").toDF("w")
    val merges = Seq("a n", "an a", "b an") // "an" feeds later merges
    val seqApplied = merges.foldLeft(
      words.select(BpeOps.charSyms(col("w")).as("syms"))) { (df, m) =>
      val Array(a, b) = m.split(" ", 2)
      df.withColumn("syms", BpeOps.applyMerge(col("syms"), a, b))
    }
    val tableApplied = words.select(
      BpeOps.applyMergeTable(BpeOps.charSyms(col("w")),
        typedLit(merges)).as("syms"))
    assert(tableApplied.collect().map(_.getSeq[String](0)).toSeq ===
      seqApplied.collect().map(_.getSeq[String](0)).toSeq)
    // spot-check the greedy left-to-right semantics end-to-end
    assert(tableApplied.collect()(3).getSeq[String](0) === Seq("a", "a", "a", "a"))
  }

  test("trainMerges: merge table is invariant to epoch length " +
      "(epoch re-persist is an execution detail, not a semantics change)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(epochLen: Int) =
      BpeOps.trainMerges(docs, steps = 9, topK = 2, epochLen = epochLen)
        .orderBy(col("step"), col("rank")).collect().toSeq
    val byThree = run(3)
    assert(byThree === run(100), "epochLen must not change the merges")
    assert(byThree.map(_.getLong(0)).distinct === (1L to 9L),
      "every step must contribute merge-table rows")
    assert(spark.sharedState.cacheManager.isEmpty,
      "trainMerges must release every cache it creates")
  }

  test("vacuumOrphans reclaims retired generations by catalog " +
      "reachability — and only them (prefix, liveness, age guards)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vacspec")
    def sub(n: String) = root.resolve(n).toString
    val name = "t_idx_vacuum_spec"
    BucketedStores.dropVersioned(spark, name)
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    TextDedupOps.writeLshIndex(corpus, "doc_id", "text", name,
      numHashes = 8, bands = 4, buckets = 2,
      location = Some(sub("graft_lsh_a")))
    BucketedStores.adoptVersioned(spark, name)
    BucketedStores.compactLshIndexAtomic(spark, name, buckets = 2)
    // compactAtomic defaults its new location to java.io.tmpdir —
    // redo one more swap into OUR root so both live and dead dirs
    // sit under the scanned root
    BucketedStores.compactAtomic(spark, name, Seq("band", "bhash"),
      Seq("band", "bhash"), buckets = 2, location = Some(sub("graft_lsh_b")))
    val rowsBefore = spark.table(name).count()
    assert(rowsBefore > 0)

    // the DROPPED generation's directory is still on disk — the leak
    assert(new java.io.File(sub("graft_lsh_a")).exists(),
      "external DROP TABLE must leave the retired dir (the leak)")
    // bystanders: a non-prefixed dir and a fresh prefixed dir
    java.nio.file.Files.createDirectory(root.resolve("user_data"))
    java.nio.file.Files.createDirectory(root.resolve("graft_inflight"))

    // age guard: nothing old enough yet → nothing deleted
    assert(BucketedStores.vacuumOrphans(spark, root.toString,
      olderThanMs = 3600L * 1000).isEmpty)

    // zero retention: the retired generation goes (and so does the
    // in-flight-shaped dir — zero retention is exactly the unsafe
    // setting the age guard exists for)
    val deleted = BucketedStores.vacuumOrphans(spark, root.toString,
      olderThanMs = 0)
    assert(deleted.map(_.split('/').last).toSet ===
      Set("graft_lsh_a", "graft_inflight"),
      s"must delete exactly the unreferenced prefixed dirs, got $deleted")
    assert(!new java.io.File(sub("graft_lsh_a")).exists())
    assert(new java.io.File(sub("graft_lsh_b")).exists(),
      "the live generation must survive")
    assert(new java.io.File(sub("user_data")).exists(),
      "non-prefixed dirs are never candidates")
    assert(spark.table(name).count() === rowsBefore,
      "serving must be unaffected by vacuum")
    BucketedStores.dropVersioned(spark, name)
  }

  test("retention × vacuum: a RETAINED generation is vacuum-safe at " +
      "ANY age (catalog reachability, not the age guard, protects the " +
      "time-travel window); retiring it is what makes it reclaimable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vacretspec")
    def sub(n: String) = root.resolve(n).toString
    val name = "t_idx_vacret_spec"
    BucketedStores.dropVersioned(spark, name)
    Seq((1L, "g"), (2L, "g")).toDF("k", "v")
      .repartition(2, col("k"))
      .write.bucketBy(2, "k").sortBy("k")
      .option("path", sub("graft_g1")).saveAsTable(name)
    BucketedStores.adoptVersioned(spark, name)
    // two maintenance swaps with retain=2: generations 1,2,3 all live
    for (g <- 2 to 3)
      BucketedStores.applyDeltaAtomic(spark, name, Seq("k"), Seq("k"), 2,
        "k", removeIds = spark.range(0).select(col("id").as("k")),
        additions = Some(Seq((g.toLong * 10, "g")).toDF("k", "v")),
        location = Some(sub(s"graft_g$g")), retain = 2)
    // vacuum with ZERO age grace — the harshest setting: every
    // retained generation must survive because it is a catalog table,
    // NOT because it is young. This is the guarantee an in-flight
    // `--as-of K` reader relies on: within the retention window,
    // vacuum can never pull its generation out from under it.
    val deleted = BucketedStores.vacuumOrphans(spark, root.toString,
      olderThanMs = 0)
    assert(deleted.isEmpty,
      s"retained generations must be vacuum-immune, deleted: $deleted")
    for (k <- 1 to 3)
      assert(BucketedStores.readGeneration(spark, name, k).count() > 0,
        s"generation $k must still read after vacuum")
    // one more swap with retain=1 retires generations 1 and 2: their
    // catalog entries drop, and ONLY then do their dirs become
    // vacuum candidates — still subject to the age grace, which is
    // the sole protection for a reader that resolved a generation
    // BEFORE it was retired (the documented non-guarantee: size
    // olderThanMs ≥ your longest query, Iceberg/Delta's rule).
    BucketedStores.applyDeltaAtomic(spark, name, Seq("k"), Seq("k"), 2,
      "k", removeIds = spark.range(0).select(col("id").as("k")),
      additions = Some(Seq((40L, "g")).toDF("k", "v")),
      location = Some(sub("graft_g4")), retain = 1)
    assert(BucketedStores.vacuumOrphans(spark, root.toString,
      olderThanMs = 3600L * 1000).isEmpty,
      "age grace must still hold retired dirs for in-flight readers")
    val reclaimed = BucketedStores.vacuumOrphans(spark, root.toString,
      olderThanMs = 0)
    assert(reclaimed.map(_.split('/').last).toSet ===
      Set("graft_g1", "graft_g2"),
      s"exactly the RETIRED generations reclaim, got $reclaimed")
    assert(BucketedStores.readGeneration(spark, name, 3).count() > 0 &&
      BucketedStores.readGeneration(spark, name, 4).count() > 0,
      "the retention window keeps serving after the reclaim")
    BucketedStores.dropVersioned(spark, name)
  }

  test("IVF-PQ envelope: full-rerank probe equals the float IVF probe " +
      "exactly over the same coarse lists — the ADC pass only PRUNES, " +
      "the exact re-rank decides") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 96L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
      .toDF("vec_id", "embedding")
    val f = "t_envpq_flat"
    val q = "t_envpq_ivfpq"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Flat, k = Some(4), table = f,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_envpq_f").toString))
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = q,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_envpq_q").toString))
    val flat = IvfStore.probe(spark, f, vecs,
      "vec_id", "embedding", dims = 8, nprobe = 2)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pqFull = IvfStore.probe(spark, q, vecs,
      "vec_id", "embedding", dims = 8, nprobe = 2, rerank = 96)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pqFull === flat,
      "full-rerank IVF-PQ must equal the float probe exactly — same " +
        "coarse lists, the codes only prune")
    Seq(f, s"${f}_centroids", q, s"${q}_centroids", s"${q}_codebooks",
      s"${q}_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("IVF-PQ bounded-batch probes prune the code-lists scan to the " +
      "probed cids: In(cid) reaches the parquet scan as a pushed " +
      "filter — per-query work is nprobe·n/k, never the flat PQ " +
      "store's corpus scan") {
    import spark.implicits._
    val vecs = (0L until 4000L).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 13 + j * 5) % 17 - 8).toDouble / 3)))
      .toDF("vec_id", "embedding")
    val t = "t_prunepq_idx"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(64), table = t,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_prunepq").toString))
    val queries = vecs.filter(col("vec_id") < 4)
    // rerank above the gather cap (GatherMaxIds/rerank < 4 queries):
    // the probe stays a fully LAZY pipeline, so the final plan still
    // holds the pruned code-lists scan to assert on
    val df = IvfStore.probe(spark, t, queries,
      "vec_id", "embedding", dims = 8, nprobe = 2, rerank = 8192)
    val ex = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ex.contains("In(cid"),
      s"a 4-query batch over a 64-list PQ index must push In(cid):\n$ex")
    // no candidate-set window anywhere: survivor selection is the
    // bounded topk_pairs aggregate
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "survivor selection must be the bounded aggregate, not a window")
    assert(df.count() === 4)
    // bounded rerank takes the GATHER refine: the final plan restarts
    // from the collected survivors and pushes their vids into the
    // `_vecs` fetch as In(vid) — the faiss gather-by-id shape
    val dfg = IvfStore.probe(spark, t, queries,
      "vec_id", "embedding", dims = 8, nprobe = 2, rerank = 8)
    val exg = dfg.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(exg.contains("In(vid"),
      s"the bounded-batch refine must gather-by-id from _vecs:\n$exg")
    assert(dfg.count() === 4)
    Seq(t, s"${t}_centroids", s"${t}_codebooks", s"${t}_vecs")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("IVF-PQ delta append against FROZEN quantizers equals the " +
      "one-shot build: appended vectors land in the right lists, " +
      "encode identically, and are fetchable by the refine") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val corpus = (0L until 80L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    // base = low 3/4 ids: holds the k seed centroids AND the first-
    // `codes` codebook rows, so the frozen quantizers equal the
    // full-corpus one-shot's (st15's seed-equivalence discipline)
    val base = vecs.filter(col("vec_id") < 60)
    val delta = vecs.filter(col("vec_id") >= 60)
    val inc = "t_pqapp_inc"
    val one = "t_pqapp_one"
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = inc,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pqapp_i").toString))
    IvfStore.append(spark, inc, delta,
      "vec_id", "embedding", dims = 8)
    spark.catalog.refreshTable(inc)
    spark.catalog.refreshTable(inc + "_vecs")
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = one,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pqapp_o").toString))
    def probeAll(t: String) =
      IvfStore.probe(spark, t, vecs, "vec_id",
        "embedding", dims = 8, nprobe = 2, rerank = 8)
        .orderBy(col("id_a")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probeAll(inc) === probeAll(one),
      "append-built and one-shot IVF-PQ indexes must answer " +
        "identically — same quantizers, same codes, same lists")
    // an appended (high-id) vector can WIN and survive the refine
    val incRows = spark.table(inc).filter(col("vid") >= 60).count()
    assert(incRows === 20L, s"delta rows must be in the lists: $incRows")
    Seq(inc, one).foreach { t =>
      Seq(t, s"${t}_centroids", s"${t}_codebooks", s"${t}_vecs")
        .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
    }
    // the plain-store contract: a MoR serving VIEW refuses the plain
    // append loudly, pointing at the seq-stamped verbs
    val mor = "t_pqapp_mor"
    graft.operators.BucketedStores.dropVersioned(spark, mor)
    Seq(s"${mor}_centroids", s"${mor}_codebooks", s"${mor}_vecs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = mor,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pqapp_m").toString), mor = true)
    val e = intercept[IllegalArgumentException] {
      IvfStore.append(spark, mor, delta,
        "vec_id", "embedding", dims = 8)
    }
    assert(e.getMessage.contains("morAppend"), e.getMessage)
    graft.operators.BucketedStores.dropVersioned(spark, mor)
    Seq(s"${mor}_centroids", s"${mor}_codebooks", s"${mor}_vecs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("PQ code ids past 127 decode UNSIGNED on every serving surface: " +
      "a 200-codeword codebook stores negative bytes, and both the API " +
      "probe and GRAFT_ANN reproduce the driver-replicated ADC ranking") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 256L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    val t = "t_upq_idx"
    val m = 2
    val codes = 200 // > 128: ids 128-199 wrap negative as bytes
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(m, codes), k = None, table = t,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_upq").toString))
    // the wrap is actually exercised: some stored code bytes are < 0
    val negCodes = spark.table(t)
      .select(explode(col("codes")).as("c"))
      .filter(col("c") < 0).count()
    assert(negCodes > 0,
      "a 200-codeword build must store some ids past 127 (negative " +
        "bytes) or this test proves nothing")
    // driver-replicated ADC: same 6-dp rounding (BigDecimal HALF_UP =
    // Spark's round), same left-to-right dist2 fold, exact decimal sum
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dist2(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) {
        val d = a(i) - b(i); acc += d * d; i += 1
      }
      acc
    }
    val sub = 8 / m
    val cbk = (0 until m).map { j =>
      corpus.take(codes).map { case (c, e) =>
        (c.toInt, e.slice(j * sub, (j + 1) * sub))
      }
    }
    def encode(e: Seq[Double]): Seq[Int] =
      (0 until m).map { j =>
        cbk(j).map { case (c, ce) =>
          (r6(dist2(e.slice(j * sub, (j + 1) * sub), ce)), c)
        }.minBy { case (d, c) => (d, c) }._2
      }
    val encoded = corpus.map { case (id, e) => id -> encode(e) }.toMap
    assert(encoded.values.exists(_.exists(_ > 127)),
      "driver replication must also use ids past 127")
    val queries = corpus.take(8)
    val expect = queries.map { case (qid, qe) =>
      val tab = (0 until m).map { j =>
        cbk(j).map { case (c, ce) =>
          c -> BigDecimal(r6(dist2(qe.slice(j * sub, (j + 1) * sub), ce)))
        }.toMap
      }
      val best = corpus.filter(_._1 != qid).map { case (bid, _) =>
        val adc = (0 until m).map(j => tab(j)(encoded(bid)(j))).sum
        (adc, bid)
      }.minBy(identity)
      (qid, best._2)
    }
    val qdf = queries.toDF("vec_id", "embedding")
    // rerank = 1: the survivor IS the ADC top-1 — a signed read of a
    // wrapped code would pick a different survivor here (full rerank
    // would mask the decode bug behind the exact re-rank)
    val got = IvfStore.probe(spark, t, qdf,
      "vec_id", "embedding", dims = 8, rerank = 1)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expect,
      "API probe at rerank=1 must return the driver-replicated ADC " +
        "top-1 — unsigned decode on the Scala surface")
    qdf.createOrReplaceTempView("t_upq_queries")
    val gotSql = spark.sql("SELECT id_a, ann_id FROM " +
      s"GRAFT_ANN('$t', 't_upq_queries', 1, 1, 1) ORDER BY id_a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotSql === expect,
      "GRAFT_ANN at rerank=1 must return the driver-replicated ADC " +
        "top-1 — unsigned decode on the SQL surface")
    Seq(t, s"${t}_codebooks", s"${t}_vecs")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("a MANAGED float companion snapshots as a PHYSICAL copy (bucket " +
      "spec preserved): the snapshot survives the rebuild's DROP of " +
      "the base companion instead of dangling at a deleted location") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(6)(rnd.nextDouble() * 4 - 2)))
      .toDF("vec_id", "embedding")
    val t = "t_mgd_snap"
    BucketedStores.dropVersioned(spark, t)
    Seq(s"${t}_centroids", s"${t}_vecs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    // location = None → MANAGED companions (files die with DROP TABLE)
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 6, codec = ListCodec.Sq8, k = Some(4), table = t)
    BucketedStores.adoptVersioned(spark, t)
    val snap = s"${t}__v1_vecs"
    assert(spark.catalog.tableExists(snap), "adoption must snapshot _vecs")
    // the hazard: a full rebuild DROPs the managed base companion,
    // deleting its files — the generation snapshot must keep serving
    spark.sql(s"DROP TABLE ${t}_vecs")
    assert(spark.table(snap).count() === 60L,
      "the generation's _vecs snapshot must survive the base " +
        "companion's drop — a shallow catalog entry on a managed " +
        "source dangles at deleted files")
    // bucket spec carried: the refine fetch stays bucket-pruned
    val bs = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(snap)).bucketSpec
    assert(bs.exists(_.bucketColumnNames == Seq("vid")),
      s"physical snapshot must keep the vid bucket spec, got $bs")
    BucketedStores.dropVersioned(spark, t)
    Seq(s"${t}_centroids", s"${t}__v1_centroids", snap)
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("IVF-PQ merge-on-read delta-ADD lifecycle: encodeForIvfPq + " +
      "morAppendToIvfPqIndex equal the one-shot build, time travel " +
      "sees the pre-append state, and generations refuse appends") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val corpus = (0L until 80L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    // base holds the k seed centroids AND the first-`codes` codebook
    // rows, so the frozen quantizers equal the full-corpus one-shot's
    val base = vecs.filter(col("vec_id") < 60)
    val delta = vecs.filter(col("vec_id") >= 60)
    val mor = "t_pqmorapp"
    val one = "t_pqmorapp_one"
    BucketedStores.dropVersioned(spark, mor)
    Seq(mor, one).foreach { t =>
      Seq(t, s"${t}_centroids", s"${t}_codebooks", s"${t}_vecs")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = mor,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pqmorapp_m").toString), mor = true)
    val seq = IvfStore.morAppend(spark, mor, delta,
      "vec_id", "embedding", dims = 8)
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = one,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pqmorapp_o").toString))
    // the encode helper alone produces EXACTLY the one-shot's rows
    // for the delta vids — frozen-quantizer encode is list-assignment
    // + pqEncode, nothing else
    val encRows = IvfStore.encode(spark, one, delta,
      "vec_id", "embedding", dims = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Byte](2))).toSet
    val oneRows = spark.table(one).filter(col("vid") >= 60)
      .select(col("cid"), col("vid"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Byte](2))).toSet
    assert(encRows === oneRows,
      "encodeForIvfPq must reproduce the one-shot build's (cid, vid, " +
        "codes) rows for the delta — same frozen quantizers")
    def probeAll(t: String) =
      IvfStore.probe(spark, t, vecs, "vec_id",
        "embedding", dims = 8, nprobe = 2, rerank = 8)
        .orderBy(col("id_a")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probeAll(mor) === probeAll(one),
      "a MoR-appended IVF-PQ store must answer exactly like the " +
        "one-shot index — append maintenance is invisible to serving")
    // serving view sees the delta; as-of (seq - 1) is the pre-append
    // state — the returned sequence is the time-travel handle
    assert(spark.table(mor).count() === 80L)
    assert(BucketedStores.readMorAsOfSeq(spark, mor, Seq("vid"), "vid",
      seq - 1).count() === 60L,
      "readMorAsOfSeq(seq - 1) must show the pre-append lists")
    // retained generations are immutable history: the plain-append
    // helper refuses the name shape outright
    val e = intercept[IllegalArgumentException] {
      IvfStore.append(spark, s"${one}__v1", delta,
        "vec_id", "embedding", dims = 8)
    }
    assert(e.getMessage.contains("GENERATION"), e.getMessage)
    BucketedStores.dropVersioned(spark, mor)
    Seq(mor, one).foreach { t =>
      Seq(t, s"${t}_centroids", s"${t}_codebooks", s"${t}_vecs")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("IVF-SQ8 merge-on-read delta-ADD lifecycle: " +
      "morAppendToIvfSq8Index equals the one-shot build — tier parity " +
      "with the IVF-PQ helper") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val corpus = (0L until 80L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") < 60)
    val delta = vecs.filter(col("vec_id") >= 60)
    val mor = "t_sq8morapp"
    val one = "t_sq8morapp_one"
    BucketedStores.dropVersioned(spark, mor)
    Seq(mor, one).foreach { t =>
      Seq(t, s"${t}_centroids", s"${t}_vecs")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Sq8, k = Some(4), table = mor,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_sq8morapp_m").toString), mor = true)
    val seq = IvfStore.morAppend(spark, mor, delta,
      "vec_id", "embedding", dims = 8)
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Sq8, k = Some(4), table = one,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_sq8morapp_o").toString))
    def probeAll(t: String) =
      IvfStore.probe(spark, t, vecs, "vec_id",
        "embedding", dims = 8, nprobe = 2, rerank = 8)
        .orderBy(col("id_a")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probeAll(mor) === probeAll(one),
      "a MoR-appended SQ8 store must answer exactly like the one-shot")
    assert(spark.table(mor).count() === 80L)
    assert(BucketedStores.readMorAsOfSeq(spark, mor, Seq("vid"), "vid",
      seq - 1).count() === 60L)
    BucketedStores.dropVersioned(spark, mor)
    Seq(mor, one).foreach { t =>
      Seq(t, s"${t}_centroids", s"${t}_vecs")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("MoR append replay guard: a redelivered foreachBatch batchId " +
      "is a ledger no-op — no duplicate codes, no duplicate floats; " +
      "a NEW batchId still lands") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 80L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") < 60)
    val d1 = vecs.filter(col("vec_id") >= 60 && col("vec_id") < 70)
    val d2 = vecs.filter(col("vec_id") >= 70)
    val mor = "t_pqmorreplay"
    BucketedStores.dropVersioned(spark, mor)
    Seq(mor, s"${mor}_centroids", s"${mor}_codebooks", s"${mor}_vecs",
        s"${mor}_applied")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = mor,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pqmorreplay").toString), mor = true)
    val seq1 = IvfStore.morAppend(spark, mor, d1,
      "vec_id", "embedding", dims = 8, batchId = Some(7L))
    val (gen1, vecs1) = (spark.table(mor).count(),
      spark.table(s"${mor}_vecs").count())
    // the REPLAY: same batchId — duplicate rows here would surface as
    // duplicate ranks at k > 1 (the anti-join view never dedups)
    val seqR = IvfStore.morAppend(spark, mor, d1,
      "vec_id", "embedding", dims = 8, batchId = Some(7L))
    assert(seqR === seq1, "a replayed batch must return the seq its " +
      "first landing stamped")
    assert(spark.table(mor).count() === gen1 &&
      spark.table(s"${mor}_vecs").count() === vecs1,
      "a replayed batchId must not append a single row to either " +
        "the code lists or the float companion")
    // a NEW batch still lands, and its replay is also a no-op
    IvfStore.morAppend(spark, mor, d2,
      "vec_id", "embedding", dims = 8, batchId = Some(8L)): Unit
    assert(spark.table(mor).count() === 80L)
    IvfStore.morAppend(spark, mor, d2,
      "vec_id", "embedding", dims = 8, batchId = Some(8L)): Unit
    assert(spark.table(mor).count() === 80L &&
      spark.table(s"${mor}_vecs").count() === 80L)
    // the guarded store answers exactly like an unguarded good run:
    // serving parity is the point of the guard
    val got = IvfStore.probe(spark, mor, vecs,
      "vec_id", "embedding", dims = 8, nprobe = 2, rerank = 8)
      .orderBy(col("id_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(_._1) === (0L until 80L),
      "every query answered exactly once after guarded appends")
    BucketedStores.dropVersioned(spark, mor)
    Seq(mor, s"${mor}_centroids", s"${mor}_codebooks", s"${mor}_vecs",
        s"${mor}_applied")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    // the PLAIN append helpers share the ledger: streamed ingestion
    // (st15/st30) passes the foreachBatch batchId, and a post-restart
    // redelivery must not duplicate list rows either
    val plain = "t_pqplainreplay"
    Seq(plain, s"${plain}_centroids", s"${plain}_codebooks",
        s"${plain}_vecs", s"${plain}_applied")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(4), table = plain,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_pqplainreplay").toString))
    IvfStore.append(spark, plain, d1,
      "vec_id", "embedding", dims = 8, batchId = Some(3L))
    val (pg, pv) = (spark.table(plain).count(),
      spark.table(s"${plain}_vecs").count())
    IvfStore.append(spark, plain, d1,
      "vec_id", "embedding", dims = 8, batchId = Some(3L))
    assert(spark.table(plain).count() === pg &&
      spark.table(s"${plain}_vecs").count() === pv,
      "a replayed batchId on the plain append helper must be a no-op")
    Seq(plain, s"${plain}_centroids", s"${plain}_codebooks",
        s"${plain}_vecs", s"${plain}_applied")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("index REBUILD resets the replay ledger: a batchId landed on " +
      "the OLD index must land again on the new one (a stale ledger " +
      "would swallow an at-least-once writer's whole backlog)") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val corpus = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 4 - 2)))
    val vecs = corpus.toDF("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") < 30)
    val delta = vecs.filter(col("vec_id") >= 30)
    val t = "t_ledgerreset"
    Seq(t, s"${t}_centroids", s"${t}_applied")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Flat, k = Some(4), table = t,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_ledgerreset").toString))
    IvfStore.append(spark, t, delta,
      "vec_id", "embedding", dims = 8, batchId = Some(0L))
    assert(spark.table(t).count() === 40L)
    // REBUILD: a new store — the writer restarting from batch 0 must
    // not have its backlog swallowed by the old store's ledger
    IvfStore.write(base, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Flat, k = Some(4), table = t,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_ledgerreset2").toString))
    assert(spark.table(t).count() === 30L, "rebuild starts from base")
    IvfStore.append(spark, t, delta,
      "vec_id", "embedding", dims = 8, batchId = Some(0L))
    assert(spark.table(t).count() === 40L,
      "batchId 0 must LAND on the rebuilt index — stale ledger rows " +
        "from the previous build must not no-op it")
    Seq(t, s"${t}_centroids", s"${t}_applied")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("GRAFT_ANN bounded batches prune the lists scan on the SQL " +
      "surface too: parse-time probed-cid resolution pushes In(cid) " +
      "into the scan for all three IVF tiers, and corpus-as-queries " +
      "or view definitions fall back to the unfiltered join") {
    import spark.implicits._
    val vecs = (0L until 4000L).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 13 + j * 5) % 17 - 8).toDouble / 3)))
      .toDF("vec_id", "embedding")
    vecs.filter(col("vec_id") < 4)
      .createOrReplaceTempView("t_sqlprune_q")
    vecs.createOrReplaceTempView("t_sqlprune_all")
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))
    // IVF-PQ tier
    val tq = "t_sqlprune_ivfpq"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Pq(2, 16), k = Some(64), table = tq,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_sqlprune_pq").toString))
    val dq = spark.sql(
      s"SELECT * FROM GRAFT_ANN('$tq', 't_sqlprune_q', 1, 2, 8192)")
    assert(fmt(dq).contains("In(cid"),
      s"a 4-query SQL batch over 64 PQ lists must push In(cid):\n${fmt(dq)}")
    assert(dq.count() === 4)
    // corpus-as-queries: over the resolution cap — no stale pruning
    val dqAll = spark.sql(
      s"SELECT * FROM GRAFT_ANN('$tq', 't_sqlprune_all', 1, 2, 8192)")
    assert(!fmt(dqAll).contains("In(cid"),
      "a corpus-scale batch must NOT bake in a probed-cid filter")
    // a VIEW DEFINITION never freezes the content-dependent In-list
    spark.sql("CREATE OR REPLACE TEMP VIEW t_sqlprune_view AS " +
      s"SELECT * FROM GRAFT_ANN('$tq', 't_sqlprune_q', 1, 2, 8192)")
    assert(!fmt(spark.table("t_sqlprune_view")).contains("In(cid"),
      "CREATE VIEW must not bake a parse-time In-list into stored text")
    // float tier
    val tf = "t_sqlprune_ivf"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Flat, k = Some(64), table = tf,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_sqlprune_f").toString))
    val df = spark.sql(
      s"SELECT * FROM GRAFT_ANN('$tf', 't_sqlprune_q', 1, 2)")
    assert(fmt(df).contains("In(cid"),
      s"the float SQL probe must prune probed lists too:\n${fmt(df)}")
    assert(df.count() === 4)
    // SQ8 tier
    val ts = "t_sqlprune_sq8"
    IvfStore.write(vecs, "vec_id", "embedding",
      dims = 8, codec = ListCodec.Sq8, k = Some(64), table = ts,
      location = Some(java.nio.file.Files
        .createTempDirectory("t_sqlprune_s").toString))
    val ds = spark.sql(
      s"SELECT * FROM GRAFT_ANN('$ts', 't_sqlprune_q', 1, 2, 8192)")
    assert(fmt(ds).contains("In(cid"),
      s"the SQ8 SQL probe must prune probed lists too:\n${fmt(ds)}")
    assert(ds.count() === 4)
    Seq(tq, s"${tq}_centroids", s"${tq}_codebooks", s"${tq}_vecs",
      tf, s"${tf}_centroids", ts, s"${ts}_centroids", s"${ts}_vecs")
      .foreach(tb => spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("topk_pairs k=1 fast path: the declarative min-struct " +
      "composition matches the heap aggregate exactly (NULL pairs " +
      "skipped, unrankable groups yield an EMPTY array, ties to the " +
      "smaller id) and the plan sheds the interpreted " +
      "ObjectHashAggregate on both surfaces") {
    import spark.implicits._
    val rows = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(1.0), Some(30L)), (1L, Some(1.0), Some(10L)),
      (1L, Some(0.5), Some(1L)),
      (2L, Some(2.0), Some(7L)), (2L, None, Some(9L)),
      (3L, None, Some(5L)), (3L, Some(3.0), None), // all unrankable
      (4L, Some(-0.0), Some(2L)), (4L, Some(0.0), Some(8L)))
      .toDF("g", "s", "i")
    // (id, score + 0.0) per group: +0.0 folds the one representable
    // divergence (-0.0 vs 0.0 on the emitted WINNER's score — the
    // heap preserves the input bit pattern, the composition
    // normalizes; ranking is identical)
    def headOf(df: org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[(Long, Double)]] =
      df.select(col("g"), col("tk")).collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getLong(1), p.getDouble(0) + 0.0)).toSeq
      }.toMap
    def agg(k: Int) = rows.groupBy(col("g"))
      .agg(graft.functions.VectorFunctions
        .topk_pairs(col("s"), col("i"), k).as("tk"))
    val fast = agg(1)
    val heapHead = headOf(agg(2)).view.mapValues(_.take(1)).toMap
    assert(headOf(fast) === heapHead,
      "the k=1 composition must keep exactly the heap's best pair " +
        "per group (and nothing for unrankable groups)")
    assert(headOf(fast)(3L).isEmpty,
      "a group with no rankable candidate must return an EMPTY array")
    val fastPlan = fast.queryExecution.executedPlan.toString
    assert(!fastPlan.contains("ObjectHashAggregate") &&
      !fastPlan.contains("topk_pairs"),
      s"k=1 must not run the interpreted aggregate:\n$fastPlan")
    assert(agg(2).queryExecution.executedPlan.toString
      .contains("topk_pairs"),
      "k>1 must keep the bounded heap aggregate")
    // SQL surface: a literal k=1 routes the same composition
    rows.createOrReplaceTempView("t_tkfast")
    val sqlFast = spark.sql(
      "SELECT g, topk_pairs(s, i, 1) AS tk FROM t_tkfast GROUP BY g")
    assert(headOf(sqlFast) === heapHead,
      "the SQL surface's k=1 fast path must match")
    assert(!sqlFast.queryExecution.executedPlan.toString
      .contains("ObjectHashAggregate"),
      "the SQL k=1 route must shed ObjectHashAggregate too")
  }
}
