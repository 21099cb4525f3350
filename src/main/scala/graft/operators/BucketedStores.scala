package graft.operators

import org.apache.spark.sql.SparkSession

/** Maintenance for the stored bucketed indexes
  * ([[TextDedupOps.writeLshIndex]], [[SimilarityOps.writeIvfIndex]]):
  * every append adds one file per populated bucket, so a store that
  * lives through many snapshot deltas accumulates small files — the
  * classic bucketed-append pathology (scan task count and footer
  * overhead grow with APPEND COUNT, not data size). `compact` rewrites
  * the store once into fresh buckets (back to ~one file per bucket)
  * and swaps it in via a catalog rename, preserving the bucket spec —
  * so probe plans keep their zero-shuffle bucket-aligned scan — and
  * the external location discipline (fresh temp dir per generation).
  * NOTE: dropping an EXTERNAL table removes only the catalog entry —
  * the retired directory's files stay on disk until [[vacuumOrphans]]
  * reclaims them by catalog reachability.
  *
  * `compact` is not crash-atomic across its drop/rename pair; the
  * VERSIONED discipline below ([[adoptVersioned]] / [[compactAtomic]])
  * closes that: the served name becomes a view over generation tables
  * and each compaction swap is a single CREATE OR REPLACE VIEW. The
  * data itself is never at risk in either form: the compacted copy is
  * fully written before anything old is dropped.
  */
object BucketedStores extends org.apache.spark.internal.Logging {

  /** Rewrite `table` into a fresh bucketed copy (same bucket/sort
    * spec) and swap it in. Returns the new file count's upper bound
    * input (`buckets`) for convenience in asserts.
    */
  def compact(spark: SparkSession, table: String,
      bucketCols: Seq[String], sortCols: Seq[String], buckets: Int,
      location: Option[String] = None): Unit = {
    val tmp = table + "__compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    val loc = location.getOrElse(
      java.nio.file.Files.createTempDirectory(s"graft_compact_$table")
        .toString)
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val w = spark.table(table)
      // co-locate each BUCKET (not each key) on one writer task →
      // exactly one file per populated bucket: public hash() is
      // Murmur3(seed 42), the same formula V1 bucketing derives the
      // bucket id from, so pmod(hash(cols), buckets) IS the bucket id
      .repartition(buckets, pmod(hash(bucketCols.map(col): _*),
        lit(buckets)))
      .write.bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .option("path", loc)
    w.saveAsTable(tmp)
    // a compaction preserves content, so the quantizer build stamp
    // (ANN index stores) survives the rewrite
    val stamp = buildStamp(spark, table)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    stamp.foreach(stampBuild(spark, table, _))
    // a compaction preserves content exactly, so any stored key stats
    // stay count/sketch-valid — only the size estimate is re-read
    // (no-op when the table was never analyzed)
    SketchStats.refreshSize(spark, table)
  }

  /** [[TextDedupOps.writeLshIndex]] store compaction. */
  def compactLshIndex(spark: SparkSession, table: String,
      buckets: Int = 8): Unit =
    compact(spark, table, Seq("band", "bhash"), Seq("band", "bhash"),
      buckets)

  // ---- Versioned serving: ATOMIC compaction swap -------------------
  //
  // The plain `compact` above has a documented hole: the DROP+RENAME
  // pair is two catalog ops, so a reader resolving the name between
  // them sees a missing table. The versioned discipline closes it:
  // the SERVED name is a VIEW, each physical generation is a table
  // `name__v<k>`, and the swap is ONE catalog op (CREATE OR REPLACE
  // VIEW) — readers resolve either the old generation or the new one,
  // never nothing. A view is plan-level alias only: the probe join
  // still sees the backing table's bucket spec, so the zero-shuffle
  // bucket-aligned scan survives the indirection (CI-gated in
  // OperatorSpecs). Same shape as a metastore view-flip or an
  // Iceberg/Delta pointer swap, built from public Spark catalog ops.

  private def versionOf(backing: String, name: String): Int = {
    val p = name + "__v"
    require(backing.startsWith(p), s"$backing is not a $name generation")
    backing.stripPrefix(p).toInt
  }

  /** The physical table currently served by versioned view `name`. */
  def currentGeneration(spark: SparkSession, name: String): String = {
    val vs = spark.catalog.listTables()
      .collect().map(_.name)
      .filter(isGenerationOf(_, name))
    require(vs.nonEmpty, s"$name has no generations — not a versioned store")
    vs.maxBy(versionOf(_, name))
  }

  /** `name__v<digits>` exactly — a generation's own auxiliary tables
    * (`name__v3__kstats`) share the prefix and must not parse as
    * generations.
    */
  private def isGenerationOf(t: String, name: String): Boolean = {
    val p = name + "__v"
    t.startsWith(p) && t.length > p.length &&
      t.substring(p.length).forall(_.isDigit)
  }

  /** A versioned store's LIVE generation numbers, oldest first — more
    * than one iff maintenance ran with `retain > 0` (snapshot
    * retention, the Iceberg-style time-travel window).
    */
  def generations(spark: SparkSession, name: String): Seq[Int] = {
    val vs = spark.catalog.listTables()
      .collect().map(_.name)
      .filter(isGenerationOf(_, name))
      .map(versionOf(_, name)).sorted.toSeq
    require(vs.nonEmpty, s"$name has no generations — not a versioned store")
    vs
  }

  /** Time-travel read: the store AS OF generation `k`. Retained
    * generations are immutable physical tables, so the snapshot is
    * stable regardless of concurrent maintenance — exactly a
    * lakehouse `VERSION AS OF`. Throws if `k` has been retired
    * (maintenance ran with a smaller retention than the lookback).
    */
  def readGeneration(spark: SparkSession, name: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val t = s"${name}__v$k"
    require(spark.catalog.tableExists(t),
      s"generation $k of $name is not retained " +
        s"(live: ${generations(spark, name).mkString(",")})")
    spark.table(t)
  }

  /** Adopt an existing physical table (e.g. a [[graft.operators
    * .TextDedupOps.writeLshIndex]] output) into versioned serving:
    * rename it to generation 1 and create the serving view. The
    * one-time adoption is the only non-atomic moment (rename + view
    * create); every subsequent [[compactAtomic]] swap is a single
    * catalog op.
    */
  def adoptVersioned(spark: SparkSession, table: String): Unit = {
    val gen1 = table + "__v1"
    spark.sql(s"ALTER TABLE $table RENAME TO $gen1")
    spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT * FROM $gen1")
    // adoption preserves content: carry any pre-adoption stats onto
    // the serving name AND the generation the optimizer actually sees
    carryStats(spark, table, gen1)
    snapshotCentroids(spark, table)
  }

  /** Stats carry-through for a CONTENT-PRESERVING swap: the serving
    * name's stored key stats (if any) stay count/sketch-exact, so
    * re-persist them with a fresh size estimate and SNAPSHOT them onto
    * the new generation table — the relation a join actually plans
    * against once the view expands, and the one a `VERSION AS OF`
    * read resolves to. This is what keeps [[graft.plans
    * .SketchJoinRule]] armed across compactions and on time-traveled
    * reads (a historical generation keeps the stats it had when it
    * was current). Reads through the stale mark the swap's own
    * catalog events set, then clears it. No-op when never analyzed.
    */
  private def carryStats(spark: SparkSession, name: String,
      newGen: String): Unit =
    SketchStats.readStored(spark, name).foreach { st =>
      SketchStats.copyTo(spark, st, newGen)
      SketchStats.refreshSize(spark, name)
    }

  /** Table property carrying the QUANTIZER BUILD ID: a uuid minted by
    * [[SimilarityOps.writeIvfIndex]]/[[SimilarityOps.writeIvfSq8Index]]
    * and stamped onto the inverted-lists table and every companion it
    * writes. The stamp is the lineage proof the snapshot machinery and
    * the probe resolvers check: lists may only ever probe against a
    * companion carrying the SAME build id — a full rebuild mints a new
    * id, so stale-lists × retrained-quantizer combinations fail loudly
    * instead of silently mis-assigning probe lists.
    */
  val QuantizerBuildProp = "graft.quantizer.build"

  /** Mint a quantizer build id (uuid). */
  def newBuildId(): String = java.util.UUID.randomUUID().toString

  /** Stamp `table` with quantizer build `id` (idempotent overwrite). */
  def stampBuild(spark: SparkSession, table: String, id: String): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$QuantizerBuildProp' = '$id')")

  /** The quantizer build id `table` was stamped with, if any (None for
    * views, pre-stamp legacy tables, and non-ANN stores).
    */
  def buildStamp(spark: SparkSession, table: String): Option[String] =
    scala.util.Try {
      spark.sql(s"SHOW TBLPROPERTIES $table").collect()
        .find(_.getString(0) == QuantizerBuildProp).map(_.getString(1))
    }.toOption.flatten

  /** Quantizer snapshot for versioned ANN index stores: if `name` has
    * a `<name>_centroids` companion ([[SimilarityOps.writeIvfIndex]]'s
    * coarse quantizer, k rows), pin a copy onto the NEWEST live
    * generation (`<name>__v<k>_centroids`) — the one the current
    * swap/adoption just created. List MAINTENANCE never retrains the
    * quantizer, but a later FULL REBUILD (`writeIvfIndex` re-run, or a
    * streamed index rebuild) drops and retrains the base companion
    * while retained generations survive, and probing OLD lists against
    * NEW centroids silently mis-assigns probe lists. So the snapshot
    * source must PROVE lineage:
    *
    *  - the previous live generation's own snapshot (maintenance
    *    derives each generation from the last, same quantizer by the
    *    no-retrain contract) — taken only when its build stamp
    *    ([[QuantizerBuildProp]]) matches the new generation's;
    *  - else the base companion, only when its build stamp matches the
    *    new generation's (true at adoption and for every maintenance
    *    swap that precedes a rebuild).
    *
    * When neither source can prove lineage (a rebuild intervened, or a
    * pre-stamp legacy generation), NO snapshot is written: the
    * generation stays snapshot-less and [[org.apache.spark.sql.graft
    * .GraftAnnRewrite]] (and the API probes) fail LOUDLY on it — never
    * back-fill a possibly-retrained quantizer onto old lists. Older
    * snapshot-less generations are likewise left to the loud error.
    * k rows per snapshot — catalog noise, not data. No-op for stores
    * without a companion (LSH, BM25, plain bucketed stores).
    */
  private def snapshotCentroids(spark: SparkSession,
      name: String): Unit = {
    // the coarse quantizer: k rows — a physical copy is catalog noise
    snapshotCompanion(spark, name, "_centroids", shallow = false)
    // the PQ codebooks ([[SimilarityOps.writePqIndex]]): m×codes rows
    snapshotCompanion(spark, name, "_codebooks", shallow = false)
    // the SQ8 float companion: corpus-scale, so the snapshot is a
    // SHALLOW catalog copy (CREATE TABLE LIKE at the source's
    // location — schema + bucket spec carried, zero data moved).
    // Sound because companion files are immutable once written
    // (appends add files, nothing rewrites in place) and the rerank
    // only ever fetches ids that survived the generation's own lists,
    // so a superset companion serves every retained generation of its
    // build. Retirement drops only the catalog entry (external
    // semantics) — file reachability stays [[vacuumOrphans]]'s job.
    snapshotCompanion(spark, name, "_vecs", shallow = true)
  }

  private def snapshotCompanion(spark: SparkSession, name: String,
      suffix: String, shallow: Boolean): Unit = {
    val base = name + suffix
    if (!spark.catalog.tableExists(base)) return
    val gens = generations(spark, name)
    val newest = gens.last
    val snap = s"${name}__v${newest}$suffix"
    if (spark.catalog.tableExists(snap)) return
    val genStamp = buildStamp(spark, s"${name}__v$newest")
    val prevSnap = gens.dropRight(1).reverse
      .map(k => s"${name}__v${k}$suffix")
      .find(spark.catalog.tableExists)
    val source = (prevSnap.toSeq :+ base).find(c =>
      genStamp.isDefined && buildStamp(spark, c) == genStamp)
    source match {
      case Some(src) =>
        // a SHALLOW snapshot (catalog entry at the source's location,
        // zero data moved) is sound only while the shared files are
        // immutable — true for EXTERNAL companions (a rebuild's DROP
        // removes catalog entries only). A MANAGED source's files are
        // DELETED by the rebuild's `DROP TABLE IF EXISTS ${table}_vecs`,
        // leaving the snapshot pointing at nothing while its build
        // stamp still matches — so managed sources get a PHYSICAL copy
        // (the corpus-scale cost is the price of building a store
        // without an explicit location; pass `location` to writeIvf*/
        // writePqIndex to keep snapshots zero-copy).
        val srcMeta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(src))
        val srcExternal = srcMeta.tableType ==
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL
        if (shallow && srcExternal) {
          val loc = srcMeta.location.toString
          spark.sql(s"CREATE TABLE $snap LIKE $src LOCATION '$loc'")
        } else {
          if (shallow)
            logWarning(s"graft: $src is a MANAGED table — its files " +
              "die with a rebuild's DROP, so the generation snapshot " +
              s"$snap is a physical copy instead of a shallow catalog " +
              "entry. Build the store with an explicit location for " +
              "zero-copy snapshots.")
          // the copy is DURABLE history (it must outlive the base
          // rebuild that motivates it), so it lives NEXT TO the data
          // it snapshots — never under java.io.tmpdir, where a tmp
          // reaper or reboot would recreate the dangling-files hazard
          // this copy exists to close. Deterministic path + overwrite
          // keeps a re-run after a crashed attempt idempotent.
          val snapLoc = srcMeta.location.toString.stripSuffix("/") +
            s"__gen_v$newest"
          val w = spark.table(src).write
            .mode("overwrite")
            .option("path", snapLoc)
          // a physical copy of a BUCKETED companion keeps its bucket
          // spec, so snapshot probes keep the bucket-pruned refine
          srcMeta.bucketSpec.fold(w) { bs =>
            val bw = w.bucketBy(bs.numBuckets,
              bs.bucketColumnNames.head, bs.bucketColumnNames.tail: _*)
            if (bs.sortColumnNames.nonEmpty)
              bw.sortBy(bs.sortColumnNames.head,
                bs.sortColumnNames.tail: _*)
            else bw
          }.saveAsTable(snap)
        }
        // carry the engine's own table properties (PQ geometry etc.)
        // — a snapshot must serve exactly like its source
        scala.util.Try(spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(src))
          .properties).getOrElse(Map.empty[String, String])
          .filter(_._1.startsWith("graft."))
          .foreach { case (k, v) =>
            spark.sql(s"ALTER TABLE $snap SET TBLPROPERTIES " +
              s"('$k' = '$v')")
          }
        genStamp.foreach(stampBuild(spark, snap, _))
      case None =>
        logWarning(s"graft: generation ${name}__v$newest gets NO " +
          s"$suffix snapshot — no candidate companion carries its " +
          s"build stamp ${genStamp.getOrElse("<unstamped>")} (a " +
          "rebuild retrained the base quantizer, or the store " +
          "predates build stamps). Probes of this generation will " +
          "fail loudly; rebuild the index to restore serving.")
    }
  }

  /** The shared tail of every atomic maintenance op: write `content`
    * as the next generation (one file per bucket — the bucket-id
    * repartition — same bucket/sort spec), flip the serving view in
    * ONE catalog op, then retire every generation beyond the retention
    * window (`retain` = how many PREVIOUS generations stay readable
    * via [[readGeneration]]; 0 = drop the old one immediately, the
    * historical default). A concurrent reader that already resolved
    * a retired generation keeps reading its files until the drop; one
    * that resolves during the swap sees exactly one generation.
    * Retired EXTERNAL tables leave their directories behind — that is
    * [[vacuumOrphans]]'s job, same as before.
    */
  private def swapInNextGeneration(spark: SparkSession, name: String,
      old: String, content: org.apache.spark.sql.DataFrame,
      bucketCols: Seq[String], sortCols: Seq[String], buckets: Int,
      location: Option[String], retain: Int = 0,
      contentPreserved: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    require(retain >= 0, s"retain must be >= 0, got $retain")
    val next = name + "__v" + (versionOf(old, name) + 1)
    val loc = location.getOrElse(
      java.nio.file.Files.createTempDirectory(s"graft_gen_$name")
        .toString)
    content
      .repartition(buckets, pmod(hash(bucketCols.map(col): _*),
        lit(buckets)))
      .write.bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .option("path", loc)
      .saveAsTable(next)
    // lineage: the next generation's rows derive from the current one
    // (maintenance never retrains a quantizer), so it inherits the
    // current generation's build stamp — the proof snapshotCentroids
    // and the probe resolvers check
    buildStamp(spark, old).foreach(stampBuild(spark, next, _))
    spark.sql(s"CREATE OR REPLACE VIEW $name AS SELECT * FROM $next")
    generations(spark, name).dropRight(retain + 1)
      .foreach { k =>
        spark.sql(s"DROP TABLE ${name}__v$k")
        // a retired generation's stats table and companion snapshots
        // die with it (the _vecs snapshot is a shallow external
        // entry — dropping it touches no files)
        SketchStats.dropStats(spark, s"${name}__v$k")
        spark.sql(s"DROP TABLE IF EXISTS ${name}__v${k}_centroids")
        spark.sql(s"DROP TABLE IF EXISTS ${name}__v${k}_codebooks")
        spark.sql(s"DROP TABLE IF EXISTS ${name}__v${k}_vecs")
      }
    // pin the quantizer onto every generation that will stay readable
    // (ANN index stores only — no-op otherwise): retained historical
    // lists must probe against the centroids they were assigned under,
    // even after a later full rebuild retrains the base companion
    snapshotCentroids(spark, name)
    // Stats contract for the swap (the rule must NEVER plan on stats
    // the store APIs let go stale): a content-preserving rewrite
    // (compaction) carries the serving name's stats onto the new
    // generation; a content-CHANGING delta drops them — the rule
    // stands down until a fresh GRAFT ANALYZE. Retained old
    // generations keep their stats either way (they are immutable).
    if (contentPreserved) carryStats(spark, name, next)
    else if (SketchStats.readStored(spark, name).isDefined)
      SketchStats.dropStats(spark, name)
  }

  /** Compact a VERSIONED store with an atomic swap: rewrite the
    * current generation into `name__v<k+1>` and flip the serving view
    * ([[swapInNextGeneration]]).
    */
  def compactAtomic(spark: SparkSession, name: String,
      bucketCols: Seq[String], sortCols: Seq[String], buckets: Int,
      location: Option[String] = None, retain: Int = 0): Unit = {
    val old = currentGeneration(spark, name)
    swapInNextGeneration(spark, name, old, spark.table(old),
      bucketCols, sortCols, buckets, location, retain,
      contentPreserved = true)
  }

  /** Apply a CHANGELOG (deletes and/or upsert additions) to a
    * versioned store with the same atomic-swap discipline as
    * [[compactAtomic]]: the next generation is the current one MINUS
    * every row whose `idCol` appears in `removeIds` PLUS `additions`
    * (an upsert is remove + add), rewritten one-file-per-bucket under
    * the same bucket/sort spec, then flipped in with ONE catalog op.
    * This is the piece append-only maintenance (tx38, dd11's
    * appendToLshIndex) cannot express: a delete has no append-shaped
    * representation in a plain parquet store, so it rides the
    * generation rewrite — the same full-file-rewrite cost a Delta/
    * Iceberg copy-on-write delete pays, amortized the same way
    * (batch changelogs, don't flip per row).
    *
    * `removeIds` is changelog-scale: the anti-join broadcasts it when
    * small (AQE's call) while the store side stays an unshuffled
    * bucket-aligned scan feeding the bucket-preserving repartition.
    */
  def applyDeltaAtomic(spark: SparkSession, name: String,
      bucketCols: Seq[String], sortCols: Seq[String], buckets: Int,
      idCol: String, removeIds: org.apache.spark.sql.DataFrame,
      additions: Option[org.apache.spark.sql.DataFrame],
      location: Option[String] = None, retain: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val old = currentGeneration(spark, name)
    val kept = spark.table(old)
      .join(removeIds.select(col(idCol)).distinct(), Seq(idCol),
        "left_anti")
    val content = additions.fold(kept)(a =>
      kept.unionByName(a.select(kept.columns.map(col).toSeq: _*)))
    swapInNextGeneration(spark, name, old, content,
      bucketCols, sortCols, buckets, location, retain)
  }

  /** [[applyDeltaAtomic]] for EDGE stores — rows that reference TWO
    * document ids (`idColA`, `idColB`, e.g. a verified near-dup pair
    * set): a changed document invalidates every edge it touches on
    * EITHER end, so the kept set anti-joins on both columns before the
    * additions union and the same one-view-flip swap.
    */
  def applyEdgeDeltaAtomic(spark: SparkSession, name: String,
      bucketCols: Seq[String], sortCols: Seq[String], buckets: Int,
      idColA: String, idColB: String,
      removeIds: org.apache.spark.sql.DataFrame,
      additions: Option[org.apache.spark.sql.DataFrame],
      location: Option[String] = None, retain: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val old = currentGeneration(spark, name)
    val ids = removeIds.columns match {
      case Array(c) => removeIds.select(col(c).as("_rm_id")).distinct()
      case cs => sys.error(
        s"removeIds must be a single id column, got ${cs.mkString(",")}")
    }
    val kept = spark.table(old)
      .join(ids, col(idColA) === col("_rm_id"), "left_anti")
      .join(ids, col(idColB) === col("_rm_id"), "left_anti")
    val content = additions.fold(kept)(a =>
      kept.unionByName(a.select(kept.columns.map(col).toSeq: _*)))
    swapInNextGeneration(spark, name, old, content,
      bucketCols, sortCols, buckets, location, retain)
  }

  /** Remove a versioned store (serving view + every generation), plus
    * any plain pre-adoption table of the same name — the per-run reset
    * for queries that MUTATE their store each invocation (tx38's
    * rebuild-per-run discipline needs it once deletes enter: the
    * mutation is no longer idempotent-by-append).
    */
  def dropVersioned(spark: SparkSession, name: String): Unit = {
    SketchStats.dropStats(spark, name)
    spark.sql(s"DROP VIEW IF EXISTS $name")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith(name + "__v") ||
        t.matches(java.util.regex.Pattern.quote(name) + "__t\\d+"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  // ---- MERGE-ON-READ maintenance ------------------------------------
  //
  // [[applyDeltaAtomic]] / [[applyEdgeDeltaAtomic]] are COPY-ON-WRITE:
  // every changelog rewrites the whole generation. Measured on the
  // scale-stress corpora (BENCH_INCR.json) that rewrite makes the
  // nightly delta CORPUS-scale IO — at 100× the "incremental" path
  // costs 1.2–1.5× the full rebuild it was meant to replace. The
  // merge-on-read discipline below is the standard fix (the Iceberg/
  // Delta/Hudi delete-file + sequence-number idea re-expressed in
  // public Spark catalog ops): deletes APPEND (id, seq) rows to a
  // small tombstone table, additions APPEND bucket-aligned files into
  // the current generation, and the serving VIEW subtracts tombstones
  // at read time — one anti-join per key column, which broadcasts
  // (tombstones are changelog-scale) and so preserves the backing
  // scan's bucket partitioning (BroadcastHashJoin keeps the streamed
  // side's partitioning; bucket-aligned probe joins survive).
  //
  // SEQUENCE NUMBERS carry upsert semantics: every store row has a
  // `_seq` column (0 at build), every tombstone a `seq`, and a row is
  // dead iff a tombstone for its id has STRICTLY GREATER seq — so an
  // upsert in batch k (tombstone at seq k + re-appended rows at
  // `_seq` = k) kills every older row of the id while its own
  // replacement rows survive. Without the ordinal, the id-only
  // tombstone would kill the very rows the upsert appends.
  //
  // Nightly cost becomes delta-scale; the corpus-scale rewrite happens
  // only at [[morCompact]] (amortized over many nights, same knob as
  // Delta OPTIMIZE), which folds tombstones in, RESETS `_seq` to 0 and
  // starts a fresh tombstone generation — the seq clock restarts
  // together, keeping "tombstone seq strictly greater" well-defined.
  // Appends are not crash-atomic (a torn append can leave a partial
  // file — the same caveat [[TextDedupOps.appendToLshIndex]]
  // documents); the view flip and compaction keep the versioned
  // discipline's single-catalog-op atomicity.

  // Tombstone generations are their own (tiny) versioned sequence
  // `name__t<k>`: "truncating" at compaction is CREATE fresh empty +
  // view re-point + DROP old — TRUNCATE is not allowed on external
  // tables, and a managed tombstone table would reintroduce the
  // dead-JVM warehouse-residue trap the external-location discipline
  // exists to avoid.

  private def tombVersionOf(t: String, name: String): Int =
    t.stripPrefix(name + "__t").toInt

  /** The tombstone table currently serving MoR store `name`. */
  def currentTombstones(spark: SparkSession, name: String): String = {
    val ts = spark.catalog.listTables().collect().map(_.name)
      .filter(_.matches(java.util.regex.Pattern.quote(name) + "__t\\d+"))
    require(ts.nonEmpty, s"$name has no tombstone table — not MoR-enabled")
    ts.maxBy(tombVersionOf(_, name))
  }

  private def newTombstoneTable(spark: SparkSession, name: String,
      version: Int, tombIdCol: String): String = {
    val t = s"${name}__t$version"
    import spark.implicits._
    spark.createDataset(Seq.empty[(Long, Long)]).toDF(tombIdCol, "seq")
      .write.option("path", java.nio.file.Files
        .createTempDirectory(s"graft_tomb_$name").toString)
      .saveAsTable(t)
    t
  }

  /** The serving-view DDL. The anti-join topology (`idCols`,
    * `tombIdCol`) rides along as VIEW PROPERTIES so later machinery —
    * SQL `VERSION AS OF <seq>` ([[org.apache.spark.sql.graft
    * .StoreTimeTravelRewrite]]), property-driven [[readMorAsOfSeq]] —
    * can reconstruct a seq-consistent read without being handed the
    * columns again.
    */
  private def morViewSql(name: String, gen: String, tomb: String,
      idCols: Seq[String], tombIdCol: String): String = {
    val clauses = idCols.map(c =>
      s"NOT EXISTS (SELECT 1 FROM $tomb t " +
        s"WHERE t.$tombIdCol = g.$c AND g._seq < t.seq)")
    s"CREATE OR REPLACE VIEW $name " +
      s"TBLPROPERTIES ('graft.mor.idCols' = '${idCols.mkString(",")}', " +
      s"'graft.mor.tombIdCol' = '$tombIdCol') " +
      s"AS SELECT g.* FROM $gen g " +
      s"WHERE ${clauses.mkString(" AND ")}"
  }

  /** The MoR anti-join topology recorded on the serving view, if this
    * is a property-carrying MoR store.
    */
  def morTopology(spark: SparkSession,
      name: String): Option[(Seq[String], String)] = {
    val props = scala.util.Try(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst
        .TableIdentifier(name)).properties).getOrElse(Map.empty)
    for {
      ids <- props.get("graft.mor.idCols")
      tid <- props.get("graft.mor.tombIdCol")
    } yield (ids.split(',').toSeq, tid)
  }

  /** Switch a VERSIONED store to merge-on-read serving. The backing
    * generation MUST already carry a `_seq` BIGINT column (0 for built
    * rows). The serving view becomes `generation ANTI tombstones` with
    * the strictly-greater-seq rule — one anti-join per entry in
    * `idCols` (an edge store lists both endpoint columns; a row dies
    * when EITHER endpoint is tombstoned past it). `tombIdCol` names
    * the id column tombstone rows carry.
    */
  def morEnable(spark: SparkSession, name: String, idCols: Seq[String],
      tombIdCol: String): Unit = {
    val gen = currentGeneration(spark, name)
    require(spark.table(gen).columns.contains("_seq"),
      s"$gen has no _seq column — build MoR stores with _seq = 0")
    val tomb = newTombstoneTable(spark, name, 1, tombIdCol)
    spark.sql(morViewSql(name, gen, tomb, idCols, tombIdCol))
    // enabling MoR preserves served content (tombstones start empty):
    // re-persist any serving-name stats so the view flip's catalog
    // events don't leave them stale-marked
    SketchStats.refreshSize(spark, name)
  }

  /** The sequence number the NEXT delta batch should stamp: one past
    * the highest tombstone seq (the tombstone table is tiny — this is
    * a changelog-scale read, never a store scan).
    */
  def morNextSeq(spark: SparkSession, name: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, max}
    spark.table(currentTombstones(spark, name))
      .agg(coalesce(max("seq"), lit(0L))).head().getLong(0) + 1
  }

  /** Replay ledger for AT-LEAST-ONCE writers (Structured Streaming's
    * `foreachBatch` redelivers a crashed batch with the SAME batchId):
    * the sequence a previously-landed batch stamped, if this batch id
    * is already in the `<name>_applied` ledger — the caller skips the
    * whole append and returns that seq, so a replay is a no-op instead
    * of duplicate rows (which would surface as duplicate ranks at
    * k > 1 serving: the MoR view is tombstone-anti-join only and never
    * dedups live rows). The ledger is changelog-scale (one row per
    * landed batch), created lazily by [[recordAppliedBatch]] — stores
    * that never see a batch-id append carry no ledger at all. It
    * survives [[morCompact]] on purpose: a batch folded into the new
    * generation is still landed, so its replay must still be skipped.
    */
  def appliedBatchSeq(spark: SparkSession, name: String,
      batchId: Long): Option[Long] = {
    import org.apache.spark.sql.functions.{col, max}
    val ledger = name + "_applied"
    if (!spark.catalog.tableExists(ledger)) None
    else {
      val r = spark.table(ledger).filter(col("batch_id") === batchId)
        .agg(max("seq")).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
  }

  /** Record a landed batch in the replay ledger — written LAST, after
    * every data write of the batch, so the residue of a crash is
    * always "unrecorded partial writes that a replay re-lands", never
    * "a recorded batch whose writes are missing". The remaining
    * non-atomic window (crash between the final data write and this
    * marker → the replay duplicates the batch) is the standard price
    * of multi-table appends without a transactional commit; top-1
    * serving is insensitive to it (the per-query MAX-collapse), and a
    * [[morDelete]] + re-append of the affected ids repairs it.
    */
  def recordAppliedBatch(spark: SparkSession, name: String,
      batchId: Long, seq: Long): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val ledger = name + "_applied"
    // ORPHAN-LOCATION hygiene: the ledger is a managed table, and a
    // managed LOCATION outlives the catalog that registered it (a new
    // session's metastore knows nothing of the old warehouse dir). A
    // location with no catalog entry is unreadable garbage by
    // definition — without this, the first append of a fresh catalog
    // dies with LOCATION_ALREADY_EXISTS on the previous run's residue.
    if (!spark.catalog.tableExists(ledger)) {
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .defaultTablePath(org.apache.spark.sql.catalyst
          .TableIdentifier(ledger)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true): Unit
    }
    Seq((batchId, seq)).toDF("batch_id", "seq")
      .write.mode("append").saveAsTable(ledger)
  }

  /** Reset a store's replay ledger — called by every index REBUILD
    * (`writeIvfIndex` family): a rebuilt index is a NEW store, and a
    * stale ledger would silently no-op the first re-delivery of each
    * batch id against it (an at-least-once writer restarting from
    * batch 0 would have its entire backlog swallowed). Compaction
    * ([[morCompact]]) deliberately does NOT call this — a compacted
    * store is the same lineage, already-landed batches stay landed.
    */
  def dropReplayLedger(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${name}_applied")

  /** Delta-scale DELETE at sequence `seq`: append (id, seq) tombstone
    * rows. Readers through the serving view drop every row of those
    * ids with `_seq` < seq on their next resolution — no generation
    * rewrite. An upsert = morDelete at seq + [[morAppend]] of the
    * replacement rows stamped `_seq` = seq.
    */
  def morDelete(spark: SparkSession, name: String,
      removeIds: org.apache.spark.sql.DataFrame, seq: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val tomb = currentTombstones(spark, name)
    val tombCol = spark.table(tomb).columns.head
    removeIds.toDF(tombCol).select(col(tombCol)).distinct()
      .withColumn("seq", lit(seq))
      .write.mode("append").saveAsTable(tomb)
    // a delete changes the SERVED rows in a way id-level tombstones
    // can't price delta-only (the killed rows' key multiset would need
    // a store scan), so any serving-name stats must die rather than go
    // stale — the rule stands down until a fresh analyze. The current
    // GENERATION's own stats stay exact: its rows are untouched.
    if (SketchStats.readStored(spark, name).isDefined)
      SketchStats.dropStats(spark, name)
  }

  /** Delta-scale ADD: append `rows` (stamped with their batch's
    * `_seq`) bucket-aligned into the CURRENT generation table
    * (bucketed append adds one file per populated bucket — probe joins
    * stay bucket-aligned; file count grows with append count until
    * [[morCompact]]).
    */
  def morAppend(spark: SparkSession, name: String,
      rows: org.apache.spark.sql.DataFrame, seq: Long,
      bucketCols: Seq[String], sortCols: Seq[String],
      buckets: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val gen = currentGeneration(spark, name)
    val stamped = rows.withColumn("_seq", lit(seq))
      .select(spark.table(gen).columns.map(col).toSeq: _*)
    stamped
      .write.bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .mode("append").saveAsTable(gen)
    // the appended rows are IN HAND, so stats maintain delta-only —
    // for the serving name (appended rows are alive: no tombstone can
    // yet carry a higher seq) and for the generation (same rows). A
    // store whose analyzed key isn't a column of the appended rows
    // can't be priced → its stats die instead of going stale.
    Seq(name, gen).foreach { t =>
      SketchStats.readStored(spark, t).foreach { st =>
        if (stamped.columns.contains(st.keyCol))
          SketchStats.applyDelta(spark, t, added = Some(stamped),
            deleted = None): Unit
        else SketchStats.dropStats(spark, t)
      }
    }
  }

  /** Time-travel read of a MERGE-ON-READ store AS OF sequence `seq`:
    * generation rows stamped `_seq` ≤ seq, minus rows a tombstone with
    * `t.seq` ≤ seq kills under the strictly-greater rule — i.e. the
    * exact state the serving view showed after batch `seq` committed.
    * seq = 0 is the as-built state. The lookback window is the current
    * compaction era: [[morCompact]] folds history in and resets the
    * clock, so past-era sequences are gone (pair this with the
    * copy-on-write `retain` knob when builds must stay reproducible
    * across compactions). `idCols`/`tombIdCol` as in [[morEnable]].
    */
  def readMorAsOfSeq(spark: SparkSession, name: String,
      idCols: Seq[String], tombIdCol: String,
      seq: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val tomb = spark.table(currentTombstones(spark, name))
      .filter(col("seq") <= seq)
      .select(col(tombIdCol).as("_tt_id"), col("seq").as("_tt_seq"))
    idCols.foldLeft(
      spark.table(currentGeneration(spark, name))
        .filter(col("_seq") <= seq)) { (df, c) =>
      df.join(tomb,
        col(c) === col("_tt_id") && col("_seq") < col("_tt_seq"),
        "left_anti")
    }
  }

  /** Fold the tombstones in: rewrite the LIVE rows (view output, with
    * `_seq` RESET to 0) as the next generation — one file per bucket
    * again — flip the serving view in one catalog op, start a fresh
    * (empty) tombstone generation, drop the old one. The corpus-scale
    * rewrite, paid on the operator's schedule instead of every night.
    * The seq clock restarts with the tombstone table: rows at 0, next
    * batch at 1.
    */
  def morCompact(spark: SparkSession, name: String, idCols: Seq[String],
      tombIdCol: String, bucketCols: Seq[String], sortCols: Seq[String],
      buckets: Int, location: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.lit
    val old = currentGeneration(spark, name)
    val oldTomb = currentTombstones(spark, name)
    // materialize the LIVE rows (old gen ANTI old tombstones) as the
    // next generation; swapInNextGeneration's view flip makes it serve.
    // Served content is PRESERVED (tombstones fold in, keys unchanged),
    // so serving-name stats carry — and post-compaction the generation
    // equals the served content exactly, so the snapshot it receives
    // is sound even though the store is merge-on-read.
    val live = spark.table(name).withColumn("_seq", lit(0L))
    swapInNextGeneration(spark, name, old, live, bucketCols, sortCols,
      buckets, location, contentPreserved = true)
    val next = currentGeneration(spark, name)
    val tomb = newTombstoneTable(spark, name,
      tombVersionOf(oldTomb, name) + 1, tombIdCol)
    spark.sql(morViewSql(name, next, tomb, idCols, tombIdCol))
    spark.sql(s"DROP TABLE $oldTomb")
    // the MoR view re-flip above poisons the serving name again —
    // re-carry (idempotent) so the stats survive the whole compaction
    carryStats(spark, name, next)
  }

  // ---- Orphan reclamation (vacuum) ----------------------------------
  //
  // Every generation/tombstone table is EXTERNAL (`option("path", …)`
  // — the discipline that keeps a dead JVM from stranding data inside
  // a warehouse dir), and Spark's DROP TABLE on an external table
  // removes the CATALOG ENTRY ONLY: the files stay. So every swap
  // ([[swapInNextGeneration]]), [[compact]], [[morCompact]] and
  // [[dropVersioned]] retires a directory that nothing references —
  // at store scale that is an unbounded disk leak. The fix is the
  // same shape as Iceberg's `remove_orphan_files`: reclamation by
  // CATALOG REACHABILITY, guarded three ways —
  //   prefix  — only store-owned names (`graft_…` by default) are
  //             candidates; an unrelated sibling dir is never touched;
  //   liveness — any directory that IS some catalog table's location
  //             survives (current generations, tombstones, adopted
  //             stores — views have no location and contribute none);
  //   age     — only dirs whose modification time is older than
  //             `olderThanMs` go, so an in-flight writer's directory
  //             (created, not yet committed to the catalog) survives
  //             the race. Retention is the crash-consistency knob,
  //             exactly as in Iceberg/Delta VACUUM: run with a grace
  //             period ≥ the longest reader/writer you allow.
  //
  // Retention × vacuum contract (spec-pinned in OperatorSpecs):
  //   - WITHIN the retention window the guarantee is absolute: a
  //     retained generation is a catalog table, so the liveness guard
  //     protects it at ANY age — `readGeneration`/`VERSION AS OF k`
  //     readers can never lose their snapshot to a concurrent vacuum,
  //     and a generation swap is one catalog op (view flip) that never
  //     leaves a moment where neither generation is reachable.
  //   - BEYOND the window the guarantee is explicitly the age grace
  //     and nothing more: a reader that resolved a generation BEFORE
  //     maintenance retired it keeps reading files that only
  //     `olderThanMs` protects. That is the documented non-guarantee
  //     (same as Iceberg/Delta): size the grace ≥ your longest query,
  //     and size `retain` ≥ the lookback your readers actually use.

  /** Locations of every TABLE in the current database, fully
    * qualified against its own filesystem (views resolve to nothing).
    */
  private def liveLocations(spark: SparkSession): Set[String] = {
    val cat = spark.sessionState.catalog
    spark.catalog.listTables().collect().toSeq
      .filter(_.tableType != "VIEW")
      .flatMap { t =>
        scala.util.Try {
          val p = new org.apache.hadoop.fs.Path(cat.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t.name))
            .location)
          p.getFileSystem(spark.sessionState.newHadoopConf())
            .makeQualified(p).toString
        }.toOption
      }.toSet
  }

  /** Delete retired store directories under `root`: every CHILD
    * directory whose name starts with `prefix`, is no catalog table's
    * location, and is older than `olderThanMs`. Returns the deleted
    * paths. One Hadoop-FS surface — the same call works on HDFS/S3A
    * object stores, where the "directory" is a key prefix.
    */
  def vacuumOrphans(spark: SparkSession, root: String,
      olderThanMs: Long = 24L * 3600 * 1000,
      prefix: String = "graft_"): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return Seq.empty
    val live = liveLocations(spark)
    val cutoff = System.currentTimeMillis() - olderThanMs
    fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(prefix) &&
        st.getModificationTime < cutoff &&
        !live.contains(fs.makeQualified(st.getPath).toString))
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
      .sorted
  }

  /** [[compactAtomic]] with the LSH-index bucket spec. */
  def compactLshIndexAtomic(spark: SparkSession, name: String,
      buckets: Int = 8): Unit =
    compactAtomic(spark, name, Seq("band", "bhash"),
      Seq("band", "bhash"), buckets)
}
