package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps._

/** What a stored ANN index's lists carry per vector — the one part of
  * the store that differs between index families (faiss's IndexIVF +
  * codec shape; Jégou et al., "Product quantization for nearest
  * neighbor search", TPAMI 2011). A codec supplies its payload
  * columns and their encode, its query-side prep, its candidate score
  * ([[SimilarityOps.listScore]]), whether the exact `_vecs` refine
  * follows, and its companions ([[IvfStore.Companions]]).
  */
sealed trait ListCodec {
  /** The list payload columns, after (cid,) vid. */
  def payload: Seq[String]
  /** Quantized codecs keep a `_vecs` float companion: their
    * top-`rerank` survivors are re-ranked by exact cosine.
    */
  def refines: Boolean = true
}

object ListCodec {
  /** Float vectors (e, nrm); candidates score by exact cosine. */
  case object Flat extends ListCodec {
    val payload = Seq("e", "nrm")
    override val refines = false
  }
  /** INT8 symmetric-absmax vectors (q, amax, nrm) — 1 byte/dim. */
  case object Sq8 extends ListCodec {
    val payload = Seq("q", "amax", "nrm")
  }
  /** Product-quantized codes, one byte per subspace (m subspaces,
    * `codes` codewords each); the codebooks live in `_codebooks`.
    * The geometry is not in the lists' schema, so [[IvfStore.layout]]
    * infers `Pq(0, 0)`: probes and appends read it off the codebooks.
    */
  final case class Pq(m: Int, codes: Int) extends ListCodec {
    val payload = Seq("codes")
  }
}

/** One DURABLE ANN store for every list codec — the serving shape
  * (build once per corpus snapshot, probe forever):
  *
  *  - the lists: with a coarse quantizer (`k`), `cid`-BUCKETED sorted
  *    inverted lists (list membership = nearest centroid, the
  *    oracle-checkable selection rule of [[SimilarityOps.ivfTop1]]), so
  *    a probe joins the bucket-aligned list scan with ZERO index-side
  *    shuffle; without one (flat PQ), vid-bucketed code rows that the
  *    probe scans whole against the broadcast query side. Do not model
  *    flat PQ as k = 1: every row would land in one bucket;
  *  - the companions ([[Companions]]): `_centroids` (k rows — the
  *    quantizer is driver/broadcast-resident by contract), `_codebooks`
  *    (m×codes PQ codewords, subspace geometry as table properties)
  *    and `_vecs` (vid-bucketed floats only the top-`rerank`
  *    candidates ever touch — the faiss refine shape).
  *
  * Lists and companions carry ONE quantizer build stamp
  * ([[BucketedStores.stampBuild]]); every probe, append and the SQL
  * surface refuse a mismatched pairing. `mor = true` adopts versioned
  * + merge-on-read serving: `_seq` = 0 on built rows, deletes append
  * (vid, seq) tombstones ([[BucketedStores.morDelete]]) — every codec
  * is self-contained per row, so deletes and compactions never touch
  * a quantizer. Every swap pins per-generation snapshots of the
  * companions, so `GRAFT_ANN` serves retained generations across a
  * later rebuild.
  */
object IvfStore {
  import ListCodec._

  /** A companion table: `<store><suffix>`. `shallow` snapshots are
    * catalog entries at the base location (corpus-scale `_vecs`);
    * the others are physical copies (k or m×codes rows). `kind` and
    * `role` name it in errors; `of` says which layouts carry it.
    */
  final case class Companion(suffix: String, shallow: Boolean,
      kind: String, role: String, of: (ListCodec, Boolean) => Boolean)

  /** Every companion an IVF store can carry, declared once — the
    * writer's DROPs, the lineage guard, the SQL surface's existence
    * and generation-snapshot errors and [[BucketedStores]]' snapshot
    * and retirement all loop over it.
    */
  val Companions: Seq[Companion] = Seq(
    Companion("_centroids", shallow = false, "quantizer",
      "the coarse-quantizer companion", (_, coarse) => coarse),
    Companion("_codebooks", shallow = false, "quantizer",
      "the PQ codebooks", (c, _) => c.isInstanceOf[Pq]),
    Companion("_vecs", shallow = true, "float",
      "the exact re-rank floats", (c, _) => c.refines))

  def companions(codec: ListCodec, coarse: Boolean): Seq[Companion] =
    Companions.filter(_.of(codec, coarse))

  /** THE codec dispatch, from the lists' schema alone: `codes` → Pq,
    * `q` + `amax` → Sq8, `e` → Flat; a `cid` column marks the coarse
    * quantizer. The API probe, both appends and GRAFT_ANN use it.
    */
  def layout(columns: Seq[String]): Option[(ListCodec, Boolean)] = {
    val cols = columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val codec =
      if (cols("codes")) Some(Pq(0, 0))
      else if (cols("q") && cols("amax")) Some(Sq8)
      else if (cols("e")) Some(Flat)
      else None
    codec.map(_ -> cols("cid"))
  }

  private def isGeneration(table: String): Boolean =
    "(.+)__v\\d+$".r.findFirstMatchIn(table).isDefined

  /** Resolve a stored index for serving or maintenance: its layout,
    * every companion the layout needs, and their lineage. A retained
    * generation (`name__v<N>`) whose snapshots are missing fails by
    * name — never fall back to a base companion a full rebuild may
    * have retrained (old lists × new quantizer is a silent mis-probe).
    */
  def resolve(spark: SparkSession, store: String): (ListCodec, Boolean) = {
    val (codec, coarse) =
      (if (spark.catalog.tableExists(store))
        layout(spark.table(store).columns.toSeq) else None)
      .getOrElse(throw new IllegalArgumentException(
        s"$store is not a stored IVF index — expected catalog table " +
          s"$store (lists carrying e, q + amax, or codes) and its " +
          "companions (write one with IvfStore.write)"))
    val comps = companions(codec, coarse)
    val missing = comps.filterNot(c =>
      spark.catalog.tableExists(store + c.suffix))
    require(missing.isEmpty,
      if (isGeneration(store))
        s"$store is a retained index generation with no " +
          missing.map(c => s"snapshotted ${c.kind} companion " +
            s"($store${c.suffix}, ${c.role})").mkString(" and no ") +
          ": its lists were built under quantizers the base " +
          "companions may no longer hold (a full rebuild retrains " +
          "them), so probing would be silently wrong. Re-run the store " +
          "maintenance (any compaction/delta swap snapshots " +
          "companions) or probe the serving name."
      else
        s"$store is not a stored IVF index — missing " +
          missing.map(c => store + c.suffix).mkString(", ") +
          " (write one with IvfStore.write)")
    requireLineage(spark, store, comps)
    (codec, coarse)
  }

  /** Lineage guard: when the lists (a versioned serving VIEW resolves
    * to its current generation) and a companion both carry a
    * quantizer build stamp, they must MATCH — a mismatch means the
    * quantizer was rebuilt out from under these lists (or a stale
    * snapshot was forced onto a generation). Unstamped legacy tables
    * pass (no proof either way — the snapshot machinery already
    * refuses to back-fill those).
    */
  private def requireLineage(spark: SparkSession, table: String,
      comps: Seq[Companion]): Unit = {
    // a plain table short-circuits: currentGeneration's catalog listing
    // is a per-call query, too slow for the hot serving path
    val lists =
      if (BucketedStores.isView(spark, table))
        scala.util.Try(
          BucketedStores.currentGeneration(spark, table)).getOrElse(table)
      else table
    // one catalog lookup for the lists stamp, not one per companion
    val listsStamp = BucketedStores.buildStamp(spark, lists)
    comps.foreach { c =>
      val comp = table + c.suffix
      for {
        ls <- listsStamp
        cs <- BucketedStores.buildStamp(spark, comp)
      } require(ls == cs,
        s"quantizer build mismatch for $table: lists ($lists) were " +
          s"built under build $ls but companion $comp carries build " +
          s"$cs — the index was rebuilt out from under these lists; " +
          "rebuild the index (IvfStore.write) before serving")
    }
  }

  /** The bucket column of the lists: `cid` with a coarse quantizer,
    * else `vid`.
    */
  private def listKey(coarse: Boolean): String = if (coarse) "cid" else "vid"

  /** The codec's encode over a (vid, e, nrm) projection: adds the
    * payload columns, keeps the floats (the probe ranks lists by them).
    */
  private def encoded(codec: ListCodec, v: DataFrame,
      cb: Seq[(Int, Int, Seq[Double])]): DataFrame = codec match {
    case Flat => v
    case Sq8 => sq8Encode(v)
    case _: Pq => v.withColumn("codes", pqEncode(cb))
  }

  /** (cid?, vid, payload) list rows: the coarse assignment
    * ([[SimilarityOps.nearestCid]]) when there is a quantizer, then the
    * codec's encode — the same rows at build time and for an appended
    * delta under the frozen quantizers.
    */
  private def listRows(codec: ListCodec, v: DataFrame,
      cents: Option[Seq[(Long, Seq[Double])]],
      cb: Seq[(Int, Int, Seq[Double])]): DataFrame =
    encoded(codec, v, cb).select(cents.map(cs =>
        nearestCid(centroidLiteral(cs)).as("cid")).toSeq ++
      (col("vid") +: codec.payload.map(col)): _*)

  /** Build a store: `codec` picks the list payload; `k` adds a coarse
    * quantizer (the first-k centroids, or `trainIters` Lloyd
    * refinements of them — [[SimilarityOps.trainCentroids]]: on
    * CLUSTERED data trained centroids even the lists out). Rebuilding
    * drops every companion and the replay ledger first (catalog
    * registrations die with the JVM, managed locations don't), so a
    * rebuild is a NEW store under a new build stamp.
    */
  def write(vecsDf: DataFrame, idCol: String, vecCol: String, dims: Int,
      codec: ListCodec, k: Option[Int], table: String, buckets: Int = 8,
      location: Option[String] = None, mor: Boolean = false,
      trainIters: Int = 0): Unit = {
    val spark = vecsDf.sparkSession
    import spark.implicits._
    require(k.isDefined || trainIters == 0,
      "trainIters refines a coarse quantizer — pass k")
    (table +: Companions.map(table + _.suffix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    BucketedStores.dropReplayLedger(spark, table)
    val v = ivfProject(vecsDf, idCol, vecCol)
    val cents = k.map(kk =>
      if (trainIters == 0) firstKCentroids(v, kk, dims)
      else trainCentroids(vecsDf, idCol, vecCol, dims, kk, trainIters))
    val cb = codec match {
      case Pq(m, codes) => pqCodebooks(v, dims, m, codes)
      case _ => Nil
    }
    def save(df: DataFrame, name: String, dir: String,
        bucket: Option[String]): Unit = {
      val w = df.write.mode("overwrite")
      val bw = bucket.fold(w)(b => w.bucketBy(buckets, b).sortBy(b))
      location.fold(bw)(l => bw.option("path", s"$l/$dir"))
        .saveAsTable(name)
    }
    val rows = listRows(codec, v, cents, cb)
    save(if (mor) rows.withColumn("_seq", lit(0L)) else rows, table,
      if (k.isDefined) "lists" else "codes", Some(listKey(k.isDefined)))
    cents.foreach(cs =>
      save(cs.toDF("cid", "ce"), table + "_centroids", "cents", None))
    if (cb.nonEmpty)
      save(cb.toDF("j", "c", "ce"), table + "_codebooks", "cbk", None)
    if (codec.refines)
      save(v.select(col("vid"), col("e"), col("nrm")), table + "_vecs",
        "vecs", Some("vid"))
    val build = BucketedStores.newBuildId()
    (table +: companions(codec, k.isDefined).map(table + _.suffix))
      .foreach(BucketedStores.stampBuild(spark, _, build))
    // the subspace geometry rides as table properties so GRAFT_ANN can
    // expand without being handed dims/m again
    codec match {
      case Pq(m, _) =>
        spark.sql(s"ALTER TABLE ${table}_codebooks SET TBLPROPERTIES " +
          s"('graft.pq.sub' = '${dims / m}', 'graft.pq.m' = '$m')")
      case _ =>
    }
    if (mor) {
      BucketedStores.adoptVersioned(spark, table)
      BucketedStores.morEnable(spark, table, Seq("vid"), "vid")
    }
  }

  /** The store's quantizers — centroids (cid ASC) when it has a coarse
    * quantizer, PQ codebook rows (j, c ASC) for the Pq codec — in ONE
    * bounded driver job, a tagged union of the companions (k +
    * m×codes rows). Each driver job carries ~0.3 s of fixed
    * scheduling, the bulk of a probe's serving overhead.
    */
  private def quantizers(spark: SparkSession, table: String,
      codec: ListCodec, coarse: Boolean, dims: Int)
      : (Option[Seq[(Long, Seq[Double])]], Seq[(Int, Int, Seq[Double])]) = {
    val isPq = codec.isInstanceOf[Pq]
    val parts =
      (if (coarse) Seq(spark.table(table + "_centroids")
        .select(lit(0).as("t"), col("cid").cast("long").as("a"),
          lit(0L).as("b"), col("ce"))) else Nil) ++
      (if (isPq) Seq(spark.table(table + "_codebooks")
        .select(lit(1).as("t"), col("j").cast("long").as("a"),
          col("c").cast("long").as("b"), col("ce"))) else Nil)
    val rows = parts.reduceOption(_ unionByName _)
      .map(_.collect()).getOrElse(Array.empty) // bounded by contract
    val cents = rows.filter(_.getInt(0) == 0)
      .map(r => r.getLong(1) -> r.getSeq[Double](3)).sortBy(_._1).toSeq
    require(!coarse || cents.nonEmpty, s"index $table has no centroids")
    cents.foreach { case (cid, ce) =>
      require(ce.length == dims,
        s"stored centroid $cid has ${ce.length} dims, expected $dims")
    }
    val cb = rows.filter(_.getInt(0) == 1)
      .map(r => (r.getLong(1).toInt, r.getLong(2).toInt,
        r.getSeq[Double](3)))
      .sortBy(t => (t._1, t._2)).toSeq
    require(!isPq || cb.nonEmpty, s"$table has no _codebooks companion")
    val sub = if (isPq) dims / cb.map(_._1).distinct.length else 0
    cb.foreach { case (j, c, ce) =>
      require(ce.length == sub,
        s"codebook ($j,$c) has ${ce.length} dims, expected $sub")
    }
    (if (coarse) Some(cents) else None, cb)
  }

  /** Probe a stored index with query vectors: top-1 (id_a, ann_id,
    * score) per query. The corpus-scale lists come off the
    * bucket-aligned table scan (no index-side exchange, no
    * re-assignment); only the query side is prepared — the codec's
    * own encode (Flat, Sq8) or a per-query ADC table (Pq) — and ranks
    * its `nprobe` lists in-row ([[SimilarityOps.probeCids]]). Flat
    * lists answer by exact cosine; quantized lists keep the top-
    * `rerank` per query, which fetch floats from `_vecs`
    * ([[gatherExactTop1]]). Without a coarse quantizer the lists scan
    * whole against the broadcast query side, so `nprobe` must be 1.
    *
    * Driver jobs before the caller's action: the quantizer load, at
    * most one regime job ([[probeRegime]], or the flat store's
    * bounded count when its footers cannot decide), and the
    * refine's survivor gather — each later job's plan consumes the
    * prior job's result, so further fusion would forfeit a pushdown.
    */
  def probe(spark: SparkSession, table: String, queriesDf: DataFrame,
      idCol: String, vecCol: String, dims: Int, nprobe: Int = 1,
      rerank: Int = 0): DataFrame = {
    val (codec, coarse) = resolve(spark, table)
    require(codec.refines == rerank > 0,
      if (codec.refines) s"$table is a quantized index store — rerank " +
        s"must be >= 1, got $rerank"
      else s"$table is a float IVF store — rerank only applies to " +
        "quantized stores")
    val (cents, cb) = quantizers(spark, table, codec, coarse, dims)
    require(cents.fold(nprobe == 1)(_.length >= nprobe),
      cents.fold(s"$table has no coarse lists to probe, so nprobe " +
        s"must be 1, got $nprobe")(cs =>
        s"index $table has ${cs.length} centroids < nprobe $nprobe"))
    val qproj = ivfProject(queriesDf, idCol, vecCol)
    val (qenc, qcols) = codec match {
      case _: Pq => (qproj.withColumn("qtab", adcTable(cb)), Seq("qtab"))
      case _ => (encoded(codec, qproj, Nil), codec.payload)
    }
    val qside = col("vid").as("id_a") +: qcols.map(c => col(c).as(c + "_a"))
    val lists = col("vid").as("id_b") +:
      codec.payload.map(c => col(c).as(c + "_b"))
    val gatherCap =
      if (codec.refines) math.max(GatherMaxQueries, GatherMaxIds / rerank)
      else GatherMaxQueries
    val (cand, regimeCount) = cents match {
      case Some(cs) =>
        // one query-side row per (query, probed cid)
        val q = qenc.select(qside :+
          explode(probeCids(centroidLiteral(cs), nprobe)).as("cid"): _*)
        val (n, probed) = probeRegime(q, nprobe, gatherCap,
          base = Some(queriesDf))
        (q.join(prunedLists(spark, table, probed, cs.length)
          .select(col("cid") +: lists: _*), Seq("cid")), Some(n))
      case None =>
        // the bounded query batch broadcasts WITH its payload, so the
        // code table never shuffles
        (spark.table(table).select(lists: _*)
          .crossJoin(broadcast(qenc.select(qside: _*))), None)
    }
    val scored = cand.filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), listScore(codec))
    if (!codec.refines) top1(scored)
    else {
      // gather-regime count without coarse lists: parquet footers
      // first (jobless, exact under the cap), else one bounded count
      val nQueries = regimeCount.getOrElse(
        RelationRowBound.boundedCount(queriesDf, gatherCap).getOrElse(
          scala.util.Try(queriesDf.limit((gatherCap + 1).toInt).count())
            .getOrElse(Long.MaxValue)))
      gatherExactTop1(spark, table, survivors(scored, rerank),
        qproj.select(col("vid").as("id_a"), col("e").as("ea"),
          col("nrm").as("na")), nQueries, rerank)
    }
  }

  /** ONE bounded driver job decides the serving-batch regime AND
    * learns the probed cid set: one aggregate row over the exploded
    * probe relation's first `maxQueries × nprobe` (id_a, cid) rows.
    * Under the cap the batch is bounded — the SAME job yields the
    * exact query count (for the candidate gather) and the exact
    * probed cid set (for the lists In-filter, the textbook IVF shape:
    * cid-bucket pruning plus parquet row-group pruning on the
    * cid-sorted files read ~nprobe/k of the index). Hitting the cap
    * means corpus-as-queries — such a batch probes essentially every
    * list, so there is nothing to prune and nothing to gather: the
    * fully lazy join pipeline runs. Before the job, the queries
    * relation's parquet footers may already PROVE over-cap
    * ([[RelationRowBound]]) — then no job runs at all. (Base rows with
    * NULL vectors explode to zero probe rows, so a null-heavy batch may
    * take the lazy path — a regime choice, never a result change.)
    */
  private def probeRegime(q: DataFrame, nprobe: Int,
      maxQueries: Long, base: Option[DataFrame] = None)
      : (Long, Option[Seq[Long]]) = {
    if (base.exists(b =>
        RelationRowBound.exceeds(b, maxQueries).contains(true)))
      return (Long.MaxValue, None)
    val lim = math.min(maxQueries * math.max(nprobe, 1) + 1,
      Int.MaxValue.toLong).toInt
    // ONE aggregate row, not a row collect: O(k + 1) driver bytes
    // regardless of lim, and no type assumption on the id column
    val row = scala.util.Try(
      q.limit(lim).agg(
        count(lit(1)).as("n"),
        count_distinct(col("id_a")).as("nq"),
        collect_set(col("cid")).as("cids")).head())
      .getOrElse(null)
    if (row == null || row.getLong(0) >= lim) (Long.MaxValue, None)
    else (row.getLong(1), Some(row.getSeq[Long](2).sorted))
  }

  /** The probed-lists scan: the In-filter when [[probeRegime]] proved
    * the batch bounded and the probed set is a strict subset of the
    * k lists, else the full lists table.
    */
  private def prunedLists(spark: SparkSession, table: String,
      probed: Option[Seq[Long]], k: Int): DataFrame = {
    val lists = spark.table(table)
    probed match {
      case Some(cids) if cids.size < k =>
        lists.filter(col("cid").isInCollection(cids))
      case _ => lists
    }
  }

  /** The shared REFINE TAIL of the quantized codecs: survivors fetch
    * floats from `_vecs` and the exact cosine picks the winner per
    * query. For a bounded serving batch (nQueries × rerank ≤
    * [[SimilarityOps.GatherMaxIds]]) the survivor PAIRS are collected
    * once — serving-batch scale, not corpus-proportional — so the
    * quantized scan runs exactly ONCE (the refine restarts from a
    * local relation rebuilt UNDER THE SURVIVORS' OWN SCHEMA, so
    * non-BIGINT ids refine identically) and the survivor ids push into
    * the `_vecs` read as an In filter: vid-bucket plus row-group
    * pruning make the fetch candidate-scale (the faiss gather-by-id
    * refine). Above the cap (corpus-as-queries) the lazy join remains.
    * Query floats come from the QUERY relation (`va`), never from
    * `_vecs` keyed by id_a: an external query table would otherwise
    * join to nothing, or to the wrong corpus vector on an id
    * collision.
    */
  private def gatherExactTop1(spark: SparkSession, table: String,
      survivors: DataFrame, va: DataFrame, nQueries: Long,
      rerank: Int): DataFrame = {
    val vecs = spark.table(table + "_vecs")
    val gather = nQueries <= GatherMaxIds / math.max(rerank, 1)
    val (survDf, vb) =
      if (gather) {
        val rows = survivors.collect()
        val svDf = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), survivors.schema)
        val ids = rows.map(_.get(1)).distinct.toSeq
        (svDf, vecs.filter(col("vid").isInCollection(ids)))
      } else (survivors, vecs)
    top1(survDf.join(va, Seq("id_a"))
      .join(vb.select(col("vid").as("id_b"), col("e").as("eb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cos6("ea", "na", "eb", "nb")))
  }

  /** Maintenance appends to plain stores only: a VERSIONED/MoR
    * serving name resolves to a VIEW (appending fails opaquely or
    * lands rows without the `_seq` the tombstone rule needs), and a
    * RETAINED GENERATION (`name__v<N>`) is immutable time-travel
    * history even though its own stamps match.
    */
  private def requirePlainStore(spark: SparkSession,
      table: String): Unit = {
    require(!isGeneration(table),
      s"$table is a retained index GENERATION — IvfStore.append " +
        "refuses to mutate time-travel history. Append to the serving " +
        "name's plain store (or via IvfStore.morAppend for a " +
        "merge-on-read store); retained generations stay immutable.")
    require(!BucketedStores.isView(spark, table),
      s"$table is a versioned serving VIEW — IvfStore.append appends " +
        "to plain stores only. For a merge-on-read store use " +
        "IvfStore.morAppend (BucketedStores.morAppend underneath; " +
        "deletes go through morDelete); for a copy-on-write versioned " +
        "store, use BucketedStores.applyDeltaAtomic.")
  }

  /** Encode a vector delta under a stored index's FROZEN quantizers —
    * nearest STORED centroid picks the list, the codec encodes the
    * payload against the STORED codebooks (the standard IVF append
    * contract: lists drift only until the next rebuild). Lazy
    * (cid?, vid, payload) rows shaped for the lists and for
    * [[BucketedStores.morAppend]]; layout, companions and lineage are
    * checked eagerly, so a rebuilt-out-from-under store fails here,
    * before anything is written.
    */
  def encode(spark: SparkSession, table: String, deltaVecs: DataFrame,
      idCol: String, vecCol: String, dims: Int): DataFrame =
    encodeDelta(spark, table, deltaVecs, idCol, vecCol, dims)._3

  private def encodeDelta(spark: SparkSession, table: String,
      deltaVecs: DataFrame, idCol: String, vecCol: String,
      dims: Int): (ListCodec, Boolean, DataFrame) = {
    val (codec, coarse) = resolve(spark, table)
    val (cents, cb) = quantizers(spark, table, codec, coarse, dims)
    (codec, coarse,
      listRows(codec, ivfProject(deltaVecs, idCol, vecCol), cents, cb))
  }

  /** Land an encoded delta: the `_vecs` floats FIRST, then the lists
    * via `land`. WRITE ORDER IS THE CRASH CONTRACT: a failure between
    * the two writes leaves float rows no list row references —
    * harmless dead data the next compaction drops — instead of
    * committed codes with no rerank floats, which would win the
    * quantized cut and silently vanish at the refine inner join.
    */
  private def landDelta(spark: SparkSession, table: String,
      deltaVecs: DataFrame, idCol: String, vecCol: String, dims: Int,
      buckets: Int)(land: (DataFrame, String) => Unit): Unit = {
    val (codec, coarse, rows) =
      encodeDelta(spark, table, deltaVecs, idCol, vecCol, dims)
    if (codec.refines)
      ivfProject(deltaVecs, idCol, vecCol)
        .select(col("vid"), col("e"), col("nrm"))
        .write.bucketBy(buckets, "vid").sortBy("vid")
        .mode("append").saveAsTable(table + "_vecs")
    land(rows, listKey(coarse))
  }

  /** Index MAINTENANCE on a plain store: append a vector delta
    * ([[encode]]) through the same bucket layout, so the next probe
    * sees it. Old files stay immutable; work is delta-scale only.
    * `batchId` gives at-least-once writers (streamed ingestion's
    * `foreachBatch`) the ledger-guarded replay no-op
    * ([[BucketedStores.recordAppliedBatch]]) — plain tables have no
    * tombstones to subtract a duplicated batch, so prevention at the
    * write is the only correct place.
    */
  def append(spark: SparkSession, table: String, deltaVecs: DataFrame,
      idCol: String, vecCol: String, dims: Int, buckets: Int = 8,
      batchId: Option[Long] = None): Unit = {
    requirePlainStore(spark, table)
    if (!batchId.exists(
        BucketedStores.appliedBatchSeq(spark, table, _).isDefined)) {
      landDelta(spark, table, deltaVecs, idCol, vecCol, dims, buckets) {
        (rows, key) => rows.write.bucketBy(buckets, key).sortBy(key)
          .mode("append").saveAsTable(table)
      }
      batchId.foreach(
        BucketedStores.recordAppliedBatch(spark, table, _, 0L))
    }
  }

  /** The delta-ADD lifecycle for a MERGE-ON-READ store: [[append]]'s
    * encode and crash order, with the list rows `morAppend`ed under
    * the next batch sequence. Serving sees the vectors on its next
    * resolution; tombstone semantics are untouched (no tombstone can
    * yet carry a higher seq). Returns the stamped sequence. (The seq
    * clock is tombstone-driven, so consecutive appends with no
    * intervening delete share a sequence — `readMorAsOfSeq(seq - 1)`
    * rolls back past ALL appends since the last tombstone batch.) A
    * replayed `batchId` is a no-op returning the recorded seq, instead
    * of duplicate rows the tombstone view cannot subtract.
    */
  def morAppend(spark: SparkSession, table: String, deltaVecs: DataFrame,
      idCol: String, vecCol: String, dims: Int, buckets: Int = 8,
      batchId: Option[Long] = None): Long =
    batchId.flatMap(BucketedStores.appliedBatchSeq(spark, table, _))
      .getOrElse {
        var seq = 0L
        landDelta(spark, table, deltaVecs, idCol, vecCol, dims, buckets) {
          (rows, key) =>
            seq = BucketedStores.morNextSeq(spark, table)
            BucketedStores.morAppend(spark, table, rows, seq,
              Seq(key), Seq(key), buckets)
        }
        batchId.foreach(
          BucketedStores.recordAppliedBatch(spark, table, _, seq))
        seq
      }
}
