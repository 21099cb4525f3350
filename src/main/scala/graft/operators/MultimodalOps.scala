package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video carried as opaque
  * `binary` columns with typed metadata, processed in partition-local
  * batches (the Spark-side shape of a decode/feature-extract stage).
  *
  * The actual media decode is STUBBED with a deterministic fake (this
  * container ships no image/audio codecs): `decodeStub` derives a
  * 16-bin byte histogram "feature vector" from the raw bytes. The
  * Spark plumbing — schema, encoders, partition-local batch loop,
  * metadata propagation — is real and tested; swapping the stub for a
  * JNI/process-pool decoder changes only the inner function.
  *
  * Scale notes: media bytes never shuffle (decode is scan-local); only
  * compact features/metadata flow downstream. Partition sizing is the
  * operative knob (`spark.sql.files.maxPartitionBytes` against media
  * file sizes).
  */
object MultimodalOps {

  /** One media asset: opaque payload + typed metadata. */
  final case class MediaRow(media_id: Long, mime: String,
      content: Array[Byte], width: Int, height: Int)

  /** Extracted per-asset features (what flows downstream instead of
    * the payload).
    */
  final case class MediaFeatures(media_id: Long, mime: String,
      n_bytes: Long, features: Array[Float])

  /** Deterministic stand-in for a media decoder: 16-bin normalized
    * byte histogram. Replace with the real codec at deployment.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) >> 4) += 1f
      i += 1
    }
    if (bytes.length > 0) {
      var j = 0
      while (j < 16) { hist(j) /= bytes.length.toFloat; j += 1 }
    }
    hist
  }

  /** Batched partition-local feature extraction: the mapPartitions
    * shape a real decoder needs (per-partition init cost amortized,
    * bounded batch memory).
    */
  def extractFeatures(media: Dataset[MediaRow],
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (native lib handle)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          MediaFeatures(r.media_id, r.mime, r.content.length.toLong,
            decodeStub(r.content))
        }
      }
    }
  }

  /** Frame sampling over an opaque media payload: treat `content` as
    * fixed-size frames (`frameBytes` each — a real container's
    * keyframe index replaces this arithmetic at deployment) and keep
    * every `stride`-th frame, one output row per SAMPLED frame with
    * its byte slice. The shape a video pipeline needs: explode to
    * frames early, process the slices, never ship the full payload
    * downstream. Pure per-row projection+explode — scan-local, no
    * shuffle; the payload bytes are sliced, not copied whole, into
    * each frame row.
    */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int,
      stride: Int): org.apache.spark.sql.DataFrame = {
    require(frameBytes > 0 && stride > 0)
    media.toDF()
      .withColumn("n_frames",
        ceil(length(col("content")).cast("double") / frameBytes)
          .cast("long"))
      .filter(col("n_frames") > 0)
      .select(col("media_id"), col("content"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1,
          lit(stride.toLong))).as("frame_id"))
      .select(col("media_id"), col("n_frames"), col("frame_id"),
        expr(s"substring(content, cast(frame_id * $frameBytes + 1 " +
          s"as int), $frameBytes)").as("frame"))
  }

  /** Perceptual-hash near-duplicate pairs over opaque media payloads —
    * the multimodal half of the dedup story (dd2's band-join
    * discipline applied to binary content): one block-mean pHash per
    * asset (native expression,
    * [[org.apache.spark.sql.graft.PHashFingerprint]]), the 60-bit
    * fingerprint split into `bands` contiguous bit-bands, assets
    * sharing any band key become candidates, candidates verified by
    * exact Hamming distance ≤ `maxHamming` over the FULL fingerprint.
    *
    * Plan shape: fingerprinting is scan-local (payload bytes never
    * leave the scan — only (media_id, fp) rows flow on); banding
    * pre-partitions on (band, bkey) so BOTH self-join sides reuse ONE
    * exchange of fingerprint-sized rows (plan-gated like dd2); a pair
    * meeting in multiple bands collapses in the canonical-order
    * group-by. At 100 TB the exchange carries 16 bytes/asset/band —
    * the payloads stay put.
    */
  def phashNearDupPairs(media: org.apache.spark.sql.DataFrame,
      idCol: String, contentCol: String, maxHamming: Int,
      bands: Int = 4, bits: Int = 60): org.apache.spark.sql.DataFrame = {
    val banded = phashIndexRows(media, idCol, contentCol, bands, bits)
      .repartition(col("band"), col("bkey"))
    val a = banded.select(col("band"), col("bkey"),
      col("media_id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("bkey"),
      col("media_id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long")
          .as("hamming"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The index-row projection of a media set — exactly the rows
    * [[writePhashIndex]] stores: one `(band, bkey, media_id, fp)` row
    * per asset per band, fingerprinting scan-local (payload bytes
    * never leave the scan). Shared by the all-pairs operator, the
    * stored-index build, the delta probe, and changelog maintenance —
    * the same single-projection discipline as
    * [[TextDedupOps.lshIndexRows]].
    */
  def phashIndexRows(media: org.apache.spark.sql.DataFrame,
      idCol: String, contentCol: String, bands: Int = 4,
      bits: Int = 60): org.apache.spark.sql.DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"bits $bits must divide into bands $bands")
    val bitsPerBand = bits / bands
    val mask = (1L << bitsPerBand) - 1
    media.select(col(idCol).as("media_id"),
      graft.functions.VectorFunctions
        .phash_fingerprint(col(contentCol), bits).as("fp"))
      .select(col("media_id"), col("fp"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("fp"), b * bitsPerBand).bitwiseAND(lit(mask))
        ): _*)).as(Seq("band", "bkey")))
  }

  /** STANDING perceptual-hash index: the banded fingerprints as a
    * bucketed `(band, bkey)` parquet table — the media family's
    * member of the stored-index tier (text has `writeLshIndex`,
    * vectors `IvfStore.write`, lexical retrieval the BM25 postings).
    * Payloads are read ONCE at build; every later delta probes
    * fingerprint rows from disk, bucket-aligned.
    */
  def writePhashIndex(media: org.apache.spark.sql.DataFrame,
      idCol: String, contentCol: String, table: String, bands: Int = 4,
      bits: Int = 60, buckets: Int = 8,
      location: Option[String] = None): Unit = {
    media.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    val w = phashIndexRows(media, idCol, contentCol, bands, bits)
      .repartition(buckets, pmod(hash(col("band"), col("bkey")),
        lit(buckets)))
      .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .mode("overwrite")
    location.fold(w)(l => w.option("path", l)).saveAsTable(table)
  }

  /** Probe a STORED phash index with a delta of media assets: the
    * near-dup pairs the delta forms against the indexed corpus
    * (canonical lo/hi ids, min Hamming over shared bands,
    * `<= maxHamming`) — [[phashNearDupPairs]]'s semantics with the
    * corpus side read from fingerprint rows on disk; the corpus
    * payloads are never re-read and never re-fingerprinted.
    */
  def probePhashIndex(spark: SparkSession, table: String,
      deltaMedia: org.apache.spark.sql.DataFrame, idCol: String,
      contentCol: String, maxHamming: Int, bands: Int = 4,
      bits: Int = 60): org.apache.spark.sql.DataFrame = {
    val probe = phashIndexRows(deltaMedia, idCol, contentCol, bands,
      bits).select(col("band"), col("bkey"),
      col("media_id").as("id_a"), col("fp").as("fp_a"))
    val index = spark.table(table).select(col("band"), col("bkey"),
      col("media_id").as("id_b"), col("fp").as("fp_b"))
    probe.join(index, Seq("band", "bkey"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("lo"),
        greatest(col("id_a"), col("id_b")).as("hi"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long")
          .as("hamming"))
      .select(col("lo").as("id_a"), col("hi").as("id_b"), col("hamming"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Changelog maintenance for a VERSIONED phash index
    * ([[BucketedStores.adoptVersioned]] first): deletes drop an
    * asset's fingerprint rows, upserts replace them with the
    * re-fingerprinted delta's rows — delta-scale work, atomic
    * generation swap, `retain` keeps past snapshots readable for
    * `VERSION AS OF` reproducibility. Same lifecycle contract as
    * [[graft.operators.GraftPipeline.applyExactIndexDelta]].
    */
  def applyPhashIndexDelta(spark: SparkSession, name: String,
      deleteIds: org.apache.spark.sql.DataFrame,
      upserts: Option[org.apache.spark.sql.DataFrame], idCol: String,
      contentCol: String, bands: Int = 4, bits: Int = 60,
      buckets: Int = 8, retain: Int = 0): Unit =
    BucketedStores.applyDeltaAtomic(spark, name,
      Seq("band", "bkey"), Seq("band", "bkey"), buckets, "media_id",
      removeIds = upserts.fold(
        deleteIds.select(col(idCol).as("media_id")))(u =>
        deleteIds.select(col(idCol).as("media_id"))
          .unionByName(u.select(col(idCol).as("media_id")))),
      additions = upserts.map(u =>
        phashIndexRows(u, idCol, contentCol, bands, bits)),
      retain = retain)

  /** [[writePhashIndex]], MERGE-ON-READ form: fingerprint rows carry
    * `_seq` = 0 and serve through the tombstone-subtracting view, so
    * changelogs APPEND instead of rewriting the generation — the same
    * tier the exact index ([[GraftPipeline.buildExactIndexMor]]), LSH
    * pair store, BM25 postings and IVF lists already run. Compaction
    * on the operator's schedule via [[BucketedStores.morCompact]].
    */
  def writePhashIndexMor(media: org.apache.spark.sql.DataFrame,
      idCol: String, contentCol: String, name: String, bands: Int = 4,
      bits: Int = 60, buckets: Int = 8): Unit = {
    val s = media.sparkSession
    BucketedStores.dropVersioned(s, name)
    phashIndexRows(media, idCol, contentCol, bands, bits)
      .withColumn("_seq", lit(0L))
      .repartition(buckets, pmod(hash(col("band"), col("bkey")),
        lit(buckets)))
      .write.bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .option("path", java.nio.file.Files
        .createTempDirectory(s"graft_phash_mor_$name").toString)
      .saveAsTable(name)
    BucketedStores.adoptVersioned(s, name)
    BucketedStores.morEnable(s, name, Seq("media_id"), "media_id")
  }

  /** Changelog maintenance for the MoR phash index: tombstones at the
    * batch's sequence + `_seq`-stamped re-fingerprinted delta rows,
    * all append-shaped — no batch rewrites the generation. An upsert
    * is delete + re-add at one sequence (self-superseding, so
    * at-least-once redelivery leaves the served index unchanged).
    */
  def applyPhashIndexDeltaMor(spark: SparkSession, name: String,
      deleteIds: org.apache.spark.sql.DataFrame,
      upserts: Option[org.apache.spark.sql.DataFrame], idCol: String,
      contentCol: String, bands: Int = 4, bits: Int = 60,
      buckets: Int = 8): Unit = {
    val seq = BucketedStores.morNextSeq(spark, name)
    val removeIds = upserts.fold(
      deleteIds.select(col(idCol).as("media_id")))(u =>
      deleteIds.select(col(idCol).as("media_id"))
        .unionByName(u.select(col(idCol).as("media_id"))))
    BucketedStores.morDelete(spark, name, removeIds, seq)
    upserts.foreach(u => BucketedStores.morAppend(spark, name,
      phashIndexRows(u, idCol, contentCol, bands, bits), seq,
      Seq("band", "bkey"), Seq("band", "bkey"), buckets))
  }

  /** FRAME-level near-duplicate asset pairs — the video half of the
    * media-dedup story (md4 matches whole payloads; this catches
    * re-cuts/containers sharing content): sample frames
    * ([[frameSample]]), fingerprint each frame, and pair assets by
    * shared-frame overlap. Frames match on their EXACT fingerprint
    * (md5 — a real deployment swaps in the per-frame pHash for
    * tolerance; the topology is identical), and a pair's overlap is
    * `n_shared / min(n_frames_a, n_frames_b)` over DISTINCT frame
    * fingerprints.
    *
    * Plan shape: frame slicing and hashing are scan-local — the only
    * thing that ever shuffles is (media_id, 32-char fingerprint);
    * the frame-key self-join reads ONE exchange from both sides
    * (dd2's discipline), and the per-asset frame counts join back
    * broadcast (asset-scale ≪ frame-scale). Duplicate frames within
    * an asset collapse BEFORE the join, so a still/padding frame
    * repeated 10⁴× in two assets meets once, not 10⁸× — the classic
    * frame-join blowup, handled at the source.
    */
  def frameNearDupPairs(media: Dataset[MediaRow], frameBytes: Int,
      stride: Int, minShared: Long): org.apache.spark.sql.DataFrame = {
    val frames = frameSample(media, frameBytes, stride)
      .select(col("media_id"), md5(hex(col("frame"))).as("fh"))
      .distinct()
    val cnts = frames.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames_distinct"))
    val a = frames.select(col("media_id").as("id_a"), col("fh"))
    val b = frames.select(col("media_id").as("id_b"), col("fh"))
    a.join(b, Seq("fh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(broadcast(cnts.select(col("media_id").as("id_a"),
        col("n_frames_distinct").as("na"))), Seq("id_a"))
      .join(broadcast(cnts.select(col("media_id").as("id_b"),
        col("n_frames_distinct").as("nb"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("overlap"))
  }

  /** Build a deterministic media table from `documents` (text bytes as
    * payload) — gives the multimodal path real data to flow through in
    * tests and the oracle-checked md1 query.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"), lit("text/plain").as("mime"),
        col("text").cast("binary").as("content"),
        lit(64).as("width"), lit(64).as("height"))
      .as[MediaRow]
  }
}
