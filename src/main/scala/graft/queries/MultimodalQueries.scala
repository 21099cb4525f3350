package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.MultimodalOps

/** Multimodal (binary-column) queries, both fully oracle-checked: md1
  * hashes the binary payloads; md2 runs the stubbed decode through the
  * partition-local batch pipeline and DuckDB re-derives the 16-bin byte
  * histogram from the hex encoding of the same bytes — float32
  * division included, so the hash check is bit-exact.
  */
object MultimodalQueries {

  /** Binary payload statistics: byte length + md5 of the binary —
    * exercises binary-typed columns end to end (cast, hash, aggregate).
    */
  val md1BinaryStats = Q(
    "md1_binary_stats",
    (s, d) =>
      MultimodalOps.mediaFromDocuments(s, d).toDF()
        .select(col("media_id"), col("mime"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("media_id")),
    sql = Some("""
      SELECT doc_id AS media_id, 'text/plain' AS mime,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS content_md5
      FROM documents
      ORDER BY media_id"""))

  /** Stubbed decode + feature extraction through the partition-local
    * batch pipeline. Oracle: per-byte high nibble = the odd-position
    * hex digit of `hex(encode(text))`; bins divided in FLOAT (float32,
    * matching the stub's `Array[Float]`) before the double widening,
    * so f0 and f_sum agree bit-for-bit.
    */
  val md2Features = Q(
    "md2_feature_extract",
    (s, d) => {
      val feats = MultimodalOps.extractFeatures(
        MultimodalOps.mediaFromDocuments(s, d))
      feats.toDF()
        .select(col("media_id"), col("n_bytes"),
          round(element_at(col("features"), 1).cast("double"), 6)
            .as("f0"),
          round(aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double")), 6).as("f_sum"))
        .orderBy(col("media_id"))
    },
    sql = Some("""
      WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS n,
               lower(hex(encode(text))) AS hx
        FROM documents),
      bins AS (
        SELECT doc_id, n,
          list_transform(['0','1','2','3','4','5','6','7',
                          '8','9','a','b','c','d','e','f'],
            dg -> CASE WHEN n = 0 THEN CAST(0 AS FLOAT)
                  ELSE CAST(len(list_filter(range(0, n),
                         i -> substr(hx, 2*i+1, 1) = dg)) AS FLOAT)
                       / CAST(n AS FLOAT) END) AS bins
        FROM b)
      SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_bytes,
             ROUND(CAST(bins[1] AS DOUBLE), 6) AS f0,
             ROUND(list_sum(list_transform(bins,
               x -> CAST(x AS DOUBLE))), 6) AS f_sum
      FROM bins
      ORDER BY media_id"""))

  /** Frame sampling (every 4th 32-byte frame of each payload) — one
    * row per sampled frame with slice length + fingerprint. DuckDB
    * re-slices the same bytes from the blob, so frame boundaries,
    * the tail-frame short slice, and the md5-over-hex fingerprint
    * are all checked bit-exact.
    */
  val md3FrameSample = Q(
    "md3_frame_sample",
    (s, d) =>
      MultimodalOps.frameSample(
        MultimodalOps.mediaFromDocuments(s, d), frameBytes = 32, stride = 4)
        .select(col("media_id"), col("n_frames"), col("frame_id"),
          length(col("frame")).cast("long").as("n_bytes"),
          md5(hex(col("frame"))).as("frame_md5"))
        .orderBy(col("media_id"), col("frame_id")),
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS hx,
               CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT)
                 AS n_frames
        FROM documents),
      f AS (
        SELECT media_id, hx, n_frames,
               unnest(range(0, n_frames, 4)) AS frame_id
        FROM m WHERE n_frames > 0)
      SELECT media_id, n_frames, CAST(frame_id AS BIGINT) AS frame_id,
             CAST(length(substring(hx, frame_id * 64 + 1, 64)) // 2
               AS BIGINT) AS n_bytes,
             md5(substring(hx, frame_id * 64 + 1, 64)) AS frame_md5
      FROM f
      ORDER BY media_id, frame_id"""))

  /** Perceptual-hash near-dup over binary payloads — dd2's banded
    * dedup discipline for media: block-mean pHash (native expression)
    * per asset, 4×15-bit bands generate candidates, exact Hamming ≤ 24
    * verifies. The oracle recomputes the FULL pipeline from the hex
    * encoding of the same bytes — per-byte values, integer
    * cross-multiplied segment means, bit packing, banding, Hamming —
    * so the fingerprint kernel and the candidate topology are both
    * hash-checked bit-exact. Plan gate (`PlanQualitySpec`): one
    * (band, bkey) exchange, both self-join sides ReusedExchange,
    * payloads never join.
    */
  val md4PhashNearDup = Q(
    "md4_phash_near_dup",
    (s, d) =>
      MultimodalOps.phashNearDupPairs(
        MultimodalOps.mediaFromDocuments(s, d).toDF(),
        "media_id", "content", maxHamming = 24)
        .orderBy(col("id_a"), col("id_b")),
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n
        FROM documents),
      bytes AS (
        SELECT media_id, n,
               list_transform(range(0, n), i ->
                 (strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1))
                 AS bv
        FROM m),
      fp AS (
        SELECT media_id,
               CAST(COALESCE(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN ((b+1)*n//60 - b*n//60) > 0
                       AND COALESCE(list_sum(
                             bv[CAST(b*n//60 + 1 AS INT)
                                : CAST((b+1)*n//60 AS INT)]), 0) * n
                           > COALESCE(list_sum(bv), 0)
                             * ((b+1)*n//60 - b*n//60)
                      THEN 1::BIGINT << CAST(b AS INT) ELSE 0::BIGINT
                 END)), 0) AS BIGINT) AS fp
        FROM bytes),
      banded AS (
        SELECT media_id, fp, band,
               (fp >> CAST(band * 15 AS INT)) & 32767 AS bkey
        FROM fp, (SELECT unnest(range(0, 4)) AS band) b),
      cand AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey
         AND a.media_id < b.media_id)
      SELECT id_a, id_b, MIN(hamming) AS hamming
      FROM cand
      GROUP BY id_a, id_b
      HAVING MIN(hamming) <= 24
      ORDER BY id_a, id_b"""))

  /** Frame-level near-dup pairs (md3's frames × dd2's join
    * discipline): assets sharing ≥ 2 distinct sampled-frame
    * fingerprints, with overlap = shared / min(distinct frames). The
    * oracle re-derives frames, fingerprints, the within-asset
    * collapse, the pair join, and the ratio — so frame boundaries AND
    * the dedup topology are hash-checked end to end. Overlap is a
    * small-integer ratio: IEEE division + 6dp round, identical on
    * both engines.
    */
  val md5FrameNearDup = Q(
    "md5_frame_near_dup",
    (s, d) =>
      MultimodalOps.frameNearDupPairs(
        MultimodalOps.mediaFromDocuments(s, d),
        frameBytes = 32, stride = 4, minShared = 2L)
        .orderBy(col("id_a"), col("id_b")),
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS hx,
               CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT)
                 AS n_frames
        FROM documents),
      fr AS (
        SELECT DISTINCT media_id,
               md5(substring(hx, CAST(frame_id * 64 + 1 AS BIGINT), 64))
                 AS fh
        FROM (SELECT media_id, hx,
                     unnest(range(0, n_frames, 4)) AS frame_id
              FROM m WHERE n_frames > 0)),
      cnts AS (
        SELECT media_id, COUNT(*) AS nf FROM fr GROUP BY media_id),
      pairs AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               COUNT(*) AS n_shared
        FROM fr a JOIN fr b ON a.fh = b.fh AND a.media_id < b.media_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2)
      SELECT p.id_a, p.id_b, p.n_shared,
             ROUND(CAST(p.n_shared AS DOUBLE) /
                   CAST(LEAST(ca.nf, cb.nf) AS DOUBLE), 6) AS overlap
      FROM pairs p
      JOIN cnts ca ON p.id_a = ca.media_id
      JOIN cnts cb ON p.id_b = cb.media_id
      ORDER BY id_a, id_b"""))

  /** Audio frame energy (md6) — a REAL multimodal decode, not a stub:
    * the binary payload is interpreted as PCM signed-16-bit
    * little-endian samples (the raw audio wire format), framed at 64
    * samples, and each frame's energy = Σ sample² computed in exact
    * 64-bit integers. Per asset: sample/frame counts, total and peak
    * frame energy, and the count of "loud" frames — the
    * silence/clipping triage a 100 TB audio corpus runs before any
    * model sees a byte. All scan-local builtin expressions (hex →
    * nested transform/aggregate) — zero shuffle before the final
    * 1-row-per-asset projection; the payload is never duplicated
    * per-frame (`slice` over one samples array). DuckDB re-derives
    * the s16le decode from the hex of the same bytes, so byte order,
    * sign handling, the dropped trailing odd byte, and the short tail
    * frame are all checked bit-exact.
    */
  val md6AudioEnergy = Q(
    "md6_audio_energy",
    (s, d) =>
      MultimodalOps.mediaFromDocuments(s, d).toDF()
        .select(col("media_id"), lower(hex(col("content"))).as("hx"),
          expr("length(content) DIV 2").as("n_samples"))
        .withColumn("n_frames", expr("(n_samples + 63) DIV 64"))
        .withColumn("samples", expr("""
          CASE WHEN n_samples = 0 THEN CAST(array() AS ARRAY<BIGINT>)
          ELSE transform(sequence(0, n_samples - 1), i ->
            CAST(conv(substring(hx, CAST(4 * i + 3 AS INT), 2) ||
                      substring(hx, CAST(4 * i + 1 AS INT), 2), 16, 10)
              AS BIGINT) -
            CASE WHEN CAST(conv(substring(hx, CAST(4 * i + 3 AS INT), 2) ||
                      substring(hx, CAST(4 * i + 1 AS INT), 2), 16, 10)
              AS BIGINT) >= 32768 THEN 65536 ELSE 0 END)
          END"""))
        .withColumn("energies", expr("""
          CASE WHEN n_frames = 0 THEN CAST(array() AS ARRAY<BIGINT>)
          ELSE transform(sequence(0, n_frames - 1), f ->
            aggregate(slice(samples, CAST(f * 64 + 1 AS INT), 64), 0L,
              (acc, v) -> acc + v * v))
          END"""))
        .select(col("media_id"), col("n_samples"), col("n_frames"),
          coalesce(expr("aggregate(energies, 0L, (a, e) -> a + e)"), lit(0L))
            .as("total_energy"),
          coalesce(array_max(col("energies")), lit(0L))
            .as("max_frame_energy"),
          expr("CAST(size(filter(energies, e -> e > 25000000000)) AS BIGINT)")
            .as("loud_frames"))
        .orderBy(col("media_id")),
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) // 2 AS n_samples
        FROM documents),
      sm AS (
        SELECT media_id, n_samples, (n_samples + 63) // 64 AS n_frames,
          CASE WHEN n_samples = 0 THEN [] ELSE
            list_transform(range(0, n_samples), i ->
              CAST(('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2)
                         || substr(hx, CAST(4 * i + 1 AS INT), 2))
                AS BIGINT) -
              CASE WHEN CAST(('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2)
                         || substr(hx, CAST(4 * i + 1 AS INT), 2))
                AS BIGINT) >= 32768 THEN 65536 ELSE 0 END)
          END AS samples
        FROM m),
      en AS (
        SELECT media_id, n_samples, n_frames,
          CASE WHEN n_frames = 0 THEN [] ELSE
            list_transform(range(0, n_frames), f ->
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(list_slice(samples, f * 64 + 1,
                  f * 64 + 64), v -> v * v)),
                (a, e) -> a + e))
          END AS energies
        FROM sm)
      SELECT media_id, CAST(n_samples AS BIGINT) AS n_samples,
             CAST(n_frames AS BIGINT) AS n_frames,
             CAST(COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
               energies), (a, e) -> a + e), 0) AS BIGINT) AS total_energy,
             CAST(COALESCE(list_max(energies), 0) AS BIGINT)
               AS max_frame_energy,
             CAST(len(list_filter(energies, e -> e > 25000000000))
               AS BIGINT) AS loud_frames
      FROM en
      ORDER BY media_id"""),
    bench = true)

  /** Image resize (md7) — the remaining member of the multimodal
    * quartet (decode md6 / features md2 / frame-sample md3 / RESIZE):
    * the payload as a 16-wide row-major grayscale raster, downscaled
    * 2×2 by box filter in EXACT integer math (4-pixel sum DIV 4 —
    * no float resampling, so the oracle re-derives every output
    * pixel from the hex of the same bytes). Per asset: input/output
    * heights, integer mean luminance (per-mille), and an md5 over
    * the joined resized pixels — one wrong pixel anywhere flips the
    * checksum. Scan-local nested transforms, zero shuffle before the
    * presentation sort (md6's plan discipline).
    */
  val md7ImageResize = Q(
    "md7_image_resize",
    (s, d) =>
      MultimodalOps.mediaFromDocuments(s, d).toDF()
        .select(col("media_id"), lower(hex(col("content"))).as("hx"),
          expr("length(content) DIV 16").as("in_h"))
        .withColumn("out_h", expr("in_h DIV 2"))
        .withColumn("px", expr("""
          CASE WHEN out_h = 0 THEN CAST(array() AS ARRAY<BIGINT>)
          ELSE transform(sequence(0, out_h * 8 - 1), j ->
            (CAST(conv(substring(hx,
               CAST(((j DIV 8) * 64 + (j % 8) * 4) + 1 AS INT), 2),
               16, 10) AS BIGINT) +
             CAST(conv(substring(hx,
               CAST(((j DIV 8) * 64 + (j % 8) * 4) + 3 AS INT), 2),
               16, 10) AS BIGINT) +
             CAST(conv(substring(hx,
               CAST(((j DIV 8) * 64 + 32 + (j % 8) * 4) + 1 AS INT), 2),
               16, 10) AS BIGINT) +
             CAST(conv(substring(hx,
               CAST(((j DIV 8) * 64 + 32 + (j % 8) * 4) + 3 AS INT), 2),
               16, 10) AS BIGINT)) DIV 4)
          END"""))
        .select(col("media_id"), col("in_h"), col("out_h"),
          coalesce(expr(
              "aggregate(px, 0L, (a, v) -> a + v) * 1000 DIV (out_h * 8)"),
            lit(0L)).as("mean_milli"),
          md5(array_join(expr("transform(px, v -> CAST(v AS STRING))"),
            ",")).as("pixels_md5"))
        .orderBy(col("media_id")),
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) // 16 AS in_h
        FROM documents),
      r AS (
        SELECT media_id, in_h, in_h // 2 AS out_h,
          CASE WHEN in_h // 2 = 0 THEN [] ELSE
            list_transform(range(0, (in_h // 2) * 8), j ->
              (CAST(('0x' || substr(hx,
                 CAST((j // 8) * 64 + (j % 8) * 4 + 1 AS INT), 2))
                 AS BIGINT) +
               CAST(('0x' || substr(hx,
                 CAST((j // 8) * 64 + (j % 8) * 4 + 3 AS INT), 2))
                 AS BIGINT) +
               CAST(('0x' || substr(hx,
                 CAST((j // 8) * 64 + 32 + (j % 8) * 4 + 1 AS INT), 2))
                 AS BIGINT) +
               CAST(('0x' || substr(hx,
                 CAST((j // 8) * 64 + 32 + (j % 8) * 4 + 3 AS INT), 2))
                 AS BIGINT)) // 4)
          END AS px
        FROM m)
      SELECT media_id, CAST(in_h AS BIGINT) AS in_h,
             CAST(out_h AS BIGINT) AS out_h,
             CAST(COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
               px), (a, v) -> a + v) * 1000 // (out_h * 8), 0)
               AS BIGINT) AS mean_milli,
             md5(array_to_string(list_transform(px, v -> v::VARCHAR),
               ',')) AS pixels_md5
      FROM r
      ORDER BY media_id"""))

  /** Scene-change detection (md8) — the temporal member of the
    * multimodal family: consecutive COMPLETE 32-byte frames of each
    * payload are compared by exact integer L1 distance (Σ |bᵢ−bᵢ₋₁|
    * over the 32 byte positions), and a frame pair whose distance
    * exceeds the cut threshold is a scene change. The short tail
    * frame is excluded by construction (no partial-frame compare —
    * the honest rule, mirrored in the oracle). Per asset: full-frame
    * count, cut count, total and peak distance. Scan-local nested
    * transforms (md6/md7's plan discipline).
    */
  val md8SceneChange = Q(
    "md8_scene_change",
    (s, d) =>
      MultimodalOps.mediaFromDocuments(s, d).toDF()
        .select(col("media_id"), lower(hex(col("content"))).as("hx"),
          expr("length(content) DIV 32").as("n_full"))
        .withColumn("diffs", expr("""
          CASE WHEN n_full < 2 THEN CAST(array() AS ARRAY<BIGINT>)
          ELSE transform(sequence(1, n_full - 1), f ->
            aggregate(sequence(0, 31), 0L, (acc, j) ->
              acc + abs(
                CAST(conv(substring(hx,
                  CAST((f * 32 + j) * 2 + 1 AS INT), 2), 16, 10)
                  AS BIGINT) -
                CAST(conv(substring(hx,
                  CAST(((f - 1) * 32 + j) * 2 + 1 AS INT), 2), 16, 10)
                  AS BIGINT))))
          END"""))
        .select(col("media_id"), col("n_full"),
          expr("CAST(size(filter(diffs, x -> x > 1200)) AS BIGINT)")
            .as("n_cuts"),
          coalesce(expr("aggregate(diffs, 0L, (a, x) -> a + x)"), lit(0L))
            .as("total_diff"),
          coalesce(array_max(col("diffs")), lit(0L)).as("max_diff"))
        .orderBy(col("media_id")),
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) // 32 AS n_full
        FROM documents),
      dd AS (
        SELECT media_id, n_full,
          CASE WHEN n_full < 2 THEN [] ELSE
            list_transform(range(1, n_full), f ->
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(0, 32), j ->
                  abs(CAST(('0x' || substr(hx,
                        CAST((f * 32 + j) * 2 + 1 AS INT), 2))
                        AS BIGINT) -
                      CAST(('0x' || substr(hx,
                        CAST(((f - 1) * 32 + j) * 2 + 1 AS INT), 2))
                        AS BIGINT)))),
                (a, x) -> a + x))
          END AS diffs
        FROM m)
      SELECT media_id, CAST(n_full AS BIGINT) AS n_full,
             CAST(len(list_filter(diffs, x -> x > 1200)) AS BIGINT)
               AS n_cuts,
             CAST(COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
               diffs), (a, x) -> a + x), 0) AS BIGINT) AS total_diff,
             CAST(COALESCE(list_max(diffs), 0) AS BIGINT) AS max_diff
      FROM dd
      ORDER BY media_id"""))

  /** Perceptual retrieval (md9): for each probe asset, the single
    * nearest neighbor by Hamming distance over the 60-bit phash —
    * "find the closest-looking asset". Probes broadcast onto the
    * fingerprint scan (hamming is scan-local `bit_count(xor)`), the
    * winner is a hash-aggregate `min(struct(ham, id))` — no pair
    * explosion, no sort: at corpus scale this is k probes × one scan,
    * the brute-force-exact baseline md4's banded index approximates.
    */
  val md9PhashTop1 = Q(
    "md9_phash_top1",
    (s, d) => {
      val media = MultimodalOps.mediaFromDocuments(s, d).toDF()
      val fps = media.select(col("media_id"),
        graft.functions.VectorFunctions.phash_fingerprint(col("content"))
          .as("fp"))
      val probes = fps.filter(col("media_id") < 5).select(
        col("media_id").as("q_id"), col("fp").as("q_fp"))
      fps.join(broadcast(probes), col("media_id") =!= col("q_id"))
        .select(col("q_id"), col("media_id"),
          expr("CAST(bit_count(q_fp ^ fp) AS BIGINT)").as("ham"))
        .groupBy(col("q_id"))
        .agg(min(struct(col("ham"), col("media_id"))).as("best"))
        .select(col("q_id"), col("best.media_id").as("nn_id"),
          col("best.ham").as("hamming"))
        .orderBy(col("q_id"))
    },
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n
        FROM documents),
      bytes AS (
        SELECT media_id, n,
               list_transform(range(0, n), i ->
                 (strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1))
                 AS bv
        FROM m),
      fp AS (
        SELECT media_id,
               CAST(COALESCE(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN ((b+1)*n//60 - b*n//60) > 0
                       AND COALESCE(list_sum(
                             bv[CAST(b*n//60 + 1 AS INT)
                                : CAST((b+1)*n//60 AS INT)]), 0) * n
                           > COALESCE(list_sum(bv), 0)
                             * ((b+1)*n//60 - b*n//60)
                      THEN 1::BIGINT << CAST(b AS INT) ELSE 0::BIGINT
                 END)), 0) AS BIGINT) AS fp
        FROM bytes),
      probes AS (
        SELECT media_id AS q_id, fp AS q_fp FROM fp WHERE media_id < 5),
      scored AS (
        SELECT p.q_id, f.media_id,
               CAST(bit_count(xor(p.q_fp, f.fp)) AS BIGINT) AS ham
        FROM probes p JOIN fp f ON f.media_id <> p.q_id),
      rk AS (
        SELECT q_id, media_id, ham,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY ham, media_id) AS rn
        FROM scored)
      SELECT q_id, media_id AS nn_id, ham AS hamming
      FROM rk WHERE rn = 1
      ORDER BY q_id"""))

  /** Build-once STORED phash index over `d`'s media corpus (md10
    * probes it). Catalog-keyed, dd11's `ensureLshIndex` discipline.
    */
  private def ensurePhashIndex(s: org.apache.spark.sql.SparkSession,
      d: String): String = synchronized {
    val t = s"md_phash_index_${Integer.toHexString(d.hashCode)}"
    if (!s.catalog.tableExists(t))
      MultimodalOps.writePhashIndex(
        MultimodalOps.mediaFromDocuments(s, d).toDF(),
        "media_id", "content", t,
        location = Some(java.nio.file.Files
          .createTempDirectory("graft_phash_idx").toString))
    t
  }

  /** Stored-index media dedup (md10): the standing perceptual-hash
    * index is a bucketed (band, bkey) parquet table written once per
    * snapshot ([[MultimodalOps.writePhashIndex]] — payloads read and
    * fingerprinted ONCE); a delta batch probes it from disk for its
    * near-dup pairs against the whole corpus. md4's banded semantics
    * restricted to pairs touching the delta, which is exactly what the
    * oracle recomputes from scratch — two formulations, one result.
    * Completes the media family's stored-index lifecycle (text:
    * dd11/writeLshIndex, vectors: sim6/IvfStore.write, lexical:
    * tx38/BM25 postings).
    */
  val md10PhashIndexProbe = Q(
    "md10_phash_index_probe",
    (s, d) => {
      val t = ensurePhashIndex(s, d)
      val delta = MultimodalOps.mediaFromDocuments(s, d).toDF()
        .filter(col("media_id") % 10 < 2)
      MultimodalOps.probePhashIndex(s, t, delta, "media_id", "content",
        maxHamming = 24)
        .orderBy(col("id_a"), col("id_b"))
    },
    bench = true,
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n
        FROM documents),
      bytes AS (
        SELECT media_id, n,
               list_transform(range(0, n), i ->
                 (strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1))
                 AS bv
        FROM m),
      fp AS (
        SELECT media_id,
               CAST(COALESCE(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN ((b+1)*n//60 - b*n//60) > 0
                       AND COALESCE(list_sum(
                             bv[CAST(b*n//60 + 1 AS INT)
                                : CAST((b+1)*n//60 AS INT)]), 0) * n
                           > COALESCE(list_sum(bv), 0)
                             * ((b+1)*n//60 - b*n//60)
                      THEN 1::BIGINT << CAST(b AS INT) ELSE 0::BIGINT
                 END)), 0) AS BIGINT) AS fp
        FROM bytes),
      banded AS (
        SELECT media_id, fp, band,
               (fp >> CAST(band * 15 AS INT)) & 32767 AS bkey
        FROM fp, (SELECT unnest(range(0, 4)) AS band) b),
      cand AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey
         AND a.media_id < b.media_id
        WHERE a.media_id % 10 < 2 OR b.media_id % 10 < 2)
      SELECT id_a, id_b, MIN(hamming) AS hamming
      FROM cand
      GROUP BY id_a, id_b
      HAVING MIN(hamming) <= 24
      ORDER BY id_a, id_b"""))

  /** Build-once VERSIONED phash index with a delete batch applied
    * (md11 probes it): adopt → delete every `media_id % 13 = 5` via
    * [[MultimodalOps.applyPhashIndexDelta]] (delta-scale, atomic
    * generation swap, retain=1 keeps the pre-delete snapshot for
    * `VERSION AS OF`).
    */
  private def ensurePhashMaintained(s: org.apache.spark.sql.SparkSession,
      d: String): String = synchronized {
    val t = s"md_phash_mnt_${Integer.toHexString(d.hashCode)}"
    if (!s.catalog.tableExists(t)) {
      val media = MultimodalOps.mediaFromDocuments(s, d).toDF()
      MultimodalOps.writePhashIndex(media, "media_id", "content", t,
        location = Some(java.nio.file.Files
          .createTempDirectory("graft_phash_mnt").toString))
      graft.operators.BucketedStores.adoptVersioned(s, t)
      MultimodalOps.applyPhashIndexDelta(s, t,
        deleteIds = media.filter(col("media_id") % 13 === 5)
          .select(col("media_id")),
        upserts = None, idCol = "media_id", contentCol = "content",
        retain = 1)
    }
    t
  }

  /** Delete maintenance on the stored phash index (md11): after a
    * delta-scale delete batch (tombstoned assets' fingerprint rows
    * dropped in an atomic generation swap), probing the maintained
    * index equals a FROM-SCRATCH rebuild over the surviving corpus —
    * the oracle recomputes exactly that, so stale fingerprint rows or
    * lost bands would hash-mismatch. Same rebuild-equivalence contract
    * as dd20 (LSH), sim10/sim11 (IVF), tx41/tx42 (BM25).
    */
  val md11PhashIndexDelete = Q(
    "md11_phash_index_delete",
    (s, d) => {
      val t = ensurePhashMaintained(s, d)
      val live = MultimodalOps.mediaFromDocuments(s, d).toDF()
        .filter(col("media_id") % 10 < 2 && col("media_id") % 13 =!= 5)
      MultimodalOps.probePhashIndex(s, t, live, "media_id", "content",
        maxHamming = 24)
        .orderBy(col("id_a"), col("id_b"))
    },
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
        WHERE doc_id % 13 <> 5),
      bytes AS (
        SELECT media_id, n,
               list_transform(range(0, n), i ->
                 (strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1))
                 AS bv
        FROM m),
      fp AS (
        SELECT media_id,
               CAST(COALESCE(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN ((b+1)*n//60 - b*n//60) > 0
                       AND COALESCE(list_sum(
                             bv[CAST(b*n//60 + 1 AS INT)
                                : CAST((b+1)*n//60 AS INT)]), 0) * n
                           > COALESCE(list_sum(bv), 0)
                             * ((b+1)*n//60 - b*n//60)
                      THEN 1::BIGINT << CAST(b AS INT) ELSE 0::BIGINT
                 END)), 0) AS BIGINT) AS fp
        FROM bytes),
      banded AS (
        SELECT media_id, fp, band,
               (fp >> CAST(band * 15 AS INT)) & 32767 AS bkey
        FROM fp, (SELECT unnest(range(0, 4)) AS band) b),
      cand AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey
         AND a.media_id < b.media_id
        WHERE a.media_id % 10 < 2 OR b.media_id % 10 < 2)
      SELECT id_a, id_b, MIN(hamming) AS hamming
      FROM cand
      GROUP BY id_a, id_b
      HAVING MIN(hamming) <= 24
      ORDER BY id_a, id_b"""))

  /** The POST-changelog media corpus: every `media_id % 13 = 5` asset
    * deleted, every surviving `media_id % 11 = 7` asset re-encoded
    * with ` upd` appended — the changelog md12 applies and the state
    * its oracle rebuilds from scratch.
    */
  private def mediaUpserted(s: org.apache.spark.sql.SparkSession,
      d: String) =
    s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id").as("media_id"),
        when(col("doc_id") % 11 === 7, concat(col("text"), lit(" upd")))
          .otherwise(col("text")).cast("binary").as("content"))

  /** Build-once MERGE-ON-READ phash index with one changelog batch
    * applied (md12 probes it): tombstones + `_seq`-stamped
    * re-fingerprinted rows, no generation rewrite.
    */
  private def ensurePhashMor(s: org.apache.spark.sql.SparkSession,
      d: String): String = synchronized {
    val t = s"md_phash_mor_${Integer.toHexString(d.hashCode)}"
    if (!s.catalog.tableExists(t)) {
      val media = MultimodalOps.mediaFromDocuments(s, d).toDF()
      MultimodalOps.writePhashIndexMor(media, "media_id", "content", t)
      MultimodalOps.applyPhashIndexDeltaMor(s, t,
        deleteIds = media.filter(col("media_id") % 13 === 5)
          .select(col("media_id")),
        upserts = Some(mediaUpserted(s, d)
          .filter(col("media_id") % 11 === 7 &&
            col("media_id") % 13 =!= 5)),
        idCol = "media_id", contentCol = "content")
    }
    t
  }

  /** Merge-on-read maintenance for the phash index (md12): after a
    * changelog batch of deletes AND upserts applied append-only
    * (tombstones at the batch sequence, re-fingerprinted delta rows
    * stamped `_seq`), probing the serving view equals a FROM-SCRATCH
    * rebuild over the post-changelog corpus — the oracle recomputes
    * fingerprints for the upserted content and drops the deleted
    * assets, so a stale or resurrected fingerprint row
    * hash-mismatches. With md10/md11 this gives the media family the
    * full index lifecycle the text/vector/lexical families carry:
    * stored → incremental probe → CoW deletes → MoR changelogs (and
    * SQL time travel over either tier).
    */
  val md12PhashIndexMor = Q(
    "md12_phash_index_mor",
    (s, d) => {
      val t = ensurePhashMor(s, d)
      val live = mediaUpserted(s, d)
        .filter(col("media_id") % 10 < 2 && col("media_id") % 13 =!= 5)
      MultimodalOps.probePhashIndex(s, t, live, "media_id", "content",
        maxHamming = 24)
        .orderBy(col("id_a"), col("id_b"))
    },
    sql = Some("""
      WITH m AS (
        SELECT doc_id AS media_id,
               lower(hex(encode(CASE WHEN doc_id % 11 = 7
                 THEN text || ' upd' ELSE text END))) AS hx,
               octet_length(encode(CASE WHEN doc_id % 11 = 7
                 THEN text || ' upd' ELSE text END)) AS n
        FROM documents
        WHERE doc_id % 13 <> 5),
      bytes AS (
        SELECT media_id, n,
               list_transform(range(0, n), i ->
                 (strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1))
                 AS bv
        FROM m),
      fp AS (
        SELECT media_id,
               CAST(COALESCE(list_sum(list_transform(range(0, 60), b ->
                 CASE WHEN ((b+1)*n//60 - b*n//60) > 0
                       AND COALESCE(list_sum(
                             bv[CAST(b*n//60 + 1 AS INT)
                                : CAST((b+1)*n//60 AS INT)]), 0) * n
                           > COALESCE(list_sum(bv), 0)
                             * ((b+1)*n//60 - b*n//60)
                      THEN 1::BIGINT << CAST(b AS INT) ELSE 0::BIGINT
                 END)), 0) AS BIGINT) AS fp
        FROM bytes),
      banded AS (
        SELECT media_id, fp, band,
               (fp >> CAST(band * 15 AS INT)) & 32767 AS bkey
        FROM fp, (SELECT unnest(range(0, 4)) AS band) b),
      cand AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey
         AND a.media_id < b.media_id
        WHERE a.media_id % 10 < 2 OR b.media_id % 10 < 2)
      SELECT id_a, id_b, MIN(hamming) AS hamming
      FROM cand
      GROUP BY id_a, id_b
      HAVING MIN(hamming) <= 24
      ORDER BY id_a, id_b"""))

  val all: Seq[Q] = Seq(md1BinaryStats, md2Features, md3FrameSample,
    md4PhashNearDup, md5FrameNearDup, md6AudioEnergy, md7ImageResize,
    md8SceneChange, md9PhashTop1, md10PhashIndexProbe,
    md11PhashIndexDelete, md12PhashIndexMor)
}
