/** SQL surface for stored-index ANN serving.
  *
  * The stored ANN index ([[graft.operators.IvfStore]] — lists plus
  * companions, one store for every list codec) was API-only while
  * as-of joins, time travel, and the maintenance verbs all gained SQL
  * spellings. This closes the asymmetry with a table-valued macro in
  * the same delegating-parser discipline:
  *
  *   SELECT * FROM GRAFT_ANN('<index>', '<queries_table>', <k>, <nprobe>)
  *   SELECT * FROM GRAFT_ANN('<index>', '<queries>', <k>, <nprobe>, <rerank>)
  *
  * expands AT PARSE TIME into the stock-grammar derived table that
  * probes the stored index, shaped to [[graft.operators.IvfStore.probe]]'s
  * plan and generalized to top-k. The codec comes from the lists'
  * schema ([[graft.operators.IvfStore.layout]]): Flat lists answer by
  * exact cosine (4-arg form); quantized lists (Sq8: the `array_dot_q8`
  * int8 kernel over an `int8_quantize`d query; Pq: the codegen'd
  * `pq_adc` lookup sum over a per-query distance table) keep the
  * top-`rerank` per query and re-rank them by exact cosine off the
  * `_vecs` companion (5-arg form; loud errors on a missing or extra
  * rerank). Lists with a `cid` column probe their `nprobe` nearest
  * lists; flat PQ code rows scan whole, so `nprobe` must be 1. Output
  * columns: `id_a, ann_id, score, rank` (rank 1..k per query, by
  * (score DESC, id ASC)).
  *
  * The expansion is pure SQL over the engine's registered kernels, so
  * the plan is the API plan class: the corpus-scale lists come off the
  * bucket-aligned scan, only the (query × nprobe)-scale side shuffles,
  * and the k-row centroid companion folds to an array via an
  * uncorrelated scalar subquery (the SQL spelling of the API's
  * centroid literal; same bytes). Probed-list pruning mirrors the API:
  * ONE bounded parse-time aggregate (the macro twin of `probeRegime`)
  * resolves the union of all queries' probed cids and injects it as an
  * `IN` filter on the lists join, so the unprobed lists' bytes stay
  * unread on the SQL surface too. Over the cap (corpus-as-queries) or
  * on any resolution failure the filter is simply omitted — results
  * are identical either way. View definitions (`CREATE VIEW …
  * GRAFT_ANN`) never bake the content-dependent In-list into their
  * stored text.
  *
  * Contract (documented, loudly enforced): the queries relation
  * exposes `vec_id` and `embedding`; the index store and every
  * companion its layout needs must exist at parse time. A
  * merge-on-read store works unchanged — `<index>` resolves to its
  * serving view, so tombstoned vectors are already subtracted. TIME
  * TRAVEL composes: a retained generation (`GRAFT_ANN('idx__v1', …)`)
  * probes against that generation's SNAPSHOTTED companions (pinned at
  * swap time by [[graft.operators.BucketedStores]]); a generation
  * without its snapshots fails loudly instead of silently probing old
  * lists against a possibly-retrained base quantizer, and every
  * lists/companion pairing must carry a matching quantizer BUILD
  * STAMP ([[graft.operators.IvfStore.resolve]]).
  *
  * Reference parity note: the reference pipeline
  * (CI-CMG/wod-ascii-to-parquet-spark) has no similarity tier; the
  * table-valued-function shape follows the public warehouse dialects
  * (DuckDB/BigQuery TVFs, pgvector's SQL serving).
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{AnalysisException, SparkSession}

object GraftAnnRewrite {
  import AsOfSqlLexer._

  private def fail(msg: String): Nothing =
    throw new AnalysisException(s"[GRAFT_ANN] $msg", None, None,
      None, None, Map.empty[String, String], Array.empty)

  private val ArgShape =
    ("""^\s*'([A-Za-z0-9_.]+)'\s*,\s*'([A-Za-z0-9_.]+)'\s*,""" +
      """\s*(\d+)\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?$""").r

  /** A statement whose expansion text OUTLIVES this parse (a view
    * definition) must not bake in content-dependent fragments: the
    * probed-cid In-list below reflects the queries table AS OF parse
    * time, and a stored view would keep serving that stale list.
    */
  private val ViewDef =
    """^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP(ORARY)?\s+)?(GLOBAL\s+)?VIEW"""
      .r.unanchored

  /** Parse-time twin of the API probes' `probeRegime`: a trivial
    * bounded count decides the regime, then (bounded batches only)
    * ONE bounded aggregate resolves the UNION of all queries' nprobe
    * probed lists (capped at GatherMaxQueries × nprobe exploded rows —
    * over the cap means corpus-as-queries, where essentially every
    * list is probed and there is nothing to prune), so the expansion
    * can inject an `IN (<cids>)` filter that reaches the lists scan
    * as a pushed filter — cid-bucket pruning plus parquet row-group
    * pruning drop the unprobed lists' bytes, exactly like the API
    * path's In-filter. The centroid RANKING RULE is character-for-
    * character the expansions' probe rule, so the resolved set can
    * never exclude a list the expansion would probe. Any failure
    * (unresolvable queries relation, streaming source, cap hit)
    * falls back to the unfiltered join — pruning is an optimization,
    * never a correctness dependency. Content-dependence caveat: the
    * set reflects the queries table at parse time; a row appended
    * between parse and execution of the SAME statement is still
    * served (it is a query-side row), but its probed lists must
    * already be in the set — the API probes share this property
    * (probeRegime runs before the scan job).
    */
  private def probedCids(spark: SparkSession, centroids: String,
      queries: String, nprobe: Int): Option[Seq[Long]] = scala.util.Try {
    val maxQ = graft.operators.SimilarityOps.GatherMaxQueries
    // Regime gate FIRST, and JOBLESS where provable (r21): the
    // queries relation's parquet footers decide over/under-cap
    // without any Spark job ([[graft.operators.RelationRowBound]] —
    // exact counts, short-circuited past the cap). The r20 gate's
    // bounded `LIMIT cap+1` count job cost ~0.2 s of fixed driver
    // scheduling PER GRAFT_ANN STATEMENT (sim12's whole gap to its
    // API twin on over-cap batches, and a pure EXTRA job ahead of the
    // ranking aggregate on bounded ones — tx44's probe is a filtered
    // single row). Footer-unprovable shapes now run the ranking
    // aggregate DIRECTLY: its LIMIT already bounds the work at
    // cap ≈ maxQ ranked queries and its row count already signals
    // over-cap — probeRegime's one-job fold, finally on the SQL
    // surface too. Exactly probeRegime's bounded-batch boundary, so
    // SQL and API probes prune under the same contract.
    val nq: Long = graft.operators.RelationRowBound
      .boundedCount(spark.table(queries), maxQ).getOrElse(-1L)
    val cap = maxQ * math.max(nprobe, 1) + 1
    val row = if (nq > maxQ) null else spark.sql(
      s"""SELECT count(1) AS n, collect_set(cid) AS cids,
         |       (SELECT count(*) FROM $centroids) AS k
         |FROM (
         |  SELECT pcid AS cid
         |  FROM (SELECT ea, array_norm(ea) AS na,
         |               (SELECT $CentsSql FROM $centroids) AS cents
         |        FROM (SELECT transform(embedding,
         |                gx -> CAST(gx AS DOUBLE)) AS ea
         |              FROM $queries))
         |  LATERAL VIEW ${probeRankSql(nprobe)} gp AS pcid
         |  LIMIT $cap)""".stripMargin).head()
    if (row == null || row.getLong(0) >= cap) None
    else {
      val cids = row.getSeq[Long](1).sorted
      // a set covering every list prunes nothing; empty means an
      // empty queries relation (result empty either way)
      if (cids.nonEmpty && cids.length < row.getLong(2)) Some(cids)
      else None
    }
  }.toOption.flatten

  /** The injected join-side filter: ` AND <alias>.cid IN (…)` when a
    * strict probed subset was resolved, else empty.
    */
  private def cidFilterSql(alias: String,
      cids: Option[Seq[Long]]): String =
    cids.fold("")(cs => s" AND $alias.cid IN (${cs.mkString(", ")})")

  def apply(spark: SparkSession, sql: String): String = {
    // cheap pre-screen: the macro name must appear at all
    if (!sql.toUpperCase(java.util.Locale.ROOT).contains("GRAFT_ANN"))
      return sql
    var cur = sql
    var guard = 0
    var changed = true
    while (changed) {
      require(guard < 64, "GRAFT_ANN rewrite did not converge")
      guard += 1
      rewriteFirst(spark, cur) match {
        case Some(next) => cur = next
        case None => changed = false
      }
    }
    cur
  }

  private def rewriteFirst(spark: SparkSession,
      s: String): Option[String] = {
    val isViewDef = ViewDef
      .findFirstIn(s.toUpperCase(java.util.Locale.ROOT)).isDefined
    val toks = AsOfSqlLexer.lex(s)
    var i = 0
    while (i + 1 < toks.length) {
      if (toks(i).word == "GRAFT_ANN" && toks(i + 1).word == "(") {
        val open = toks(i + 1)
        // the matching close paren: first ")" back at the open's depth
        val closeIdx = toks.indexWhere(t =>
          t.word == ")" && t.depth == open.depth, i + 2)
        if (closeIdx < 0)
          fail("unbalanced parentheses in GRAFT_ANN(...)")
        val close = toks(closeIdx)
        val rawArgs = s.substring(open.end, close.start)
        val (store, queries, k, nprobe, rerank) = rawArgs match {
          case ArgShape(st, q, kk, np, rr) =>
            (st.toLowerCase(java.util.Locale.ROOT),
              q.toLowerCase(java.util.Locale.ROOT), kk.toInt, np.toInt,
              Option(rr).map(_.toInt))
          case _ => fail("expected GRAFT_ANN('<index_store>', " +
            "'<queries_table>', <k>, <nprobe>[, <rerank>]), " +
            s"got args: $rawArgs")
        }
        if (k < 1) fail(s"k must be >= 1, got $k")
        if (nprobe < 1) fail(s"nprobe must be >= 1, got $nprobe")
        // layout, companions (a retained generation probes its OWN
        // snapshots, never the base's) and build-stamp lineage
        val (codec, coarse) =
          try graft.operators.IvfStore.resolve(spark, store)
          catch {
            case e: IllegalArgumentException =>
              fail(e.getMessage.stripPrefix("requirement failed: "))
          }
        val rr = if (codec.refines) {
          val rr = rerank.getOrElse(fail(s"$store is a quantized index " +
            "store — the <rerank> argument is required: " +
            s"GRAFT_ANN('$store', '<queries>', k, nprobe, rerank)"))
          if (rr < k) fail(s"rerank ($rr) must be >= k ($k) — the " +
            "exact re-rank can only return candidates the quantized " +
            "pass kept")
          rr
        } else {
          rerank.foreach(_ => fail(s"$store is a float IVF store — " +
            "<rerank> only applies to quantized (SQ8/PQ) stores"))
          0
        }
        if (!coarse && nprobe != 1)
          fail(s"$store has no coarse lists (no cid column — a flat " +
            s"code scan), so <nprobe> must be 1, got $nprobe")
        val sub = codec match {
          case _: graft.operators.ListCodec.Pq =>
            scala.util.Try {
              spark.sql(s"SHOW TBLPROPERTIES ${store}_codebooks").collect()
                .find(_.getString(0) == "graft.pq.sub")
                .map(_.getString(1).toInt)
            }.toOption.flatten.getOrElse(fail(s"${store}_codebooks " +
              "carries no graft.pq.sub property — write the index " +
              "with IvfStore.write"))
          case _ => 0
        }
        val body = expansion(store, codec, coarse, queries, k, nprobe,
          rr, sub,
          if (isViewDef || !coarse) None
          else probedCids(spark, store + "_centroids", queries, nprobe))
        val sb = new StringBuilder(s)
        sb.replace(toks(i).start, close.end, body)
        return Some(sb.toString)
      }
      i += 1
    }
    None
  }

  /** The centroid companion folded to the in-row probe array. */
  private val CentsSql = "collect_list(named_struct(" +
    "'cid', cid, 'ce', ce, 'cn', array_norm(ce)))"

  /** THE nprobe ranking in SQL text — character for character the rule
    * of the API's [[graft.operators.SimilarityOps.probeCids]] over
    * (ea, na, cents): (cosine DESC, cid ASC) at 6 dp. The parse-time
    * cid resolution and the expansion share it, so the resolved set
    * can never exclude a list the expansion probes.
    */
  private def probeRankSql(nprobe: Int): String =
    s"""explode(transform(slice(array_sort(
       |    transform(cents, c -> named_struct(
       |      'ns', -round(array_dot(ea, c.ce) / (na * c.cn), 6),
       |      'cid', c.cid))), 1, $nprobe), s -> s.cid))""".stripMargin

  /** The one expansion, per codec: the query side is prepared once
    * (`graft_ann_qz`: floats for Flat, plus the `int8_quantize`d query
    * for Sq8 or the per-query m×codes distance table for Pq), probes
    * its `nprobe` lists in-row (coarse stores only), and the scan join
    * carries just the codec's query payload. Flat candidates are
    * final; quantized candidates keep the top-`rerank` per query
    * (bounded `topk_pairs`, never a candidate window) and re-rank by
    * exact cosine — query floats from the QUERY side, corpus floats
    * from `_vecs`. Top-1 is a max-struct aggregate (map-side partials);
    * k > 1 is the bounded `topk_pairs` tail, the same (score DESC,
    * id ASC) order. CTE names are macro-prefixed and scoped to the
    * derived table, so two GRAFT_ANN calls in one statement can't
    * collide.
    */
  private def expansion(store: String, codec: graft.operators.ListCodec,
      coarse: Boolean, queries: String, k: Int, nprobe: Int, rerank: Int,
      sub: Int, cids: Option[Seq[Long]]): String = {
    import graft.operators.ListCodec._
    // (query-prep columns, inner columns they need, payload the scan
    // join carries, candidate score)
    val (prep, inner, carried, score) = codec match {
      case Flat => ("", "", "ea, na",
        "round(array_dot(p.ea, i.e) / (p.na * i.nrm), 6)")
      case Sq8 => (", amax_a, int8_quantize(ea, amax_a) AS qa",
        ", aggregate(ea, CAST(0.0 AS DOUBLE), " +
          "(ga, gx) -> greatest(ga, abs(gx))) AS amax_a",
        "qa, amax_a, na",
        "round(CAST(array_dot_q8(p.qa, i.q) AS DOUBLE) / " +
          "((127.0D / p.amax_a) * (127.0D / i.amax)) / (p.na * i.nrm), 6)")
      case _: Pq => (
        s""", transform(cbk, gy -> transform(gy.cs, gx ->
           |           round(aggregate(zip_with(
           |             slice(ea, gy.j * $sub + 1, $sub), gx.ce,
           |             (ga, gb) -> (ga - gb) * (ga - gb)),
           |             CAST(0.0 AS DOUBLE),
           |             (gacc, gz) -> gacc + gz), 6))) AS qtab""".stripMargin,
        ", (SELECT cbk FROM graft_ann_cbk) AS cbk", "qtab",
        "-pq_adc(i.codes, p.qtab)")
    }
    val scan = if (codec.refines) "graft_ann_sc" else "graft_ann_cand"
    val join =
      if (coarse) "graft_ann_probe p JOIN " + store +
        s" i ON i.cid = p.cid AND i.vid <> p.id_a${cidFilterSql("i", cids)}"
      else s"$store i JOIN graft_ann_qz p ON i.vid <> p.id_a"
    val ctes = Seq(
      Option.when(coarse)(
        s"graft_ann_cents AS (SELECT $CentsSql AS cs FROM ${store}_centroids)"),
      Option.when(codec.isInstanceOf[Pq])(
        s"""graft_ann_cbk AS (
           |  SELECT sort_array(collect_list(named_struct(
           |           'j', j, 'cs', cs))) AS cbk
           |  FROM (SELECT j, sort_array(collect_list(named_struct(
           |                 'c', c, 'ce', ce))) AS cs
           |        FROM ${store}_codebooks GROUP BY j))""".stripMargin),
      Some(s"""graft_ann_qz AS (
              |  SELECT id_a, ea, array_norm(ea) AS na$prep
              |  FROM (SELECT id_a, ea$inner
              |        FROM (SELECT vec_id AS id_a, transform(embedding,
              |                gx -> CAST(gx AS DOUBLE)) AS ea
              |              FROM $queries)))""".stripMargin),
      Option.when(coarse)(
        s"""graft_ann_probe AS (
           |  SELECT id_a, $carried, pcid AS cid
           |  FROM (SELECT *, (SELECT cs FROM graft_ann_cents) AS cents
           |        FROM graft_ann_qz)
           |  LATERAL VIEW ${probeRankSql(nprobe)} gp AS pcid)""".stripMargin),
      Some(s"""$scan AS (
              |  SELECT p.id_a, i.vid AS ann_id, $score AS score
              |  FROM $join)""".stripMargin),
      Option.when(codec.refines)(
        s"""graft_ann_sv AS (
           |  SELECT id_a, gp.id AS ann_id FROM (
           |    SELECT id_a, topk_pairs(score, ann_id, $rerank) AS tk
           |    FROM graft_ann_sc GROUP BY id_a)
           |  LATERAL VIEW explode(tk) gsv AS gp)""".stripMargin),
      Option.when(codec.refines)(
        s"""graft_ann_cand AS (
           |  SELECT sv.id_a, sv.ann_id,
           |         round(array_dot(qz.ea, vb.e) / (qz.na * vb.nrm), 6)
           |           AS score
           |  FROM graft_ann_sv sv
           |  JOIN graft_ann_qz qz ON qz.id_a = sv.id_a
           |  JOIN ${store}_vecs vb ON vb.vid = sv.ann_id)""".stripMargin))
    val tail =
      if (k == 1)
        """SELECT id_a, -gbest.nid AS ann_id, gbest.score AS score,
          |       1 AS rank
          |FROM (SELECT id_a, max(named_struct(
          |        'score', score, 'nid', -ann_id)) AS gbest
          |      FROM graft_ann_cand GROUP BY id_a))""".stripMargin
      else
        s"""SELECT id_a, gp.id AS ann_id, gp.score AS score,
           |       gpos + 1 AS rank
           |FROM (SELECT id_a, topk_pairs(score, ann_id, $k) AS tk
           |      FROM graft_ann_cand GROUP BY id_a)
           |LATERAL VIEW posexplode(tk) gtk AS gpos, gp)""".stripMargin
    ctes.flatten.mkString("(WITH ", ",\n", "\n") + tail
  }
}
