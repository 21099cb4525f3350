package graft.queries

import org.apache.spark.sql.functions._
import Q._
import Tables._

/** Streaming + temporal-join queries. st1 runs an actual Structured
  * Streaming query (file source → complete-mode memory sink) whose
  * result must hash-match the same DuckDB aggregate as the batch path
  * — streaming/batch equivalence, oracle-enforced. av1 is the as-of
  * (latest-event-at-or-before) temporal join, checked against DuckDB's
  * native ASOF JOIN.
  */
object StreamingQueries {

  /** Streaming hourly aggregate == batch ev1 (same oracle SQL).
    * BOUNDED state: append mode + watermark, full coverage restored by
    * a staged sentinel event that drives the final watermark past
    * every real window ([[graft.streaming.EventsStreaming
    * .hourlyAggStream]]) — the registry's last complete-mode
    * unbounded-driver-state pattern is gone.
    */
  val st1StreamHourly = Q(
    "st1_stream_hourly_agg",
    (s, d) => graft.streaming.EventsStreaming.hourlyAggStream(s, d),
    sql = Some(s"""
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
             event_type,
             COUNT(*) AS n_events,
             ${sqlDsum("value")} AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_ts, event_type"""))

  /** Shared oracle of the whole as-of family (av1 window formulation,
    * av2 custom operator, st20 streaming state): for each purchase
    * event, the user's latest click at-or-before it — last-touch
    * attribution. Events↔events, so matches genuinely interleave
    * (orders↔events, the r11 formulation, was VACUOUS: all orders are
    * dated 1995–2001 and all events 2024, so every row matched null
    * and the oracle passed trivially).
    */
  private val asofOracleSql = """
      SELECT p.event_id AS purchase_id, p.user_id,
             c.event_id AS last_click_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts <= p.ts
      ORDER BY purchase_id"""

  /** As-of join, composed-operator formulation: tag clicks/purchases,
    * union, one window pass per user ordered by time (clicks sort
    * before purchases on ties), carry the last click via
    * last(ignoreNulls) — a single shuffle on the join key, no range
    * explosion, no point-in-time self-join. DuckDB checks it with its
    * native ASOF LEFT JOIN; av2 runs the same semantics through the
    * custom merge operator.
    */
  val av1AsofJoin = Q(
    "av1_asof_join",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d)
      val clicks = e.filter(col("event_type") === "click").select(
        col("user_id"), col("ts").as("t_ns"), lit(0).as("is_purchase"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"))
      val purchases = e.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("t_ns"), lit(1).as("is_purchase"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_ns"), col("is_purchase"), col("click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("last_click_id", last(col("click_id"), true).over(w))
        .filter(col("is_purchase") === 1)
        .select(col("purchase_id"), col("user_id"), col("last_click_id"))
        .orderBy(col("purchase_id"))
    },
    sql = Some(asofOracleSql),
    bench = true)

  /** av1's exact semantics re-run through the engine's custom
    * WHOLE-OPERATOR as-of join ([[org.apache.spark.sql.graft.AsOfJoinExec]]:
    * logical node + planner strategy + co-partitioned co-sorted O(n+m)
    * merge walk, injected via GraftExtensions). Same DuckDB ASOF LEFT
    * JOIN oracle as av1, so the two formulations are mutually
    * cross-checked. Plan shape vs av1: no union, no window state — two
    * clustering exchanges then a streaming merge with O(1) per-partition
    * memory, the shape that survives per-key event counts that would
    * make av1's per-user window buffers spill.
    */
  val av2AsofExec = Q(
    "av2_asof_exec",
    (s, d) => {
      val e = events(s, d)
      // both sides derive from the same relation: alias EVERY right
      // column so the two subtrees' output attribute ids are disjoint
      // (the operator's documented self-join contract)
      val purchases = e.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("p_t_ns"),
        col("event_id").as("purchase_id"))
      val clicks = e.filter(col("event_type") === "click").select(
        col("user_id").as("c_user_id"), col("ts").as("c_t_ns"),
        col("event_id").as("click_id"))
      org.apache.spark.sql.graft.AsOfJoinOps.asofJoinBackward(
          purchases, clicks,
          Seq(col("user_id")), Seq(col("c_user_id")),
          col("p_t_ns"), col("c_t_ns"),
          // deterministic last-wins under equal ns timestamps — the
          // same tie order av1's window (t_ns, is_purchase, id) uses
          rightTieBreak = Seq(col("click_id")),
          // pin the shuffle-MERGE plan (the big-right-side shape) so
          // the plan gate is deterministic; av5 pins the broadcast plan
          broadcast = Some(false))
        .select(col("purchase_id"), col("user_id"),
          col("click_id").as("last_click_id"))
        .orderBy(col("purchase_id"))
    },
    sql = Some(asofOracleSql),
    bench = true)

  /** av2's semantics through the operator's SECOND physical plan:
    * broadcast as-of ([[org.apache.spark.sql.graft.BroadcastAsOfJoinExec]]
    * — the strategy's small-right-side choice, forced here for a
    * deterministic gate). The probe side is never shuffled and never
    * sorted: at 100 TB, a few MB of reference points enrich a petabyte
    * scan with zero exchange on the fact table. Same oracle as
    * av1/av2/st20.
    */
  val av5AsofBroadcast = Q(
    "av5_asof_broadcast",
    (s, d) => {
      val e = events(s, d)
      val purchases = e.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("p_t_ns"),
        col("event_id").as("purchase_id"))
      val clicks = e.filter(col("event_type") === "click").select(
        col("user_id").as("c_user_id"), col("ts").as("c_t_ns"),
        col("event_id").as("click_id"))
      org.apache.spark.sql.graft.AsOfJoinOps.asofJoinBackward(
          purchases, clicks,
          Seq(col("user_id")), Seq(col("c_user_id")),
          col("p_t_ns"), col("c_t_ns"),
          rightTieBreak = Seq(col("click_id")),
          broadcast = Some(true))
        .select(col("purchase_id"), col("user_id"),
          col("click_id").as("last_click_id"))
        .orderBy(col("purchase_id"))
    },
    sql = Some(asofOracleSql),
    bench = true)

  /** Toleranced as-of: the click must lie within ONE HOUR before the
    * purchase or the match nulls out — last-touch attribution with an
    * attribution window, the standard marketing-analytics contract.
    * Exercises the operator's tolerance path; oracle is
    * nearest-match-then-distance-check, equivalent because any
    * non-nearest match is strictly farther.
    */
  val av3AsofTolerance = Q(
    "av3_asof_tolerance",
    (s, d) => {
      val e = events(s, d)
      val purchases = e.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("p_t_ns"),
        col("event_id").as("purchase_id"))
      val clicks = e.filter(col("event_type") === "click").select(
        col("user_id").as("c_user_id"), col("ts").as("c_t_ns"),
        col("event_id").as("click_id"))
      org.apache.spark.sql.graft.AsOfJoinOps.asofJoinBackward(
          purchases, clicks,
          Seq(col("user_id")), Seq(col("c_user_id")),
          col("p_t_ns"), col("c_t_ns"),
          rightTieBreak = Seq(col("click_id")),
          tolerance = Some(3600L * 1000000000L))
        .select(col("purchase_id"),
          col("click_id").as("click_id_1h"),
          // gap in whole seconds (ns-exact INTEGER division — float
          // division would risk a one-ulp flip at second boundaries)
          expr("(p_t_ns - c_t_ns) DIV 1000000000").as("gap_s"))
        .orderBy(col("purchase_id"))
    },
    sql = Some("""
      SELECT p.event_id AS purchase_id,
             CASE WHEN c.ts IS NOT NULL
                   AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                  THEN c.event_id END AS click_id_1h,
             CASE WHEN c.ts IS NOT NULL
                   AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000
                  THEN CAST((epoch_us(p.ts) - epoch_us(c.ts))
                            // 1000000 AS BIGINT) END AS gap_s
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts <= p.ts
      ORDER BY purchase_id"""))

  /** Forward as-of through the same custom operator: each click's NEXT
    * purchase at-or-after it — the conversion-attribution direction.
    * Checked against DuckDB's forward ASOF (`p.ts >= c.ts`).
    */
  val av4AsofForward = Q(
    "av4_asof_forward",
    (s, d) => {
      val e = events(s, d)
      val clicks = e.filter(col("event_type") === "click").select(
        col("user_id"), col("ts").as("c_t_ns"),
        col("event_id").as("click_id"))
      val purchases = e.filter(col("event_type") === "purchase").select(
        col("user_id").as("p_user_id"), col("ts").as("p_t_ns"),
        col("event_id").as("purchase_id"))
      org.apache.spark.sql.graft.AsOfJoinOps.asofJoinForward(
          clicks, purchases,
          Seq(col("user_id")), Seq(col("p_user_id")),
          col("c_t_ns"), col("p_t_ns"),
          rightTieBreak = Seq(col("purchase_id")))
        .select(col("click_id"), col("user_id"),
          col("purchase_id").as("next_purchase_id"))
        .orderBy(col("click_id"))
    },
    sql = Some("""
      SELECT c.event_id AS click_id, c.user_id,
             p.event_id AS next_purchase_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts >= c.ts
      ORDER BY click_id"""))

  /** Build-once sorted-bucketed click/purchase tables for av6: both
    * sides bucketed on the join key with the same bucket count and
    * sorted by (key, time, id) within buckets — the standing-store
    * layout that lets the as-of operator run with NO exchange at all.
    */
  private def ensureAsOfStore(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = synchronized {
    val hex = Integer.toHexString(d.hashCode)
    val (tp, tc) = (s"av6_purchases_$hex", s"av6_clicks_$hex")
    if (!s.catalog.tableExists(tp)) {
      val e = events(s, d)
      def loc() = java.nio.file.Files.createTempDirectory("graft_av6").toString
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_t_ns"),
          col("event_id").as("purchase_id"))
        // 8 partitions == 8 buckets (same Murmur3 hash) → exactly one
        // file per bucket, which is the condition under which the
        // bucketed scan reports sorted output; sortBy carries the id
        // tie-break so the scan ordering satisfies the as-of operator's
        // requiredChildOrdering directly (no per-partition SortExec).
        .repartition(8, col("user_id"))
        .write.bucketBy(8, "user_id").sortBy("user_id", "p_t_ns", "purchase_id")
        .option("path", loc()).saveAsTable(tp)
      e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("ts").as("c_t_ns"),
          col("event_id").as("click_id"))
        .repartition(8, col("c_user_id"))
        .write.bucketBy(8, "c_user_id").sortBy("c_user_id", "c_t_ns", "click_id")
        .option("path", loc()).saveAsTable(tc)
    }
    (tp, tc)
  }

  /** av6: the custom as-of operator over STANDING sorted-bucketed
    * tables — both sides' bucketing satisfies the operator's clustering
    * requirement straight off disk, so the join runs with ZERO
    * exchanges (plan-gated; the only shuffle in the query is the
    * presentation ORDER BY). This is the production shape for a
    * standing point-in-time store: write once bucketed by key, answer
    * as-of queries forever without moving either table.
    */
  val av6AsofBucketed = Q(
    "av6_asof_bucketed",
    (s, d) => {
      val (tp, tc) = ensureAsOfStore(s, d)
      val purchases = s.table(tp)
      val clicks = s.table(tc)
      org.apache.spark.sql.graft.AsOfJoinOps.asofJoinBackward(
          purchases, clicks,
          Seq(col("user_id")), Seq(col("c_user_id")),
          col("p_t_ns"), col("c_t_ns"),
          rightTieBreak = Seq(col("click_id")),
          broadcast = Some(false))
        .select(col("purchase_id"), col("user_id"),
          col("click_id").as("last_click_id"))
        .orderBy(col("purchase_id"))
    },
    sql = Some(asofOracleSql),
    bench = true)

  /** The as-of join through pure SQL TEXT (av7): `spark.sql("... ASOF
    * LEFT JOIN ... ON k = k AND t <= t")` — the parser extension
    * ([[org.apache.spark.sql.graft.GraftSqlParser]]) rewrites the
    * dialect and [[org.apache.spark.sql.graft.ResolveAsOfJoin]] lands
    * it on the SAME AsOfJoin operator as av2/av5/av6 (plan-gated in
    * PlanQualitySpec). Same DuckDB ASOF LEFT JOIN oracle as the whole
    * family, so the SQL path is cross-checked against three other
    * formulations. DuckDB itself runs this syntax natively — SQL users
    * of the oracle engine can now run the same text here.
    */
  val av7AsofSql = Q(
    "av7_asof_sql",
    (s, d) => {
      events(s, d).createOrReplaceTempView("graft_asof_events")
      s.sql("""
        SELECT p.purchase_id, p.user_id, c.click_id AS last_click_id
        FROM (SELECT user_id, ts AS p_t_ns, event_id AS purchase_id
                FROM graft_asof_events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN
             (SELECT user_id AS c_user_id, ts AS c_t_ns,
                     event_id AS click_id
                FROM graft_asof_events WHERE event_type = 'click') c
          ON p.user_id = c.c_user_id AND p.p_t_ns >= c.c_t_ns
        ORDER BY p.purchase_id""")
    },
    sql = Some(asofOracleSql))

  /** INNER as-of through SQL (av8): plain `ASOF JOIN` drops purchases
    * with no prior click instead of null-padding them — DuckDB's
    * default ASOF semantics, realized here as the left-outer operator
    * plus a matched-only filter (a matched row always carries a
    * non-null right time). Forward-direction spelled `c.t <= p.t` from
    * the right side, exercising the operand-order normalization.
    */
  val av8AsofSqlInner = Q(
    "av8_asof_sql_inner",
    (s, d) => {
      events(s, d).createOrReplaceTempView("graft_asof_events")
      s.sql("""
        SELECT p.purchase_id, p.user_id, c.click_id AS last_click_id
        FROM (SELECT user_id, ts AS p_t_ns, event_id AS purchase_id
                FROM graft_asof_events WHERE event_type = 'purchase') p
        ASOF JOIN
             (SELECT user_id AS c_user_id, ts AS c_t_ns,
                     event_id AS click_id
                FROM graft_asof_events WHERE event_type = 'click') c
          ON p.user_id = c.c_user_id AND c.c_t_ns <= p.p_t_ns
        ORDER BY p.purchase_id""")
    },
    sql = Some("""
      SELECT p.event_id AS purchase_id, p.user_id,
             c.event_id AS last_click_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts <= p.ts
      ORDER BY purchase_id"""))

  /** Streaming as-of enrichment over the deterministic replay harness:
    * purchases answered from O(1)-per-user "latest click" keyed state
    * as they stream in. Third independent formulation of the same
    * semantics (av1 union+window, av2 custom merge operator), all
    * checked against one DuckDB ASOF LEFT JOIN oracle.
    */
  val st20AsofEnrich = Q(
    "st20_stream_asof",
    (s, d) => graft.streaming.EventsStreaming.asofEnrichStream(s, d),
    sql = Some(asofOracleSql))

  /** Stateful sessionization (30-min gap) through
    * flatMapGroupsWithState, verified against a completely different
    * algorithm in DuckDB (window-based session reconstruction:
    * break markers → running session ids → group). Money summed as
    * exact cents so both engines agree bit-for-bit.
    */
  val st2Sessionize = Q(
    "st2_sessionize",
    (s, d) => {
      import s.implicits._
      val ev = events(s, d).select(
        col("user_id"),
        expr("ts DIV 1000").as("t_us"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, Long)]
      graft.streaming.EventsStreaming.sessionize(ev, gapUs = 1800000000L)
        .toDF()
        .orderBy(col("user_id"), col("start_us"))
    },
    sql = Some("""
      WITH e AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
      marked AS (
        SELECT user_id, t, cents,
               CASE WHEN LAG(t) OVER w IS NULL
                      OR t - LAG(t) OVER w >= 1800000000 THEN 1
                    ELSE 0 END AS brk
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY t, cents)),
      numbered AS (
        SELECT user_id, t, cents,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY t, cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM marked)
      SELECT user_id, COUNT(*) AS n_events,
             MIN(t) AS start_us, MAX(t) AS end_us,
             CAST(SUM(cents) AS BIGINT) AS total_cents
      FROM numbered
      GROUP BY user_id, session_id
      ORDER BY user_id, start_us"""))

  /** Watermarked APPEND-mode streaming: only finalized hourly windows
    * (window end ≤ final watermark = max event time − 1h) are emitted —
    * the production shape of incremental ingest. The staging replays
    * ts-ascending slices one file per micro-batch (deterministic batch
    * order via explicit mod-times), so the emitted subset is exactly
    * SQL-expressible and the oracle mirrors the watermark predicate.
    */
  val st3AppendHourly = Q(
    "st3_append_hourly_agg",
    (s, d) => graft.streaming.EventsStreaming.hourlyAppendStream(s, d),
    sql = Some("""
      WITH e AS (
        SELECT CAST(epoch_us(ts) AS BIGINT) AS us, event_type
        FROM events),
      agg AS (
        SELECT (us // 3600000000) * 3600 AS hour_ts, event_type,
               COUNT(*) AS n_events
        FROM e GROUP BY 1, 2),
      wm AS (SELECT MAX(us) // 1000 - 3600000 AS wm_ms FROM e)
      SELECT hour_ts, event_type, n_events
      FROM agg, wm
      WHERE (hour_ts + 3600) * 1000 <= wm_ms
      ORDER BY hour_ts, event_type"""))

  /** Watermarked stream-stream inner join (click→purchase attribution
    * within 30 min, same user): two unbounded sides joined on key +
    * event-time range, watermarks bounding both join states. On the
    * deterministic replay harness nothing is late, so the emitted set
    * equals the batch join — which IS the oracle (micros precision on
    * both sides: Spark compares `ts DIV 1000`-derived timestamps,
    * DuckDB's parquet read truncates the ns column to micros).
    */
  val st4StreamJoin = Q(
    "st4_stream_stream_join",
    (s, d) => graft.streaming.EventsStreaming.clickPurchaseJoin(s, d),
    sql = Some("""
      SELECT c.user_id, CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
             p.value AS value
      FROM events c
      JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      ORDER BY c.user_id, click_us, purchase_us"""))

  /** st3's windows through the PRODUCTION sink: watermarked append
    * windows → parquet files with checkpoint (file-sink manifest =
    * exactly-once across restarts; `StreamingSpec` drives an actual
    * stop/resume), read back and checked against the same watermark
    * oracle as st3.
    */
  val st5FileSink = Q(
    "st5_file_sink_hourly_agg",
    (s, d) => graft.streaming.EventsStreaming.hourlyAppendFileSink(s, d),
    sql = st3AppendHourly.sql)

  /** Streaming exact dedup under at-least-once redelivery: every
    * event arrives twice, `dropDuplicatesWithinWatermark(event_id)`
    * (watermark-bounded state — the only dedup shape that survives an
    * unbounded stream) must restore exactly the original event set.
    * Oracle: per-type rollup of the events table itself.
    */
  val st6StreamDedup = Q(
    "st6_stream_dedup",
    (s, d) => graft.streaming.EventsStreaming.streamingDedup(s, d),
    sql = Some(s"""
      SELECT event_type, COUNT(*) AS n_events,
             ${sqlDsum("value")} AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** st2's sessionization as a REAL streaming query (st7): watermarked
    * `EventTimeTimeout` state through the deterministic replay harness.
    * Gap-closed sessions emit when the closing event arrives; each
    * user's final session emits only once the watermark (max event
    * time − 1h) passes its `end + 30 min` — quiet users' state closes
    * without end-of-input, the property an unbounded stream needs. The
    * oracle is st2's window-based session reconstruction PLUS the
    * watermark predicate: a user's last session is withheld iff
    * `end_ms + gap_ms >= wm_ms` (engine fires on strict `<`; no
    * exact-ms tie exists in the fixtures, checked at sf0.001/sf0.01).
    */
  val st7SessionizeStream = Q(
    "st7_stream_sessionize",
    (s, d) => graft.streaming.EventsStreaming.sessionizeAppendStream(s, d),
    sql = Some("""
      WITH e AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
      wm AS (SELECT MAX(t) // 1000 - 3600000 AS wm_ms FROM e),
      marked AS (
        SELECT user_id, t, cents,
               CASE WHEN LAG(t) OVER w IS NULL
                      OR t - LAG(t) OVER w >= 1800000000 THEN 1
                    ELSE 0 END AS brk
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY t, cents)),
      numbered AS (
        SELECT user_id, t, cents,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY t, cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM marked),
      sess AS (
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(t) AS start_us, MAX(t) AS end_us,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM numbered
        GROUP BY user_id, session_id),
      lastsess AS (
        SELECT user_id, MAX(session_id) AS msid FROM sess GROUP BY user_id)
      SELECT s.user_id, s.n_events, s.start_us, s.end_us, s.total_cents
      FROM sess s JOIN lastsess l ON s.user_id = l.user_id, wm
      WHERE NOT (s.session_id = l.msid
                 AND s.end_us // 1000 + 1800000 >= wm.wm_ms)
      ORDER BY s.user_id, s.start_us"""))

  /** STREAM-STATIC join (st8) — the join shape st4's stream-stream
    * case doesn't cover: a streaming event feed enriched per
    * micro-batch against the static customer dimension (broadcast — the
    * stream never shuffles for the dim; the join itself is stateless,
    * only the rollup holds state), rolled up per (segment, type).
    * Oracle = the same join/rollup as one batch SQL statement:
    * streaming/batch equivalence for the third join topology.
    */
  val st8StreamStaticJoin = Q(
    "st8_stream_static_join",
    (s, d) => graft.streaming.EventsStreaming.streamStaticJoin(s, d),
    sql = Some(s"""
      SELECT c.c_mktsegment, e.event_type,
             COUNT(*) AS n_events,
             ${sqlDsum("e.value")} AS total_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2
      ORDER BY c_mktsegment, event_type"""))

  /** LEFT OUTER stream-stream join (st9) — the semantics inner joins
    * don't exercise: unmatched clicks are emitted null-extended only
    * when the watermark proves no purchase can still arrive (left
    * state EVICTION, not match buffering — where outer-join state
    * bugs live). Deterministic via the empty-trailer replay; the
    * oracle is the batch left join plus the eviction predicate in ms
    * (the engine's watermark domain): a matchless click emits iff
    * `click_ms + 30min < wm_ms`, where wm = LEAST(max click ts, max
    * purchase ts) - 1h — the global watermark is the MIN across the
    * two sides' per-filter feeds. Tie-free on the fixtures (st7's
    * discipline); purchase_us NULLS FIRST pins cross-engine row order.
    */
  val st9StreamLeftJoin = Q(
    "st9_stream_left_join",
    (s, d) => graft.streaming.EventsStreaming.clickPurchaseLeftJoin(s, d),
    sql = Some("""
      WITH c AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS click_us, ts
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS purchase_us,
               ts, value
        FROM events WHERE event_type = 'purchase'),
      wm AS (
        SELECT LEAST((SELECT MAX(click_us) FROM c),
                     (SELECT MAX(purchase_us) FROM p)) // 1000
               - 3600000 AS wm_ms),
      matched AS (
        SELECT c.user_id, c.click_us, p.purchase_us, p.value
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
      unmatched AS (
        SELECT c.user_id, c.click_us,
               CAST(NULL AS BIGINT) AS purchase_us,
               CAST(NULL AS DOUBLE) AS value
        FROM c, wm
        WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
          AND (c.click_us + 1800000000) // 1000 < wm_ms)
      SELECT * FROM (SELECT * FROM matched
                     UNION ALL SELECT * FROM unmatched)
      ORDER BY user_id, click_us, purchase_us NULLS FIRST"""))

  /** ONLINE ingestion dedup (st10) — documents arrive as a stream and
    * dedup at ingestion: each micro-batch probes the stored LSH index
    * (dd11's bucket-aligned join), self-pairs within the batch, then
    * appends itself to the index so later batches see it
    * ([[graft.streaming.DocumentsStreaming.ingestDedupStream]]).
    * Probe-before-append finds each cross-batch pair exactly once; the
    * sink-side MAX-collapse makes the at-least-once `foreachBatch`
    * contract idempotent in the result. The oracle is dd10's SQL
    * VERBATIM — the third independent formulation (on-the-fly index,
    * stored index, streamed ingestion) that must agree row-for-row.
    */
  val st10IngestDedup = Q(
    "st10_stream_ingest_dedup",
    (s, d) => {
      val (newSnap, changedIds) = DedupQueries.snapshotDelta(s, d)
      graft.streaming.DocumentsStreaming.ingestDedupStream(
        s, Q.spread(newSnap), changedIds)
    },
    sql = DedupQueries.dd10IncrementalDedup.sql)

  /** SLIDING windows in append-mode streaming (st11) — the streaming
    * counterpart of ev14, the pairing st3 gives ev1: overlapping
    * 2h/1h windows finalize as the watermark passes each window END,
    * one slide apart. Oracle = ev14's arithmetic bucket covers
    * restricted by st3's finalization predicate.
    */
  val st11SlidingWindows = Q(
    "st11_sliding_window_agg",
    (s, d) => graft.streaming.EventsStreaming.slidingAppendStream(s, d),
    sql = Some(s"""
      WITH e AS (
        SELECT CAST(epoch_us(ts) AS BIGINT) AS us, event_type, value
        FROM events),
      agg AS (
        SELECT (us // 3600000000 - k.k) * 3600 AS win_start_s,
               event_type, COUNT(*) AS n_events,
               ${sqlDsum("value")} AS total_value
        FROM e, (SELECT unnest(range(0, 2)) AS k) k
        GROUP BY 1, 2),
      wm AS (SELECT MAX(us) // 1000 - 3600000 AS wm_ms FROM e)
      SELECT win_start_s, event_type, n_events, total_value
      FROM agg, wm
      WHERE (win_start_s + 7200) * 1000 <= wm_ms
      ORDER BY win_start_s, event_type"""))

  /** Custom aggregate kernel in STREAMING state (st12) — q26's
    * `topk_values` under complete-mode streaming: the kernel's opaque
    * heap buffer must survive state-store serialize/deserialize
    * between micro-batches. Oracle = the batch rank-window derivation.
    */
  val st12StreamTopk = Q(
    "st12_stream_topk",
    (s, d) => graft.streaming.EventsStreaming.topkCompleteStream(s, d),
    sql = Some("""
      WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC) AS r
        FROM events)
      SELECT event_type,
             MAX(CASE WHEN r = 1 THEN value END) AS top1,
             MAX(CASE WHEN r = 2 THEN value END) AS top2,
             MAX(CASE WHEN r = 3 THEN value END) AS top3,
             COUNT(*) AS n_events
      FROM ranked
      GROUP BY event_type
      ORDER BY event_type"""))

  /** MG sketch kernel in STREAMING state (st13) — tx32's
    * `heavy_hitters` under complete-mode streaming: the counter-map
    * buffer must survive state-store serialize/deserialize between
    * micro-batches. The streamed sketch only generates candidates;
    * the exact batch recount makes the result slice-order-independent
    * (see [[graft.streaming.DocumentsStreaming.heavyHittersStream]]),
    * so the oracle is the same direct computation as tx32's.
    */
  val st13StreamHeavyHitters = Q(
    "st13_stream_heavy_hitters",
    (s, d) => graft.streaming.DocumentsStreaming.heavyHittersStream(s, d),
    sql = Some("""
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        FROM documents),
      n AS (SELECT COUNT(*) AS n_total FROM tok),
      c AS (SELECT term, COUNT(*) AS n_term FROM tok GROUP BY 1)
      SELECT c.term, c.n_term, n.n_total
      FROM c CROSS JOIN n
      WHERE c.n_term * 30 > n.n_total
      ORDER BY c.n_term DESC, c.term"""))

  /** Streaming KMV distinct (st21): q30's sketch kernel running in
    * streaming aggregation STATE — daily distinct-user estimates
    * maintained incrementally, O(k) state per day. Same estimator
    * definition as the oracle recomputes from raw data, proving the
    * kernel is arrival-order independent (set semantics) across
    * micro-batches.
    */
  val st21KmvDistinct = Q(
    "st21_stream_kmv_distinct",
    (s, d) => graft.streaming.EventsStreaming.kmvDistinctStream(s, d),
    sql = Some("""
      WITH e AS (
        SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
               CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 13))
                 AS BIGINT) AS h
        FROM events),
      dv AS (SELECT DISTINCT d, h FROM e),
      r AS (
        SELECT d, h,
               row_number() OVER (PARTITION BY d ORDER BY h) AS rn,
               COUNT(*) OVER (PARTITION BY d) AS nd
        FROM dv)
      SELECT d,
             CASE WHEN MAX(nd) < 64 THEN MAX(nd)
                  ELSE CAST(FLOOR(CAST(63 AS DOUBLE)
                         * 4503599627370496.0
                         / CAST(MAX(CASE WHEN rn = 64 THEN h END)
                                AS DOUBLE)) AS BIGINT)
             END AS est_users
      FROM r GROUP BY d ORDER BY d"""))

  /** Streaming quantiles (st24): the bottom-k sample kernel
    * (q33/q34) running in streaming aggregation state — daily
    * median/p90 of `value` maintained incrementally, O(k) state per
    * day, never buffering a day's values. Deterministic sample
    * content (k smallest md5 hashes, MIN value on a duplicate hash)
    * means the oracle recomputes the identical estimates from raw
    * data — arrival order across micro-batches cannot show.
    */
  val st24BkQuantile = Q(
    "st24_stream_bk_quantile",
    (s, d) => graft.streaming.EventsStreaming.bkQuantileStream(s, d),
    sql = Some("""
      WITH s AS (
        SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
               CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 13))
                 AS BIGINT) AS h,
               CAST(ROUND(value * 100) AS BIGINT) AS x
        FROM events),
      dd AS (SELECT d, h, MIN(x) AS x FROM s GROUP BY 1, 2),
      r AS (
        SELECT d, x,
               row_number() OVER (PARTITION BY d ORDER BY h) AS rn
        FROM dd),
      keep AS (SELECT d, x FROM r WHERE rn <= 256),
      m AS (SELECT d, COUNT(*) AS msz FROM keep GROUP BY 1),
      rv AS (
        SELECT d, x,
               row_number() OVER (PARTITION BY d ORDER BY x) AS vr
        FROM keep)
      SELECT rv.d,
             MAX(CASE WHEN vr = CAST(FLOOR((msz - 1)
               * CAST(0.5 AS DOUBLE)) AS BIGINT) + 1 THEN x END)
               AS est_median_cents,
             MAX(CASE WHEN vr = CAST(FLOOR((msz - 1)
               * CAST(0.9 AS DOUBLE)) AS BIGINT) + 1 THEN x END)
               AS est_p90_cents
      FROM rv JOIN m ON rv.d = m.d
      GROUP BY rv.d ORDER BY rv.d"""))

  /** Streaming count-min frequencies (st25): the q37/q38 kernel's
    * third lifecycle — daily per-key frequency sketches maintained in
    * streaming aggregation STATE (24 KB/day checkpointed, element-wise
    * exact merge across micro-batches), probed for fixed user ids.
    * The oracle rebuilds each day's counter matrix from raw events
    * with the same Carter–Wegman constants over a complete
    * (day × probe × row) grid — absent counters are true zeros, which
    * is exactly what the kernel's min sees — so the estimates match
    * bit-for-bit regardless of slice arrival order.
    */
  val st25CmsFreq = Q(
    "st25_stream_cms_freq",
    (s, d) => graft.streaming.EventsStreaming.cmsFreqStream(s, d),
    sql = Some("""
      WITH e AS (
        SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
               CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 13))
                 AS BIGINT) AS h
        FROM events),
      js AS (SELECT unnest([0, 1, 2]) AS j),
      bk AS (
        SELECT e.d, js.j,
               ((e.h * CASE js.j WHEN 0 THEN 641 WHEN 1 THEN 1097
                       ELSE 2039 END
                 + CASE js.j WHEN 0 THEN 31 WHEN 1 THEN 277
                   ELSE 1013 END)
                % 2305843009213693951) % 1024 AS b,
               COUNT(*) AS c
        FROM e CROSS JOIN js GROUP BY 1, 2, 3),
      ph AS (
        SELECT u, CAST(('0x' || substr(md5(u), 1, 13)) AS BIGINT) AS h
        FROM (SELECT unnest(['1', '2', '3']) AS u)),
      grid AS (
        SELECT dd.d, ph.u, js.j,
               ((ph.h * CASE js.j WHEN 0 THEN 641 WHEN 1 THEN 1097
                        ELSE 2039 END
                 + CASE js.j WHEN 0 THEN 31 WHEN 1 THEN 277
                   ELSE 1013 END)
                % 2305843009213693951) % 1024 AS b
        FROM (SELECT DISTINCT d FROM e) dd CROSS JOIN ph CROSS JOIN js),
      est AS (
        SELECT g.d, g.u, MIN(COALESCE(bk.c, 0)) AS est
        FROM grid g LEFT JOIN bk
          ON bk.d = g.d AND bk.j = g.j AND bk.b = g.b
        GROUP BY 1, 2)
      SELECT d,
             MAX(CASE WHEN u = '1' THEN est END) AS est_events_u1,
             MAX(CASE WHEN u = '2' THEN est END) AS est_events_u2,
             MAX(CASE WHEN u = '3' THEN est END) AS est_events_u3
      FROM est GROUP BY d ORDER BY d"""))

  /** Online repeated-span census (st14) — tx34's cross-document
    * window detection at ingestion time
    * ([[graft.streaming.DocumentsStreaming.spanCensusStream]]). The
    * oracle re-derives the slice staging arithmetic (the same
    * integer-division bounds `stageIdSlices` writes) and counts, per
    * doc, the windows whose hash occurs in any STRICTLY-EARLIER
    * slice — probe-before-append means within-batch repeats are
    * invisible by contract, and the oracle encodes exactly that.
    */
  val st14SpanCensus = Q(
    "st14_stream_span_census",
    (s, d) => graft.streaming.DocumentsStreaming.spanCensusStream(s, d),
    sql = Some("""
      WITH d AS (SELECT doc_id, text FROM documents),
      b AS (SELECT MIN(doc_id) AS idmin,
                   MAX(doc_id) - MIN(doc_id) + 1 AS span FROM d),
      sl AS (SELECT unnest(range(0, 4)) AS i),
      sliced AS (
        SELECT d.doc_id, d.text, sl.i AS slice
        FROM d, b, sl
        WHERE d.doc_id >= b.idmin + (b.span * sl.i) // 4
          AND d.doc_id <  b.idmin + (b.span * (sl.i + 1)) // 4),
      t AS (
        SELECT doc_id, slice,
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                 s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
                   % 2147483647) AS th
        FROM sliced),
      r AS (
        SELECT doc_id, slice,
               CASE WHEN len(th) >= 8 THEN
                 list_transform(range(1, len(th) - 8 + 2),
                   i -> list_reduce(th[i : i + 7],
                     (a, b) -> (a * 1000003 + b) % 2147483647))
               ELSE [] END AS rh
        FROM t),
      w AS (SELECT doc_id, slice, unnest(rh) AS h FROM r),
      seen AS (SELECT DISTINCT h, slice FROM w),
      pr AS (
        SELECT w.doc_id, COUNT(*) AS n_prior_repeated
        FROM w
        WHERE EXISTS (SELECT 1 FROM seen s
                      WHERE s.h = w.h AND s.slice < w.slice)
        GROUP BY w.doc_id),
      res AS (
        SELECT r.doc_id, CAST(len(rh) AS INT) AS n_windows,
               COALESCE(pr.n_prior_repeated, 0) AS n_prior_repeated
        FROM r LEFT JOIN pr USING (doc_id))
      SELECT doc_id, n_windows, n_prior_repeated
      FROM res
      ORDER BY doc_id"""))

  /** ONLINE ANN index ingestion (st15) — vectors arrive as a stream
    * and fold into the STORED IVF index micro-batch by micro-batch
    * against the frozen quantizer; after the stream drains, the
    * full-corpus probe of the incrementally-built index must equal
    * the one-shot sim4/sim7 answer — so the oracle is sim4's SQL
    * verbatim (three independent index constructions, one answer).
    */
  val st15IvfIngest = Q(
    "st15_stream_ivf_ingest",
    (s, d) => graft.streaming.VectorStreaming.ivfIngestStream(s,
      embeddings(s, d), dims = 64, k = 16, nprobe = 3, slices = 4),
    sql = SimilarityQueries.sim4IvfAnn.sql)

  /** Streamed ANN serving (st16) — the retrieval half of st15's
    * online-ANN story: query vectors arrive as a stream and probe the
    * STORED index per micro-batch (sim7's bucket-aligned probe plan
    * at batch scale); union over batches = sim7's one-shot answer, so
    * the oracle is again sim4's SQL.
    */
  val st16AnnServe = Q(
    "st16_stream_ann_serve",
    (s, d) => graft.streaming.VectorStreaming.annServeStream(s,
      embeddings(s, d), dims = 64, k = 16, nprobe = 3, slices = 4),
    sql = SimilarityQueries.sim4IvfAnn.sql)

  /** ONLINE CORPUS INTAKE (st17) — the complete ingestion pipeline as
    * one streaming query: PERMISSIVE JSONL parse with corrupt-record
    * channel, quality gate, within-batch keep-first + census
    * probe-before-append exact dedup, per-source channel audit. The
    * staging injects deterministic content-duplicates and severed
    * lines, so every channel is exercised and the oracle states the
    * exact per-source census (winner of each text = smallest
    * qualifying staged id; a duplicate of a CORRUPT original is
    * itself intact and rightfully becomes the keeper).
    */
  val st17CorpusIntake = Q(
    "st17_stream_corpus_intake",
    (s, d) => graft.streaming.CorpusStreaming.intakeStream(s, d),
    sql = Some("""
      WITH staged AS (
        SELECT doc_id, text, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 10000019, text, source, n_chars
        FROM documents WHERE doc_id % 40 = 1),
      b AS (
        SELECT doc_id, source, n_chars, md5(text) AS h,
               doc_id % 50 = 0 AS corrupt
        FROM staged),
      w AS (
        SELECT h, MIN(doc_id) AS keep_id
        FROM b WHERE NOT corrupt AND n_chars >= 100
        GROUP BY h),
      g AS (
        SELECT CASE WHEN b.corrupt THEN NULL ELSE b.source END AS source,
               CASE WHEN b.corrupt THEN 1 ELSE 0 END AS c_cor,
               CASE WHEN NOT b.corrupt AND b.n_chars < 100
                    THEN 1 ELSE 0 END AS c_low,
               CASE WHEN NOT b.corrupt AND b.n_chars >= 100
                         AND b.doc_id <> w.keep_id
                    THEN 1 ELSE 0 END AS c_dup,
               CASE WHEN NOT b.corrupt AND b.n_chars >= 100
                         AND b.doc_id = w.keep_id
                    THEN 1 ELSE 0 END AS c_ing
        FROM b LEFT JOIN w USING (h))
      SELECT source, COUNT(*) AS n_seen,
             CAST(SUM(c_cor) AS BIGINT) AS n_corrupt,
             CAST(SUM(c_low) AS BIGINT) AS n_lowq,
             CAST(SUM(c_dup) AS BIGINT) AS n_dup,
             CAST(SUM(c_ing) AS BIGINT) AS n_ingested
      FROM g
      GROUP BY source
      ORDER BY source NULLS FIRST"""))

  /** Built-in `session_window` sessionization (st18) — the state-store
    * merged-window mechanism next to st7's custom
    * flatMapGroupsWithState state: every merged session emits when the
    * watermark passes its end (last event + gap). Oracle = st2's batch
    * reconstruction with exactly that per-session watermark predicate.
    */
  val st18SessionWindow = Q(
    "st18_session_window_stream",
    (s, d) => graft.streaming.EventsStreaming.sessionWindowAppendStream(s, d),
    sql = Some("""
      WITH e AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
      wm AS (SELECT MAX(t) // 1000 - 3600000 AS wm_ms FROM e),
      marked AS (
        SELECT user_id, t, cents,
               CASE WHEN LAG(t) OVER w IS NULL
                      OR t - LAG(t) OVER w >= 1800000000 THEN 1
                    ELSE 0 END AS brk
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY t, cents)),
      numbered AS (
        SELECT user_id, t, cents,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY t, cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM marked),
      sess AS (
        SELECT user_id, COUNT(*) AS n_events,
               MIN(t) AS start_us, MAX(t) + 1800000000 AS wend_us,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM numbered
        GROUP BY user_id, session_id)
      SELECT user_id, start_us, wend_us, n_events, total_cents
      FROM sess, wm
      WHERE wend_us // 1000 <= wm.wm_ms
      ORDER BY user_id, start_us"""))

  private val st19Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "vector", "hash", "window"),
    2L -> Seq("table", "scan", "merge"),
    3L -> Seq("slow", "filter", "customer"))

  private def bm25QueryCtes(qid: Long, terms: Seq[String]): String = {
    val in = terms.map(t => s"'$t'").mkString(", ")
    s"""
      p$qid AS (
        SELECT term, doc_id, COUNT(*) AS tf FROM tok
        WHERE term IN ($in) GROUP BY term, doc_id),
      dft$qid AS (SELECT term, COUNT(*) AS df FROM p$qid GROUP BY term),
      sc$qid AS (
        SELECT p$qid.doc_id,
               ROUND(ln((meta.n - CAST(dft$qid.df AS DOUBLE) + 0.5) /
                        (CAST(dft$qid.df AS DOUBLE) + 0.5) + 1.0) *
                     (CAST(p$qid.tf AS DOUBLE) * 2.2) /
                     (CAST(p$qid.tf AS DOUBLE) + 1.2 *
                       (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
                         (meta.tot / meta.n)))), 6) AS s
        FROM p$qid
        JOIN dft$qid USING (term)
        JOIN dl USING (doc_id), meta),
      r$qid AS (
        SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
               CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM sc$qid GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10)"""
  }

  /** Streamed BM25 serving (st19) — online LEXICAL retrieval against
    * the stored posting-list index (st16's serving discipline applied
    * to text): each micro-batch is one ranked query answered off the
    * immutable index; the oracle recomputes every query's full BM25
    * pipeline from the raw table and unions the ranked answers.
    */
  val st19Bm25Serve = Q(
    "st19_stream_bm25_serve",
    (s, d) => graft.streaming.CorpusStreaming.bm25ServeStream(s,
      TextQueries.ensureTextIndex(s, d), st19Queries, topK = 10),
    sql = Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+'))
                 AS term
        FROM documents),
      meta AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n,
               CAST(COUNT(*) AS DOUBLE) AS tot
        FROM tok),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      ${st19Queries.map { case (q, t) => bm25QueryCtes(q, t) }
        .mkString(",")}
      SELECT query_id, doc_id, score FROM (
        ${st19Queries.map { case (q, _) => s"SELECT * FROM r$q" }
          .mkString(" UNION ALL ")})
      ORDER BY query_id, doc_id"""))

  /** CONTINUOUS index maintenance (st22) — the changelog arrives as a
    * STREAM and keeps the standing merge-on-read exact-dedup index
    * fresh ([[graft.streaming.DocumentsStreaming
    * .indexMaintenanceStream]]): per micro-batch, tombstones + delta
    * rows append (changelog-scale; no batch rewrites the generation),
    * and the nightly packed run reads the serving view exactly as
    * pl6 does. Oracle = pl3/pl6's full DuckDB rebuild over the
    * post-changelog corpus — the third maintenance lifecycle (batch
    * copy-on-write, batch merge-on-read, STREAMED merge-on-read) that
    * must land on the identical packed output. Replay safety (the
    * at-least-once `foreachBatch` contract) is the MoR seq rule:
    * GraftPipelineSpec proves a re-delivered batch leaves the served
    * index unchanged.
    */
  val st22IndexMaintenance = Q(
    "st22_stream_index_maintenance",
    (s, d) => {
      import graft.operators.GraftPipeline
      val t = s"st22_exidx_${Integer.toHexString(d.hashCode)}"
      val base = documents(s, d)
        .filter(length(col("text")) >= 100)
        .select(col("doc_id"), col("text"))
      GraftPipeline.buildExactIndexMor(base, "doc_id", "text", t)
      val (upserts, deleteIds) = DedupQueries.indexChangelog(s, d)
      val changelog = deleteIds
        .select(col("doc_id"), lit("delete").as("op"),
          lit(null).cast("string").as("text"))
        .unionByName(upserts.filter(length(col("text")) >= 100)
          .select(col("doc_id"), lit("upsert").as("op"), col("text")))
      graft.streaming.DocumentsStreaming.indexMaintenanceStream(
        s, t, changelog)
      val newCorpus = documents(s, d)
        .filter(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" upd")))
            .otherwise(col("text")).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      GraftPipeline.runIncremental(s, t, newCorpus, "doc_id", "text",
          GraftPipeline.Config(minChars = 100, exactDedup = true))
        .orderBy(col("shard"), col("pos"))
    },
    sql = Some(PipelineQueries.exactIncrementalOracleSql))

  /** st23 — st22 for the NEAR-dedup store pair: the changelog stream
    * keeps the LSH band index AND the verified-pair store fresh
    * ([[graft.streaming.DocumentsStreaming
    * .nearIndexMaintenanceStream]]): per batch, tombstones both
    * stores, appends the delta's band rows, probes the LIVE index for
    * surviving pairs (within-batch pairs included — the batch is
    * rebound to the probing session so its own appends are visible),
    * appends those. Oracle = pl4/pl5's full near-dedup rebuild — the
    * streamed MoR lifecycle must land on the identical packed output.
    */
  val st23NearIndexMaintenance = Q(
    "st23_stream_near_maintenance",
    (s, d) => {
      import graft.operators.GraftPipeline
      val hex = Integer.toHexString(d.hashCode)
      val (lsh, pairs) = (s"st23_lsh_$hex", s"st23_pairs_$hex")
      val cfg = GraftPipeline.Config(minChars = 100, nearDedup = true)
      val base = Q.spread(documents(s, d))
        .filter(length(col("text")) >= 100)
        .select(col("doc_id"), col("text"))
      GraftPipeline.buildNearIndexesMor(base, "doc_id", "text", lsh,
        pairs, cfg)
      val (upserts, deleteIds) = DedupQueries.indexChangelog(s, d)
      val changelog = deleteIds
        .select(col("doc_id"), lit("delete").as("op"),
          lit(null).cast("string").as("text"))
        .unionByName(upserts.filter(length(col("text")) >= 100)
          .select(col("doc_id"), lit("upsert").as("op"), col("text")))
      graft.streaming.DocumentsStreaming.nearIndexMaintenanceStream(
        s, lsh, pairs, changelog, cfg)
      val newCorpus = documents(s, d)
        .filter(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" upd")))
            .otherwise(col("text")).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      GraftPipeline.runIncrementalNear(s, pairs, newCorpus, "doc_id",
          "text", cfg)
        .orderBy(col("shard"), col("pos"))
    },
    sql = Some(PipelineQueries.nearIncrementalOracleSql))

  /** CONTINUOUS key-stats maintenance (st26): lineitem arrives as an
    * append stream into a standing table whose
    * [[graft.operators.SketchStats]] fold in each micro-batch
    * delta-only ([[graft.streaming.DocumentsStreaming
    * .statsMaintenanceStream]] — counter matrices are linear, so the
    * maintained sketch is byte-equal to a from-scratch rescan, and the
    * batch-id guard makes replayed batches a no-op). The output is the
    * PLANNING answer the stats exist for: the orders⋈lineitem join
    * cardinality estimated from the two stored sketches, plus the
    * maintained row count — and the oracle recomputes BOTH from raw
    * data (q38's BIGINT counter rebuild), so a drifted stream-side
    * sketch hash-mismatches. Completes the stats lifecycle: analyze
    * once (q40's build), maintain by delta (batch: SketchJoinRuleSpec;
    * STREAM: here), plan from bytes (SketchJoinRule).
    */
  val st26KstatsMaintenance = Q(
    "st26_stream_kstats_maintenance",
    (s, d) => {
      import graft.operators.SketchStats
      val hex = Integer.toHexString(d.hashCode)
      val (ta, tb) = (s"st26_orders_$hex", s"st26_li_$hex")
      if (!s.catalog.tableExists(tb)) synchronized {
        def loc() = java.nio.file.Files
          .createTempDirectory("graft_st26").toString
        orders(s, d).select(col("o_orderkey"))
          .write.option("path", loc()).saveAsTable(ta)
        SketchStats.analyzeKey(s, ta, "o_orderkey")
        lineitem(s, d).select(col("l_orderkey")).limit(0)
          .write.option("path", loc()).saveAsTable(tb)
        SketchStats.analyzeKey(s, tb, "l_orderkey")
        graft.streaming.DocumentsStreaming.statsMaintenanceStream(
          s, tb, lineitem(s, d).select(col("l_orderkey")), "l_orderkey")
      }
      val a = SketchStats.read(s, ta).get
      val b = SketchStats.read(s, tb).get
      import s.implicits._
      Seq((SketchStats.estimateJoinRows(a, b), b.nRows))
        .toDF("est_join_size", "n_li_rows")
    },
    sql = Some("""
      WITH ha AS (
        SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                     1, 13)) AS BIGINT) AS h
        FROM orders),
      hb AS (
        SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),
                     1, 13)) AS BIGINT) AS h
        FROM lineitem),
      js AS (SELECT unnest([0, 1, 2]) AS j),
      ca AS (
        SELECT js.j,
               ((ha.h * CASE js.j WHEN 0 THEN 641 WHEN 1 THEN 1097
                        ELSE 2039 END
                 + CASE js.j WHEN 0 THEN 31 WHEN 1 THEN 277
                   ELSE 1013 END)
                % 2305843009213693951) % 1024 AS b,
               COUNT(*) AS c
        FROM ha CROSS JOIN js GROUP BY 1, 2),
      cb AS (
        SELECT js.j,
               ((hb.h * CASE js.j WHEN 0 THEN 641 WHEN 1 THEN 1097
                        ELSE 2039 END
                 + CASE js.j WHEN 0 THEN 31 WHEN 1 THEN 277
                   ELSE 1013 END)
                % 2305843009213693951) % 1024 AS b,
               COUNT(*) AS c
        FROM hb CROSS JOIN js GROUP BY 1, 2),
      ip AS (
        SELECT ca.j, CAST(SUM(ca.c * cb.c) AS BIGINT) AS s
        FROM ca JOIN cb ON ca.j = cb.j AND ca.b = cb.b
        GROUP BY ca.j)
      SELECT (SELECT MIN(s) FROM ip) AS est_join_size,
             (SELECT COUNT(*) FROM lineitem) AS n_li_rows"""))

  /** Streamed DELETE maintenance of the MoR vector index, SERVED BY
    * SQL (st27): the delete changelog drains as a checkpointed stream
    * of tombstone appends ([[graft.streaming.VectorStreaming
    * .ivfMorDeleteStream]]), and the survivors' top-1 answers through
    * the `GRAFT_ANN` parse-time macro — the full online-ANN loop
    * (index once, delete by stream, serve as SQL text) in one query.
    * Same final state as sim11, so sim11's from-scratch oracle
    * verbatim: no tombstoned vector may surface, every survivor's
    * neighbor is recomputed from raw data.
    */
  val st27MorDeleteSqlServe = Q(
    "st27_stream_ivf_mor_delete_sql_serve",
    (s, d) => {
      val deletes = embeddings(s, d).filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("vid"))
      graft.streaming.VectorStreaming.ivfMorDeleteStream(s,
        embeddings(s, d), deletes, dims = 64, k = 16, nprobe = 3)
    },
    sql = SimilarityQueries.sim11IvfMorDeletes.sql)

  /** Streamed BATCH lexical serving (st28): query BATCHES arrive as
    * micro-batches and each is answered by ONE table-driven
    * `GRAFT_BM25` statement off the stored postings index
    * ([[graft.streaming.CorpusStreaming.bm25BatchServeStream]]) —
    * st19's serving loop without its per-query driver collect: query
    * text stays executor-side through the macro's lateral-explode +
    * bucketed-term join, so a micro-batch of any width is one
    * postings pass (the 18-32× batch-vs-loop gap measured in
    * BENCH_SCALE.md r17 applies per micro-batch). Checkpointed file
    * offsets are the serving log; replay re-appends identical rows.
    * Oracle: the full batch recompute over the union of all streamed
    * batches (batching is an execution detail — per-query answers
    * must not depend on which micro-batch carried the query).
    */
  val st28Bm25BatchServe = Q(
    "st28_stream_bm25_batch_serve",
    (s, d) => graft.streaming.CorpusStreaming.bm25BatchServeStream(s,
      TextQueries.ensureTextIndex(s, d),
      Seq(Seq((1L, "spark vector"), (2L, "hash window")),
          Seq((3L, "window vector data"), (4L, "spark hash"))),
      topK = 5),
    sql = Some(s"""
      WITH qs(query_id, terms) AS (
        VALUES (CAST(1 AS BIGINT), 'spark vector'),
               (CAST(2 AS BIGINT), 'hash window'),
               (CAST(3 AS BIGINT), 'window vector data'),
               (CAST(4 AS BIGINT), 'spark hash')),
      qt AS (
        SELECT DISTINCT query_id,
               unnest(regexp_split_to_array(trim(terms), ' +')) AS term
        FROM qs),
      qtd AS (SELECT query_id, term FROM qt WHERE term <> ''),
      tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+'))
                 AS term
        FROM documents),
      meta AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n,
               CAST(COUNT(*) AS DOUBLE) AS tot
        FROM tok),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      p AS (
        SELECT term, doc_id, COUNT(*) AS tf
        FROM tok
        WHERE term IN (SELECT term FROM qtd)
        GROUP BY term, doc_id),
      cand AS (
        SELECT q.query_id, p.term, p.doc_id, p.tf
        FROM p JOIN qtd q ON p.term = q.term),
      dft AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df
        FROM cand GROUP BY term),
      sc AS (
        SELECT c.query_id, c.doc_id,
               ROUND(ln((meta.n - CAST(dft.df AS DOUBLE) + 0.5) /
                        (CAST(dft.df AS DOUBLE) + 0.5) + 1.0) *
                     (CAST(c.tf AS DOUBLE) * 2.2) /
                     (CAST(c.tf AS DOUBLE) + 1.2 *
                       (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
                         (meta.tot / meta.n)))), 6) AS s
        FROM cand c
        JOIN dft ON c.term = dft.term
        JOIN dl ON c.doc_id = dl.doc_id, meta),
      agg AS (
        SELECT query_id, doc_id, ${Q.sqlDsum("s")} AS score
        FROM sc GROUP BY query_id, doc_id),
      rk AS (
        SELECT query_id, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank
        FROM agg)
      SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank
      FROM rk WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Streamed QUANTIZED serving (st29) — tier parity for IVF-PQ:
    * query vectors arrive as a stream and each micro-batch probes the
    * stored code lists through the `GRAFT_ANN` 5-arg macro (probed-
    * list ADC scan + bounded survivors + exact re-rank, expanded at
    * parse time PER BATCH on the stream's cloned session). Probing
    * never mutates the store, so batches are independent and replay
    * re-appends identical rows. With rerank covering every probed
    * candidate the union over batches equals the float IVF probe —
    * sim4's oracle, the fourth independent serving construction
    * (batch API → stored API → SQL → streamed SQL) over one
    * semantics.
    */
  val st29IvfPqSqlServe = Q(
    "st29_stream_ivfpq_sql_serve",
    (s, d) => graft.streaming.VectorStreaming.ivfPqServeStream(s,
      embeddings(s, d), dims = 64, m = 4, codes = 16, k = 16,
      nprobe = 3, rerank = 4096, slices = 4),
    sql = SimilarityQueries.sim4IvfAnn.sql)

  /** Streamed QUANTIZED index ingestion (st30) — st15's online-ANN
    * indexing half on the IVF-PQ tier: vectors stream into the stored
    * code lists against BOTH frozen quantizers (coarse assignment +
    * PQ encoding per micro-batch, `_vecs` kept in step for the
    * refine). Low-id base ⇒ the frozen quantizers equal the one-shot
    * build's, so the drained index probes to the float IVF answer —
    * sim4's oracle verbatim, the fourth independent construction of
    * that answer (one-shot float, stored float, streamed float,
    * streamed IVF-PQ).
    */
  val st30IvfPqIngest = Q(
    "st30_stream_ivfpq_ingest",
    (s, d) => graft.streaming.VectorStreaming.ivfPqIngestStream(s,
      embeddings(s, d), dims = 64, m = 4, codes = 16, k = 16,
      nprobe = 3, rerank = 4096, slices = 4),
    sql = SimilarityQueries.sim4IvfAnn.sql)

  /** Streamed MoR delta-ADD (st31) — st30's ingestion through the
    * MERGE-ON-READ maintenance path instead of plain appends: every
    * micro-batch lands via `IvfStore.morAppend` (frozen-quantizer
    * encode, `_vecs`-first crash ordering, `_seq`-stamped rows), so
    * the store keeps serving — tombstones, time travel, versioned
    * view — between batches. Low-id base ⇒ frozen quantizers equal
    * the one-shot build's; with rerank covering every probed
    * candidate the drained store's SQL probe equals the float IVF
    * answer — sim4's oracle, the fifth independent construction of
    * that answer (one-shot, stored, streamed-plain, batch-MoR,
    * streamed-MoR).
    */
  val st31IvfPqMorAppend = Q(
    "st31_stream_ivfpq_mor_append",
    (s, d) => graft.streaming.VectorStreaming.ivfPqMorAppendStream(s,
      embeddings(s, d), dims = 64, m = 4, codes = 16, k = 16,
      nprobe = 3, rerank = 4096, slices = 4),
    sql = SimilarityQueries.sim4IvfAnn.sql)

  val all: Seq[Q] = Seq(st1StreamHourly, av1AsofJoin, av2AsofExec,
    av3AsofTolerance, av4AsofForward, av5AsofBroadcast, av6AsofBucketed,
    av7AsofSql, av8AsofSqlInner,
    st2Sessionize,
    st3AppendHourly, st4StreamJoin, st5FileSink, st6StreamDedup,
    st7SessionizeStream, st8StreamStaticJoin, st9StreamLeftJoin,
    st10IngestDedup, st11SlidingWindows, st12StreamTopk,
    st13StreamHeavyHitters, st14SpanCensus, st15IvfIngest, st16AnnServe,
    st17CorpusIntake, st18SessionWindow, st19Bm25Serve, st20AsofEnrich,
    st21KmvDistinct, st22IndexMaintenance, st23NearIndexMaintenance,
    st24BkQuantile, st25CmsFreq, st26KstatsMaintenance,
    st27MorDeleteSqlServe, st28Bm25BatchServe, st29IvfPqSqlServe,
    st30IvfPqIngest, st31IvfPqMorAppend)
}
