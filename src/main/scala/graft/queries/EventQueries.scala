package graft
package queries

import graft.operators._
import graft.streaming.EventStreams

/** Events: JSON, time buckets, sessions, funnels and the event-time streaming windows. */
object EventQueries {
  private val eventsHourly = QueryDef("q_events_hourly",
    (s, dir) => EventAnalytics.hourlyStats(Tables.events(s, dir)),
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin)
  private val eventsSessions = QueryDef("q_events_sessions",
    (s, dir) => EventAnalytics.sessionCounts(Tables.events(s, dir)),
    """SELECT user_id,
      |  CAST(1 + sum(CASE WHEN prev_ms IS NOT NULL AND ms - prev_ms >= 1800000
      |                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ms
      |  FROM events) t
      |GROUP BY user_id""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_events_json", (s, dir) => EventAnalytics.perTypeStats(Tables.events(s, dir)),
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        |    / count(json_extract_string(props, '$.k')) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin),
    eventsHourly,
    // hourly stats off a fragmented-then-compacted copy (layout-only op,
    // a pure layout rewrite, so the same rows as q_events_hourly)
    QueryDef.twin("q_compacted_scan", eventsHourly,
      (s, dir) => graft.sources.Compaction.hourlyStatsCompacted(s, dir)),
    // The `_complete_oracle` pair is the ORACLE HARNESS form (complete
    // output mode + memory sink = a driver-side materialization by
    // construction) — named so no production-shaped registered query embeds
    // a driver collect. The production topologies are the `_append` pair.
    // Same grouping and aggregates as q_events_hourly:
    // window(ts, '1 hour').start == date_trunc('hour', ts).
    QueryDef.twin("q_stream_hourly_complete_oracle", eventsHourly,
      (s, dir) => EventStreams.hourlyStatsToBatch(s, dir)),
    // Point-in-interval range join (no equi key) via time-bucket rewrite —
    // never a BNLJ/cartesian (PlanSpec pins it).
    QueryDef("q_range_join", (s, dir) => EventAnalytics.campaignStats(Tables.events(s, dir)),
      // The range join's answer is the plain theta join; bucketing only
      // changes the plan. Window constants interpolated from the operator.
      s"""WITH b AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
         |w AS (SELECT i AS campaign_id,
         |    t0 + i * ${EventAnalytics.CampaignStepUs} AS start_us,
         |    t0 + i * ${EventAnalytics.CampaignStepUs} + ${EventAnalytics.CampaignLenUs} AS end_us
         |  FROM range(0, ${EventAnalytics.NCampaigns}) t(i), b)
         |SELECT w.campaign_id, w.start_us, w.end_us, count(*) AS n_events,
         |  count(DISTINCT e.user_id) AS n_users
         |FROM w JOIN events e
         |  ON epoch_us(e.ts) >= w.start_us AND epoch_us(e.ts) < w.end_us
         |GROUP BY w.campaign_id, w.start_us, w.end_us""".stripMargin),
    // Date-partitioned layout: one day's stats off a pruned scan (29/30 of
    // the table never read — PartitionedLayoutSpec asserts the pruning,
    // static and DPP).
    QueryDef("q_partition_pruning",
      (s, dir) => graft.sources.PartitionedLayout.dailyStatsPruned(s, dir),
      // Partitioning changes the layout, never the answer: the oracle is the
      // plain date-filtered aggregate (UTC on both engines).
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
         |FROM events WHERE CAST(ts AS DATE) = DATE '${graft.sources.PartitionedLayout.ProbeDate}'
         |GROUP BY event_type""".stripMargin),
    // Z-order (Morton) interleave of (user_id, value-cents) — the
    // multi-dimensional clustering key; file-skipping asserted in
    // ZOrderLayoutSpec, the key itself oracle-checked here.
    QueryDef("q_zorder", (s, dir) => graft.sources.ZOrderLayout.eventZ(Tables.events(s, dir)),
      // Morton interleave replayed bit-for-bit: same clamp, same 32
      // shift/mask terms (DuckDB >> & == Spark shiftright/bitwiseAND on
      // BIGINT).
      {
        import graft.sources.ZOrderLayout.ZBits
        val terms = (0 until ZBits).flatMap(b => Seq(
          s"((zx >> $b) & 1) * ${1L << (2 * b)}",
          s"((zy >> $b) & 1) * ${1L << (2 * b + 1)}")).mkString(" + ")
        s"""WITH c AS (SELECT event_id,
           |    greatest(0, least(user_id, ${(1L << ZBits) - 1})) AS zx,
           |    greatest(0, least(CAST(round(value * 100) AS BIGINT), ${(1L << ZBits) - 1})) AS zy
           |  FROM events)
           |SELECT event_id, zx, zy, $terms AS z FROM c""".stripMargin
      }),
    // Bloom runtime filter: probe pruned by k broadcast semi joins on the
    // build digest, exact join after — shares the plain join's oracle.
    QueryDef("q_bloom_join",
      (s, dir) => RuntimeFilter.urgentRevenue(Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // The Bloom runtime filter is a pass-through optimization: the oracle
      // is the plain selective join (threshold interpolated).
      s"""SELECT count(*) AS n_items,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         |    AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |  AND o_totalprice > ${graft.operators.RuntimeFilter.UrgentMinPrice}""".stripMargin),
    eventsSessions,
    // Streaming session windows rolled up per user == batch
    // gaps-and-islands sessionization (same oracle as q_events_sessions).
    QueryDef.twin("q_stream_sessions_complete_oracle", eventsSessions,
      (s, dir) => EventStreams.sessionCountsToBatch(s, dir)),
    // Ordered conversion funnel (view -> click -> purchase, strictly after)
    QueryDef("q_funnel", (s, dir) => EventAnalytics.funnelSteps(Tables.events(s, dir)),
      // Ordered funnel: each step's first time strictly after the previous
      // step's — step names interpolated from the operator's constant; all
      // comparisons in exact epoch micros.
      {
        val steps = EventAnalytics.FunnelSteps
        val stepCtes = steps.zipWithIndex.map { case (step, i) =>
          val name = s"s${i + 1}"
          if (i == 0)
            s"""$name AS (SELECT user_id, min(epoch_us(ts)) AS step1_us
               |  FROM events WHERE event_type = '$step' GROUP BY user_id)""".stripMargin
          else
            s"""$name AS (SELECT e.user_id, min(epoch_us(e.ts)) AS step${i + 1}_us
               |  FROM events e JOIN s$i ON e.user_id = s$i.user_id
               |  WHERE e.event_type = '$step' AND epoch_us(e.ts) > s$i.step${i}_us
               |  GROUP BY e.user_id)""".stripMargin
        }.mkString(",\n")
        val joins = steps.indices
          .map(i => s"LEFT JOIN s${i + 1} USING (user_id)").mkString(" ")
        val cols = steps.indices.map(i => s"s${i + 1}.step${i + 1}_us").mkString(", ")
        s"""WITH u AS (SELECT DISTINCT user_id FROM events),
           |$stepCtes
           |SELECT u.user_id, $cols
           |FROM u $joins""".stripMargin
      }),
    // Weekly cohort retention cells (integer epoch-week arithmetic)
    QueryDef("q_cohort_retention",
      (s, dir) => EventAnalytics.cohortRetention(Tables.events(s, dir)),
      // Cohort cells are exact integer epoch-week floor-divisions (Spark
      // `div` == DuckDB `//` on non-negative longs).
      s"""WITH f AS (SELECT user_id,
         |    min(epoch_us(ts) // ${EventAnalytics.WeekUs}) AS cohort_week
         |  FROM events GROUP BY user_id)
         |SELECT f.cohort_week,
         |  (epoch_us(e.ts) // ${EventAnalytics.WeekUs}) - f.cohort_week AS week_offset,
         |  count(DISTINCT e.user_id) AS n_active
         |FROM events e JOIN f USING (user_id)
         |GROUP BY 1, 2""".stripMargin),
    QueryDef("q_asof_attribution",
      (s, dir) => EventAnalytics.purchaseAttribution(Tables.events(s, dir)),
      // As-of join oracle mirrors the engine's union+carry-forward shape
      // (DuckDB's native ASOF JOIN leaves equal-ts ties unspecified; the
      // window form pins them): ties at equal ts prefer the click, then the
      // largest event_id.
      """WITH u AS (
        |  SELECT user_id, ts, event_id, 1 AS is_left,
        |    CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS DOUBLE) AS c_value
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 0, event_id, value
        |  FROM events WHERE event_type = 'click'),
        |f AS (SELECT user_id, ts, event_id, is_left,
        |    last_value(c_id IGNORE NULLS) OVER w AS click_id,
        |    last_value(c_value IGNORE NULLS) OVER w AS click_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, is_left ASC, event_id ASC
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ts_us,
        |  click_id, click_value
        |FROM f WHERE is_left = 1""".stripMargin),
    // per-session event-type paths, most common patterns
    QueryDef("q_session_paths", (s, dir) => EventAnalytics.sessionPaths(Tables.events(s, dir)),
      // Session paths: same gaps-and-islands sessionization as
      // q_events_sessions, paths joined in (ms, event_id) order — a total
      // order on both engines; top-k cut is (count DESC, path ASC), total.
      s"""WITH o AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
         |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
         |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
         |         THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         |s AS (SELECT user_id, event_id, event_type, ms,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM o),
         |p AS (SELECT user_id, sid,
         |    string_agg(event_type, '>' ORDER BY ms ASC, event_id ASC) AS path
         |  FROM s GROUP BY user_id, sid)
         |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
         |ORDER BY n_sessions DESC, path ASC LIMIT ${EventAnalytics.SessionPathsK}""".stripMargin),
    // The production topology: append mode + parquet sink, state evicted at
    // the watermark. Emits only watermark-passed windows (see oracle).
    QueryDef("q_stream_hourly_append", (s, dir) => EventStreams.hourlyStatsAppendToBatch(s, dir),
      // max(ts) sits 26-59 min past the hour at every SF, far from the
      // nanos-vs-micros truncation and <=-vs-< ambiguity at exact boundaries.
      """SELECT * FROM (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |  FROM events GROUP BY date_trunc('hour', ts), event_type) t
        |WHERE hour + INTERVAL 2 HOUR <= (SELECT max(ts) FROM events)""".stripMargin),
    // Sliding windows (1h every 30min): batch twin + production append twin
    // share the 2-windows-per-event oracle.
    QueryDef("q_events_sliding", (s, dir) => EventStreams.slidingStats(Tables.events(s, dir)),
      // Append mode emits a window exactly once — when the final watermark
      // (max event time - 1 h) passes its end — so the oracle is the batch
      // aggregation restricted to hour + 2 h <= max(ts). Boundary safety:
      // Sliding windows: each event lands in exactly 2 windows (start =
      // floor30(ts) - k*30min for k in 0,1 — both automatically contain ts),
      // all arithmetic in exact epoch-micros integers.
      """SELECT win_start_us, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM (
        |  SELECT (epoch_us(ts) // 1800000000 - k) * 1800000000 AS win_start_us,
        |    event_type, value
        |  FROM events, range(0, 2) t(k))
        |GROUP BY win_start_us, event_type""".stripMargin),
    QueryDef("q_stream_sliding_append", (s, dir) => EventStreams.slidingStatsAppendToBatch(s, dir),
      // Same + the append-mode emission cutoff (window end + 1h watermark).
      // Boundary margin: sliding boundaries land on :00/:30 and every SF's
      // max(ts) is >= 35 s from a half-hour mark — far past ms truncation.
      """SELECT * FROM (
        |  SELECT win_start_us, event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |  FROM (
        |    SELECT (epoch_us(ts) // 1800000000 - k) * 1800000000 AS win_start_us,
        |      event_type, value
        |    FROM events, range(0, 2) t(k))
        |  GROUP BY win_start_us, event_type) t
        |WHERE win_start_us + 7200000000 <= (SELECT max(epoch_us(ts)) FROM events)""".stripMargin),
    QueryDef("q_stream_sessions_append",
      (s, dir) => EventStreams.sessionWindowsAppendToBatch(s, dir),
      // Gaps-and-islands sessionization (same session iff gap < 30 min,
      // matching session_window's merge rule), then the append-mode emission
      // cutoff: a session is emitted iff the final watermark (max event time
      // - 1 h) passed its end (last event + 30 min). All arithmetic in epoch
      // micros = exact integers. Boundary assumption: Spark's watermark is
      // MILLISECOND-truncated while this cutoff is exact micros, so the two
      // engines could classify a session differently only if its end landed
      // within 1 ms of (max ts - 1 h); session ends are event-derived (last
      // event + 30 min exactly), and EventStreamsSpec asserts the fixtures
      // keep every session end >= 1 ms away from the cutoff.
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |sess AS (SELECT user_id, min(us) AS session_start_us,
        |    max(us) + 1800000000 AS session_end_us, count(*) AS n_events
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start_us, session_end_us, n_events
        |FROM sess
        |WHERE session_end_us + 3600000000 <= (SELECT epoch_us(max(ts)) FROM events)""".stripMargin),
    // Stream-stream interval join (watermark-evicted two-sided state);
    // inner-join emission is not watermark-gated, so a full drain equals
    // the batch interval join exactly.
    QueryDef("q_stream_attribution", (s, dir) => EventStreams.attributionPairsToBatch(s, dir),
      // The batch mirror of the streaming interval join: all same-user
      // (purchase, click) pairs with the click in [p_ts - 1h, p_ts]. Epoch
      // micros on both sides = exact integer comparisons.
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |  epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin),
    // Stream-static dimension enrichment: purchases joined to the
    // broadcast customer dim — stateless append, batch-join oracle.
    QueryDef("q_stream_enriched", (s, dir) => EventStreams.enrichedPurchasesToBatch(s, dir),
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  CAST(round(e.value * 100) AS BIGINT) AS value_cents,
        |  c.c_mktsegment, c.c_nationkey
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'""".stripMargin),
    // Append-mode ordered funnel via flatMapGroupsWithState: per-user
    // keyed state, steps resolve only once the watermark passes them
    // (arrival-order independent), 24h conversion window, emission at
    // completion / window close / GC — the streaming twin of q_funnel.
    QueryDef("q_stream_funnel_append", (s, dir) => EventStreams.funnelAppendToBatch(s, dir),
      // The append-mode funnel's full semantic replay: per-step first-after
      // minima confined to the 24h conversion window AND the final watermark
      // (resolution ≡ presence under `us <= wm`), then the three-way
      // emission rule (complete | window closed | never-started GC). The
      // watermark mirrors Spark's ms floor: ((max_us // 1000) - 3600000) * 1000.
      {
        import graft.streaming.EventStreams.FunnelWindowUs
        val steps = graft.operators.EventAnalytics.FunnelSteps
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
           |wm AS (SELECT ((max(us) // 1000) - 3600000) * 1000 AS wm_us FROM e),
           |mx AS (SELECT user_id, max(us) AS max_us FROM e GROUP BY user_id),
           |s1 AS (SELECT user_id, min(us) AS t1 FROM e, wm
           |  WHERE event_type = '${steps(0)}' AND us <= wm.wm_us GROUP BY user_id),
           |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id), wm
           |  WHERE event_type = '${steps(1)}' AND us > s1.t1
           |    AND us <= s1.t1 + $FunnelWindowUs AND us <= wm.wm_us
           |  GROUP BY e.user_id),
           |s3 AS (SELECT e.user_id, min(us) AS t3
           |  FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id), wm
           |  WHERE event_type = '${steps(2)}' AND us > s2.t2
           |    AND us <= s1.t1 + $FunnelWindowUs AND us <= wm.wm_us
           |  GROUP BY e.user_id)
           |SELECT u.user_id, s1.t1 AS step1_us, s2.t2 AS step2_us, s3.t3 AS step3_us
           |FROM (SELECT DISTINCT user_id FROM e) u
           |LEFT JOIN s1 USING (user_id)
           |LEFT JOIN s2 USING (user_id)
           |LEFT JOIN s3 USING (user_id)
           |JOIN mx USING (user_id) CROSS JOIN wm
           |WHERE s3.t3 IS NOT NULL
           |   OR (s1.t1 IS NOT NULL AND s1.t1 + $FunnelWindowUs <= wm.wm_us)
           |   OR (s1.t1 IS NULL AND mx.max_us + $FunnelWindowUs <= wm.wm_us)""".stripMargin
      }),
  )
}
