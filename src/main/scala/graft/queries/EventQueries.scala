package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Anomaly, Attribution, Changes, Funnel, IncrementalAgg, Intervals, RollingAgg, Snapshots, Stats, TemporalJoin}
import graft.streaming.{AttributionStream, CoverageStream, FunnelStream, IntervalJoinStream, Sessionize, SnapshotStream, StreamCdc}

import graft.queries.Fixtures._

/** The `ev_*` family: event windows, sessions, funnels, as-of joins and
  * their streaming twins over the events table. */
private[graft] object EventQueries {

  // independent step-by-step CTE formulation: each step's earliest
  // occurrence strictly after the previous step's time
  // shared with ev_stream_funnel
  private val evFunnelOracle =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      |SELECT s1.user_id, epoch_us(s1.t1) AS t1_us,
      | epoch_us(s2.t2) AS t2_us, epoch_us(s3.t3) AS t3_us,
      | CAST(CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END
      |  + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
      |  + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |  AS funnel_depth
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY s1.user_id""".stripMargin

  // identical integer day/week arithmetic (// is floor division; all
  // epochs positive, so it agrees with Spark's truncating div)
  // shared with ev_stream_retention
  private val evRetentionOracle =
    """WITH a AS (SELECT user_id, min(ts) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |x AS (SELECT e.user_id,
      |  epoch_us(a.t0) // 86400000000 AS cohort_day,
      |  ((epoch_us(e.ts) // 86400000000)
      |    - (epoch_us(a.t0) // 86400000000)) // 7 AS week_offset
      | FROM events e JOIN a USING (user_id) WHERE e.ts >= a.t0)
      |SELECT cohort_day, week_offset,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // independent plain BETWEEN-join formulation (no banding) — the
  // bucketed join must reproduce exactly the pairs the naive
  // inequality join finds, plus the null row per unattributed
  // purchase; credit is the same one IEEE division
  // shared with ev_stream_attribution
  private val evAttributionOracle =
    """WITH p AS (SELECT user_id, event_id AS p_event_id,
      |  epoch_us(ts) AS p_ts_us,
      |  CAST(round(value*100,0) AS BIGINT) AS p_cents
      | FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS c_event_id,
      |  epoch_us(ts) AS c_ts_us
      | FROM events WHERE event_type = 'click'),
      |j AS (SELECT p.user_id, p.p_event_id, p.p_ts_us, p.p_cents,
      |  c.c_event_id, c.c_ts_us
      | FROM p LEFT JOIN c ON p.user_id = c.user_id
      |  AND c.c_ts_us <= p.p_ts_us
      |  AND c.c_ts_us > p.p_ts_us - 21600000000)
      |SELECT user_id, p_event_id, p_ts_us, p_cents, c_event_id,
      | c_ts_us,
      | CAST(count(c_event_id) OVER w AS BIGINT) AS n_touches,
      | CASE WHEN count(c_event_id) OVER w > 0
      |  THEN CAST(p_cents AS DOUBLE)
      |    / CAST(count(c_event_id) OVER w AS DOUBLE) END AS credit
      |FROM j WINDOW w AS (PARTITION BY p_event_id)
      |ORDER BY p_event_id, coalesce(c_event_id, -1)""".stripMargin

  // identical lag window with the same (ts, event_id) tie-break and
  // the same start sentinel
  // shared with ev_stream_transitions
  private val evTransitionsOracle =
    """WITH x AS (SELECT event_type,
      |  coalesce(lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id), '∅') AS prev
      | FROM events)
      |SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // same per-user lead windows; rank ties break on path text
  // shared with ev_stream_top_paths
  private val evTopPathsOracle =
    """WITH t AS (SELECT event_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id
      |   ORDER BY ts, event_id) AS n1,
      |  lead(event_type, 2) OVER (PARTITION BY user_id
      |   ORDER BY ts, event_id) AS n2
      | FROM events),
      |p AS (SELECT event_type || '>' || n1 || '>' || n2 AS path,
      |  CAST(count(*) AS BIGINT) AS n
      | FROM t WHERE n2 IS NOT NULL GROUP BY 1)
      |SELECT path, n,
      | CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank
      |FROM p QUALIFY rank <= 10 ORDER BY rank""".stripMargin

  // the cross-multiplied KS: max |cumA*nb - cumB*na| over the
  // count-by-value frame, exact integers end to end
  // shared with ev_stream_ks
  private val evKsDriftOracle =
    """WITH ev AS (SELECT event_type,
      |  CAST(round(value*100,0) AS BIGINT) AS cents,
      |  event_id % 2 AS side FROM events),
      |c AS (SELECT event_type, cents,
      |  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      | FROM ev GROUP BY 1, 2),
      |x AS (SELECT event_type,
      |  sum(ca) OVER (PARTITION BY event_type ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
      |  sum(cb) OVER (PARTITION BY event_type ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
      |  sum(ca) OVER (PARTITION BY event_type) AS na,
      |  sum(cb) OVER (PARTITION BY event_type) AS nb
      | FROM c)
      |SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
      | CAST(max(nb) AS BIGINT) AS n_b,
      | CAST(max(abs(cum_a * nb - cum_b * na)) AS BIGINT) AS ks_scaled
      |FROM x GROUP BY 1 ORDER BY event_type""".stripMargin

  // same cell arithmetic: dow 0=Sunday, UTC hours, scaled-int mean
  // shared with ev_stream_seasonal
  private val evSeasonalOracle =
    """WITH ev AS (SELECT event_id, event_type,
      |  CAST(dayofweek(ts) AS BIGINT) AS dow,
      |  CAST(hour(ts) AS BIGINT) AS hr,
      |  CAST(round(value*100,0) AS BIGINT) AS cents FROM events),
      |b AS (SELECT event_type, dow, hr,
      |  CAST(count(*) AS BIGINT) AS n_cell,
      |  CAST(sum(cents) AS BIGINT) AS sum_cell
      | FROM ev GROUP BY 1, 2, 3)
      |SELECT ev.event_id, ev.event_type, ev.dow, ev.hr, ev.cents,
      | b.n_cell, sum_cell * 1000 // n_cell AS mean_milli,
      | ev.cents * 1000 - sum_cell * 1000 // n_cell AS residual_milli
      |FROM ev JOIN b USING (event_type, dow, hr)
      |ORDER BY ev.event_id""".stripMargin

  // identical running-max island construction — epoch-micro longs,
  // so starts/ends/coverage are exact on both engines
  // shared with ev_stream_coverage
  private val evCoverageOracle =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
      |  epoch_us(ts) + 300000000 AS e FROM events),
      |w AS (SELECT *, max(e) OVER (PARTITION BY user_id
      |  ORDER BY s, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM e),
      |g AS (SELECT *, CAST(sum(CASE WHEN pe IS NULL OR s > pe
      |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
      |  ORDER BY s, event_id) AS BIGINT) AS island FROM w)
      |SELECT user_id, island, min(s) AS island_start,
      | max(e) AS island_end, CAST(count(*) AS BIGINT) AS n_intervals,
      | max(e) - min(s) AS covered
      |FROM g GROUP BY user_id, island
      |ORDER BY user_id, island""".stripMargin

  // shared with ev_stream_histogram
  private val evHistogramOracle =
    """WITH e AS (SELECT event_type,
      |  CAST(round(value*100,0) AS BIGINT) AS cents FROM events)
      |SELECT event_type,
      | cents - ((cents % 2500) + 2500) % 2500 AS bin_lo,
      | CAST(count(*) AS BIGINT) AS n,
      | min(cents) AS v_min, max(cents) AS v_max,
      | cents - ((cents % 2500) + 2500) % 2500 + 2500 AS bin_hi
      |FROM e GROUP BY 1, 2
      |ORDER BY event_type, bin_lo""".stripMargin

  // per-type profile: exact base metrics, KMV bottom-64 replay over
  // md5 of the non-null cents rendered as strings; the all-null
  // error group reports null bounds and a 0 estimate
  // shared with ev_stream_profile
  private val evProfileOracle = {
    val hex8 = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substr(k64.h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    }.mkString("(", " + ", ")")
    s"""WITH ev AS (SELECT event_type,
       |  CASE WHEN event_type = 'error' THEN NULL
       |   ELSE CAST(round(value*100,0) AS BIGINT) END AS v
       | FROM events),
       |base AS (SELECT event_type,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(*) - count(v) AS BIGINT) AS n_nulls,
       |  min(v) AS min_v, max(v) AS max_v
       | FROM ev GROUP BY 1),
       |h AS (SELECT DISTINCT event_type, md5(CAST(v AS VARCHAR)) AS h
       | FROM ev WHERE v IS NOT NULL),
       |r AS (SELECT event_type, h,
       |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
       |  count(*) OVER (PARTITION BY event_type) AS nd FROM h),
       |k64 AS (SELECT event_type, h FROM r WHERE rn = 64),
       |n AS (SELECT event_type, CAST(max(nd) AS BIGINT) AS nd
       | FROM r GROUP BY 1)
       |SELECT b.event_type, b.n_rows, b.n_nulls, b.min_v, b.max_v,
       | CAST(CASE WHEN n.nd IS NULL THEN 0
       |  ELSE least(n.nd, 64) END AS BIGINT) AS n_mins,
       | CASE WHEN n.nd IS NULL THEN 0.0
       |  WHEN n.nd < 64 THEN CAST(n.nd AS DOUBLE)
       |  ELSE 63.0 / (CAST($hex8 AS DOUBLE) / 4294967296.0)
       | END AS est_distinct
       |FROM base b
       |LEFT JOIN n ON n.event_type = b.event_type
       |LEFT JOIN k64 ON k64.event_type = b.event_type
       |ORDER BY b.event_type""".stripMargin
  }

  // full recompute over ALL events — the merged base+delta state
  // must equal it exactly (counts/sums/extrema are long algebra,
  // associative with no float drift)
  // shared with ev_stream_agg_incremental
  private val evAggIncrementalOracle =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
      | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS sum_v,
      | min(epoch_us(ts)) AS min_ts_us,
      | max(epoch_us(ts)) AS max_ts_us
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // independent BETWEEN formulation over lead()-built intervals —
  // the as-of implementation must reproduce interval containment
  // exactly, including null rows for clicks before the first version
  // shared with ev_stream_scd2_enrich
  private val evScd2LookupOracle =
    """WITH p AS (SELECT user_id, ts,
      |  max(event_id) AS p_event_id,
      |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS p_cents
      | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |iv AS (SELECT user_id, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
      |  p_event_id, p_cents FROM p),
      |c AS (SELECT event_id, user_id, ts FROM events
      | WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
      | iv.p_event_id, iv.p_cents,
      | epoch_us(iv.valid_from) AS valid_from_us
      |FROM c LEFT JOIN iv ON c.user_id = iv.user_id
      | AND c.ts >= iv.valid_from
      | AND (iv.valid_to IS NULL OR c.ts < iv.valid_to)
      |ORDER BY c.event_id""".stripMargin

  // MERGE-INTO restatement: base = compacted even events, changes =
  // odd events (every 17th a delete), newest version per user wins,
  // delete-latest users vanish
  // shared with ev_stream_cdc_apply, ev_stream_cdc_mor
  private val evCdcApplyOracle =
    """WITH ev AS (SELECT user_id, event_id, ts, event_type,
      |  CAST(round(value*100,0) AS BIGINT) AS value_cents FROM events),
      |base AS (SELECT user_id, event_id, ts, event_type, value_cents
      | FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |   FROM ev WHERE event_id % 2 = 0) WHERE rn = 1),
      |allr AS (
      | SELECT user_id, event_id, ts, event_type, value_cents, 'u' AS op
      |  FROM base
      | UNION ALL
      | SELECT user_id, event_id, ts, event_type, value_cents,
      |   CASE WHEN event_id % 17 = 0 THEN 'd' ELSE 'u' END AS op
      |  FROM ev WHERE event_id % 2 = 1),
      |latest AS (SELECT * FROM (SELECT *, row_number() OVER
      |   (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM allr) WHERE rn = 1)
      |SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      | value_cents
      |FROM latest WHERE op <> 'd' ORDER BY user_id""".stripMargin

  // independent formulation: the plain theta join the bucketed
  // implementation must reproduce exactly (count includes the signup
  // row itself, so every signup survives the inner join)
  // the quadratic ground truth the bucketed overlap join must equal
  // shared with ev_stream_interval_join
  private val evIntervalJoinOracle =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
      |  epoch_us(ts) + 300000000 AS e FROM events),
      |a AS (SELECT user_id, event_id AS a_id, s AS a_s, e AS a_e
      | FROM e WHERE event_id % 2 = 1),
      |b AS (SELECT user_id, event_id AS b_id, s AS b_s, e AS b_e
      | FROM e WHERE event_id % 2 = 0)
      |SELECT a.user_id, a_id, b_id,
      | least(a_e, b_e) - greatest(a_s, b_s) AS overlap_us
      |FROM a JOIN b ON a.user_id = b.user_id
      | AND a_s < b_e AND b_s < a_e
      |ORDER BY a.user_id, a_id, b_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("ev_window_fill", (s, dir) => {
      // the W2 window shape on real data: forward-fill the last purchase
      // value per user (last ignoreNulls, unbounded preceding)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .withColumn("last_purchase_value",
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("last_purchase_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
      oracle =
        """SELECT user_id, event_id,
          | last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
          |  OVER (PARTITION BY user_id ORDER BY ts, event_id
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
          |FROM events ORDER BY user_id, event_id""".stripMargin),

    QueryDef("ev_sessionize", (s, dir) => {
      Sessionize.sessionSummaryBatch(t(s, dir, "events"), gapMinutes = 30)
        .select(col("user_id"), col("session_idx"),
          col("n_events"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("value_cents"))
        .orderBy(col("user_id"), col("session_idx"))
    },
      oracle =
        """WITH g AS (SELECT user_id, ts, event_id, value,
          |  CASE WHEN lag(ts) OVER w IS NULL
          |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
          | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM g)
          |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          | count(*) AS n_events,
          | epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin),

    QueryDef("ev_session_window", (s, dir) => {
      // the BUILT-IN session_window TVF beside the custom gaps-and-
      // islands operator (ev_sessionize): same per-user 30-minute-gap
      // sessions, but with the built-in's boundary semantics — windows
      // are half-open [ts, ts+gap), so a successor at EXACTLY the gap
      // starts a new session (the custom operator's `> gap` keeps it),
      // and the session end is max(ts)+gap, not max(ts). The oracle
      // replays those semantics; keeping both rows pins the divergence
      // instead of papering over it.
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("value_cents"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"), col("value_cents"))
        .orderBy(col("user_id"), col("start_us"))
    },
      // the built-in TVF's boundary semantics: break at diff >= gap
      // (half-open windows), session end = max(ts) + gap
      oracle =
        """WITH g AS (SELECT user_id, ts, event_id, value,
          |  CASE WHEN lag(ts) OVER w IS NULL
          |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
          |   THEN 1 ELSE 0 END AS brk
          | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM g)
          |SELECT user_id, epoch_us(min(ts)) AS start_us,
          | epoch_us(max(ts)) + 1800000000 AS end_us,
          | count(*) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM s GROUP BY user_id, session_idx
          |ORDER BY user_id, start_us""".stripMargin),

    QueryDef("ev_windowed_agg", (s, dir) => {
      // tumbling event-time window (the batch twin of the streaming
      // watermark aggregation in graft.streaming.Sessionize)
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("value_cents"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("win_start_us"), col("event_type"))
    },
      oracle =
        """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
          | event_type, count(*) AS n,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    QueryDef("ev_json_extract", (s, dir) => {
      // typed metadata extraction from the JSON props column via
      // from_json — schema'd parse, not string poking; a narrow
      // codegen-adjacent projection (JsonToStructs), no shuffle
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          from_json(col("props"), lit("k BIGINT")).getField("k").as("k"))
        .orderBy(col("event_id"))
    },
      oracle =
        """SELECT event_id, event_type,
          | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("ev_latest", (s, dir) => {
      // CDC/upsert compaction: latest event per user under a TOTAL order
      // (ts desc, event_id desc — same-timestamp rows are a certainty at
      // scale). row_number()==1 plans as WindowGroupLimit: map tasks
      // truncate each key to one row before the exchange.
      Changes.latestByKey(t(s, dir, "events"),
        keyCols = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          cents(col("value")).as("value_cents"))
        .orderBy(col("user_id"))
    },
      oracle =
        """WITH r AS (SELECT user_id, event_id, ts, event_type, value,
          |  row_number() OVER (PARTITION BY user_id
          |   ORDER BY ts DESC, event_id DESC) AS rn
          | FROM events)
          |SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),

    QueryDef("ev_scd2", (s, dir) => {
      // SCD-2 interval construction: each change row gets
      // [valid_from, valid_to) with valid_to = the key's next change
      // (null = current). One window per key; facts then join these
      // intervals with the banded range join.
      Changes.scd2(t(s, dir, "events"),
        keyCols = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
    },
      oracle =
        """SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
          | epoch_us(lead(ts) OVER (PARTITION BY user_id
          |  ORDER BY ts, event_id)) AS valid_to_us,
          | (lead(ts) OVER (PARTITION BY user_id
          |  ORDER BY ts, event_id) IS NULL) AS is_current
          |FROM events
          |ORDER BY user_id, valid_from_us, event_id""".stripMargin),

    QueryDef("ev_funnel", (s, dir) => {
      // 3-step conversion funnel: earliest signup, earliest click after
      // it, earliest purchase after that — per-step conditional min
      // aggregations on the user key, no per-user event sorting
      Funnel.funnel(t(s, dir, "events"),
        steps = Seq("signup", "click", "purchase"))
        .select(col("user_id"),
          unix_micros(col("t1")).as("t1_us"),
          unix_micros(col("t2")).as("t2_us"),
          unix_micros(col("t3")).as("t3_us"),
          col("funnel_depth"))
        .orderBy(col("user_id"))
    },
      oracle = evFunnelOracle),

    QueryDef("ev_rolling", (s, dir) => {
      // trailing-24h purchase velocity per user, per purchase event —
      // a RANGE frame over epoch micros (tie-safe, deterministic), one
      // exchange + ordered scan, no self-join
      val p = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          cents(col("value")).as("cents"))
      RollingAgg.trailingCountSum(p, col("cents"), windowSeconds = 86400,
        suffix = "24h")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("n_24h"), col("sum_24h"))
        .orderBy(col("event_id"))
    },
      // identical RANGE-frame window over epoch micros; counts and cents
      // are exact integers
      oracle =
        """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          |  CAST(round(value*100,0) AS BIGINT) AS cents
          | FROM events WHERE event_type = 'purchase')
          |SELECT event_id, user_id, ts_us,
          | CAST(count(*) OVER w AS BIGINT) AS n_24h,
          | CAST(sum(cents) OVER w AS BIGINT) AS sum_24h
          |FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
          | RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin),

    QueryDef("ev_retention", (s, dir) => {
      // cohort retention: users cohorted by first-signup day, active
      // weeks counted by pure integer epoch arithmetic (engine-portable,
      // no calendar truncation)
      Funnel.retention(t(s, dir, "events"))
        .orderBy(col("cohort_day"), col("week_offset"))
    },
      oracle = evRetentionOracle),

    QueryDef("ev_cohort_ltv", (s, dir) => {
      // cohort lifetime value — ev_retention's revenue sibling: users
      // cohorted by first-PURCHASE week (pure integer epoch
      // arithmetic, no calendar truncation), revenue per (cohort, week
      // offset) with the running cumulative LTV and cohort size — the
      // curve a growth team actually reads. The cumulative window runs
      // over the (cohort, offset) AGGREGATE frame (tens of rows per
      // cohort), never over raw purchases.
      val wk = 7L * 86400000000L
      val p = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), cents(col("value")).as("cents"),
          expr(s"unix_micros(ts) div $wk").as("wi"))
      val cohorts = p.groupBy(col("user_id")).agg(min(col("wi")).as("cw"))
      val cells = p.join(cohorts, Seq("user_id"))
        .groupBy(col("cw"), (col("wi") - col("cw")).as("week_offset"))
        .agg(sum(col("cents")).as("rev_cents"),
          countDistinct(col("user_id")).as("n_active"))
      val sizes = cohorts.groupBy(col("cw")).agg(count(lit(1)).as("n_users"))
      val w = Window.partitionBy(col("cw")).orderBy(col("week_offset"))
      cells.join(sizes, Seq("cw"))
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
        .select(col("cw").as("cohort_week"), col("week_offset"),
          col("n_users"), col("n_active"), col("rev_cents"),
          col("cum_rev_cents"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      // same integer week indexing, same aggregate-frame cumulative sum
      oracle =
        """WITH p AS (SELECT user_id,
          |  CAST(round(value*100,0) AS BIGINT) AS cents,
          |  epoch_us(ts) // 604800000000 AS wi
          | FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, min(wi) AS cw FROM p GROUP BY user_id),
          |cells AS (SELECT cw, wi - cw AS week_offset,
          |  CAST(sum(cents) AS BIGINT) AS rev_cents,
          |  count(DISTINCT p.user_id) AS n_active
          | FROM p JOIN c ON p.user_id = c.user_id GROUP BY 1, 2),
          |sizes AS (SELECT cw, count(*) AS n_users FROM c GROUP BY cw)
          |SELECT cells.cw AS cohort_week, week_offset, n_users, n_active,
          | rev_cents,
          | CAST(sum(rev_cents) OVER (PARTITION BY cells.cw
          |   ORDER BY week_offset) AS BIGINT) AS cum_rev_cents
          |FROM cells JOIN sizes ON cells.cw = sizes.cw
          |ORDER BY cohort_week, week_offset""".stripMargin),

    QueryDef("ev_attribution", (s, dir) => {
      // linear multi-touch attribution: each purchase's cents split
      // equally over the user's clicks in the trailing 6 h; purchases
      // with no qualifying click survive as the unattributed bucket
      // (null touch columns, n_touches = 0). One banded time join (two
      // bucket replicas per click) + one conversion-keyed window —
      // never a per-user cross product. Credit = one IEEE division of
      // exact integers, bit-identical across engines.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          unix_micros(col("ts")).as("p_ts_us"),
          cents(col("value")).as("p_cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_event_id"),
          unix_micros(col("ts")).as("c_ts_us"))
      Attribution.linear(purchases, clicks, Seq("user_id"),
        convIdCol = "p_event_id", convTsUsCol = "p_ts_us",
        valueCol = "p_cents", touchIdCol = "c_event_id",
        touchTsUsCol = "c_ts_us", lookbackMicros = 21600000000L)
        .orderBy(col("p_event_id"), coalesce(col("c_event_id"), lit(-1L)))
    },
      oracle = evAttributionOracle),

    QueryDef("ev_transitions", (s, dir) => {
      // first-order Markov transition matrix over user timelines (the
      // Sankey/flow-diagram aggregate): one lag window (tie-broken on
      // event_id, so counts are deterministic) + one count; the matrix
      // is |types|² rows, tiny at any corpus scale
      Funnel.transitions(t(s, dir, "events"))
        .orderBy(col("prev"), col("next"))
    },
      oracle = evTransitionsOracle),

    QueryDef("ev_top_paths", (s, dir) => {
      // funnel DISCOVERY: the 10 most common 3-step event-type paths
      // across user timelines — what transitions' first-order matrix
      // structurally cannot rank. Per-user lead windows (event_id
      // tie-break), truncated at timeline ends, map-side-combined path
      // counts; the closing rank runs over the path DOMAIN (|types|^3
      // = 125 rows), never the event stream
      Funnel.topPaths(t(s, dir, "events"), len = 3, k = 10)
        .orderBy(col("rank"))
    },
      oracle = evTopPathsOracle),

    QueryDef("ev_anomaly", (s, dir) => {
      // robust per-user outlier purchases: |cents − median| > 3·MAD with
      // a 5-purchase history floor — median/MAD stays exact (dyadic
      // interpolation over integer cents, no libm), so flags match the
      // oracle bit-for-bit where a σ-based z-score could not
      val p = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), cents(col("value")).as("cents"))
      Anomaly.madOutliers(p, "cents", Seq("user_id"), k = 3.0, minRows = 5)
        .select(col("user_id"), col("event_id"), col("cents"),
          col("med"), col("mad"), col("dev"))
        .orderBy(col("event_id"))
    },
      // same two-level median: quantile_cont interpolation over integer
      // cents is the same dyadic multiply-add Spark's percentile runs,
      // so med/mad/dev — and therefore the flag set — agree exactly
      oracle =
        """WITH p AS (SELECT user_id, event_id,
          |  CAST(round(value*100,0) AS BIGINT) AS cents
          | FROM events WHERE event_type = 'purchase'),
          |m AS (SELECT user_id, quantile_cont(cents, 0.5) AS med
          | FROM p GROUP BY 1 HAVING count(*) >= 5),
          |d AS (SELECT p.user_id, p.event_id, p.cents, m.med,
          |  abs(p.cents - m.med) AS dev FROM p JOIN m USING (user_id)),
          |md AS (SELECT user_id, quantile_cont(dev, 0.5) AS mad
          | FROM d GROUP BY 1)
          |SELECT d.user_id, d.event_id, d.cents, d.med, md.mad, d.dev
          |FROM d JOIN md USING (user_id)
          |WHERE d.dev > md.mad * 3.0
          |ORDER BY d.event_id""".stripMargin),

    QueryDef("ev_stream_ks", (s, dir) => {
      // the KS alarm at INGEST, split at its algebraic seam: the stream
      // maintains only the Complete-mode (type, cents, side) counts —
      // domain-sized state, map-side-combined — and the batch finish
      // runs the cumulative-window arithmetic over the drained frame.
      // Shares ev_ks_drift's oracle verbatim: batch-equal on replay.
      val counted = Tables.streamEvents(s, dir)
        .select(col("event_type"), cents(col("value")).as("cents"),
          (col("event_id") % 2).as("side"))
        .groupBy(col("event_type"), col("cents"))
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
      val drained = Sessionize.runToMemory(s, counted, "ev_stream_ks",
        OutputMode.Complete, statePartitions = 8)
      Stats.ksScaledFromCounts(drained, Seq("event_type"), "cents",
        "ca", "cb")
        .orderBy(col("event_type"))
    },
      // same rows as ev_ks_drift by construction, so its oracle verbatim
      oracle = evKsDriftOracle),

    QueryDef("ev_ks_drift", (s, dir) => {
      // exact-integer two-sample KS distance per event type between the
      // even and odd event halves — the distribution-shift alarm, with
      // the IEEE ECDF division cross-multiplied away: ks_scaled =
      // max |cumA·n_b − cumB·n_a| over count-by-value integers, the
      // same argmax bit-for-bit in both engines. Count-by-value FIRST,
      // so the cumulative window ranks each type's value DOMAIN, never
      // its row stream.
      val ev = t(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("cents"),
          (col("event_id") % 2).as("side"))
      Stats.ksScaled(ev, Seq("event_type"), "cents", "side")
        .orderBy(col("event_type"))
    },
      oracle = evKsDriftOracle),

    QueryDef("ev_seasonal", (s, dir) => {
      // seasonal detrending: every event's exact-integer deviation from
      // its (event_type, day-of-week, hour) cell mean — "abnormal FOR a
      // Tuesday 3 pm", not abnormal in the raw. The baseline aggregate
      // is keys×7×24 rows regardless of volume (broadcast-sized at any
      // scale, the stream never shuffles for the join); mean_milli is
      // the scaled-integer mean so both engines agree bit-for-bit.
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"),
          cents(col("value")).as("cents"))
      Anomaly.seasonalResiduals(ev, "ts", "cents", Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("dow"),
          col("hr"), col("cents"), col("n_cell"), col("mean_milli"),
          col("residual_milli"))
        .orderBy(col("event_id"))
    },
      oracle = evSeasonalOracle),

    QueryDef("ev_coverage", (s, dir) => {
      // interval union per user: every event opens a 300-second validity
      // window; overlapping/touching windows merge into islands (running
      // max of prior ends — a single long-lived interval can swallow
      // several later ones, so lag(end) alone would split islands
      // wrongly). Exact epoch-micro arithmetic end to end.
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + lit(300000000L))
      Intervals.mergeIslands(e, Seq("user_id"), "s", "e", "event_id")
        .orderBy(col("user_id"), col("island"))
    },
      oracle = evCoverageOracle),

    QueryDef("ev_unpivot", (s, dir) => {
      // the inverse reshape: the wide per-user activity matrix melted
      // back to long (user_id, event_type, n) via the native unpivot
      // operator (an Expand node — each input row fans out to five,
      // zero shuffles; the only exchange is ev_pivot's own groupBy).
      // Zero-count cells are kept: a melt must be lossless on the
      // matrix, the round-trip property the spec pins.
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .unpivot(Array(col("user_id")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "n")
        .orderBy(col("user_id"), col("event_type"))
    },
      // conditional aggregation — the relational reading of a pivot;
      // FILTER counts yield 0 (not NULL) for absent combinations, the
      // engine's na.fill twin
      // the melt replayed as a grid: every (user, type) cell incl. zeros
      oracle =
        """SELECT u.user_id, t.event_type,
          | CAST(count(e.event_id) AS BIGINT) AS n
          |FROM (SELECT DISTINCT user_id FROM events) u
          |CROSS JOIN (VALUES ('click'), ('error'), ('purchase'),
          |  ('signup'), ('view')) AS t(event_type)
          |LEFT JOIN events e
          |  ON e.user_id = u.user_id AND e.event_type = t.event_type
          |GROUP BY 1, 2 ORDER BY u.user_id, t.event_type""".stripMargin),

    QueryDef("ev_pivot", (s, dir) => {
      // per-user activity matrix: event-type counts pivoted wide. The
      // value list is EXPLICIT, so no extra distinct-scan job runs
      // before the pivot and the schema is stable under partial data —
      // the form a 100-TB pivot must take (`.pivot(col)` without values
      // collects the distinct set to the driver first).
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id"))
    },
      oracle =
        """SELECT user_id,
          | CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
          | CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
          | CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
          | CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
          | CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
          |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin),

    QueryDef("ev_value_cdf", (s, dir) => {
      // per-type CDF normalization of event values: shared-rank
      // percent_rank — exact integer ranks, one IEEE division — the
      // outlier-robust feature scaling
      Stats.cdfNormalize(
        t(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            cents(col("value")).as("cents")),
        "cents", Seq("event_type"))
        .orderBy(col("event_id"))
    },
      // shared-rank percent_rank is (rank−1)/(n−1) on both engines —
      // integer ranks, one IEEE division
      oracle =
        """SELECT event_type, event_id,
          | CAST(round(value*100,0) AS BIGINT) AS cents,
          | CAST(rank() OVER w AS BIGINT) AS rank,
          | percent_rank() OVER w AS pct
          |FROM events
          |WINDOW w AS (PARTITION BY event_type
          |  ORDER BY CAST(round(value*100,0) AS BIGINT))
          |ORDER BY event_id""".stripMargin),

    QueryDef("ev_chisq", (s, dir) => {
      // independence diagnostics for event_type × value band: per-cell
      // observed / expected / χ² contribution — per-cell so every
      // number is engine-exact (a summed χ² depends on float addition
      // order); bands are the histogram's exact floor anchors
      val c = cents(col("value"))
      val e = t(s, dir, "events")
        .select(col("event_type"),
          (c - pmod(c, lit(10000L))).as("value_band"))
      Stats.chiSquareCells(e, "event_type", "value_band")
        .orderBy(col("event_type"), col("value_band"))
    },
      // same marginals, same IEEE chain per cell: exact-long product →
      // one division for expected, then subtract/square/divide
      oracle =
        """WITH e AS (SELECT event_type,
          |  c - ((c % 10000) + 10000) % 10000 AS value_band
          | FROM (SELECT event_type,
          |   CAST(round(value*100,0) AS BIGINT) AS c FROM events)),
          |cells AS (SELECT event_type, value_band,
          |  CAST(count(*) AS BIGINT) AS observed FROM e GROUP BY 1, 2),
          |r AS (SELECT event_type, CAST(sum(observed) AS BIGINT)
          |  AS row_total FROM cells GROUP BY 1),
          |cl AS (SELECT value_band, CAST(sum(observed) AS BIGINT)
          |  AS col_total FROM cells GROUP BY 1),
          |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells)
          |SELECT event_type, value_band, observed, row_total, col_total,
          | n.n,
          | CAST(row_total * col_total AS DOUBLE) / n.n AS expected,
          | ((observed - CAST(row_total * col_total AS DOUBLE) / n.n)
          |   * (observed - CAST(row_total * col_total AS DOUBLE) / n.n))
          |  / (CAST(row_total * col_total AS DOUBLE) / n.n) AS contribution
          |FROM cells JOIN r USING (event_type) JOIN cl USING (value_band), n
          |ORDER BY event_type, value_band""".stripMargin),

    QueryDef("ev_median_mad", (s, dir) => {
      // robust location/scale per event type: EXACT lower median (the
      // ⌈n/2⌉-th smallest — rank arithmetic, no averaging, no
      // approx-percentile sketch whose buffer layout an independent
      // engine can't replay) and MAD (the same rank over |x − median|).
      // The robust pair an outlier-gated quality monitor wants where
      // mean/stddev follow the tail. Plan shape is the 100-TB-safe one:
      // a per-row window over the bare event_type key would funnel
      // every row of a ~4-valued group into ONE sort task, so each
      // pass instead pre-aggregates (event_type, value) → cnt — a
      // map-side-combinable shuffle of DISTINCT VALUES — and selects
      // the value whose cumulative-count range [cum−cnt+1, cum]
      // contains rank ⌈n/2⌉. The windows rank the distinct-value
      // frame (integer cents: orders of magnitude smaller than rows),
      // never the row stream; the answer is identical because the
      // value at a global (value, id)-rank depends on the value
      // ordering alone.
      val e = t(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("x"))
      val cnts = e.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("cnt"))
      val byX = Window.partitionBy(col("event_type")).orderBy(col("x"))
      val grp = Window.partitionBy(col("event_type"))
      val med = cnts
        .withColumn("cum", sum(col("cnt")).over(byX))
        .withColumn("n", sum(col("cnt")).over(grp))
        .filter(col("cum") >= expr("(n + 1) div 2") &&
          col("cum") - col("cnt") < expr("(n + 1) div 2"))
        .select(col("event_type"), col("n").as("n_events"),
          col("x").as("median_cents"))
      val dcnts = cnts.join(med, Seq("event_type"))
        .groupBy(col("event_type"), col("n_events"), col("median_cents"),
          abs(col("x") - col("median_cents")).as("d"))
        .agg(sum(col("cnt")).as("cnt"))
      val byD = Window.partitionBy(col("event_type")).orderBy(col("d"))
      dcnts
        .withColumn("cum", sum(col("cnt")).over(byD))
        .filter(col("cum") >= expr("(n_events + 1) div 2") &&
          col("cum") - col("cnt") < expr("(n_events + 1) div 2"))
        .select(col("event_type"), col("n_events"),
          col("median_cents"), col("d").as("mad_cents"))
        .orderBy(col("event_type"))
    },
      // same floor-aligned bin anchor spelled as explicit pmod — both
      // engines' % truncates, so the +w wrap makes them floor together
      // the same lower-median rank arithmetic, twice
      oracle =
        """WITH e AS (SELECT event_type, event_id,
          |  CAST(round(value*100,0) AS BIGINT) AS x FROM events),
          |r AS (SELECT event_type, x,
          |  row_number() OVER (PARTITION BY event_type
          |   ORDER BY x, event_id) AS rn,
          |  count(*) OVER (PARTITION BY event_type) AS n FROM e),
          |med AS (SELECT event_type, CAST(n AS BIGINT) AS n_events,
          |  x AS median_cents FROM r WHERE rn = (n + 1) // 2),
          |d AS (SELECT e.event_type, e.event_id, med.n_events,
          |  med.median_cents, abs(e.x - med.median_cents) AS dv
          | FROM e JOIN med USING (event_type)),
          |r2 AS (SELECT event_type, n_events, median_cents, dv,
          |  row_number() OVER (PARTITION BY event_type
          |   ORDER BY dv, event_id) AS rn FROM d)
          |SELECT event_type, n_events, median_cents, dv AS mad_cents
          |FROM r2 WHERE rn = (n_events + 1) // 2
          |ORDER BY event_type""".stripMargin),

    QueryDef("ev_histogram", (s, dir) => {
      // per-type equi-width value histogram: bin anchors floor-aligned
      // in exact long arithmetic (v − pmod(v, w)) — one map-side
      // combinable aggregation, bounds materialized per bin
      Stats.histogram(
        t(s, dir, "events")
          .select(col("event_type"), cents(col("value")).as("cents")),
        "cents", Seq("event_type"), width = 2500L)
        .orderBy(col("event_type"), col("bin_lo"))
    },
      oracle = evHistogramOracle),

    QueryDef("ev_profile", (s, dir) => {
      // per-type ingest profile with a planted null regime (errors
      // carry no amount): row/null counts, exact bounds, and KMV
      // distinct cardinality of the non-null cents — one declarative
      // aggregation, the same operator the stream twin runs at ingest.
      // The all-null error group must report null bounds and a 0
      // estimate, never fake zeros.
      val ev = t(s, dir, "events").select(col("event_type"),
        when(col("event_type") === "error", lit(null).cast("long"))
          .otherwise(cents(col("value"))).as("v"))
      Stats.profileByGroup(ev, "event_type", "v", k = 64)
        .orderBy(col("event_type"))
    },
      oracle = evProfileOracle),

    QueryDef("ev_stream_profile", (s, dir) => {
      // the at-ingest drift gate: the SAME profile aggregation as a
      // Complete-mode streaming aggregation — algebraic metrics plus
      // the KMV sketch (exact count(DISTINCT) is structurally
      // unsupported over streams; the sketch's merge-tree independence
      // is why micro-batch absorption equals the batch answer). Shares
      // ev_profile's oracle verbatim.
      val feed = Tables.streamEvents(s, dir).select(col("event_type"),
        when(col("event_type") === "error", lit(null).cast("long"))
          .otherwise(cents(col("value"))).as("v"))
      val prof = Stats.profileByGroup(feed, "event_type", "v", k = 64)
      Sessionize.runToMemory(s, prof, "ev_stream_profile_sink",
        OutputMode.Complete, statePartitions = 8)
        .orderBy(col("event_type"))
    },
      // same rows as ev_profile by construction, so its oracle verbatim
      oracle = evProfileOracle),

    QueryDef("ev_stream_histogram", (s, dir) => {
      // the live-dashboard face of ev_histogram: the SAME floor-aligned
      // bin aggregation runs as a Complete-mode streaming aggregation
      // (state = one row per (type, bin) — bounded by the value range,
      // not the stream), drained after the bounded replay; shares the
      // batch oracle verbatim. No sentinel/watermark: Complete mode
      // re-emits full state each microbatch.
      val feed = Tables.streamEvents(s, dir)
        .select(col("event_type"), cents(col("value")).as("cents"))
      val hist = Stats.histogram(feed, "cents", Seq("event_type"),
        width = 2500L)
      Sessionize.runToMemory(s, hist, "ev_stream_histogram_sink",
        OutputMode.Complete, statePartitions = 8)
        .orderBy(col("event_type"), col("bin_lo"))
    },
      // same rows as ev_histogram by construction, so its oracle verbatim
      oracle = evHistogramOracle),

    QueryDef("ev_histogram_eqdepth", (s, dir) => {
      // equi-depth twin of ev_histogram: 8 equal-count tiles per type —
      // informative under value skew where equi-width bins collapse;
      // ntile over the totally ordered (cents, event_id) is
      // deterministic and identically defined on both engines
      Stats.equiDepthHistogram(
        t(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            cents(col("value")).as("cents")),
        "cents", Seq("event_type"), buckets = 8, idCol = "event_id")
        .orderBy(col("event_type"), col("tile"))
    },
      // same ntile definition (first n mod k tiles take the extra row)
      // over the same unique total order
      oracle =
        """WITH e AS (SELECT event_type, event_id,
          |  CAST(round(value*100,0) AS BIGINT) AS cents FROM events),
          |t AS (SELECT event_type, cents,
          |  CAST(ntile(8) OVER (PARTITION BY event_type
          |    ORDER BY cents, event_id) AS BIGINT) AS tile FROM e)
          |SELECT event_type, tile, CAST(count(*) AS BIGINT) AS n,
          | min(cents) AS v_min, max(cents) AS v_max
          |FROM t GROUP BY 1, 2 ORDER BY event_type, tile""".stripMargin),

    QueryDef("ev_twap", (s, dir) => {
      // time-weighted average purchase value per user: trapezoidal
      // integral as exact cents·second long sums, one closing IEEE
      // division. Seconds, not micros — the num sum must stay inside a
      // long at any per-user history length (doc'd in Stats)
      val p = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts) div 1000000").as("ts_s"),
          cents(col("value")).as("cents"))
      Stats.timeWeightedAvg(p, Seq("user_id"), "ts_s", "cents", "event_id")
        .orderBy(col("user_id"))
    },
      // identical lag-window trapezoid; integer-second timestamps and
      // long sums keep num/den exact, the one division is IEEE on both
      oracle =
        """WITH p AS (SELECT user_id, event_id,
          |  epoch_us(ts) // 1000000 AS ts_s,
          |  CAST(round(value*100,0) AS BIGINT) AS cents
          | FROM events WHERE event_type = 'purchase'),
          |w AS (SELECT user_id,
          |  ts_s - lag(ts_s) OVER (PARTITION BY user_id
          |    ORDER BY ts_s, event_id) AS dt,
          |  cents + lag(cents) OVER (PARTITION BY user_id
          |    ORDER BY ts_s, event_id) AS vs
          | FROM p)
          |SELECT user_id, CAST(count(dt) AS BIGINT) AS n_segments,
          | CAST(sum(vs * dt) AS BIGINT) AS num,
          | CAST(sum(dt) * 2 AS BIGINT) AS den,
          | CASE WHEN sum(dt) * 2 > 0
          |  THEN CAST(sum(vs * dt) AS DOUBLE) / CAST(sum(dt) * 2 AS BIGINT)
          | END AS twa
          |FROM w GROUP BY 1 ORDER BY user_id""".stripMargin),

    QueryDef("ev_agg_incremental", (s, dir) => {
      // incremental rollup maintenance: the stored per-user state (base,
      // here 3/4 of events playing yesterday's rollup) absorbs a delta
      // batch (the remaining 1/4 playing today's arrivals) via algebraic
      // merge — counts/sums add, mins/maxes combine — WITHOUT rescanning
      // raw history. The oracle recomputes from ALL events; exact-long
      // algebra makes merge == recompute bit-for-bit.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), cents(col("value")).as("v"))
      val keys = Seq("user_id")
      val base = IncrementalAgg.aggregate(
        ev.filter(col("event_id") % 4 =!= 0), keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"))
      val delta = IncrementalAgg.aggregate(
        ev.filter(col("event_id") % 4 === 0), keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"))
      IncrementalAgg.merge(base, delta, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"))
        .orderBy(col("user_id"))
    },
      oracle = evAggIncrementalOracle),

    QueryDef("ev_agg_incremental_stats", (s, dir) => {
      // the moment-sketch extension of ev_agg_incremental: (sum, count,
      // sum-of-squares) state merges algebraically, and avg/variance are
      // DERIVED at read time — never stored, so they stay exact under
      // merging. The STATE rides DECIMAL(38,0) (a long×long product sum
      // overflows int64 at corpus scale), but the CHECK SURFACE is pure
      // BIGINT: at verify SF the exact values fit int64 with orders of
      // magnitude to spare, ANSI mode makes the narrowing cast loud if
      // that ever stops being true, and int64 mul/sub + one int64→double
      // cast + one IEEE division are bit-identical across every DuckDB
      // version — unlike HUGEINT arithmetic or DECIMAL(38,0) output
      // canonicalization, both of which proved oracle-version-sensitive
      // (r13's one red row). varnum/varden expose the variance fraction
      // as exact integers so var_v is redundant to the integer check.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), cents(col("value")).as("v"))
      val keys = Seq("user_id")
      val base = IncrementalAgg.aggregate(
        ev.filter(col("event_id") % 4 =!= 0), keys,
        sums = Seq("v"), sumsqs = Seq("v"))
      val delta = IncrementalAgg.aggregate(
        ev.filter(col("event_id") % 4 === 0), keys,
        sums = Seq("v"), sumsqs = Seq("v"))
      val merged = IncrementalAgg.merge(base, delta, keys,
        sums = Seq("v"), sumsqs = Seq("v"))
      val sq = col("sumsq_v").cast("long")
      IncrementalAgg.derived(merged, avgs = Seq("v"), vars = Seq("v"))
        .select(col("user_id"), col("n_rows"), col("sum_v"),
          sq.as("sumsq_v"), col("avg_v"),
          (col("n_rows") * sq - col("sum_v") * col("sum_v")).as("varnum_v"),
          (col("n_rows") * col("n_rows")).as("varden_v"),
          col("var_v"))
        .orderBy(col("user_id"))
    },
      // full recompute of the merged (sum, count, sum-sq) state plus the
      // identical derived-moment recipe, ALL in BIGINT: int64 mul/sub,
      // one int64→double cast, one IEEE division. No HUGEINT, no DECIMAL
      // in the output — both behaved differently across oracle DuckDB
      // versions (r13's red row); int64 arithmetic cannot
      oracle =
        """WITH s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(sum(v) AS BIGINT) AS sum_v,
          |  CAST(sum(v * v) AS BIGINT) AS sumsq_v
          | FROM (SELECT user_id,
          |   CAST(round(value*100,0) AS BIGINT) AS v FROM events)
          | GROUP BY 1)
          |SELECT user_id, n_rows, sum_v, sumsq_v,
          | CAST(sum_v AS DOUBLE) / CAST(n_rows AS DOUBLE) AS avg_v,
          | n_rows * sumsq_v - sum_v * sum_v AS varnum_v,
          | n_rows * n_rows AS varden_v,
          | CAST(n_rows * sumsq_v - sum_v * sum_v AS DOUBLE)
          |   / CAST(n_rows * n_rows AS DOUBLE) AS var_v
          |FROM s ORDER BY 1""".stripMargin),

    QueryDef("ev_agg_incremental_rekey", (s, dir) => {
      // the append-only contract's escape hatch exercised: the rollup
      // state absorbs a CORRECTION (every user_id % 10 == 0 had cents
      // double-counted upstream) by rebuilding ONLY those keys from
      // their corrected history and splicing — min/max included, which
      // no algebraic merge could retract. Unaffected keys' state rows
      // pass through untouched; the oracle recomputes the whole
      // corrected corpus.
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          cents(col("value")).as("v"))
      val keys = Seq("user_id")
      val spec = (d: DataFrame) => IncrementalAgg.aggregate(d, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"))
      // yesterday's state was built from the WRONG feed (doubled cents
      // for the affected users)
      val wrong = ev.withColumn("v",
        when(col("user_id") % 10 === 0, col("v") * 2).otherwise(col("v")))
      val state = spec(wrong)
      // the corrected history of ONLY the affected keys
      val corrected = ev.filter(col("user_id") % 10 === 0)
      IncrementalAgg.reaggregateKeys(state, corrected, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"))
        .orderBy(col("user_id"))
    },
      // after the targeted repair, every key's state must equal a clean
      // full recompute — the affected keys via the rebuilt slice, the
      // rest via pass-through (their wrong-feed doubling only ever hit
      // user_id % 10 == 0, so clean == wrong for them)
      oracle =
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS sum_v,
          | min(epoch_us(ts)) AS min_ts_us,
          | max(epoch_us(ts)) AS max_ts_us
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("ev_stream_agg_incremental", (s, dir) => {
      // the object doc's claim made checkable: "the same state frame
      // can absorb deltas from a batch backfill and a structured-
      // streaming sink alike". Yesterday's state is batch-built from
      // 3/4 of events; TODAY'S delta state is produced by a streaming
      // aggregation (Complete mode — the running per-key state is the
      // sink table) over the remaining 1/4, and IncrementalAgg.merge
      // folds the two exactly as in the all-batch ev_agg_incremental —
      // same oracle, full recompute over all events. No sentinel: a
      // Complete-mode aggregation re-emits full state every batch, so
      // draining the one data microbatch is the final answer.
      val keys = Seq("user_id")
      val spec = (d: DataFrame) => IncrementalAgg.aggregate(d, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"))
      val evCols = (d: DataFrame) => d
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), cents(col("value")).as("v"))
      val base = spec(evCols(t(s, dir, "events"))
        .filter(col("event_id") % 4 =!= 0))
      val deltaStream = spec(evCols(Tables.streamEvents(s, dir))
        .filter(col("event_id") % 4 === 0))
      val delta = Sessionize.runToMemory(s, deltaStream,
        "ev_stream_agg_incr_sink", OutputMode.Complete,
        statePartitions = 8)
      IncrementalAgg.merge(base, delta, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"))
        .orderBy(col("user_id"))
    },
      // same rows as ev_agg_incremental by construction, so its oracle verbatim
      oracle = evAggIncrementalOracle),

    QueryDef("ev_agg_incremental_persisted", (s, dir) => {
      // the full daily-rollup lifecycle through a COLD artifact: state
      // built from a wrong feed (doubled cents for user_id%10==0) is
      // written to parquet, RELOADED, absorbs a delta batch by algebraic
      // merge, then takes the targeted correction via reaggregateKeys —
      // all downstream of the disk round-trip. Longs and DECIMAL(38,0)
      // round-trip parquet exactly, so the chain must equal a clean full
      // recompute bit-for-bit (the oracle). sumsq rides through the
      // whole chain in decimal; the check surface casts it to BIGINT
      // (the version-proof rule from ev_agg_incremental_stats).
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), cents(col("value")).as("v"))
      val keys = Seq("user_id")
      val wrong = ev.withColumn("v",
        when(col("user_id") % 10 === 0, col("v") * 2).otherwise(col("v")))
      val base = IncrementalAgg.aggregate(
        wrong.filter(col("event_id") % 4 =!= 0), keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"),
        sumsqs = Seq("v"))
      val store = s"$artifactRoot/incagg_state"
      IncrementalAgg.saveState(base, store)
      val loaded = IncrementalAgg.loadState(s, store, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"),
        sumsqs = Seq("v"))
      val delta = IncrementalAgg.aggregate(
        wrong.filter(col("event_id") % 4 === 0), keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"),
        sumsqs = Seq("v"))
      val merged = IncrementalAgg.merge(loaded, delta, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"),
        sumsqs = Seq("v"))
      val corrected = ev.drop("event_id").filter(col("user_id") % 10 === 0)
      IncrementalAgg.reaggregateKeys(merged, corrected, keys,
        sums = Seq("v"), mins = Seq("ts_us"), maxes = Seq("ts_us"),
        sumsqs = Seq("v"))
        .withColumn("sumsq_v", col("sumsq_v").cast("long"))
        .orderBy(col("user_id"))
    },
      // the persisted chain (save → cold reload → merge → rekey) must
      // land on a clean full recompute exactly — the wrong-feed doubling
      // and the disk round-trip both cancel out of the final state
      oracle =
        """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
          |  CAST(round(value*100,0) AS BIGINT) AS v FROM events)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
          | CAST(sum(v) AS BIGINT) AS sum_v,
          | min(ts_us) AS min_ts_us,
          | max(ts_us) AS max_ts_us,
          | CAST(sum(v * v) AS BIGINT) AS sumsq_v
          |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("ev_scd2_lookup", (s, dir) => {
      // point-in-time lookup: for each click, the purchase VERSION valid
      // at click time (SCD2 intervals over per-user purchases, then the
      // as-of backward join — intervals partition the timeline, so
      // "containing interval" = "latest valid_from <= ts" and no range
      // join is needed). The oracle is the independent BETWEEN
      // formulation over lead()-built intervals.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          sum(cents(col("value"))).as("p_cents"))
      val dims = Changes.scd2(purchases, Seq("user_id"), "ts")
        .select(col("user_id"), col("valid_from"),
          col("p_event_id"), col("p_cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      Changes.scd2Lookup(clicks, dims, keyCols = Seq("user_id"),
        factTsCol = "ts", valueCols = Seq("p_event_id", "p_cents"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("v_p_event_id").as("p_event_id"),
          col("v_p_cents").as("p_cents"),
          unix_micros(col("v_valid_from")).as("valid_from_us"))
        .orderBy(col("event_id"))
    },
      oracle = evScd2LookupOracle),

    QueryDef("ev_stream_scd2_enrich", (s, dir) => {
      // the point-in-time lookup's STREAM twin — the leakage-free live
      // feature join: clicks stream against the static SCD2 purchase
      // dimension via the interval formulation (valid_from <= ts <
      // valid_to matches at most one version per fact, so the join is
      // stateless Append — no watermark, no as-of ranking) and must
      // reproduce the batch ev_scd2_lookup rows exactly, nulls for
      // pre-first-version clicks included.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          sum(cents(col("value"))).as("p_cents"))
      val dims = Changes.scd2(purchases, Seq("user_id"), "ts")
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("p_event_id"), col("p_cents"))
      val clicks = Tables.streamEvents(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val enriched = Changes.scd2JoinIntervals(clicks, dims,
        keyCols = Seq("user_id"), factTsCol = "ts",
        valueCols = Seq("p_event_id", "p_cents"))
      Sessionize.runToMemory(s, enriched, "ev_stream_scd2_sink",
        OutputMode.Append, statePartitions = 8)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("v_p_event_id").as("p_event_id"),
          col("v_p_cents").as("p_cents"),
          unix_micros(col("v_valid_from")).as("valid_from_us"))
        .orderBy(col("event_id"))
    },
      // same rows as ev_scd2_lookup by construction, so its oracle verbatim
      oracle = evScd2LookupOracle),

    QueryDef("ev_cdc_apply", (s, dir) => {
      // CDC APPLY (batch MERGE INTO): even events form the base snapshot
      // (compacted latest-per-user), odd events are the change feed with
      // every 17th a delete; the apply folds them into the next
      // snapshot — newest version wins per user, delete-latest users
      // drop entirely. One WindowGroupLimit compaction over the union.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), cents(col("value")).as("value_cents"))
      val base = Changes.latestByKey(ev.filter(col("event_id") % 2 === 0),
        keyCols = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"))
      val changes = ev.filter(col("event_id") % 2 === 1)
        .withColumn("op",
          when(col("event_id") % 17 === 0, lit("d")).otherwise(lit("u")))
      Changes.applyCdc(base, changes, keyCols = Seq("user_id"),
        tsCol = "ts", tieCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          col("value_cents"))
        .orderBy(col("user_id"))
    },
      oracle = evCdcApplyOracle),

    QueryDef("ev_stream_ingest_audited", (s, dir) => {
      // audited streaming ingest with a dead-letter queue: the real
      // stream's batch passes the expectation suite and publishes; a
      // poisoned batch (negated cents) is REFUSED — never visible to a
      // table reader — and quarantined verbatim under the DLQ for
      // triage, while the stream keeps moving. Replays of both kinds
      // are exactly-once (spec-pinned: manifest stamp for published
      // ids, DLQ-dir existence for refused ones). Face 1 = the audited
      // table head, face 2 = the quarantined batch.
      val tbl = s"$artifactRoot/snap_ingest_audited"
      val dlq = s"$artifactRoot/snap_ingest_dlq"
      Snapshots.init(s, tbl); Snapshots.init(s, dlq)
      val audit = (df: DataFrame) => Stats.expectRows(df,
        Seq(("neg_cents", col("value_cents") < 0L)))
      val feed = Tables.streamEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents(col("value")).as("value_cents"))
      val q = SnapshotStream.ingestAudited(feed, tbl, dlq, audit,
        "ev_stream_ingest_audited")
      q.processAllAvailable(); q.stop()
      val poisoned = t(s, dir, "events")
        .filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          (-cents(col("value")) - 1L).as("value_cents"))
      val refused = SnapshotStream.appendBatchAudited(
        s, tbl, dlq, audit, 1L, poisoned)
      require(refused.isEmpty, "the poisoned batch must be refused")
      val latest = Snapshots.latestVersion(s, tbl).get
      Snapshots.readAsOf(s, tbl, latest).withColumn("face", lit(1L))
        .unionByName(
          s.read.parquet(s"$dlq/b1").withColumn("face", lit(2L)))
        .orderBy(col("face"), col("event_id"))
    },
      // face 1 = the audited head (everything, the fixture is clean);
      // face 2 = the quarantined poisoned batch, verbatim
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(1 AS BIGINT) AS face FROM ev
          |UNION ALL
          |SELECT event_id, user_id, event_type,
          | -value_cents - 1 AS value_cents, CAST(2 AS BIGINT) AS face
          |FROM ev WHERE event_id % 2 = 0
          |ORDER BY face, event_id""".stripMargin),

    QueryDef("ev_stream_table_feed", (s, dir) => {
      // the snapshot table as a STREAMING SOURCE — the other half of
      // the lakehouse streaming loop (SnapshotStream is the sink):
      // `readStream.format("graft-snapshot")` subscribes to a table,
      // versions ARE the offsets, and each un-served append interval
      // plans the manifest file-set difference of exactly two
      // generations — O(delta) per micro-batch through Spark's own
      // parquet reader, exactly-once across checkpointed restarts
      // because manifests are immutable (SnapshotSourceSpec pins the
      // restart, startingVersion, and the replace/DV/schema-change
      // refusals). Three commits drain as the stream's full content;
      // the oracle is the plain union. Fresh dirs + sink name per
      // invocation (stateful checkpoint).
      val root = java.nio.file.Files
        .createTempDirectory("graft_tablefeed_").toString
      val tbl = s"$root/tbl"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          cents(col("value")).as("value_cents"))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        tbl, append = true)
      val sink = s"tablefeed_${sqlCatN.incrementAndGet()}"
      val q = s.readStream.format("graft-snapshot")
        .option("path", tbl).load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).orderBy(col("event_id"))
    },
      // a table FEED may only move bytes: the drained stream is the
      // three committed slices, i.e. all events
      oracle =
        """SELECT event_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("ev_stream_snapshot_ingest", (s, dir) => {
      // streaming ingest into the lakehouse table, exactly-once: each
      // micro-batch publishes one append generation stamped
      // commit_ts = batchId — the atomic manifest rename IS the
      // transaction marker, so a replayed batch is detected by one
      // metadata-scale filter and skipped (no side ledger, no crash
      // window; SnapshotStream scaladoc walks both crash shapes). The
      // query REPLAYS batch 0 explicitly after the stream drains (the
      // crash-after-publish replay) and requires the duplicate to be
      // refused; the face read back must equal the plain batch table.
      val tbl = s"$artifactRoot/snap_stream_ingest"
      Snapshots.init(s, tbl)
      val feed = Tables.streamEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents(col("value")).as("value_cents"))
      val q = SnapshotStream.ingest(feed, tbl, "ev_stream_snap_ingest")
      q.processAllAvailable(); q.stop()
      val replay = eventsCents(s, dir)
      val dup = SnapshotStream.appendBatchExactlyOnce(s, tbl, 0L, replay)
      require(dup.isEmpty,
        "exactly-once ingest: replayed batch 0 must be skipped")
      val latest = Snapshots.latestVersion(s, tbl).get
      Snapshots.readAsOf(s, tbl, latest).orderBy(col("event_id"))
    },
      // the streamed table's head face must equal the plain batch
      // table — exactly-once means nothing lost AND nothing doubled
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("ev_stream_ingest_maintained", (s, dir) => {
      // the maintenance hook riding the ingest sink, END TO END on the
      // fixture feed: a 5-file staging of the events projection streams
      // one file per micro-batch, and every 2 batches the sink compacts
      // through optimizePreserving and vacuums to a 3-generation
      // retention (both under retryOnConflict) — so the streamed table
      // stays BOUNDED in generations and head files (required below,
      // not assumed) while the face stays value-equal to the plain
      // batch projection. Maintenance may only change WHERE bytes
      // live, never values — the oracle is the same projection.
      val root = s"$artifactRoot/snap_stream_ingest_maint"
      Snapshots.init(s, root)
      val staging = s"$root/feed"
      val tbl = s"$root/tbl"
      eventsCents(s, dir)
        .repartition(5)
        .write.mode("overwrite").parquet(staging)
      val raw = Tables.footerSchema(s, staging)
      val feed = s.readStream.schema(raw)
        .option("maxFilesPerTrigger", 1).parquet(staging)
      val q = SnapshotStream.ingest(feed, tbl, "ev_stream_ingest_maint",
        maintainEvery = 2, targetBytes = 1L << 30, retainVersions = 3)
      q.processAllAvailable(); q.stop()
      val versions = Snapshots.listGenerations(s, tbl)
      require(versions.length <= 5,
        s"maintained ingest left ${versions.length} generations — " +
          "the maintenance hook did not run")
      val head = versions.max
      require(Snapshots.readAsOf(s, tbl, head).inputFiles.length <= 3,
        "maintained ingest left an uncompacted head")
      Snapshots.readAsOf(s, tbl, head).orderBy(col("event_id"))
    },
      // the maintained stream's head face must STILL equal the plain
      // batch table — compaction/retention may move bytes, not values
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("ev_stream_cdc_apply", (s, dir) => {
      // the MERGE-INTO's stream twin, split at its algebraic seam:
      // latest-wins is associative, so the STREAM runs only the per-key
      // compaction (one max_by row of state per key, deletes riding
      // through as data — a newer upsert may still resurrect the key)
      // and the snapshot merge is the unmodified batch applyCdc over
      // the drained state frame (keys × one row, not the raw feed).
      // Same fixture split as ev_cdc_apply, whose oracle it shares.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), cents(col("value")).as("value_cents"))
      val base = Changes.latestByKey(ev.filter(col("event_id") % 2 === 0),
        keyCols = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"))
      val feed = Tables.streamEvents(s, dir)
        .filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), cents(col("value")).as("value_cents"))
        .withColumn("op",
          when(col("event_id") % 17 === 0, lit("d")).otherwise(lit("u")))
      val latest = StreamCdc.latestChangeStream(feed,
        keyCols = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"))
      val drained = Sessionize.runToMemory(s, latest, "ev_stream_cdc",
        OutputMode.Complete, statePartitions = 8)
      Changes.applyCdc(base, drained, keyCols = Seq("user_id"),
        tsCol = "ts", tieCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          col("value_cents"))
        .orderBy(col("user_id"))
    },
      // same rows as ev_cdc_apply by construction, so its oracle verbatim
      oracle = evCdcApplyOracle),

    QueryDef("ev_stream_cdc_mor", (s, dir) => {
      // MERGE-ON-READ CDC apply (the Iceberg v2 equality-delete /
      // Flink upsert-sink shape): each micro-batch commits keyed
      // tombstones + its winning rows as ONE metadata generation —
      // zero pre-existing data files rewritten per sync, require-
      // pinned below via manifest file-set containment across the
      // whole stream. Winners resolve ts-aware against the current
      // MOR face with deletes riding as soft rows, so an unordered
      // multi-batch feed converges to exactly the batch applyCdc
      // face (the ev_cdc_apply oracle). foldEqDeletes then
      // materializes the same face copy-on-write; the folded count is
      // require-pinned against the MOR read before the fold.
      val tbl = s"$artifactRoot/snap_cdc_mor"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), cents(col("value")).as("value_cents"))
      val base = Changes.latestByKey(ev.filter(col("event_id") % 2 === 0),
        keyCols = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"))
        .withColumn("op", lit("u"))
      Snapshots.commit(s, base, tbl, append = false)
      // the change feed stages as 3 files → 3 micro-batches, split
      // WITHOUT regard to event time (arrival order must not matter)
      val staging = s"$artifactRoot/snap_cdc_mor_feed"
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("op",
          when(col("event_id") % 17 === 0, lit("d")).otherwise(lit("u")))
        .repartition(3)
        .write.mode("overwrite").parquet(staging)
      val schema = Tables.footerSchema(s, staging)
      val feed = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
      val q = SnapshotStream.upsertMor(feed, tbl, "ev_stream_cdc_mor_q",
        keyCols = Seq("user_id"), tsCol = "ts", tieCols = Seq("event_id"))
      q.processAllAvailable(); q.stop()
      val head = Snapshots.latestVersion(s, tbl).get
      require(head >= 3L,
        s"the 3-file feed must commit one MOR generation per " +
          s"micro-batch, head is v$head")
      // ZERO-REWRITE pin: every sync's generation carries every file
      // of its parent verbatim (tombstones + fresh files only)
      (1L to head).foreach { v =>
        val prev = Snapshots.generationOf(s, tbl, v - 1).paths.toSet
        val cur = Snapshots.generationOf(s, tbl, v).paths.toSet
        require(prev.subsetOf(cur),
          s"MOR sync v$v of the CDC stream rewrote a pre-existing file")
      }
      val morCount = Snapshots.readMorAsOf(s, tbl, head, Seq("user_id"))
        .count()
      val folded = Snapshots.foldEqDeletes(s, tbl, Seq("user_id"))
      val face = Snapshots.readAsOf(s, tbl, folded)
      require(face.count() == morCount,
        "the folded copy-on-write face must carry exactly the " +
          "merge-on-read rows")
      face.filter(col("op") =!= "d").drop("op")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          col("value_cents"))
        .orderBy(col("user_id"))
    },
      // the merge-on-read apply converges to the same latest-wins face
      oracle = evCdcApplyOracle),

    QueryDef("ev_asof_join", (s, dir) => {
      // backward as-of: each click picks up the user's most recent
      // purchase at or before it (union-window shape, one shuffle+sort).
      // Purchases pre-aggregate per (user, ts) so "most recent" is
      // unambiguous — the operator's documented contract.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          sum(cents(col("value"))).as("p_cents"))
      TemporalJoin.asofBackward(clicks, purchases,
        keyCols = Seq("user_id"), leftTsCol = "ts", rightTsCol = "ts",
        valueCols = Seq("p_event_id", "p_cents"), prefix = "p_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("p_p_event_id").as("p_event_id"),
          col("p_p_cents").as("p_cents"),
          unix_micros(col("p_ts")).as("p_ts_us"))
        .orderBy(col("event_id"))
    },
      // independent formulation: DuckDB's native ASOF LEFT JOIN checks
      // the union-window implementation rather than restating it
      oracle =
        """WITH p AS (SELECT user_id, ts,
          |  max(event_id) AS p_event_id,
          |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS p_cents
          | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |c AS (SELECT event_id, user_id, ts FROM events
          | WHERE event_type = 'click')
          |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          | p.p_event_id, p.p_cents, epoch_us(p.ts) AS p_ts_us
          |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
          |ORDER BY c.event_id""".stripMargin),

    QueryDef("ev_asof_fwd", (s, dir) => {
      // forward as-of: each click picks up the user's EARLIEST purchase
      // at or after it ("next purchase after the click") — the mirror
      // window of ev_asof_join, same single shuffle+sort
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          sum(cents(col("value"))).as("p_cents"))
      TemporalJoin.asofForward(clicks, purchases,
        keyCols = Seq("user_id"), leftTsCol = "ts", rightTsCol = "ts",
        valueCols = Seq("p_event_id", "p_cents"), prefix = "p_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("p_p_event_id").as("p_event_id"),
          col("p_p_cents").as("p_cents"),
          unix_micros(col("p_ts")).as("p_ts_us"))
        .orderBy(col("event_id"))
    },
      // forward variant: ASOF with the inequality flipped picks the
      // EARLIEST right row at-or-after the left timestamp
      oracle =
        """WITH p AS (SELECT user_id, ts,
          |  max(event_id) AS p_event_id,
          |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS p_cents
          | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |c AS (SELECT event_id, user_id, ts FROM events
          | WHERE event_type = 'click')
          |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          | p.p_event_id, p.p_cents, epoch_us(p.ts) AS p_ts_us
          |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
          |ORDER BY c.event_id""".stripMargin),

    QueryDef("ev_asof_tol", (s, dir) => {
      // tolerance-bounded backward as-of: most recent purchase within 24
      // hours of the click; staler matches are nulled, clicks always
      // survive. Same plan as the unbounded variant plus a narrow
      // projection — the fixture's median click->purchase lag is ~1.4
      // days, so the cap nulls roughly half the matches.
      val tolUs = 86400000000L
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          sum(cents(col("value"))).as("p_cents"))
      TemporalJoin.asofBackwardTolerant(clicks, purchases,
        keyCols = Seq("user_id"), leftTsCol = "ts", rightTsCol = "ts",
        valueCols = Seq("p_event_id", "p_cents"),
        lagOf = (l, r) => unix_micros(l) - unix_micros(r),
        maxLag = lit(tolUs), prefix = "p_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("p_p_event_id").as("p_event_id"),
          col("p_p_cents").as("p_cents"),
          unix_micros(col("p_ts")).as("p_ts_us"))
        .orderBy(col("event_id"))
    },
      // tolerance = null-out pass over the unbounded backward ASOF: the
      // most recent row is the only backward candidate, so "most recent
      // within 24h" is "most recent overall, nulled when older"
      oracle =
        """WITH p AS (SELECT user_id, ts,
          |  max(event_id) AS p_event_id,
          |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS p_cents
          | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |c AS (SELECT event_id, user_id, ts FROM events
          | WHERE event_type = 'click'),
          |j AS (SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          |  p.p_event_id, p.p_cents, epoch_us(p.ts) AS p_ts_us
          | FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts)
          |SELECT event_id, user_id, ts_us,
          | CASE WHEN ts_us - p_ts_us <= 86400000000 THEN p_event_id END AS p_event_id,
          | CASE WHEN ts_us - p_ts_us <= 86400000000 THEN p_cents END AS p_cents,
          | CASE WHEN ts_us - p_ts_us <= 86400000000 THEN p_ts_us END AS p_ts_us
          |FROM j ORDER BY event_id""".stripMargin),

    QueryDef("ev_interval_join", (s, dir) => {
      // interval-OVERLAP join: odd events' validity windows × even
      // events' windows per user — every overlapping pair with its
      // exact overlap length. Buckets of one window-width make the
      // join equi on (user, bucket) instead of a per-user cross join
      // with a range predicate; the exact overlap filter clears bucket
      // false positives and a pair surviving only in its FIRST common
      // bucket emits exactly once — no distinct, no extra exchange.
      // The oracle IS the quadratic form — the bucketing may only
      // change cost, never pairs.
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + lit(300000000L))
      val a = e.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id").as("a_id"),
          col("s").as("a_s"), col("e").as("a_e"))
      val b = e.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id").as("b_id"),
          col("s").as("b_s"), col("e").as("b_e"))
      TemporalJoin.intervalOverlapJoin(a, b, Seq("user_id"),
        "a_s", "a_e", "b_s", "b_e", bucketMicros = 300000000L)
        .select(col("user_id"), col("a_id"), col("b_id"),
          (least(col("a_e"), col("b_e")) -
            greatest(col("a_s"), col("b_s"))).as("overlap_us"))
        .orderBy(col("user_id"), col("a_id"), col("b_id"))
    },
      oracle = evIntervalJoinOracle),

    QueryDef("ev_range_join", (s, dir) => {
      // bounded range join via interval bucketing: events within ±30 min
      // of each signup, counted per signup (the count includes the signup
      // itself — every signup row survives)
      val w = 1800000000L
      val ev = t(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_event_id"), col("user_id"),
          col("ts_us"))
      val all = ev.select(col("user_id"), col("ts_us").as("e_ts_us"),
        col("event_id").as("e_id"))
      TemporalJoin.rangeJoinBucketed(signups, all,
        keyCols = Seq("user_id"), leftTsUsCol = "ts_us",
        rightTsUsCol = "e_ts_us", rangeMicros = w,
        valueCols = Seq("e_id"))
        .groupBy(col("s_event_id"), col("user_id"), col("ts_us"))
        .agg(count(lit(1)).as("n_nearby"))
        .orderBy(col("s_event_id"))
    },
      oracle =
        """WITH s AS (SELECT event_id AS s_event_id, user_id,
          |  epoch_us(ts) AS ts_us FROM events WHERE event_type = 'signup')
          |SELECT s.s_event_id, s.user_id, s.ts_us, count(*) AS n_nearby
          |FROM s JOIN events e ON s.user_id = e.user_id
          | AND abs(epoch_us(e.ts) - s.ts_us) <= 1800000000
          |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    QueryDef("ev_stream_seasonal", (s, dir) => {
      // detrending at INGEST: the seasonal baseline is batch-built
      // (cells change slowly — the batch-train/stream-apply split of
      // ev_stream_anomaly) and broadcast; each arriving event joins its
      // (type, dow, hr) cell statelessly and emits its exact-integer
      // residual. Append mode, no watermark, no state store; the
      // baseline is keys×7×24 rows at any volume. Shares ev_seasonal's
      // oracle verbatim — batch-equal on full replay by construction.
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"),
          cents(col("value")).as("cents"))
      val base = broadcast(
        Anomaly.seasonalBaseline(ev, "ts", "cents", Seq("event_type")))
      val stream = Tables.streamEvents(s, dir)
        .select(col("event_id"), col("event_type"), col("ts"),
          cents(col("value")).as("cents"))
        .withColumn("dow", (dayofweek(col("ts")) - 1).cast("long"))
        .withColumn("hr", hour(col("ts")).cast("long"))
        .join(base, Seq("event_type", "dow", "hr"))
        .withColumn("residual_milli",
          col("cents") * 1000L - col("mean_milli"))
        .select(col("event_id"), col("event_type"), col("dow"),
          col("hr"), col("cents"), col("n_cell"), col("mean_milli"),
          col("residual_milli"))
      Sessionize.runToMemory(s, stream, "ev_stream_seasonal",
        OutputMode.Append)
        .orderBy(col("event_id"))
    },
      // same rows as ev_seasonal by construction, so its oracle verbatim
      oracle = evSeasonalOracle),

    QueryDef("ev_stream_enrich", (s, dir) => {
      // stream-static enrichment: the event stream picks up its user's
      // market segment from a broadcast dimension. Stateless (no
      // watermark, no state store) — each micro-batch joins and emits;
      // the explicit broadcast keeps the stream from re-shuffling every
      // batch. Oracle = the plain batch left join.
      val stream = Tables.streamEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = Sessionize.enrichStream(stream, dim,
        keyPairs = Seq("user_id" -> "c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment"))
      Sessionize.runToMemory(s, enriched, "ev_stream_enrich",
        OutputMode.Append)
        .orderBy(col("event_id"))
    },
      // stream-static enrichment == the plain batch left join
      oracle =
        """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
          |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
          |ORDER BY e.event_id""".stripMargin),

    QueryDef("ev_stream_anomaly", (s, dir) => {
      // batch-train / stream-apply outlier flagging: per-user (med, mad)
      // trains on batch history (a median is not computable
      // row-at-a-time), the stream flags arriving purchases with ONE
      // stateless join — no watermark, no state store. Over a full
      // replay the flagged set equals batch ev_anomaly's by
      // construction, so both share an oracle.
      Tables.configure(s)
      def purchases(df: DataFrame) =
        df.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            cents(col("value")).as("cents"))
      val thr = Anomaly.madThresholds(
        purchases(t(s, dir, "events")), "cents", Seq("user_id"))
      val flagged = Anomaly.applyMadThresholds(
        purchases(Tables.streamEvents(s, dir)), thr, "cents")
      Sessionize.runToMemory(s, flagged, "ev_stream_anomaly",
        OutputMode.Append, statePartitions = 8)
        .select(col("user_id"), col("event_id"), col("cents"),
          col("med"), col("mad"), col("dev"))
        .orderBy(col("event_id"))
    },
      // the stream-apply twin admits EXACTLY the batch flag set (same
      // trained thresholds, stateless gate) — same oracle text
      oracle =
        """WITH p AS (SELECT user_id, event_id,
          |  CAST(round(value*100,0) AS BIGINT) AS cents
          | FROM events WHERE event_type = 'purchase'),
          |m AS (SELECT user_id, quantile_cont(cents, 0.5) AS med
          | FROM p GROUP BY 1 HAVING count(*) >= 5),
          |d AS (SELECT p.user_id, p.event_id, p.cents, m.med,
          |  abs(p.cents - m.med) AS dev FROM p JOIN m USING (user_id)),
          |md AS (SELECT user_id, quantile_cont(dev, 0.5) AS mad
          | FROM d GROUP BY 1)
          |SELECT d.user_id, d.event_id, d.cents, d.med, md.mad, d.dev
          |FROM d JOIN md USING (user_id)
          |WHERE d.dev > md.mad * 3.0
          |ORDER BY d.event_id""".stripMargin),

    QueryDef("ev_stream_topk", (s, dir) => {
      // streaming leaderboard: per-user top-3 purchases maintained as
      // bounded k-row state; Update emissions are version-tagged, the
      // final board is each user's max-version rows (the bounded-replay
      // reading of a stream that never closes). Oracle: the batch
      // WindowGroupLimit top-k.
      import s.implicits._
      val purchases = Tables.streamEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          cents(col("value")).as("cents"))
        .as[Sessionize.TopKIn]
      val out = Sessionize.topKStream(purchases, k = 3)
      val tbl = Sessionize.runToMemory(s, out.toDF(), "ev_stream_topk",
        OutputMode.Update, statePartitions = 8)
      val w = Window.partitionBy(col("user_id"))
      tbl.withColumn("__mv", max(col("version")).over(w))
        .filter(col("version") === col("__mv"))
        .select(col("user_id"), col("rank"), col("event_id"), col("cents"))
        .orderBy(col("user_id"), col("rank"))
    },
      // the batch top-k the leaderboard must converge to over a full
      // replay — row_number under (cents DESC, id ASC)
      oracle =
        """WITH p AS (SELECT user_id, event_id,
          |  CAST(round(value*100,0) AS BIGINT) AS cents
          | FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, event_id, cents,
          |  CAST(row_number() OVER (PARTITION BY user_id
          |    ORDER BY cents DESC, event_id) AS BIGINT) AS rank FROM p)
          |SELECT user_id, rank, event_id, cents FROM r
          |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin),

    QueryDef("ev_stream_dedup", (s, dir) => {
      // streaming exact dedup validated the hard way: the staging input
      // is the events table UNIONED WITH ITSELF, and the output must
      // collapse back to exactly the source rows. A stateful filter, so
      // first occurrences emit immediately — no flush sentinel needed.
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val staging = s"$artifactRoot/stream_dedup_input"
      ev.unionByName(ev).write.mode("overwrite").parquet(staging)
      val schema = Tables.footerSchema(s, staging)
      val deduped = Sessionize.dedupStream(
        s.readStream.schema(schema).parquet(staging),
        keys = Seq("event_id"))
      Sessionize.runToMemory(s, deduped, "ev_stream_dedup",
        OutputMode.Append, statePartitions = 8)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), cents(col("value")).as("value_cents"))
        .orderBy(col("event_id"))
    },
      // the doubled staging input must collapse to exactly the source
      // table (event_id is unique there — asserted by rows_match)
      oracle =
        """SELECT event_id, epoch_us(ts) AS ts_us, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("ev_stream_windowed_agg", (s, dir) => {
      // the SAME aggregation as ev_windowed_agg, executed as an actual
      // Structured Streaming query: parquet file source → complete-mode
      // windowed aggregation → memory sink, drained synchronously. One
      // oracle covers both execution models. Complete mode is the
      // bounded-replay harness choice (one batch, full state re-emitted
      // once); the production mode for an indefinite run is Append with
      // a watermark — per-window emit-once plus state expiry — which
      // the operator supports unchanged (ev_stream_sessionize runs it).
      val stream = Tables.streamEvents(s, dir)
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("value_cents"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("value_cents"))
      Sessionize.runToMemory(s, agg, "ev_stream_win", OutputMode.Complete,
        statePartitions = 8)
        .orderBy(col("win_start_us"), col("event_type"))
    },
      oracle =
        """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
          | event_type, count(*) AS n,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    QueryDef("ev_stream_windowed_agg_append", (s, dir) => {
      // the PRODUCTION shape of the streaming windowed aggregation:
      // event-time tumbling windows under a WATERMARK in APPEND mode.
      // Each window emits exactly once when the watermark passes its
      // end, and its state row expires with the emit — state is
      // bounded by (group keys × windows inside the watermark horizon)
      // where Complete mode re-emits and retains the WHOLE domain
      // every batch (unbounded at a 100-TB feed's lifetime; the
      // bounded-state contract is pinned in SessionizeSpec). The
      // oracle is the batch aggregation restricted to FINALIZED
      // windows — win_end ≤ max(ts) − delay — because windows the
      // final watermark never cleared are still open and unemitted by
      // the Append contract.
      val agg = Tables.streamEvents(s, dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("value_cents"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("value_cents"))
      Sessionize.runToMemory(s, agg, "ev_stream_win_append",
        OutputMode.Append, statePartitions = 8)
        .orderBy(col("win_start_us"), col("event_type"))
    },
      // Append mode emits exactly the FINALIZED windows: those whose
      // end the final watermark (max event time − 30 min, at Spark's
      // millisecond watermark granularity) passed
      oracle =
        """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
          | event_type, count(*) AS n,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM events
          |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
          |  <= (SELECT max(ts) - INTERVAL '30 minutes' FROM events)
          |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    QueryDef("ev_stream_range_join", (s, dir) => {
      // stream-stream bounded range join: all events within ±30 min of
      // each signup, as raw pairs. Inner join emits when both sides have
      // arrived (no sentinel); watermark + two-sided bound expire
      // buffered state. Oracle = the plain theta join, pair-level.
      def stream = Tables.streamEvents(s, dir)
      val signups = stream.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_event_id"), col("user_id"),
          col("ts").as("s_ts"))
      val all = stream.select(col("event_id").as("e_id"),
        col("user_id").as("e_user"), col("ts").as("e_ts"))
      val joined = Sessionize.rangeJoinStream(signups, all,
        keyPairs = Seq("user_id" -> "e_user"),
        leftTsCol = "s_ts", rightTsCol = "e_ts", rangeSeconds = 1800)
      Sessionize.runToMemory(s,
        joined.select(col("s_event_id"), col("e_id")),
        "ev_stream_rj", OutputMode.Append, statePartitions = 8)
        .orderBy(col("s_event_id"), col("e_id"))
    },
      // pair-level restatement of the ev_range_join oracle — the
      // streaming inner join must emit exactly the theta join's pairs
      oracle =
        """SELECT s.event_id AS s_event_id, e.event_id AS e_id
          |FROM events s JOIN events e ON s.user_id = e.user_id
          | AND s.event_type = 'signup'
          | AND abs(epoch_us(e.ts) - epoch_us(s.ts)) <= 1800000000
          |ORDER BY 1, 2""".stripMargin),

    QueryDef("ev_stream_asof_join", (s, dir) => {
      // stream-stream BACKWARD AS-OF join (custom flatMapGroupsWithState
      // state machine — Spark's native stream-stream joins can't express
      // "latest right ≤ left ts"): clicks pick up the user's most recent
      // prior purchase, left-outer, validated against the SAME DuckDB
      // ASOF LEFT JOIN oracle as the batch ev_asof_join. Both sides ride
      // ONE tagged stream (single watermark), so a single far-future
      // sentinel flushes everything; purchases pre-aggregate per
      // (user, ts) — the operator's uniqueness contract, shared with the
      // batch twin.
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("ts"),
          lit(true).as("is_left"), col("event_id").as("id"),
          lit(0L).as("cents"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("id"),
          sum(cents(col("value"))).as("cents"))
        .select(col("user_id").as("key"), col("ts"),
          lit(false).as("is_left"), col("id"), col("cents"))
      val sentinel = s.range(1).select(lit(-1L).as("key"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(true).as("is_left"), lit(-1L).as("id"), lit(0L).as("cents"))
      val staging = s"$artifactRoot/stream_asof_input"
      val schema = stageWithSentinel(s,
        clicks.unionByName(purchases).unionByName(sentinel), staging,
        guardCol = "key", horizonUs = 3600000000L) // the watermark delay
      val out = Sessionize.asofJoinStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.AsofIn])
      Sessionize.runToMemory(s, out.toDF(), "ev_stream_asof",
        OutputMode.Append, statePartitions = 8)
        .filter(col("l_id") >= 0)
        .select(col("l_id").as("event_id"), col("key").as("user_id"),
          col("l_ts_us").as("ts_us"), col("r_id").as("p_event_id"),
          col("r_cents").as("p_cents"), col("r_ts_us").as("p_ts_us"))
        .orderBy(col("event_id"))
    },
      // the identical ASOF LEFT JOIN oracle as the batch ev_asof_join —
      // the streaming state machine must reproduce the batch as-of
      // result exactly, nulls included
      oracle =
        """WITH p AS (SELECT user_id, ts,
          |  max(event_id) AS p_event_id,
          |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS p_cents
          | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |c AS (SELECT event_id, user_id, ts FROM events
          | WHERE event_type = 'click')
          |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          | p.p_event_id, p.p_cents, epoch_us(p.ts) AS p_ts_us
          |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
          |ORDER BY c.event_id""".stripMargin),

    QueryDef("ev_stream_asof_tol", (s, dir) => {
      // stream-stream backward as-of with BOUNDED lookback (24 h): each
      // click picks up the user's most recent purchase within a day
      // before it — the streaming twin of the batch asofBackwardTolerant
      // and the same DuckDB oracle as ev_asof_tol. The bound is what
      // lets the state machine's retained right FULLY expire (the
      // unbounded variant keeps one right per key for the key's
      // lifetime), the posture a churning keyspace needs. Same
      // staging/sentinel shape as ev_stream_asof_join.
      import s.implicits._
      val tolSec = 86400L
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("ts"),
          lit(true).as("is_left"), col("event_id").as("id"),
          lit(0L).as("cents"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("id"),
          sum(cents(col("value"))).as("cents"))
        .select(col("user_id").as("key"), col("ts"),
          lit(false).as("is_left"), col("id"), col("cents"))
      val sentinel = s.range(1).select(lit(-1L).as("key"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(true).as("is_left"), lit(-1L).as("id"), lit(0L).as("cents"))
      val staging = s"$artifactRoot/stream_asof_tol_input"
      val schema = stageWithSentinel(s,
        clicks.unionByName(purchases).unionByName(sentinel), staging,
        guardCol = "key", horizonUs = 3600000000L) // the watermark delay
      val out = Sessionize.asofJoinStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.AsofIn],
        maxLookbackSeconds = Some(tolSec))
      Sessionize.runToMemory(s, out.toDF(), "ev_stream_asof_tol",
        OutputMode.Append, statePartitions = 8)
        .filter(col("l_id") >= 0)
        .select(col("l_id").as("event_id"), col("key").as("user_id"),
          col("l_ts_us").as("ts_us"), col("r_id").as("p_event_id"),
          col("r_cents").as("p_cents"), col("r_ts_us").as("p_ts_us"))
        .orderBy(col("event_id"))
    },
      // the identical oracle as the batch ev_asof_tol: the bounded-
      // lookback stream state machine must reproduce the batch tolerant
      // as-of exactly (most recent within 24 h, staler matches nulled)
      oracle =
        """WITH p AS (SELECT user_id, ts,
          |  max(event_id) AS p_event_id,
          |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS p_cents
          | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |c AS (SELECT event_id, user_id, ts FROM events
          | WHERE event_type = 'click'),
          |j AS (SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          |  p.p_event_id, p.p_cents, epoch_us(p.ts) AS p_ts_us
          | FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts)
          |SELECT event_id, user_id, ts_us,
          | CASE WHEN ts_us - p_ts_us <= 86400000000 THEN p_event_id END AS p_event_id,
          | CASE WHEN ts_us - p_ts_us <= 86400000000 THEN p_cents END AS p_cents,
          | CASE WHEN ts_us - p_ts_us <= 86400000000 THEN p_ts_us END AS p_ts_us
          |FROM j ORDER BY event_id""".stripMargin),

    QueryDef("ev_stream_asof_fwd", (s, dir) => {
      // stream-stream FORWARD as-of, tolerance-bounded (24 h): each
      // click picks up the user's EARLIEST purchase within a day after
      // it. The tolerance is what makes forward as-of streamable at all
      // (finalize once the watermark passes ts + tol) and also what
      // lets this state machine fully expire, unlike the backward
      // variant's one-row-per-key tail. Same staging/sentinel shape as
      // ev_stream_asof_join.
      import s.implicits._
      val tolSec = 86400L
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("ts"),
          lit(true).as("is_left"), col("event_id").as("id"),
          lit(0L).as("cents"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("id"),
          sum(cents(col("value"))).as("cents"))
        .select(col("user_id").as("key"), col("ts"),
          lit(false).as("is_left"), col("id"), col("cents"))
      val sentinel = s.range(1).select(lit(-1L).as("key"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(true).as("is_left"), lit(-1L).as("id"), lit(0L).as("cents"))
      val staging = s"$artifactRoot/stream_asof_fwd_input"
      val schema = stageWithSentinel(s,
        clicks.unionByName(purchases).unionByName(sentinel), staging,
        guardCol = "key",
        horizonUs = 3600000000L + tolSec * 1000000L) // delay + tolerance
      val out = Sessionize.asofFwdJoinStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.AsofIn], tolSeconds = tolSec)
      Sessionize.runToMemory(s, out.toDF(), "ev_stream_asof_fwd",
        OutputMode.Append, statePartitions = 8)
        .filter(col("l_id") >= 0)
        .select(col("l_id").as("event_id"), col("key").as("user_id"),
          col("l_ts_us").as("ts_us"), col("r_id").as("p_event_id"),
          col("r_cents").as("p_cents"), col("r_ts_us").as("p_ts_us"))
        .orderBy(col("event_id"))
    },
      // forward ASOF (earliest at-or-after) nulled past the tolerance —
      // the earliest match beyond tol implies no match inside the window,
      // so the null-out restates "earliest within [ts, ts+tol]" exactly
      oracle =
        """WITH p AS (SELECT user_id, ts,
          |  max(event_id) AS p_event_id,
          |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS p_cents
          | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |c AS (SELECT event_id, user_id, ts FROM events
          | WHERE event_type = 'click'),
          |j AS (SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
          |  p.p_event_id, p.p_cents, epoch_us(p.ts) AS p_ts_us
          | FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts)
          |SELECT event_id, user_id, ts_us,
          | CASE WHEN p_ts_us - ts_us <= 86400000000 THEN p_event_id END AS p_event_id,
          | CASE WHEN p_ts_us - ts_us <= 86400000000 THEN p_cents END AS p_cents,
          | CASE WHEN p_ts_us - ts_us <= 86400000000 THEN p_ts_us END AS p_ts_us
          |FROM j ORDER BY event_id""".stripMargin),

    QueryDef("ev_stream_range_join_outer", (s, dir) => {
      // stream-stream LEFT-OUTER bounded range join: each signup pairs
      // with the user's purchases within ±30 min, and a signup with NO
      // such purchase still emits (null right side) once the watermark
      // passes its match window. Unmatched-left emission is
      // watermark-driven, so a bounded replay needs a far-future flush
      // row per side (same discipline as ev_stream_sessionize); the
      // sentinels advance both watermarks past every real row's window,
      // and the observe()-backed require fails loudly if fixture
      // timestamps ever grow into the sentinel's horizon. Oracle = the
      // batch left theta join, including the zero-match rows.
      // stage only the two event types the join reads — the other ~80%
      // of the table could never match and would only inflate the
      // staging write and the per-batch scan
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val sentinels = s.range(1).select(
        explode(array(
          struct(lit(-1L).as("event_id"),
            expr(s"timestamp_micros($sentinelUs)").as("ts"),
            lit(-1L).as("user_id"), lit("signup").as("event_type")),
          struct(lit(-2L).as("event_id"),
            expr(s"timestamp_micros($sentinelUs)").as("ts"),
            lit(-1L).as("user_id"), lit("purchase").as("event_type"))))
          .as("r"))
        .select(col("r.event_id"), col("r.ts"), col("r.user_id"),
          col("r.event_type"))
      val staging = s"$artifactRoot/stream_range_outer_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinels), staging,
        guardCol = "user_id",
        horizonUs = 3600000000L + 1800000000L) // watermark delay + range
      def stream = s.readStream.schema(schema).parquet(staging)
      val signups = stream.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_event_id"), col("user_id"),
          col("ts").as("s_ts"))
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
          col("ts").as("e_ts"))
      val joined = Sessionize.rangeJoinStream(signups, purchases,
        keyPairs = Seq("user_id" -> "e_user"),
        leftTsCol = "s_ts", rightTsCol = "e_ts", rangeSeconds = 1800,
        joinType = "left_outer")
      Sessionize.runToMemory(s,
        joined.select(col("s_event_id"), col("e_id")),
        "ev_stream_rj_outer", OutputMode.Append, statePartitions = 8)
        .filter(col("s_event_id") >= 0)
        // no signup mixes null and non-null e_id rows, so null placement
        // never actually orders within a group — pinned anyway for
        // engine-portable determinism
        .orderBy(col("s_event_id"), col("e_id").asc_nulls_first)
    },
      // batch left theta join restatement: signups keep their row when no
      // purchase falls inside the ±30 min window (the right-side filter
      // lives in the ON clause, which is pre-join filtering for LEFT JOIN)
      oracle =
        """SELECT s.event_id AS s_event_id, e.event_id AS e_id
          |FROM events s LEFT JOIN events e ON s.user_id = e.user_id
          | AND e.event_type = 'purchase'
          | AND abs(epoch_us(e.ts) - epoch_us(s.ts)) <= 1800000000
          |WHERE s.event_type = 'signup'
          |ORDER BY 1, 2 NULLS FIRST""".stripMargin),

    QueryDef("ev_stream_latest", (s, dir) => {
      // streaming CDC compaction, windowed: the latest event per user
      // per hour as a plain watermarked aggregation — max_by over the
      // (ts, event_id) total order needs no custom state, emits each
      // (window, user) cell once the watermark closes it, and state per
      // cell is ONE row (the running argmax), the property that keeps
      // indefinite compaction viable. Complete mode is this bounded
      // replay's harness choice only (the single batch re-emits full
      // state once); an indefinitely-running compaction runs the SAME
      // aggregation in Append mode, where the watermark emits each
      // closed cell exactly once and expires its state.
      val stream = Tables.streamEvents(s, dir)
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(max_by(
          struct(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_type"), cents(col("value")).as("value_cents")),
          struct(col("ts"), col("event_id"))).as("last"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("user_id"), col("last.event_id").as("event_id"),
          col("last.ts_us").as("ts_us"), col("last.event_type"),
          col("last.value_cents"))
      Sessionize.runToMemory(s, agg, "ev_stream_latest",
        OutputMode.Complete, statePartitions = 8)
        .orderBy(col("win_start_us"), col("user_id"))
    },
      // per-(hour, user) latest by the (ts, event_id) total order — the
      // windowed compaction the streaming max_by must reproduce
      oracle =
        """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
          | user_id, event_id, epoch_us(ts) AS ts_us, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM (SELECT *, row_number() OVER (PARTITION BY
          |   time_bucket(INTERVAL '1 hour', ts), user_id
          |   ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |WHERE rn = 1 ORDER BY win_start_us, user_id""".stripMargin),

    QueryDef("ev_stream_sessionize", (s, dir) => {
      // the flatMapGroupsWithState path against the SAME oracle as the
      // batch ev_sessionize: parquet file source → stateful sessionize →
      // Append-mode memory sink. Append emits a session only when the
      // watermark passes its timeout, so a far-future sentinel event
      // (user_id -1, filtered from the output) is appended to the input:
      // after the data batch advances the watermark past every real
      // session's gap, the no-data microbatch fires all the timeouts.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      // Static far-future sentinel (2100-01-01 UTC): no driver-side max()
      // action needed — any fixture timestamp precedes it by far more than
      // the session gap, so the watermark after the single data batch
      // clears every real session's timeout. The staging write stays
      // partitioned (the file source drains all parts in one microbatch);
      // a coalesce(1) here would serialize the write for no semantic gain.
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_sessionize_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 30L * 60L * 1000000L) // the session gap
      val sessions = Sessionize.sessionizeStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.Event],
        gapMinutes = 30)
      Sessionize.runToMemory(s, sessions.toDF(), "ev_stream_sess",
        OutputMode.Append, statePartitions = 8)
        .filter(col("user_id") >= 0)
        // sessions of one user never overlap (separated by > gap), so
        // start order IS the batch session index
        .withColumn("session_idx",
          row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("session_start"))).cast("long"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("value_cents"))
        .orderBy(col("user_id"), col("session_idx"))
    },
      // identical oracle to ev_sessionize: the streaming path must
      // reproduce the batch gaps-and-islands result exactly
      oracle =
        """WITH g AS (SELECT user_id, ts, event_id, value,
          |  CASE WHEN lag(ts) OVER w IS NULL
          |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
          | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM g)
          |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          | count(*) AS n_events,
          | epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin),

    QueryDef("ev_stream_funnel", (s, dir) => {
      // the per-user step-state machine against the SAME oracle as the
      // batch ev_funnel: step-typed events buffer in state until the
      // watermark passes the user's quiet horizon, then the in-order
      // fold runs once and emits the converting user's row (Append — a
      // funnel row is final by construction when it flushes). The
      // far-future sentinel advances the watermark past every real
      // user's horizon so the no-data microbatch fires all timeouts;
      // its event_type is not a step, so it never reaches state.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_funnel_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 30L * 60L * 1000000L) // the funnel quiet horizon
      val hits = FunnelStream.funnelStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.Event],
        steps = Seq("signup", "click", "purchase"), horizonMinutes = 30)
      Sessionize.runToMemory(s, hits.toDF(), "ev_stream_funnel_sink",
        OutputMode.Append, statePartitions = 8)
        // uncompleted steps are absent from times_us; try_element_at
        // nulls them — the batch twin's left-join null columns
        .select(col("user_id"),
          expr("try_element_at(times_us, 1)").as("t1_us"),
          expr("try_element_at(times_us, 2)").as("t2_us"),
          expr("try_element_at(times_us, 3)").as("t3_us"),
          col("funnel_depth"))
        .orderBy(col("user_id"))
    },
      // same rows as ev_funnel by construction, so its oracle verbatim
      oracle = evFunnelOracle),

    QueryDef("ev_stream_coverage", (s, dir) => {
      // interval union's stream twin against the batch ev_coverage
      // oracle: per-user event times buffer in state until the
      // watermark clears the quiet horizon, then the island fold
      // (sort, running max of ends, strict-gap boundary) runs once and
      // emits the user's maximal islands — watermark-final, because a
      // late long interval can swallow islands an eager merge would
      // already have shipped. The flush sentinel rides user -1: its
      // interval is real to the state machine but filtered from the
      // sink before the compare.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_coverage_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 30L * 60L * 1000000L)
      val islands = CoverageStream.coverageStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.Event],
        windowUs = 300000000L, horizonMinutes = 30)
      Sessionize.runToMemory(s, islands.toDF(), "ev_stream_coverage_sink",
        OutputMode.Append, statePartitions = 8)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("island"), col("island_start"),
          col("island_end"), col("n_intervals"), col("covered"))
        .orderBy(col("user_id"), col("island"))
    },
      // same rows as ev_coverage by construction, so its oracle verbatim
      oracle = evCoverageOracle),

    QueryDef("ev_stream_interval_join", (s, dir) => {
      // the interval-overlap join's stream twin against the batch
      // quadratic oracle: both sides' intervals (odd event_ids = A,
      // even = B — the same parity split the batch query uses) buffer
      // per user until the watermark clears the quiet horizon, then
      // the pairing runs once over the settled buffer — watermark-
      // final, because either member of a pair can arrive late and
      // Append mode cannot retract an early miss. The flush sentinel
      // rides user -1 and is filtered before the compare.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_interval_join_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 30L * 60L * 1000000L)
      val pairs = IntervalJoinStream.intervalJoinStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.Event],
        windowUs = 300000000L, horizonMinutes = 30)
      Sessionize.runToMemory(s, pairs.toDF(), "ev_stream_interval_join_sink",
        OutputMode.Append, statePartitions = 8)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("a_id"), col("b_id"), col("overlap_us"))
        .orderBy(col("user_id"), col("a_id"), col("b_id"))
    },
      // same rows as ev_interval_join by construction, so its oracle verbatim
      oracle = evIntervalJoinOracle),

    QueryDef("ev_stream_transitions", (s, dir) => {
      // the transition matrix's stream twin against the batch oracle:
      // per-user timelines buffer in state until the watermark passes
      // the quiet horizon, the sort+lag fold emits each adjacency once
      // (start sentinel included), and the matrix is a batch count over
      // the drained edges. The flush sentinel rides user -1 — its
      // timeline is real to the state machine but filtered from the
      // drained frame before counting.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_transitions_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 30L * 60L * 1000000L)
      val edges = FunnelStream.transitionsStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.Event],
        horizonMinutes = 30)
      Sessionize.runToMemory(s, edges.toDF(), "ev_stream_transitions_sink",
        OutputMode.Append, statePartitions = 8)
        .filter(col("user_id") >= 0)
        .groupBy(col("prev"), col("next"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev"), col("next"))
    },
      // same rows as ev_transitions by construction, so its oracle verbatim
      oracle = evTransitionsOracle),

    QueryDef("ev_stream_top_paths", (s, dir) => {
      // topPaths' stream twin against the batch oracle: per-user
      // timelines settle watermark-final (windows must never weld
      // across a late arrival), each settled timeline emits its 3-step
      // windows once, and the top-10 rank is a batch count over the
      // drained (user, path) rows — as the transition matrix is a
      // count over drained edges. Flush sentinel rides user -1.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_top_paths_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 30L * 60L * 1000000L)
      val paths = FunnelStream.pathsStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.Event],
        len = 3, horizonMinutes = 30)
      Sessionize.runToMemory(s, paths.toDF(), "ev_stream_top_paths_sink",
        OutputMode.Append, statePartitions = 8)
        .filter(col("user_id") >= 0)
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("n").desc, col("path"))).cast("long"))
        .filter(col("rank") <= 10)
        .orderBy(col("rank"))
    },
      // same rows as ev_top_paths by construction, so its oracle verbatim
      oracle = evTopPathsOracle),

    QueryDef("ev_stream_retention", (s, dir) => {
      // cohort retention against the SAME oracle as the batch
      // ev_retention: the per-user state machine finalizes each user's
      // (cohort_day, active-week) memberships when the watermark clears
      // their horizon — day-granular state, at-most-once membership
      // rows — and the matrix is one count over the sink. The sentinel
      // (non-anchor type, user -1) advances the watermark and emits
      // nothing.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_retention_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 30L * 60L * 1000000L)
      val rows = FunnelStream.retentionStream(
        s.readStream.schema(schema).parquet(staging)
          .as[Sessionize.Event],
        anchorType = "signup", horizonMinutes = 30)
      Sessionize.runToMemory(s, rows.toDF(), "ev_stream_retention_sink",
        OutputMode.Append, statePartitions = 8)
        .filter(col("user_id") >= 0)
        // membership rows are per-user at-most-once, so count(*) IS the
        // distinct-user count the batch matrix reports
        .groupBy(col("cohort_day"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day"), col("week_offset"))
    },
      // same rows as ev_retention by construction, so its oracle verbatim
      oracle = evRetentionOracle),

    QueryDef("ev_stream_attribution", (s, dir) => {
      // linear attribution as a watermark-final per-user state machine
      // against the SAME oracle as the batch ev_attribution: purchases
      // and clicks ride one tagged stream; a purchase's credit rows
      // emit when the watermark clears its timestamp (every qualifying
      // click has ts <= purchase ts, so the split is final — Append
      // without retraction). The sentinel rides as a touch for user -1
      // (touches never emit), advancing the watermark past every real
      // purchase so the no-data microbatch flushes the suite.
      import s.implicits._
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        expr(s"timestamp_micros($sentinelUs)").as("ts"),
        lit(-1L).as("user_id"),
        lit("click").as("event_type"),
        lit(0.0).as("value"))
      val staging = s"$artifactRoot/stream_attr_input"
      val schema = stageWithSentinel(s, ev.unionByName(sentinel), staging,
        guardCol = "user_id",
        horizonUs = 21600000000L) // the 6 h lookback = watermark delay
      val tagged = s.readStream.schema(schema).parquet(staging)
        .select(col("user_id"), col("event_id"), col("ts"),
          (col("event_type") === "purchase").as("isConv"),
          cents(col("value")).as("cents"))
        .as[AttributionStream.AttrEvent]
      val out = AttributionStream.linearStream(tagged,
        lookbackMicros = 21600000000L, delay = "6 hours")
      Sessionize.runToMemory(s, out.toDF(), "ev_stream_attr_sink",
        OutputMode.Append, statePartitions = 8)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("p_event_id"), col("p_ts_us"),
          col("p_cents"), col("c_event_id"), col("c_ts_us"),
          col("n_touches"), col("credit"))
        .orderBy(col("p_event_id"), coalesce(col("c_event_id"), lit(-1L)))
    },
      // same rows as ev_attribution by construction, so its oracle verbatim
      oracle = evAttributionOracle)
  )
}
