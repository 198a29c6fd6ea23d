package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-funnel and cohort-retention analytics over the events table —
  * the classic product-analytics workloads (the batch form of what the
  * reference's time-bounded queries feed; SURVEY §2.10 T3 adjacency).
  * Both are integer/date-exact end to end: no float ever enters the
  * output, so the DuckDB hash gate pins them bit-for-bit.
  */
object EventAnalytics {

  /** Q104: strictly-ordered funnel view → click → purchase with a 12-hour
    * per-step conversion window. A user converts at step k only if step
    * k's FIRST qualifying event lands in [t_{k−1}, t_{k−1} + 12 h). Three
    * chained per-user conditional aggregates (each a hash aggregate on
    * user_id — same key, so Spark reuses one Exchange's partitioning
    * across stages; at 100 TB this is one shuffle of |events| then
    * |users|-sized joins, broadcastable on the dim side). Output is one
    * row of stage counts — pure longs; the timestamp comparisons are
    * microsecond-exact cross-engine. */
  def qFunnel(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts") >= col("t1") &&
        col("ts") < col("t1") + expr("INTERVAL 12 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") >= col("t2") &&
        col("ts") < col("t2") + expr("INTERVAL 12 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    // one row of stage counts via left joins on the shared user_id key
    // (a crossJoin of the three 1-row aggregates would plan a
    // BroadcastNestedLoopJoin — PlanAuditSpec forbids NLJ engine-wide)
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .agg(
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_view_click_purchase"))
  }

  val qFunnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT ev.user_id, MIN(ev.ts) AS t2
      |       FROM ev JOIN s1 ON ev.user_id = s1.user_id
      |       WHERE ev.event_type = 'click' AND ev.ts >= s1.t1
      |         AND ev.ts < s1.t1 + INTERVAL '12 hours' GROUP BY ev.user_id),
      |s3 AS (SELECT ev.user_id, MIN(ev.ts) AS t3
      |       FROM ev JOIN s2 ON ev.user_id = s2.user_id
      |       WHERE ev.event_type = 'purchase' AND ev.ts >= s2.t2
      |         AND ev.ts < s2.t2 + INTERVAL '12 hours' GROUP BY ev.user_id)
      |SELECT COUNT(s1.t1)::BIGINT AS n_view,
      |       COUNT(s2.t2)::BIGINT AS n_view_click,
      |       COUNT(s3.t3)::BIGINT AS n_view_click_purchase
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin

  /** Q105: cohort retention — users grouped by first-activity day, counted
    * once per (cohort, day-offset) they were active. The (user, cohort,
    * offset) distinct is the only |events|-scale shuffle; the final
    * aggregate is |cohorts × offsets|. Date arithmetic only — exact. */
  def qRetention(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), to_date(col("ts")).as("d"))
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
    ev.join(first, "user_id")
      .select(col("cohort"), datediff(col("d"), col("cohort")).as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  /** Q106: sessionization by inactivity gap (gaps-and-islands: a >30 min
    * pause starts a new session — the window-function form, complementing
    * q48's session_window aggregate) + path mining: each session's first 5
    * event types concatenated in (ts, event_id) order, top-20 paths by
    * session count. Shuffles: user (lag window) → user+session (path
    * build) → path (count) — all linear, final top-k is
    * TakeOrderedAndProject. Counts exact, tie-break on path string. */
  def qSessionPaths(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = t.events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      // integer MICROSECONDS on both engines (unix_micros ⇔ epoch_us):
      // second-truncated casts disagree with fractional epoch() exactly at
      // the 30 min boundary
      .withColumn("gap", when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
          > 1800L * 1000000L, 1)
        .otherwise(lit(0)))
      .withColumn("session_id", sum(col("gap")).over(byUser))
      .withColumn("step", row_number().over(
        Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts"), col("event_id"))))
    sessions.filter(col("step") <= 5)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(expr(
        "transform(sort_array(collect_list(struct(step, event_type))), x -> x.event_type)"),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  val qSessionPathsSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000 THEN 1 ELSE 0 END AS gap
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, SUM(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      |  FROM flagged),
      |stepped AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS step
      |  FROM sess),
      |paths AS (
      |  SELECT user_id, session_id,
      |    string_agg(event_type, '>' ORDER BY step) AS path
      |  FROM stepped WHERE step <= 5 GROUP BY user_id, session_id)
      |SELECT path, COUNT(*)::BIGINT AS n_sessions
      |FROM paths GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** Q107: volume-anomaly detection — daily event counts per type against
    * the type's own mean/stddev (the pipeline-health monitor: a scraper
    * dying or a bot flood shows up as |z| spikes). Two aggregates + a
    * 5-row broadcast join; counts exact, z = (n−μ)/σ round(6) (μ is an
    * exact-int mean; σ's accumulation order differs cross-engine in the
    * low bits — the established round(6) case). σ=0 (a type with constant
    * daily counts) yields NULL, not 0.0/0.0=NaN — Spark and DuckDB render
    * the degenerate division differently, NULL is cross-engine stable. */
  def qVolumeAnomaly(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy(col("event_type"))
      .agg(avg(col("n").cast("double")).as("mu"),
        stddev_samp(col("n").cast("double")).as("sigma"))
    daily.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("d"), col("n"),
        when(col("sigma") === 0d, lit(null).cast("double"))
          .otherwise(round((col("n").cast("double") - col("mu")) / col("sigma"), 6))
          .as("z"))
      .orderBy(col("event_type"), col("d"))
  }

  val qVolumeAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, COUNT(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, AVG(CAST(n AS DOUBLE)) AS mu,
      |         stddev_samp(CAST(n AS DOUBLE)) AS sigma
      |  FROM daily GROUP BY 1)
      |SELECT d.event_type, d.d, d.n,
      |  round((CAST(d.n AS DOUBLE) - s.mu) / NULLIF(s.sigma, 0), 6) AS z
      |FROM daily d JOIN stats s ON d.event_type = s.event_type
      |ORDER BY d.event_type, d.d""".stripMargin

  /** Q124: SCD2 history build — turn a change-event log into slowly-
    * changing-dimension type-2 validity intervals: one row per observed
    * state with [valid_from, valid_to) bounds and an is_current flag
    * (valid_to = next change's timestamp via lead(), NULL on the open
    * interval). The warehouse-side temporal operator every CDC ingest
    * needs downstream of q83's latest-per-key compaction.
    *
    * Scale shape: ONE window shuffle partitioned by the dimension key —
    * O(n) exchange, per-key partitions bounded by a key's change count.
    * Total order inside a key is (ts, event_id) — event_id is unique, so
    * same-timestamp changes sequence deterministically on both engines.
    * Micro-precision timestamps end-to-end (the nanos→micros truncation
    * lives in Tables.events / the oracle's CAST — q106's lesson). */
  def qScd2(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val changes = t.events
      .filter(col("event_type") === "purchase" && col("user_id") < 200)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"), col("value"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  val qScd2Sql: String =
    """WITH changes AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events WHERE event_type = 'purchase' AND user_id < 200)
      |SELECT user_id, event_id, ts AS valid_from,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current,
      |  value
      |FROM changes ORDER BY user_id, valid_from, event_id""".stripMargin

  /** Q118: ingest-completeness monitor — per event type, which HOURS of the
    * type's own [first, last] span have no events at all? Missing hours are
    * how a dead producer, a dropped Kafka partition, or a backfill hole
    * shows up before anyone reads a dashboard. Emits per type: span hours,
    * present/missing counts, number of contiguous gap runs and the longest
    * run (gaps-and-islands on the missing set).
    *
    * Scale shape: the only corpus-sized work is one distinct over
    * (type, hour) — map-side combinable, shuffle O(types·hours). The hour
    * spine is GENERATED per type from its min/max (sequence + explode), so
    * nothing rescans the data; the anti-join and island windows run on
    * spine-sized inputs. Hours are integer epoch-hour (µs div 3.6e9) on
    * both engines — no timezone or truncation drift. */
  def qCoverageGaps(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hrs = t.events
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .distinct()
    val spans = hrs.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"),
        count(lit(1)).as("hours_present"))
    val spine = spans.select(col("event_type"),
      explode(sequence(col("lo"), col("hi"))).as("hr"))
    val missing = spine.join(hrs, Seq("event_type", "hr"), "left_anti")
    // islands: consecutive missing hours share (hr - row_number)
    val byType = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val runs = missing
      .withColumn("grp", col("hr") - row_number().over(byType))
      .groupBy(col("event_type"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gap_runs"), max(col("run_len")).as("longest_gap"))
    spans
      .join(runs, Seq("event_type"), "left")
      .select(col("event_type"),
        (col("hi") - col("lo") + 1L).as("hours_span"),
        col("hours_present"),
        (col("hi") - col("lo") + 1L - col("hours_present")).as("hours_missing"),
        coalesce(col("n_gap_runs"), lit(0L)).as("n_gap_runs"),
        coalesce(col("longest_gap"), lit(0L)).as("longest_gap"))
      .orderBy(col("event_type"))
  }

  val qCoverageGapsSql: String =
    """WITH hrs AS (
      |  SELECT DISTINCT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr
      |  FROM events),
      |spans AS (
      |  SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi, COUNT(*)::BIGINT AS hours_present
      |  FROM hrs GROUP BY event_type),
      |spine AS (
      |  SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM spans),
      |missing AS (
      |  SELECT s.event_type, s.hr FROM spine s
      |  LEFT JOIN hrs ON hrs.event_type = s.event_type AND hrs.hr = s.hr
      |  WHERE hrs.hr IS NULL),
      |runs AS (
      |  SELECT event_type, grp, COUNT(*)::BIGINT AS run_len FROM (
      |    SELECT event_type, hr,
      |      hr - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS grp
      |    FROM missing)
      |  GROUP BY event_type, grp),
      |agg AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_gap_runs, MAX(run_len) AS longest_gap
      |  FROM runs GROUP BY event_type)
      |SELECT s.event_type,
      |  s.hi - s.lo + 1 AS hours_span,
      |  s.hours_present,
      |  s.hi - s.lo + 1 - s.hours_present AS hours_missing,
      |  COALESCE(a.n_gap_runs, 0) AS n_gap_runs,
      |  COALESCE(a.longest_gap, 0) AS longest_gap
      |FROM spans s LEFT JOIN agg a ON a.event_type = s.event_type
      |ORDER BY s.event_type""".stripMargin

  val qRetentionSql: String =
    """WITH ev AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
      |first AS (SELECT user_id, MIN(d) AS cohort FROM ev GROUP BY user_id)
      |SELECT cohort, CAST(date_diff('day', cohort, d) AS INT) AS day_offset,
      |  COUNT(*)::BIGINT AS n_active
      |FROM (SELECT DISTINCT f.cohort, ev.d, ev.user_id
      |      FROM ev JOIN first f ON ev.user_id = f.user_id)
      |GROUP BY cohort, day_offset ORDER BY cohort, day_offset""".stripMargin

  /** Q156: count-min sketch frequency estimation (Cormode & Muthukrishnan
    * 2005) — the streaming frequency-summary every event pipeline keeps
    * when the key domain is too wide for an exact groupBy. Unlike the HLL
    * and t-digest sketches (engine-specific internals → envelope-gated,
    * q23/q60/q109), THIS sketch is built from deterministic md5-derived
    * hash rows (the q128 band-key recipe), so the entire structure —
    * d×w counter matrix, point-query minimum, the one-sided overcount —
    * is exact integer arithmetic both engines replay: the sketch itself
    * is under the hash gate, not just an error envelope.
    *
    * Scale shape: the counter build is ONE map-side-combinable aggregate
    * over a ×d explode — the shuffle carries ≤ d·w cells per partition,
    * NEVER the key domain (the whole point vs q103's exact groupBy). The
    * top-k probe side is bounded (k keys × d lookups against the ≤ d·w
    * cell table). The exact counts ride along as ground truth, making
    * the CMS guarantee est ≥ exact a driver-checked column. */
  def qCmsFreq(t: Tables, d: Int = 4, w: Int = 64, topK: Int = 10): DataFrame = {
    val ev = t.events.select(col("user_id"))
    val js = array((0 until d).map(lit): _*)
    def bucket(j: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(j.cast("string"), lit(":"), key.cast("string"))), 1, 8),
        16, 10).cast("long") % w
    val counters = ev.select(col("user_id"), explode(js).as("j"))
      .withColumn("b", bucket(col("j"), col("user_id")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("user_id")).limit(topK)
    val probed = exact.select(col("user_id"), col("exact"), explode(js).as("j"))
      .withColumn("b", bucket(col("j"), col("user_id")))
      .join(counters, Seq("j", "b"))
      .groupBy(col("user_id"), col("exact")).agg(min(col("c")).as("cms_est"))
    probed
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("exact").desc, col("user_id"))).cast("long"))
      .withColumn("overcount", col("cms_est") - col("exact"))
      .withColumn("guarantee", col("cms_est") >= col("exact"))
      .select(col("rank"), col("user_id"), col("exact"), col("cms_est"),
        col("overcount"), col("guarantee"))
      .orderBy(col("rank"))
  }

  /** Q160: per-type daily volume trend — closed-form OLS over (day
    * offset, daily count), the drift/trend detector a monitoring pipeline
    * pairs with q107's anomaly z-scores: slope = events/day drift,
    * intercept = the fitted day-0 volume. All four OLS sums (Σx, Σy,
    * Σxy, Σx²) are EXACT BIGINTs over integer day offsets and counts, so
    * the regression — normally a float-fragile operation — is two IEEE
    * divisions on identical integers: fully hash-gated with RAW doubles
    * (the q152 discipline).
    *
    * Scale shape: one (type, day) count aggregate (map-side combinable),
    * one O(types·days) second aggregate — the classic two-level rollup;
    * nothing driver-side. */
  def qDailyTrend(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n_days").cast("double"))
      .select(col("event_type"), col("n_days"), col("slope"), col("intercept"))
      .orderBy(col("event_type"))
  }

  val qDailyTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS x,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM daily GROUP BY event_type),
      |fit AS (
      |  SELECT event_type, n_days,
      |    CAST(n_days * sxy - sx * sy AS DOUBLE)
      |      / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
      |    sx, sy
      |  FROM s)
      |SELECT event_type, n_days, slope,
      |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
      |    / CAST(n_days AS DOUBLE) AS intercept
      |FROM fit ORDER BY event_type""".stripMargin

  /** Q269: Holt linear-trend smoothing per channel (Holt 1957 double
    * exponential smoothing) — the one-step-ahead volume forecaster that
    * upgrades q160's global linear fit and gives q107's anomaly gate an
    * adaptive baseline: per event type, walk the observed daily counts in
    * order and maintain level/trend with α = ½, β = ¼, emitting the
    * one-step forecast and its error at every day.
    *
    * FULLY INTEGER recurrence — no float discipline needed: counts enter
    * as exact micro units (y·10⁶) and the dyadic smoothing constants are
    * arithmetic SHIFTS, exact and identical cross-engine on BIGINT (the
    * q131 shiftright ≡ >> rule):
    *   l_t = (y_t·10⁶ + l_{t-1} + t_{t-1}) >> 1
    *   t_t = t_{t-1} + ((l_t − l_{t-1} − t_{t-1}) >> 2)
    *   forecast_t = l_{t-1} + t_{t-1} (NULL at the first observation).
    *
    * Scale shape: one corpus daily aggregate, then a flatMapGroups
    * kernel per event type — the bounded-group contract holds because a
    * channel's day count grows with the TIME SPAN, not data volume (the
    * q190 class); the oracle replays the walk as a recursive CTE over
    * per-channel day ranks (the q227 precedent). */
  def qHoltTrend(t: Tables): DataFrame = {
    val spark = t.events.sparkSession
    import spark.implicits._
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    daily.select(col("event_type"), col("x"), col("y"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val days = it.toSeq.sortBy(_._2)
        var lm = 0L; var tm = 0L; var first = true
        days.iterator.map { case (_, x, y) =>
          val ym = y * 1000000L
          if (first) {
            lm = ym; tm = 0L; first = false
            (k, x, y, lm, tm, None: Option[Long])
          } else {
            val fm = lm + tm
            val l2 = (ym + fm) >> 1
            val t2 = tm + ((l2 - lm - tm) >> 2)
            lm = l2; tm = t2
            (k, x, y, lm, tm, Some(fm))
          }
        }
      }
      .toDF("event_type", "x", "y", "level_micro", "trend_micro", "forecast_micro")
      .withColumn("err_micro",
        when(col("forecast_micro").isNull, lit(null))
          .otherwise(col("y") * lit(1000000L) - col("forecast_micro"))
          .cast("long"))
      .orderBy(col("event_type"), col("x"))
  }

  /** q269 oracle: the daily aggregate ranked per channel + the identical
    * shift recurrence as a recursive CTE. */
  val qHoltTrendSql: String =
    """WITH RECURSIVE daily0 AS MATERIALIZED (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS x,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |daily AS MATERIALIZED (
      |  SELECT event_type, x, y,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn
      |  FROM daily0),
      |walk AS (
      |  SELECT event_type, rn, x, y,
      |    y * 1000000 AS lm, CAST(0 AS BIGINT) AS tm,
      |    CAST(NULL AS BIGINT) AS fm
      |  FROM daily WHERE rn = 1
      |  UNION ALL
      |  SELECT d.event_type, d.rn, d.x, d.y,
      |    (d.y * 1000000 + w.lm + w.tm) >> 1 AS lm,
      |    w.tm + ((((d.y * 1000000 + w.lm + w.tm) >> 1) - w.lm - w.tm) >> 2) AS tm,
      |    w.lm + w.tm AS fm
      |  FROM walk w JOIN daily d
      |    ON d.event_type = w.event_type AND d.rn = w.rn + 1)
      |SELECT event_type, x, y, lm AS level_micro, tm AS trend_micro,
      |  fm AS forecast_micro,
      |  CASE WHEN fm IS NULL THEN NULL
      |       ELSE y * 1000000 - fm END AS err_micro
      |FROM walk ORDER BY event_type, x""".stripMargin

  /** The q276 SPRT constants: micro-grid log-likelihood terms and Wald
    * boundaries, computed ONCE on the driver and interpolated as integer
    * literals into BOTH the Spark plan and the oracle SQL — no
    * cross-engine libm exposure at all. */
  private def sprtConsts(p0: Double, p1: Double, alpha: Double,
      beta: Double): (Long, Long, Long, Long) = (
    Math.round(1e6 * math.log(p1 / p0)),
    Math.round(1e6 * math.log((1.0 - p1) / (1.0 - p0))),
    Math.round(1e6 * math.log((1.0 - beta) / alpha)),
    Math.round(1e6 * math.log(beta / (1.0 - alpha))))

  /** Q276: sequential probability ratio test (Wald 1945) on the A/B
    * conversion stream — the EARLY-STOPPING decision rule an
    * experimentation platform runs instead of the fixed-horizon q170
    * z-test: walk each arm's users in id order, accumulate the Bernoulli
    * log-likelihood ratio of H1 (p = p1) vs H0 (p = p0), stop the first
    * time it crosses a Wald boundary. Emits per arm: totals, the final
    * LLR, the decision, and the crossing point.
    *
    * FULLY INTEGER audit: the per-outcome LLR terms and both boundaries
    * are micro-grid integers computed once on the driver (no libm in
    * either engine), so LLR_n = c1·k_n + c0·(n − k_n) is an exact BIGINT
    * and every crossing comparison is integer-exact.
    *
    * Scale shape: the per-arm ordered prefix uses the two-phase bucket
    * prefix (value-monotone user-id buckets, per-(arm,bucket) sums ride
    * the driver, windows partitioned BY BUCKET — the q144/q181 idiom;
    * never a per-arm single-partition sort); the crossing fetch-back is
    * a 2-row broadcast join. The oracle replays the walk with plain
    * per-arm cumulative windows (an execution detail, not semantics). */
  def qSprt(t: Tables, salt: String = "exp1", p0: Double = 0.02,
      p1: Double = 0.04, alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = t.events.sparkSession
    import spark.implicits._
    val (c1m, c0m, upM, downM) = sprtConsts(p0, p1, alpha, beta)
    val users = t.events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("ts").cast("date") < lit("2024-01-03").cast("date"), 1L)
        .otherwise(0L)).as("x"))
      .withColumn("arm",
        conv(substring(md5(concat(lit(salt), lit(":"),
          col("user_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2)
      .localCheckpoint() // feeds the max fetch, bucket sums, and the walk
    val maxUidRow = users.agg(max(col("user_id"))).head()
    if (maxUidRow.isNullAt(0))
      return Tables.emptyFrame(spark,
        "arm" -> org.apache.spark.sql.types.LongType,
        "n_users" -> org.apache.spark.sql.types.LongType,
        "n_conv" -> org.apache.spark.sql.types.LongType,
        "final_llr_micro" -> org.apache.spark.sql.types.LongType,
        "decision" -> org.apache.spark.sql.types.StringType,
        "cross_n" -> org.apache.spark.sql.types.LongType,
        "cross_llr_micro" -> org.apache.spark.sql.types.LongType)
    val span = maxUidRow.getLong(0) + 1L
    val b = users.withColumn("bkt", expr(s"(user_id * 101L) div ${span}L"))
    val bsums = b.groupBy(col("arm"), col("bkt"))
      .agg(sum(col("x")).as("bk"), count(lit(1)).as("bn"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .sortBy(_._1)
    val offs = bsums.groupBy(_._1._1).toSeq.flatMap { case (arm, rows) =>
      var ka = 0L; var na = 0L
      rows.sortBy(_._1._2).map { case ((_, bkt), (bk, bn)) =>
        val o = (arm, bkt, ka, na); ka += bk; na += bn; o
      }
    }
    val offDf = broadcast(offs.toDF("arm", "bkt", "k_off", "n_off"))
    val w = Window.partitionBy(col("arm"), col("bkt")).orderBy(col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = b.join(offDf, Seq("arm", "bkt"))
      .withColumn("k", col("k_off") + sum(col("x")).over(w))
      .withColumn("n", col("n_off") + count(lit(1)).over(w))
      .withColumn("llr", lit(c1m) * col("k") + lit(c0m) * (col("n") - col("k")))
    val crossed = walk
      .filter(col("llr") >= upM || col("llr") <= downM)
      .groupBy(col("arm")).agg(min(col("n")).as("cross_n"))
      .select(col("arm").as("c_arm"), col("cross_n"))
    val atCross = walk.as("wk").join(broadcast(crossed),
        col("wk.arm") === col("c_arm") && col("wk.n") === col("cross_n"))
      .select(col("wk.arm").as("arm"), col("cross_n"),
        col("wk.llr").as("cross_llr_micro"))
    val tot = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("n_conv"))
    tot.join(broadcast(atCross), Seq("arm"), "left")
      .select(col("arm"), col("n_users"), col("n_conv"),
        (lit(c1m) * col("n_conv") +
          lit(c0m) * (col("n_users") - col("n_conv"))).as("final_llr_micro"),
        when(col("cross_n").isNull, "continue")
          .when(col("cross_llr_micro") >= upM, "accept_h1")
          .otherwise("accept_h0").as("decision"),
        col("cross_n"), col("cross_llr_micro"))
      .orderBy(col("arm"))
  }

  /** q276 oracle: the same users CTE and integer constants, the walk as
    * plain per-arm cumulative windows. */
  def qSprtSql(salt: String = "exp1", p0: Double = 0.02, p1: Double = 0.04,
      alpha: Double = 0.05, beta: Double = 0.05): String = {
    val (c1m, c0m, upM, downM) = sprtConsts(p0, p1, alpha, beta)
    s"""WITH users AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase'
       |             AND CAST(CAST(ts AS TIMESTAMP) AS DATE) < DATE '2024-01-03'
       |             THEN 1 ELSE 0 END)::BIGINT AS x,
       |    CAST(('0x' || substr(md5('$salt' || ':' || CAST(user_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 2 AS arm
       |  FROM events GROUP BY user_id),
       |walk AS (
       |  SELECT arm, user_id,
       |    CAST(SUM(x) OVER (PARTITION BY arm ORDER BY user_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS k,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY arm ORDER BY user_id) AS BIGINT) AS n
       |  FROM users),
       |l AS (SELECT arm, n, $c1m * k + $c0m * (n - k) AS llr FROM walk),
       |cr AS (SELECT arm, CAST(MIN(n) AS BIGINT) AS cross_n FROM l
       |       WHERE llr >= $upM OR llr <= $downM GROUP BY arm),
       |tot AS (SELECT arm, COUNT(*)::BIGINT AS n_users,
       |        CAST(SUM(x) AS BIGINT) AS n_conv FROM users GROUP BY arm)
       |SELECT t.arm, t.n_users, t.n_conv,
       |  CAST($c1m * t.n_conv + $c0m * (t.n_users - t.n_conv) AS BIGINT)
       |    AS final_llr_micro,
       |  CASE WHEN cr.cross_n IS NULL THEN 'continue'
       |       WHEN lx.llr >= $upM THEN 'accept_h1'
       |       ELSE 'accept_h0' END AS decision,
       |  cr.cross_n, CAST(lx.llr AS BIGINT) AS cross_llr_micro
       |FROM tot t LEFT JOIN cr ON cr.arm = t.arm
       |LEFT JOIN l lx ON lx.arm = t.arm AND lx.n = cr.cross_n
       |ORDER BY t.arm""".stripMargin
  }

  /** Q170: A/B experiment readout — hash-split users into two arms (the
    * q63 md5 assignment discipline: deterministic, partition-independent,
    * exactly what an experimentation platform does), measure per-arm
    * conversion (did the user purchase), and compute the two-proportion
    * z statistic. Every input to the float program is an exact BIGINT
    * (arm sizes, conversion counts), and the z expression is written as
    * the IDENTICAL IEEE tree in both engines — a significance test with
    * zero float fragility, emitted RAW.
    *
    * Scale shape: one per-user aggregate (conversion flag), one 2-row
    * arm aggregate, one 1-row readout aggregate ON TOP of the 2-row
    * frame (aggregate-of-aggregate — never the q114 1-row scalar
    * join). */
  def qAbTest(t: Tables, salt: String = "exp1"): DataFrame = {
    // conversion = purchased within the first two days — "ever purchased"
    // saturates to 1.0 on a month of synthetic activity, which degenerates
    // the z denominator to 0 (ANSI double-divide throws; also guarded
    // below with nullif for genuinely degenerate inputs)
    val users = t.events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("ts").cast("date") < lit("2024-01-03").cast("date"), 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("arm",
        conv(substring(md5(concat(lit(salt), lit(":"),
          col("user_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2)
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
    arms.agg(
      sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a", col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("rate_b", col("conv_b").cast("double") / col("n_b").cast("double"))
      .withColumn("p_pool", (col("conv_a") + col("conv_b")).cast("double")
        / (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z", (col("rate_b") - col("rate_a"))
        / nullif(sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
          * (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double"))),
          lit(0.0)))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a"), col("rate_b"), col("z"))
  }

  def qAbTestSql(salt: String = "exp1"): String =
    s"""WITH users AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase'
       |             AND CAST(CAST(ts AS TIMESTAMP) AS DATE) < DATE '2024-01-03'
       |             THEN 1 ELSE 0 END)::BIGINT AS converted,
       |    CAST('0x' || substr(md5('$salt' || ':' ||
       |      CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS arm
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT arm, COUNT(*)::BIGINT AS n, CAST(SUM(converted) AS BIGINT) AS c
       |  FROM users GROUP BY arm),
       |flat AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM arms),
       |rates AS (
       |  SELECT *,
       |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool
       |  FROM flat)
       |SELECT n_a, n_b, conv_a, conv_b, rate_a, rate_b,
       |  (rate_b - rate_a)
       |    / nullif(sqrt(p_pool * (1.0 - p_pool)
       |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0.0) AS z
       |FROM rates""".stripMargin

  /** Q177: rolling 7-day active users per event type — the WAU/rolling-
    * retention monitor. An EXACT sliding distinct cannot ride a window
    * frame (distinct isn't frame-mergeable); the scalable relational
    * form: reduce to distinct (type, user, day) once, explode each row
    * to the ≤7 window-end days it contributes to, and count DISTINCT
    * users per (type, window_end) — linear ×7, one hash aggregate, no
    * per-window rescans. Windows are anchored to calendar days present
    * in the data; all integer/date-exact.
    *
    * At 100 TB this beats 7 self-joins (the naive form) and is the shape
    * a metrics store materializes daily. */
  def qRollingActive(t: Tables, windowDays: Int = 7): DataFrame = {
    val days = t.events
      .select(col("event_type"), col("user_id"), col("ts").cast("date").as("d"))
      .distinct()
    val ends = days.select(col("event_type"), col("d").as("window_end")).distinct()
    days
      .select(col("event_type"), col("user_id"),
        explode(expr(s"sequence(d, date_add(d, ${windowDays - 1}))")).as("window_end"))
      .join(ends, Seq("event_type", "window_end")) // only ends that exist
      .groupBy(col("event_type"), col("window_end"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("event_type"), col("window_end"))
  }

  def qRollingActiveSql(windowDays: Int = 7): String =
    s"""WITH days AS (
       |  SELECT DISTINCT event_type, user_id,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
       |  FROM events),
       |ends AS (SELECT DISTINCT event_type, d AS window_end FROM days),
       |contrib AS (
       |  SELECT days.event_type, days.user_id,
       |    unnest(generate_series(d, d + INTERVAL ${windowDays - 1} DAY,
       |      INTERVAL 1 DAY))::DATE AS window_end
       |  FROM days)
       |SELECT c.event_type, c.window_end,
       |  CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS active_users
       |FROM contrib c JOIN ends e
       |  ON e.event_type = c.event_type AND e.window_end = c.window_end
       |GROUP BY c.event_type, c.window_end
       |ORDER BY c.event_type, c.window_end""".stripMargin

  /** Q167: TTL retention plan — the data-lifecycle pass a 100 TB lake
    * runs nightly: given a retention cutoff, classify each (type, day)
    * partition as DROP (every row expired — file-level delete, no
    * rewrite), KEEP (nothing expired), or REWRITE (mixed — the only
    * class that costs IO). On a date-partitioned layout (q93) the whole
    * plan is computable from partition stats alone; here it derives from
    * one (type, day) aggregate, then rolls up to a per-type verdict row
    * with droppable/rewrite row counts — all exact integers.
    *
    * Cutoff is a fixed date literal (the deterministic stand-in for
    * `now() - INTERVAL`: wall-clock in a query breaks replay — both
    * engines must see the same constant). */
  def qTtlPlan(t: Tables, cutoff: String = "2024-01-15"): DataFrame = {
    val parts = t.events
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ts").cast("date") < lit(cutoff).cast("date"), 1L)
          .otherwise(0L)).as("n_expired"))
      .withColumn("cls",
        when(col("n_expired") === col("n"), "drop")
          .when(col("n_expired") === 0L, "keep")
          .otherwise("rewrite"))
    parts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_partitions"),
        sum(when(col("cls") === "drop", 1L).otherwise(0L)).as("n_drop"),
        sum(when(col("cls") === "rewrite", 1L).otherwise(0L)).as("n_rewrite"),
        sum(when(col("cls") === "drop", col("n")).otherwise(0L)).as("rows_dropped_free"),
        sum(when(col("cls") === "rewrite", col("n_expired")).otherwise(0L))
          .as("rows_needing_rewrite"))
      .orderBy(col("event_type"))
  }

  def qTtlPlanSql(cutoff: String = "2024-01-15"): String =
    s"""WITH parts AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    COUNT(*)::BIGINT AS n,
       |    CAST(SUM(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE)
       |        < DATE '$cutoff' THEN 1 ELSE 0 END) AS BIGINT) AS n_expired
       |  FROM events GROUP BY 1, 2),
       |cls AS (
       |  SELECT *, CASE WHEN n_expired = n THEN 'drop'
       |                 WHEN n_expired = 0 THEN 'keep'
       |                 ELSE 'rewrite' END AS cls
       |  FROM parts)
       |SELECT event_type, COUNT(*)::BIGINT AS n_partitions,
       |  CAST(SUM(CASE WHEN cls = 'drop' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop,
       |  CAST(SUM(CASE WHEN cls = 'rewrite' THEN 1 ELSE 0 END) AS BIGINT) AS n_rewrite,
       |  CAST(SUM(CASE WHEN cls = 'drop' THEN n ELSE 0 END) AS BIGINT)
       |    AS rows_dropped_free,
       |  CAST(SUM(CASE WHEN cls = 'rewrite' THEN n_expired ELSE 0 END) AS BIGINT)
       |    AS rows_needing_rewrite
       |FROM cls GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q168: pseudonymization audit — the GDPR/privacy remap a pipeline
    * applies before data leaves the trust boundary: user ids are
    * replaced by a deterministic keyed pseudonym (md5-derived integer —
    * the q63/q100 hash discipline), and the audit PROVES the remap
    * preserved join structure: per event type, distinct users, total
    * events and the per-user activity multiset fingerprint are identical
    * before and after (a bijection preserves all three; a collision
    * breaks the distinct count). One verdict row per type, all exact.
    *
    * The multiset fingerprint is a bit_xor over md5-ints of per-user
    * counts — order-independent and collision-auditable (the q158
    * checksum pattern). */
  def qPseudonymize(t: Tables, salt: String = "graft-v1"): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"))
    def pseud(c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(salt), lit(":"), c.cast("string"))), 1, 15),
        16, 10).cast("long")
    def profile(df: DataFrame, keyCol: String): DataFrame =
      df.groupBy(col("event_type"), col(keyCol))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
          expr("bit_xor(cast(conv(substring(md5(cast(c as string)), 1, 15), 16, 10) as long))")
            .as("activity_fp"))
    val before = profile(ev, "user_id")
    val after = profile(ev.withColumn("pid", pseud(col("user_id"))), "pid")
    before.join(after.select(col("event_type"),
        col("n_users").as("p_users"), col("n_events").as("p_events"),
        col("activity_fp").as("p_fp")), Seq("event_type"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        (col("n_users") === col("p_users")).as("users_preserved"),
        (col("n_events") === col("p_events")).as("events_preserved"),
        (col("activity_fp") === col("p_fp")).as("activity_preserved"))
      .orderBy(col("event_type"))
  }

  def qPseudonymizeSql(salt: String = "graft-v1"): String =
    s"""WITH ev AS (SELECT user_id, event_type FROM events),
       |before_p AS (
       |  SELECT event_type, COUNT(*)::BIGINT AS n_users,
       |    CAST(SUM(c) AS BIGINT) AS n_events,
       |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15)
       |      AS BIGINT)) AS BIGINT) AS fp
       |  FROM (SELECT event_type, user_id, COUNT(*)::BIGINT AS c
       |        FROM ev GROUP BY 1, 2)
       |  GROUP BY event_type),
       |after_p AS (
       |  SELECT event_type, COUNT(*)::BIGINT AS n_users,
       |    CAST(SUM(c) AS BIGINT) AS n_events,
       |    CAST(bit_xor(CAST('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15)
       |      AS BIGINT)) AS BIGINT) AS fp
       |  FROM (SELECT event_type,
       |          CAST('0x' || substr(md5('$salt' || ':' ||
       |            CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS pid,
       |          COUNT(*)::BIGINT AS c
       |        FROM ev GROUP BY 1, 2)
       |  GROUP BY event_type)
       |SELECT b.event_type, b.n_users, b.n_events,
       |  b.n_users = a.n_users AS users_preserved,
       |  b.n_events = a.n_events AS events_preserved,
       |  b.fp = a.fp AS activity_preserved
       |FROM before_p b JOIN after_p a USING (event_type)
       |ORDER BY b.event_type""".stripMargin

  /** Q163: time-series gap repair — the FIX to q118's gap report: rebuild
    * each type's dense hourly spine (explode(sequence)) and forward-fill
    * missing hours with the last observed count (the resample().ffill()
    * every monitoring/feature pipeline runs before a model sees the
    * series). `was_gap` keeps the repair auditable. All-integer values;
    * the fill is `last(_, ignoreNulls)` over a per-type ordered window ≡
    * DuckDB's last_value(... IGNORE NULLS) — exact both engines.
    *
    * Scale shape: windows partition BY TYPE (bounded partitions, no
    * global sort); the spine join is equi on (type, hr). First-hours
    * before any observation cannot exist (spines start at each type's
    * own min), so the fill is total. */
  def qGapFill(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = t.events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("y"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hr"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("filled", last(col("y"), ignoreNulls = true).over(w))
      .withColumn("was_gap", col("y").isNull)
      .select(col("event_type"), col("hr"), col("filled"), col("was_gap"))
      .orderBy(col("event_type"), col("hr"))
  }

  val qGapFillSql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS hr,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type, unnest(generate_series(lo, hi)) AS hr
      |  FROM (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi
      |        FROM hourly GROUP BY event_type))
      |SELECT s.event_type, s.hr,
      |  last_value(h.y IGNORE NULLS) OVER (PARTITION BY s.event_type
      |    ORDER BY s.hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS filled,
      |  h.y IS NULL AS was_gap
      |FROM spine s LEFT JOIN hourly h
      |  ON h.event_type = s.event_type AND h.hr = s.hr
      |ORDER BY s.event_type, s.hr""".stripMargin

  /** Q164: event-type co-occurrence mining — frequent-itemset support and
    * lift over (user, day) baskets (the market-basket pass a feature
    * pipeline runs to find behavior bundles). Pair support counts are
    * exact integers from a per-basket self-join (distinct types per
    * basket ≤ |event types|, so pairs-per-basket is bounded — linear in
    * baskets at 100 TB, never corpus²); lift = support·n/(sup_a·sup_b)
    * is one IEEE expression over exact BIGINTs — emitted RAW.
    *
    * Scale shape: one distinct, one bounded self-join on the basket key,
    * two tiny broadcast joins for the marginals. */
  def qCoOccurrence(t: Tables, minSupport: Long = 2L): DataFrame = {
    // barrier: items feeds the basket count, the margins AND both sides of
    // the pair self-join — un-barriered the events distinct shuffle ran 4x.
    // Bounded (user, day, type) rows; the count() below materializes it.
    val items = t.events
      .select(col("user_id"), col("ts").cast("date").as("day"), col("event_type"))
      .distinct()
      .localCheckpoint()
    val nBaskets = items.select(col("user_id"), col("day")).distinct().count()
    if (nBaskets == 0L) {
      import org.apache.spark.sql.types._
      return Tables.emptyFrame(t.spark, "item_a" -> StringType,
        "item_b" -> StringType, "support" -> LongType,
        "sup_a" -> LongType, "sup_b" -> LongType, "lift" -> DoubleType)
    }
    val marg = items.groupBy(col("event_type")).agg(count(lit(1)).as("sup"))
    val l = items.select(col("user_id"), col("day"), col("event_type").as("item_a"))
    val r = items.select(col("user_id"), col("day"), col("event_type").as("item_b"))
    l.join(r, Seq("user_id", "day")).filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .join(broadcast(marg.select(col("event_type").as("item_a"), col("sup").as("sup_a"))), Seq("item_a"))
      .join(broadcast(marg.select(col("event_type").as("item_b"), col("sup").as("sup_b"))), Seq("item_b"))
      .withColumn("lift",
        (col("support") * lit(nBaskets)).cast("double") /
          (col("sup_a") * col("sup_b")).cast("double"))
      .select(col("item_a"), col("item_b"), col("support"),
        col("sup_a"), col("sup_b"), col("lift"))
      .orderBy(col("item_a"), col("item_b"))
  }

  def qCoOccurrenceSql(minSupport: Long = 2L): String =
    s"""WITH items AS (
       |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    event_type
       |  FROM events),
       |nb AS (SELECT COUNT(*)::BIGINT AS n
       |       FROM (SELECT DISTINCT user_id, day FROM items)),
       |marg AS (SELECT event_type, COUNT(*)::BIGINT AS sup
       |         FROM items GROUP BY event_type),
       |pairs AS (
       |  SELECT l.event_type AS item_a, r.event_type AS item_b,
       |    COUNT(*)::BIGINT AS support
       |  FROM items l JOIN items r
       |    ON l.user_id = r.user_id AND l.day = r.day
       |    AND l.event_type < r.event_type
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport)
       |SELECT p.item_a, p.item_b, p.support, ma.sup AS sup_a, mb.sup AS sup_b,
       |  CAST(p.support * nb.n AS DOUBLE)
       |    / CAST(ma.sup * mb.sup AS DOUBLE) AS lift
       |FROM pairs p
       |JOIN marg ma ON ma.event_type = p.item_a
       |JOIN marg mb ON mb.event_type = p.item_b, nb
       |ORDER BY p.item_a, p.item_b""".stripMargin

  /** Q161: MAD-based robust anomaly detection on daily volumes — the
    * median-absolute-deviation companion to q107's z-scores (Hampel's
    * robust filter): a volume spike cannot poison its own threshold the
    * way it inflates a mean/σ. Medians are exact linear-interpolation
    * percentiles (the q51 precedent: Spark `percentile` ≡ DuckDB
    * `quantile_cont`); on integer daily counts every median/deviation is
    * an exact .0/.5 double, so the whole chain is emitted RAW. The
    * 1.4826 normal-consistency constant is a single parsed literal —
    * identical in both engines (the q139 hazard is REPEATED derived
    * constants, not one parse).
    *
    * Scale shape: the daily rollup is one map-side-combinable aggregate;
    * it is localCheckpoint'd because THREE consumers read it (med, dev,
    * anomaly count) — without it each consumer re-scans the event lake
    * (the q142 multi-consumer rule). Everything after operates on
    * |types·days| rows with broadcast joins of |types|-row tables. */
  def qMadAnomaly(t: Tables, kSigma: Double = 3.0): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
    if (t.events.isEmpty)
      return daily.select(col("event_type"), lit(0L).as("n_days"),
        lit(0.0).as("med"), lit(0.0).as("mad"), lit(0L).as("n_anomalies"))
        .limit(0)
    val d = daily.localCheckpoint()
    val med = d.groupBy(col("event_type"))
      .agg(expr("percentile(y, 0.5D)").as("med"))
    val dev = d.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("y").cast("double") - col("med")))
      .localCheckpoint()
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5D)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("adev") > lit(kSigma) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_anomalies"))
      .orderBy(col("event_type"))
  }

  val qMadAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |med AS (
      |  SELECT event_type, quantile_cont(y, 0.5) AS med
      |  FROM daily GROUP BY event_type),
      |dev AS (
      |  SELECT d.event_type, d.y, m.med,
      |    abs(CAST(d.y AS DOUBLE) - m.med) AS adev
      |  FROM daily d JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, COUNT(*)::BIGINT AS n_days,
      |  min(d.med) AS med, min(m.mad) AS mad,
      |  CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  def qCmsFreqSql(d: Int = 4, w: Int = 64, topK: Int = 10): String =
    s"""WITH ev AS (SELECT user_id FROM events),
       |js AS (SELECT unnest(range(0, $d)) AS j),
       |cnt AS (
       |  SELECT j, CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
       |      CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % $w AS b,
       |    COUNT(*)::BIGINT AS c
       |  FROM ev, js GROUP BY j, b),
       |exact AS (
       |  SELECT user_id, COUNT(*)::BIGINT AS exact FROM ev
       |  GROUP BY user_id ORDER BY exact DESC, user_id LIMIT $topK),
       |probed AS (
       |  SELECT e.user_id, e.exact, min(c.c) AS cms_est
       |  FROM exact e, js
       |  JOIN cnt c ON c.j = js.j
       |    AND c.b = CAST('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' ||
       |      CAST(e.user_id AS VARCHAR)), 1, 8) AS BIGINT) % $w
       |  GROUP BY e.user_id, e.exact)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY exact DESC, user_id) AS BIGINT) AS rank,
       |  user_id, exact, cms_est, cms_est - exact AS overcount,
       |  cms_est >= exact AS guarantee
       |FROM probed ORDER BY rank""".stripMargin

  /** Q182: audience-overlap matrix — pairwise user-set intersection /
    * union between event types, EXACT alongside the HLL sketch estimates
    * (Flajolet et al. 2007; inclusion–exclusion for the intersection).
    * This is the overlap-planning primitive at 100 TB: before merging two
    * event streams or corpus snapshots you want |A∩B| without shuffling
    * every key — mergeable HLL sketches are the scan-side answer, and the
    * exact side here exists to exhibit the error envelope (the q23/q109
    * discipline: oracled columns are exact, the engine-specific estimate
    * folds into envelope booleans the oracle asserts TRUE).
    *
    * Scale shape: ONE distinct (type,user) shuffle feeds everything; the
    * pair fan-out is a pure projection (literal type→pairs map + explode —
    * no non-equi join of tiny aggregates, the q114 BNLJ trap); the exact
    * intersection is one equi self-join on user_id; per-type counts and
    * sketches broadcast into the pair rows. Output rows = pairs sharing
    * ≥1 user (both engines derive the pair set from the same inner join).
    */
  def qAudienceOverlap(t: Tables, rsd: Double = 0.02): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.events.sparkSession
    // barrier: tu feeds the type list, the tagged HLL pass, the per-type
    // exacts AND both sides of the intersection self-join — un-barriered
    // the events distinct shuffle ran 5x. Bounded (type, user) rows; the
    // collect below materializes it.
    val tu = t.events.select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint()
    // scalar-first: the distinct type list is tiny and bounded — drive the
    // pair map from it (a literal in the plan, not a join)
    val types = tu.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    if (types.length < 2)
      return Tables.emptyFrame(spark, "type_a" -> StringType,
        "type_b" -> StringType, "exact_a" -> LongType, "exact_b" -> LongType,
        "exact_inter" -> LongType, "exact_union" -> LongType,
        "union_ok" -> BooleanType, "inter_ok" -> BooleanType)
    val pairsOf: Map[String, Seq[(String, String)]] = types.map { ty =>
      ty -> (for (a <- types; b <- types if a < b && (a == ty || b == ty))
        yield (a, b)).toSeq
    }.toMap
    val pairCol = map(types.flatMap { ty =>
      Seq(lit(ty), array(pairsOf(ty).map { case (a, b) =>
        struct(lit(a).as("a"), lit(b).as("b"))
      }: _*))
    }: _*)
    val tagged = tu.withColumn("p", explode(element_at(pairCol, col("event_type"))))
    val unionEst = tagged.groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("hll_union"))
    val perTypeEst = tu.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("hll_n"),
        count(lit(1)).as("exact_n"))
    val inter = tu.as("x").join(tu.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_inter"))
    val ea = perTypeEst.select(col("event_type").as("type_a"),
      col("exact_n").as("exact_a"), col("hll_n").as("hll_a"))
    val eb = perTypeEst.select(col("event_type").as("type_b"),
      col("exact_n").as("exact_b"), col("hll_n").as("hll_b"))
    inter
      .join(broadcast(ea), Seq("type_a")).join(broadcast(eb), Seq("type_b"))
      .join(broadcast(unionEst), Seq("type_a", "type_b"))
      .withColumn("exact_union", col("exact_a") + col("exact_b") - col("exact_inter"))
      .withColumn("hll_inter", col("hll_a") + col("hll_b") - col("hll_union"))
      .select(col("type_a"), col("type_b"), col("exact_a"), col("exact_b"),
        col("exact_inter"), col("exact_union"),
        (abs(col("hll_union").cast("double") - col("exact_union").cast("double"))
          <= col("exact_union").cast("double") * 0.05).as("union_ok"),
        // inclusion-exclusion compounds three estimates: envelope base is
        // |A|+|B|, not the (possibly tiny) intersection itself
        (abs(col("hll_inter").cast("double") - col("exact_inter").cast("double"))
          <= (col("exact_a") + col("exact_b")).cast("double") * 0.05).as("inter_ok"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q182 oracle: the exact sets by definition; the sketch facts enter as
    * the envelope booleans asserted TRUE. */
  val qAudienceOverlapSql: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
      |pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY event_type),
      |iv AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         CAST(COUNT(*) AS BIGINT) AS exact_inter
      |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT iv.type_a, iv.type_b, pa.n AS exact_a, pb.n AS exact_b,
      |  iv.exact_inter, pa.n + pb.n - iv.exact_inter AS exact_union,
      |  TRUE AS union_ok, TRUE AS inter_ok
      |FROM iv JOIN pt pa ON pa.event_type = iv.type_a
      |        JOIN pt pb ON pb.event_type = iv.type_b
      |ORDER BY iv.type_a, iv.type_b""".stripMargin

  /** Q192: seasonal-trend decomposition of the daily event series (the
    * STL shape, Cleveland et al. 1990, in its moving-average classical
    * form): per event type, trend = centered 7-day moving average,
    * seasonal = day-of-week mean of the detrended series, residual =
    * observed − trend − seasonal, with a seasonality-aware anomaly flag —
    * the decomposition q107's plain z-score anomaly detector can't do
    * (a quiet Sunday is NOT an anomaly once the weekly component is out).
    *
    * Exactness: everything stays in integers until presentation. The
    * trend window uses a RANGE frame over day numbers (calendar-correct
    * under missing days; trend defined only where all 7 days exist);
    * detrended·7 = 7y − s7 is a BIGINT, so the seasonal mean is
    * Σ(7y−s7)/(7n) — exact integers into one division; the residual and
    * the anomaly inequality |resid| > ȳ/2 are cross-multiplied to pure
    * BIGINT (2·nd·|7n·y − n·s7 − m7| > 7·n·sy) — no float ever decides
    * the flag. Day-of-week = day_x mod 7 (engine-free).
    *
    * Scale shape: the only corpus-scale work is the daily count
    * aggregate (one shuffle of |events|); every window after it runs on
    * the |types × days| frame — bounded by the calendar, not the data. */
  def qSeasonalDecomp(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01")).cast("long").as("day_x"))
      .agg(count(lit(1)).as("y"))
    val wRange = Window.partitionBy(col("event_type")).orderBy(col("day_x"))
      .rangeBetween(-3, 3)
    val wType = Window.partitionBy(col("event_type"))
    val withTrend = daily
      .withColumn("s7", sum(col("y")).over(wRange))
      .withColumn("c7", count(lit(1)).over(wRange))
      .withColumn("sy", sum(col("y")).over(wType))
      .withColumn("nd", count(lit(1)).over(wType))
      .withColumn("dow", pmod(col("day_x"), lit(7L)))
    val wDow = Window.partitionBy(col("event_type"), col("dow"))
    val complete = col("c7") === 7
    val withSeason = withTrend
      .withColumn("m7", sum(when(complete, lit(7L) * col("y") - col("s7"))).over(wDow))
      .withColumn("n", count(when(complete, lit(1))).over(wDow))
    val haveAll = complete && col("n") > 0
    withSeason.select(col("event_type"), col("day_x"), col("y"),
        when(complete, col("s7").cast("double") / lit(7.0)).as("trend"),
        when(col("n") > 0,
          col("m7").cast("double") / (lit(7L) * col("n")).cast("double")).as("seasonal"),
        when(haveAll,
          col("y").cast("double") - col("s7").cast("double") / lit(7.0)
            - col("m7").cast("double") / (lit(7L) * col("n")).cast("double")).as("resid"),
        when(haveAll,
          lit(2L) * col("nd")
            * abs(lit(7L) * col("n") * col("y") - col("n") * col("s7") - col("m7"))
            > lit(7L) * col("n") * col("sy")).as("is_anomaly"))
      .orderBy(col("event_type"), col("day_x"))
  }

  /** q192 oracle: the same integer program over window functions — RANGE
    * frame for the trend, dow partition for the seasonal mean, BIGINT
    * cross-multiplied anomaly test. */
  /** Q215: CUSUM change-point detection on daily event volumes (Page
    * 1954) — the sequential drift detector that catches slow level
    * shifts q107's per-day z-score misses (a 1σ/day drift never trips a
    * pointwise threshold but accumulates linearly in CUSUM).
    *
    * The distributed form is the prefix identity: the clamped recurrence
    * S_t = max(0, S_{t−1} + z_t) equals P_t − min(0, min_{j≤t} P_j)
    * with P the plain prefix sum — so both one-sided statistics are
    * ordinary windows (prefix sum + running extremum), no sequential
    * kernel. Everything is integer: deviations are day-count-scaled
    * (z·D = D·x − tot), and the h·σ alarm compares S² against
    * h²·(D·ssq − tot²) — both sides derived from exact BIGINTs, the
    * q192 cross-multiplication discipline (doubles only to dodge the
    * BIGINT square overflow; identical IEEE sequences both engines).
    *
    * Scale shape: one daily aggregate, then windows partitioned by
    * event_type over its bounded day range. */
  def qCusum(t: Tables, hSigma: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t.events.groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01")).cast("long").as("day_x"))
      .agg(count(lit(1)).as("x"))
    val wType = Window.partitionBy(col("event_type"))
    val wSeq = Window.partitionBy(col("event_type")).orderBy(col("day_x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h2 = lit((hSigma.toLong * hSigma).toDouble)
    val varD2 = (col("dd") * col("ssq") - col("tot") * col("tot")).cast("double")
    daily
      .withColumn("dd", count(lit(1)).over(wType))
      .withColumn("tot", sum(col("x")).over(wType))
      .withColumn("ssq", sum(col("x") * col("x")).over(wType))
      .withColumn("zs", col("dd") * col("x") - col("tot"))
      .withColumn("p", sum(col("zs")).over(wSeq))
      .withColumn("s_pos", col("p") - least(min(col("p")).over(wSeq), lit(0L)))
      .withColumn("s_neg", greatest(max(col("p")).over(wSeq), lit(0L)) - col("p"))
      .withColumn("alarm_pos",
        col("s_pos").cast("double") * col("s_pos").cast("double") > h2 * varD2)
      .withColumn("alarm_neg",
        col("s_neg").cast("double") * col("s_neg").cast("double") > h2 * varD2)
      .select(col("event_type"), col("day_x"), col("x"), col("dd"),
        col("tot"), col("zs"), col("s_pos"), col("s_neg"),
        col("alarm_pos"), col("alarm_neg"))
      .orderBy(col("event_type"), col("day_x"))
  }

  /** q215 oracle: the same prefix-identity windows and integer alarm. */
  def qCusumSql(hSigma: Int = 4): String =
    s"""WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
      |    COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT *,
      |    CAST(COUNT(*) OVER wt AS BIGINT) AS dd,
      |    CAST(SUM(x) OVER wt AS BIGINT) AS tot,
      |    CAST(SUM(x * x) OVER wt AS BIGINT) AS ssq
      |  FROM daily WINDOW wt AS (PARTITION BY event_type)),
      |z AS (SELECT *, dd * x - tot AS zs FROM st),
      |pr AS (
      |  SELECT *,
      |    CAST(SUM(zs) OVER ws AS BIGINT) AS p
      |  FROM z WINDOW ws AS (PARTITION BY event_type ORDER BY day_x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT *,
      |    p - least(CAST(MIN(p) OVER ws AS BIGINT), 0) AS s_pos,
      |    greatest(CAST(MAX(p) OVER ws AS BIGINT), 0) - p AS s_neg
      |  FROM pr WINDOW ws AS (PARTITION BY event_type ORDER BY day_x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type, day_x, x, dd, tot, zs, s_pos, s_neg,
      |  CAST(s_pos AS DOUBLE) * CAST(s_pos AS DOUBLE)
      |    > ${hSigma * hSigma}.0::DOUBLE
      |      * CAST(dd * ssq - tot * tot AS DOUBLE) AS alarm_pos,
      |  CAST(s_neg AS DOUBLE) * CAST(s_neg AS DOUBLE)
      |    > ${hSigma * hSigma}.0::DOUBLE
      |      * CAST(dd * ssq - tot * tot AS DOUBLE) AS alarm_neg
      |FROM s ORDER BY event_type, day_x""".stripMargin

  val qSeasonalDecompSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT *,
      |    CAST(SUM(y) OVER w7 AS BIGINT) AS s7,
      |    CAST(COUNT(*) OVER w7 AS BIGINT) AS c7,
      |    CAST(SUM(y) OVER wt AS BIGINT) AS sy,
      |    CAST(COUNT(*) OVER wt AS BIGINT) AS nd,
      |    ((day_x % 7) + 7) % 7 AS dow
      |  FROM daily
      |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day_x
      |                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING),
      |         wt AS (PARTITION BY event_type)),
      |se AS (
      |  SELECT *,
      |    CAST(SUM(CASE WHEN c7 = 7 THEN 7 * y - s7 END) OVER wd AS BIGINT) AS m7,
      |    CAST(COUNT(CASE WHEN c7 = 7 THEN 1 END) OVER wd AS BIGINT) AS n
      |  FROM tr
      |  WINDOW wd AS (PARTITION BY event_type, dow))
      |SELECT event_type, day_x, y,
      |  CASE WHEN c7 = 7 THEN CAST(s7 AS DOUBLE) / 7.0::DOUBLE END AS trend,
      |  CASE WHEN n > 0 THEN CAST(m7 AS DOUBLE) / CAST(7 * n AS DOUBLE) END AS seasonal,
      |  CASE WHEN c7 = 7 AND n > 0 THEN
      |    CAST(y AS DOUBLE) - CAST(s7 AS DOUBLE) / 7.0::DOUBLE
      |      - CAST(m7 AS DOUBLE) / CAST(7 * n AS DOUBLE) END AS resid,
      |  CASE WHEN c7 = 7 AND n > 0 THEN
      |    2 * nd * abs(7 * n * y - n * s7 - m7) > 7 * n * sy END AS is_anomaly
      |FROM se ORDER BY event_type, day_x""".stripMargin

  /** Q194: inter-arrival distribution fit + Kolmogorov–Smirnov
    * goodness-of-fit per event type — the distribution-level counterpart
    * to q173's chi-square: fit the exponential MLE λ = n/Σgap to per-user
    * inter-event gaps and test it with the one-sample KS statistic
    * D = max_i max(i/n − F(x₍ᵢ₎), F(x₍ᵢ₎) − (i−1)/n) (Massey 1951), with
    * the 95% asymptotic rejection D·√n > 1.36. A Poisson-process
    * assumption failing here means session/burst structure — exactly what
    * q106's sessionization presumes.
    *
    * Exactness: gaps are integer micros; λ and the ECDF steps are fixed
    * IEEE sequences over exact integers; D is a MAX — order-independent
    * by nature — but libm exp is NOT bit-identical cross-engine (1-ulp
    * divergence measured at sf0.001), so D carries round(6) and the
    * rejection flag derives from the rounded statistic (IEEE sqrt IS
    * correctly rounded, so the flag product is then bit-stable).
    *
    * Scale shape: the ECDF needs a per-type global rank — done with the
    * q108/q144 two-phase bucket prefix (magnitude buckets are monotone in
    * the gap, per-(type, bucket) counts ride the driver — a bounded
    * ≤types·64-row fetch — and offsets broadcast back), so no
    * single-partition sort ever sees the corpus. */
  def qInterarrivalFit(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = t.events
      .select(col("event_type"), col("user_id"), col("event_id"), col("ts"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byKey))
      .filter(col("gap_us").isNotNull)
    // magnitude bucket: any deterministic monotone function of the gap
    // partitions the sorted order, so offset + within-bucket row_number is
    // the exact global rank; ~45 log-buckets keep per-bucket sorts balanced
    val withB = gaps.withColumn("bkt",
      floor(log(col("gap_us").cast("double") + lit(2.0))).cast("int"))
    val offsets = {
      val cnts = withB.groupBy(col("event_type"), col("bkt"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2))
      val acc = scala.collection.mutable.Map.empty[String, Long]
      cnts.map { case (tp, b, c) =>
        val o = acc.getOrElse(tp, 0L)
        acc(tp) = o + c
        (tp, b, o)
      }.toSeq
    }
    import t.spark.implicits._
    val offDf = broadcast(offsets.toDF("event_type", "bkt", "off"))
    val rn = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("gap_us"), col("user_id"), col("event_id"))
    val ranked = withB.join(offDf, Seq("event_type", "bkt"))
      .withColumn("rk", col("off") + row_number().over(rn))
    val stats = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("gap_us")).as("sum_us"))
    val lam = when(col("sum_us") > 0,
      col("n").cast("double") / (col("sum_us").cast("double") / lit(1000000.0)))
    val scored = ranked.join(broadcast(stats.withColumn("lam", lam)), Seq("event_type"))
    val fx = lit(1.0) - exp(-(col("lam") * (col("gap_us").cast("double") / lit(1000000.0))))
    val d = scored
      .withColumn("dev", greatest(
        col("rk").cast("double") / col("n").cast("double") - fx,
        fx - (col("rk") - lit(1L)).cast("double") / col("n").cast("double")))
      .groupBy(col("event_type"))
      // ks_d is round(6)-ed: libm exp differs cross-engine by 1 ulp on some
      // arguments (measured at sf0.001), and D is otherwise emitted raw —
      // the CLAUDE.md last-ulp rule; the rejection flag derives from the
      // ROUNDED statistic so flag and statistic can never disagree
      .agg(max(col("n")).as("n_gaps"), max(col("sum_us")).as("sum_gap_us"),
        max(col("lam")).as("lambda_per_s"), round(max(col("dev")), 6).as("ks_d"))
    d.select(col("event_type"), col("n_gaps"), col("sum_gap_us"),
        col("lambda_per_s"), col("ks_d"),
        (col("ks_d") * sqrt(col("n_gaps").cast("double")) > lit(1.36)).as("ks_reject"))
      .orderBy(col("event_type"))
  }

  /** q194 oracle: gaps via the same lag window, plain per-type
    * ROW_NUMBER for the rank (DuckDB replays the exact rank the bucketed
    * two-phase form computes), identical IEEE sequences for λ, F, D. */
  val qInterarrivalFitSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |g0 AS (
      |  SELECT event_type, user_id, event_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
      |                                           ORDER BY ts, event_id) AS gap_us
      |  FROM ev),
      |g AS (SELECT * FROM g0 WHERE gap_us IS NOT NULL),
      |st AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n, CAST(SUM(gap_us) AS BIGINT) AS sum_us
      |  FROM g GROUP BY event_type),
      |r AS (
      |  SELECT g.*, ROW_NUMBER() OVER (PARTITION BY event_type
      |                                 ORDER BY gap_us, user_id, event_id) AS rk
      |  FROM g),
      |sc AS (
      |  SELECT r.event_type, rk, gap_us, st.n, st.sum_us,
      |    CASE WHEN st.sum_us > 0 THEN
      |      CAST(st.n AS DOUBLE) / (CAST(st.sum_us AS DOUBLE) / 1000000.0::DOUBLE)
      |    END AS lam
      |  FROM r JOIN st USING (event_type)),
      |d AS (
      |  SELECT event_type,
      |    CAST(MAX(n) AS BIGINT) AS n_gaps, CAST(MAX(sum_us) AS BIGINT) AS sum_gap_us,
      |    MAX(lam) AS lambda_per_s,
      |    round(MAX(greatest(
      |      CAST(rk AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (1.0::DOUBLE - exp(-(lam * (CAST(gap_us AS DOUBLE) / 1000000.0::DOUBLE)))),
      |      (1.0::DOUBLE - exp(-(lam * (CAST(gap_us AS DOUBLE) / 1000000.0::DOUBLE))))
      |        - CAST(rk - 1 AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS ks_d
      |  FROM sc GROUP BY event_type)
      |SELECT event_type, n_gaps, sum_gap_us, lambda_per_s, ks_d,
      |  ks_d * sqrt(CAST(n_gaps AS DOUBLE)) > 1.36::DOUBLE AS ks_reject
      |FROM d ORDER BY event_type""".stripMargin

  // --------------------------------------- Markov removal-effect attribution

  /** Shared edge construction for q190: sessionize (the q106 30-min-gap
    * idiom), truncate each session at its FIRST purchase (mapped to the
    * absorbing state `conv`), and emit first-order transition rows
    * (from, to, cnt, tot) with `START` openings and `null` endings for
    * non-converting sessions. All integers. */
  private[graft] def attributionEdges(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessAll = Window.partitionBy(col("user_id"), col("session_id"))
    val stepped = t.events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("gap", when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
          > 1800L * 1000000L, 1).otherwise(lit(0)))
      .withColumn("session_id", sum(col("gap")).over(byUser))
      .withColumn("step", row_number().over(bySess))
      .withColumn("conv_step",
        min(when(col("event_type") === "purchase", col("step"))).over(sessAll))
      .withColumn("last_step", max(col("step")).over(sessAll))
      .filter(col("conv_step").isNull || col("step") <= col("conv_step"))
      .withColumn("state",
        when(col("event_type") === "purchase", lit("conv"))
          .otherwise(col("event_type")))
    val steps = stepped.select(
      coalesce(lag(col("state"), 1).over(bySess), lit("START")).as("from"),
      col("state").as("to"))
    val ends = stepped
      .filter(col("step") === coalesce(col("conv_step"), col("last_step"))
        && col("state") =!= "conv")
      .select(col("state").as("from"), lit("null").as("to"))
    // barrier: trans is referenced twice (itself + the tot join) and its
    // two union arms each re-evaluate the 3-window sessionize chain —
    // 4 events-chain evaluations per consumer before (r13 opt). The
    // checkpointed frame is ≤|states|² count rows.
    val trans = steps.unionByName(ends)
      .groupBy(col("from"), col("to")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tot = trans.groupBy(col("from")).agg(sum(col("cnt")).as("tot"))
    trans.join(tot, Seq("from"))
  }

  /** Q190: Markov removal-effect attribution (Anderl et al. 2014 — the
    * data-driven alternative to last-touch): model the session journey as
    * a first-order Markov chain over channel states with absorbing `conv`
    * (first purchase) and `null` (session end), estimate transition
    * probabilities from counts, and attribute conversions to channel c by
    * its removal effect — how much the START→conv absorption probability
    * drops when every edge into c is redirected to `null`.
    *
    * Absorption probabilities come from K=12 rounds of fixed-point
    * iteration v ← P·v with v(conv)=1, v(null)=0 — the q119/q120/q139
    * fixed-round discipline: each round's values live on the 1e-6 grid as
    * BIGINT micros, per-edge terms are round(p·v·1e6) summed in BIGINT
    * (order-independent), and both engines replay the identical IEEE
    * sequence (p = cnt/tot is one division; v = vm/1e6 one division;
    * literals written ::DOUBLE in the oracle per the q179 rule).
    *
    * Scale shape: sessionization + truncation + transition counts are the
    * distributed part — two windows over the (user, session) hash
    * partition and one aggregate, all linear in |events|. The chain
    * itself is |channels+3|² ≤ ~50 integers — the k-means-centroid
    * bounded-fetch contract — so the 5 scenario solves ride the driver;
    * at 100 TB the edge aggregate is the same one shuffle and the matrix
    * is still tiny. */
  /** The non-absorbing channel states q190's oracle unrolls scenario
    * CTEs for — one source of truth for the Spark-side loud assert and
    * the SQL generator (ADVICE r9: a new event_type must fail loudly,
    * not silently hash-mismatch). */
  private[graft] val markovOracleChannels = Seq("view", "click", "signup", "error")

  def qMarkovAttribution(t: Tables, rounds: Int = 12): DataFrame = {
    val spark = t.events.sparkSession
    import spark.implicits._
    val edges = attributionEdges(t)
      .select(col("from"), col("to"), col("cnt").cast("long"), col("tot").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(e => (e._1, e._2))
    val channels = edges.flatMap(e => Seq(e._1, e._2))
      .filter(s => s != "START" && s != "conv" && s != "null").distinct.sorted
    // The oracle's scenario CTEs are unrolled for a FIXED channel list;
    // if the events table ever gains a NEW event_type the hash gate would
    // silently mismatch (ADVICE r9) — fail loudly on that. A SUBSET is
    // benign (both sides derive the OUTPUT channel list from the data, so
    // an SF lacking e.g. 'error' transitions still hash-matches) and is
    // tolerated (ADVICE r10).
    if (edges.nonEmpty) {
      val unknown = channels.filterNot(markovOracleChannels.contains)
      require(unknown.isEmpty,
        s"q190: data-derived channels [${unknown.mkString(",")}] are not in " +
          s"the oracle scenario list [${markovOracleChannels.mkString(",")}] — " +
          "regenerate qMarkovAttributionSql's unrolled scenario CTEs")
    }
    // absorption micros from START under edge set `es` after K rounds
    def solve(es: Array[(String, String, Long, Long)]): Long = {
      val froms = es.map(_._1).distinct
      var v = Map("conv" -> 1000000L, "null" -> 0L) ++ froms.map(_ -> 0L)
      for (_ <- 1 to rounds) {
        val next = froms.map { f =>
          var acc = 0L
          es.foreach { case (ef, et, cnt, tot) =>
            if (ef == f) {
              val p = cnt.toDouble / tot.toDouble
              val tv = v.getOrElse(et, 0L).toDouble / 1000000.0
              acc += Math.round(p * tv * 1000000.0)
            }
          }
          f -> acc
        }
        v = Map("conv" -> 1000000L, "null" -> 0L) ++ next
      }
      v.getOrElse("START", 0L)
    }
    val baseM = solve(edges)
    val rows = channels.map { c =>
      val removed = edges.collect {
        case (f, tt, cnt, tot) if f != c =>
          (f, if (tt == c) "null" else tt, cnt, tot)
      }
      (c, baseM, solve(removed))
    }
    val sumEffM = rows.map { case (_, b, r) => b - r }.sum
    rows.toSeq.toDF("channel", "base_m", "removed_m")
      .select(col("channel"),
        (col("base_m").cast("double") / lit(1000000.0)).as("p_conv_base"),
        (col("removed_m").cast("double") / lit(1000000.0)).as("p_conv_removed"),
        ((col("base_m") - col("removed_m")).cast("double") / lit(1000000.0))
          .as("removal_effect"),
        (if (sumEffM == 0L) lit(null).cast("double")
         else (col("base_m") - col("removed_m")).cast("double") / lit(sumEffM.toDouble))
          .as("attribution"))
      .orderBy(col("channel"))
  }

  /** q190 oracle: sessionize/truncate/count in SQL (the q106 window
    * idiom), then the 5 scenario solves unrolled as chained MATERIALIZED
    * CTEs — per round one aggregate over the ≤50-row edge table, BIGINT-
    * micro terms, every literal ::DOUBLE. */
  /** Q221: Kaplan–Meier survival curve of conversion latency (Kaplan &
    * Meier 1958) — time from a user's first event to first purchase, in
    * minutes, with never-converting users RIGHT-CENSORED at their last
    * observed event instead of dropped (the bias q104's funnel window
    * sidesteps by fiat; KM handles it correctly). The retention
    * complement of q105's cohort grid.
    *
    * Exactness: latencies are integer minutes (epoch-µs div); d/c/at-
    * risk counts are exact (N enters as Σ(d+c) over all times — every
    * user leaves the risk set exactly once, so no side fetch); the
    * product-limit runs in LOG space — per-step round(ln((n−d)/n)·1e6)
    * BIGINT prefix sums (order-independent), S = round(exp,6) per the
    * r9 exp rule; an n=d step zeroes S exactly (ln_s NULL from there).
    *
    * Scale shape: one per-user aggregate + one per-latency aggregate;
    * the survival windows run over DISTINCT latency minutes — bounded
    * by the observation horizon's minute grid, not the corpus (at finer
    * grids the q108 bucket-prefix applies verbatim). */
  def qKaplanMeier(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = t.events.groupBy(col("user_id")).agg(
      min(unix_micros(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
        .as("purch_us"),
      max(unix_micros(col("ts"))).as("last_us"))
    val lat = per.select(
      when(col("purch_us").isNotNull,
        expr("(purch_us - first_us) div 60000000L"))
        .otherwise(expr("(last_us - first_us) div 60000000L")).as("t_min"),
      when(col("purch_us").isNotNull, 1L).otherwise(0L).as("death"))
    val byT = lat.groupBy(col("t_min")).agg(
      sum(col("death")).as("d"),
      sum(lit(1L) - col("death")).as("c"))
    val wExc = Window.orderBy(col("t_min"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wInc = Window.orderBy(col("t_min"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    byT
      .withColumn("removed", coalesce(sum(col("d") + col("c")).over(wExc), lit(0L)))
      .withColumn("n_risk", sum(col("d") + col("c")).over(all) - col("removed"))
      .withColumn("term", when(col("d") > 0 && col("d") < col("n_risk"), round(
        log((col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double"))
          * lit(1000000.0), 0).cast("long")).otherwise(0L))
      .withColumn("cum", sum(col("term")).over(wInc))
      .withColumn("zeroed",
        max(when(col("d") > 0 && col("d") === col("n_risk"), 1L).otherwise(0L))
          .over(wInc))
      .filter(col("d") > 0)
      .select(col("t_min"), col("d"), col("c"), col("n_risk"),
        when(col("zeroed") === 0L, col("cum")).as("ln_s_micro"),
        when(col("zeroed") === 1L, lit(0.0))
          .otherwise(round(exp(col("cum").cast("double") / lit(1000000.0)), 6))
          .as("s"))
      .orderBy(col("t_min"))
  }

  /** q221 oracle: identical latency grid, risk-set windows and log-space
    * product limit. */
  val qKaplanMeierSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
      |    MIN(CASE WHEN event_type = 'purchase'
      |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS purch_us,
      |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      |  FROM events GROUP BY user_id),
      |lat AS (
      |  SELECT CASE WHEN purch_us IS NOT NULL
      |              THEN (purch_us - first_us) // 60000000
      |              ELSE (last_us - first_us) // 60000000 END AS t_min,
      |    CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM per),
      |byt AS (
      |  SELECT t_min, CAST(SUM(death) AS BIGINT) AS d,
      |    CAST(SUM(1 - death) AS BIGINT) AS c
      |  FROM lat GROUP BY t_min),
      |risk AS (
      |  SELECT *,
      |    COALESCE(CAST(SUM(d + c) OVER (ORDER BY t_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS removed,
      |    CAST(SUM(d + c) OVER () AS BIGINT) AS n_total
      |  FROM byt),
      |terms AS (
      |  SELECT *, n_total - removed AS n_risk,
      |    CASE WHEN d > 0 AND d < n_total - removed THEN
      |      CAST(round(ln(CAST(n_total - removed - d AS DOUBLE)
      |                    / CAST(n_total - removed AS DOUBLE))
      |                 * 1000000.0::DOUBLE) AS BIGINT)
      |    ELSE 0 END AS term
      |  FROM risk),
      |cums AS (
      |  SELECT *,
      |    CAST(SUM(term) OVER wi AS BIGINT) AS cum,
      |    CAST(MAX(CASE WHEN d > 0 AND d = n_risk THEN 1 ELSE 0 END)
      |      OVER wi AS BIGINT) AS zeroed
      |  FROM terms
      |  WINDOW wi AS (ORDER BY t_min
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT t_min, d, c, n_risk,
      |  CASE WHEN zeroed = 0 THEN cum END AS ln_s_micro,
      |  CASE WHEN zeroed = 1 THEN 0.0::DOUBLE
      |       ELSE round(exp(CAST(cum AS DOUBLE) / 1000000.0::DOUBLE), 6) END AS s
      |FROM cums WHERE d > 0 ORDER BY t_min""".stripMargin

  /** Q222: log-rank test (Mantel 1966) — does conversion latency differ
    * between users whose FIRST event is a view and everyone else? The
    * hypothesis-test companion to q221's curve: at every death time,
    * compare group 1's observed deaths to its at-risk share, accumulate
    * O−E and the hypergeometric variance, and read the χ² against the
    * 1-df 5% critical value. Entry-channel effects on conversion are
    * the canonical use.
    *
    * Exactness: group assignment is a (ts, event_id) row_number argmin
    * (total order); all d/n counts are exact; per-time E and V terms
    * are double products OF EXACT INTEGERS rounded to the micro grid
    * and summed as BIGINT; χ² = (O·1e6 − E_micro)²/(V_micro·1e6) is a
    * fixed IEEE sequence, and the reject flag compares it to the same
    * parsed 3.841 on both engines.
    *
    * Scale shape: q221's aggregates plus one per-(time, group) grid —
    * two literal groups EXPLODED over the distinct-time table (the
    * q210 no-BNLJ trick); windows partition by group. */
  def qLogRank(t: Tables, crit: Double = 3.841): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val firstType = t.events
      .withColumn("rn", row_number().over(wU)).filter(col("rn") === 1)
      .select(col("user_id"),
        when(col("event_type") === "view", "view_first")
          .otherwise("other").as("g"))
    val per = t.events.groupBy(col("user_id")).agg(
      min(unix_micros(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
        .as("purch_us"),
      max(unix_micros(col("ts"))).as("last_us"))
    val lat = per.join(firstType, Seq("user_id")).select(col("g"),
      when(col("purch_us").isNotNull,
        expr("(purch_us - first_us) div 60000000L"))
        .otherwise(expr("(last_us - first_us) div 60000000L")).as("t_min"),
      when(col("purch_us").isNotNull, 1L).otherwise(0L).as("death"))
    val byTG = lat.groupBy(col("t_min"), col("g")).agg(
      sum(col("death")).as("dg"),
      sum(lit(1L) - col("death")).as("cg"))
    val grid = byTG.select(col("t_min")).distinct()
      .withColumn("g", explode(typedLit(Seq("view_first", "other"))))
      .join(byTG, Seq("t_min", "g"), "left")
      .withColumn("dg", coalesce(col("dg"), lit(0L)))
      .withColumn("cg", coalesce(col("cg"), lit(0L)))
    val wg = Window.partitionBy(col("g")).orderBy(col("t_min"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wgAll = Window.partitionBy(col("g"))
    val withRisk = grid
      .withColumn("removed", coalesce(sum(col("dg") + col("cg")).over(wg), lit(0L)))
      .withColumn("ng_tot", sum(col("dg") + col("cg")).over(wgAll))
      .withColumn("ng", col("ng_tot") - col("removed"))
    val perT = withRisk.groupBy(col("t_min")).agg(
      sum(col("dg")).as("d"),
      sum(col("ng")).as("n"),
      sum(when(col("g") === "view_first", col("dg"))).as("d1"),
      sum(when(col("g") === "view_first", col("ng"))).as("n1"),
      max(when(col("g") === "view_first", col("ng_tot"))).as("n1_users"),
      max(when(col("g") === "other", col("ng_tot"))).as("n2_users"))
    // Keep every t_min row and GUARD the step terms instead of filtering:
    // with zero death-times (e.g. no purchases at an SF) the aggregate
    // still reports the real group sizes rather than an all-NULL row
    // (ADVICE r10). CASE is lazy in both engines, so the divisions never
    // run on non-step rows.
    val isStep = col("d") > 0 && col("n") > 1
    val steps = perT
      .withColumn("e1_micro", when(isStep, round(
        col("d").cast("double") * col("n1").cast("double") /
          col("n").cast("double") * lit(1000000.0), 0).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("v_micro", when(isStep, round(
        col("n1").cast("double") * (col("n") - col("n1")).cast("double") *
          col("d").cast("double") * (col("n") - col("d")).cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            (col("n") - 1).cast("double")) * lit(1000000.0), 0).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("d1s", when(isStep, col("d1")).otherwise(lit(0L)))
    val agg = steps.agg(
      max(col("n1_users")).as("n1_users"),
      max(col("n2_users")).as("n2_users"),
      sum(col("d1s")).as("o1"),
      sum(col("e1_micro")).as("e1_micro"),
      sum(col("v_micro")).as("v_micro"))
    agg
      .withColumn("e1", col("e1_micro").cast("double") / lit(1000000.0))
      .withColumn("v", col("v_micro").cast("double") / lit(1000000.0))
      .withColumn("chi2",
        (col("o1") * lit(1000000L) - col("e1_micro")).cast("double") *
          (col("o1") * lit(1000000L) - col("e1_micro")).cast("double") /
          when(col("v_micro") === 0L, lit(null))
            .otherwise(col("v_micro").cast("double") * lit(1000000.0)))
      .withColumn("reject", col("chi2") > lit(crit))
      .select(col("n1_users"), col("n2_users"), col("o1"), col("e1_micro"),
        col("v_micro"), col("e1"), col("v"), col("chi2"), col("reject"))
  }

  /** q222 oracle: the same grid, risk windows, micro terms and χ². */
  def qLogRankSql(crit: Double = 3.841): String =
    s"""WITH ft AS (
      |  SELECT user_id,
      |    CASE WHEN event_type = 'view' THEN 'view_first' ELSE 'other' END AS g
      |  FROM (
      |    SELECT user_id, event_type,
      |      ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
      |    FROM events) WHERE rn = 1),
      |per AS (
      |  SELECT user_id,
      |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
      |    MIN(CASE WHEN event_type = 'purchase'
      |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS purch_us,
      |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      |  FROM events GROUP BY user_id),
      |lat AS (
      |  SELECT ft.g,
      |    CASE WHEN purch_us IS NOT NULL
      |         THEN (purch_us - first_us) // 60000000
      |         ELSE (last_us - first_us) // 60000000 END AS t_min,
      |    CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM per JOIN ft USING (user_id)),
      |bytg AS (
      |  SELECT t_min, g, CAST(SUM(death) AS BIGINT) AS dg,
      |    CAST(SUM(1 - death) AS BIGINT) AS cg
      |  FROM lat GROUP BY t_min, g),
      |base AS (
      |  SELECT tt.t_min, gg.g
      |  FROM (SELECT DISTINCT t_min FROM bytg) tt,
      |       (SELECT 'view_first' AS g UNION ALL SELECT 'other') gg),
      |grid AS (
      |  SELECT base.t_min, base.g,
      |    COALESCE(bytg.dg, 0)::BIGINT AS dg, COALESCE(bytg.cg, 0)::BIGINT AS cg
      |  FROM base LEFT JOIN bytg ON bytg.t_min = base.t_min AND bytg.g = base.g),
      |risk AS (
      |  SELECT *,
      |    COALESCE(CAST(SUM(dg + cg) OVER (PARTITION BY g ORDER BY t_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS removed,
      |    CAST(SUM(dg + cg) OVER (PARTITION BY g) AS BIGINT) AS ng_tot
      |  FROM grid),
      |pert AS (
      |  SELECT t_min,
      |    CAST(SUM(dg) AS BIGINT) AS d,
      |    CAST(SUM(ng_tot - removed) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN g = 'view_first' THEN dg END) AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN g = 'view_first' THEN ng_tot - removed END) AS BIGINT) AS n1,
      |    CAST(MAX(CASE WHEN g = 'view_first' THEN ng_tot END) AS BIGINT) AS n1_users,
      |    CAST(MAX(CASE WHEN g = 'other' THEN ng_tot END) AS BIGINT) AS n2_users
      |  FROM risk GROUP BY t_min),
      |steps AS (
      |  SELECT *,
      |    CASE WHEN d > 0 AND n > 1 THEN
      |      CAST(round(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)
      |                 * 1000000.0::DOUBLE) AS BIGINT) ELSE 0 END AS e1_micro,
      |    CASE WHEN d > 0 AND n > 1 THEN
      |      CAST(round(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
      |                 * CAST(d AS DOUBLE) * CAST(n - d AS DOUBLE)
      |                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
      |                 * 1000000.0::DOUBLE) AS BIGINT) ELSE 0 END AS v_micro,
      |    CASE WHEN d > 0 AND n > 1 THEN d1 ELSE 0 END AS d1s
      |  FROM pert),
      |agg AS (
      |  SELECT CAST(MAX(n1_users) AS BIGINT) AS n1_users,
      |    CAST(MAX(n2_users) AS BIGINT) AS n2_users,
      |    CAST(SUM(d1s) AS BIGINT) AS o1,
      |    CAST(SUM(e1_micro) AS BIGINT) AS e1_micro,
      |    CAST(SUM(v_micro) AS BIGINT) AS v_micro
      |  FROM steps)
      |SELECT n1_users, n2_users, o1, e1_micro, v_micro,
      |  CAST(e1_micro AS DOUBLE) / 1000000.0::DOUBLE AS e1,
      |  CAST(v_micro AS DOUBLE) / 1000000.0::DOUBLE AS v,
      |  CAST(o1 * 1000000 - e1_micro AS DOUBLE)
      |    * CAST(o1 * 1000000 - e1_micro AS DOUBLE)
      |    / nullif(CAST(v_micro AS DOUBLE) * 1000000.0::DOUBLE, 0.0) AS chi2,
      |  CAST(o1 * 1000000 - e1_micro AS DOUBLE)
      |    * CAST(o1 * 1000000 - e1_micro AS DOUBLE)
      |    / nullif(CAST(v_micro AS DOUBLE) * 1000000.0::DOUBLE, 0.0)
      |    > $crit::DOUBLE AS reject
      |FROM agg""".stripMargin

  /** The q190/q220 shared sessionize→truncate→transition-count oracle
    * chain ending in `edges(f, t, cnt, tot)`. */
  private val attributionEdgesCtes: String =
    """ev AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
      |            THEN 1 ELSE 0 END AS gap
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, SUM(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      |  FROM flagged),
      |stepped0 AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS step
      |  FROM sess),
      |stepped AS (
      |  SELECT *,
      |    MIN(CASE WHEN event_type = 'purchase' THEN step END)
      |      OVER (PARTITION BY user_id, session_id) AS conv_step,
      |    MAX(step) OVER (PARTITION BY user_id, session_id) AS last_step
      |  FROM stepped0),
      |trunc AS (
      |  SELECT user_id, session_id, step, conv_step, last_step,
      |    CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS state
      |  FROM stepped WHERE conv_step IS NULL OR step <= conv_step),
      |steps AS (
      |  SELECT COALESCE(lag(state) OVER (PARTITION BY user_id, session_id
      |                                   ORDER BY step), 'START') AS f,
      |         state AS t
      |  FROM trunc
      |  UNION ALL
      |  SELECT state AS f, 'null' AS t FROM trunc
      |  WHERE step = COALESCE(conv_step, last_step) AND state <> 'conv'),
      |trans AS (SELECT f, t, COUNT(*)::BIGINT AS cnt FROM steps GROUP BY f, t),
      |edges AS MATERIALIZED (
      |  SELECT f, t, cnt, SUM(cnt) OVER (PARTITION BY f) AS tot FROM trans)""".stripMargin

  /** Q220: journey predictability — per-state transition entropy of the
    * q190 Markov chain: H(next | state) over the sessionized transition
    * counts, plus the modal next step and its share. Low-entropy states
    * are funnel rails (q106's top paths dominate); high-entropy states
    * are exploration points where attribution (q190) carries real
    * information. Shares one edge aggregate with q190 — the corpus-
    * scale work is identical, the entropy is a bounded-table epilogue.
    *
    * Exactness: per-transition entropy terms on the micro grid summed
    * as BIGINT (the q204 discipline); the modal transition is the
    * (cnt desc, to) row_number argmax — a total order; top_share is one
    * division of exact integers, raw. */
  def qTransitionEntropy(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = attributionEdges(t)
    val wFrom = Window.partitionBy(col("from"))
      .orderBy(col("cnt").desc, col("to"))
    val terms = edges
      .withColumn("tm", round(
        (col("cnt").cast("double") / col("tot").cast("double")) *
          log(col("tot").cast("double") / col("cnt").cast("double")) *
          lit(1000000.0), 0).cast("long"))
      .withColumn("rn", row_number().over(wFrom))
    terms.groupBy(col("from").as("state")).agg(
        count(lit(1)).as("n_out"),
        max(col("tot")).as("tot"),
        sum(col("tm")).as("h_micro"),
        max(when(col("rn") === 1, col("to"))).as("top_to"),
        max(when(col("rn") === 1, col("cnt"))).as("top_cnt"))
      .withColumn("h", col("h_micro").cast("double") / lit(1000000.0))
      .withColumn("top_share",
        col("top_cnt").cast("double") / col("tot").cast("double"))
      .select(col("state"), col("n_out"), col("tot"), col("h_micro"),
        col("h"), col("top_to"), col("top_cnt"), col("top_share"))
      .orderBy(col("state"))
  }

  /** q220 oracle: the shared edge chain + the same micro terms/argmax. */
  val qTransitionEntropySql: String =
    s"""WITH $attributionEdgesCtes,
      |tm AS (
      |  SELECT f, t, cnt, tot,
      |    CAST(round((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
      |      * ln(CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE))
      |      * 1000000.0::DOUBLE) AS BIGINT) AS tm,
      |    ROW_NUMBER() OVER (PARTITION BY f ORDER BY cnt DESC, t) AS rn
      |  FROM edges)
      |SELECT f AS state, COUNT(*)::BIGINT AS n_out,
      |  CAST(MAX(tot) AS BIGINT) AS tot,
      |  CAST(SUM(tm) AS BIGINT) AS h_micro,
      |  CAST(SUM(tm) AS DOUBLE) / 1000000.0::DOUBLE AS h,
      |  MAX(CASE WHEN rn = 1 THEN t END) AS top_to,
      |  CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_cnt,
      |  CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
      |    / CAST(MAX(tot) AS DOUBLE) AS top_share
      |FROM tm GROUP BY f ORDER BY state""".stripMargin

  def qMarkovAttributionSql(rounds: Int = 12): String = {
    val head =
      s"""WITH $attributionEdgesCtes,
        |channels AS MATERIALIZED (
        |  SELECT DISTINCT s AS channel FROM (
        |    SELECT f AS s FROM edges UNION ALL SELECT t AS s FROM edges)
        |  WHERE s NOT IN ('START', 'conv', 'null'))""".stripMargin
    // per-scenario edge CTEs: base keeps edges; removing c drops c's
    // outgoing edges and redirects edges into c to 'null'
    val scen = "base" +: markovOracleChannels
    val scenCtes = scen.map {
      case "base" => "e_base AS MATERIALIZED (SELECT f, t, cnt, tot FROM edges)"
      case c =>
        s"""e_$c AS MATERIALIZED (
           |  SELECT f, CASE WHEN t = '$c' THEN 'null' ELSE t END AS t, cnt, tot
           |  FROM edges WHERE f <> '$c')""".stripMargin
    }
    val roundCtes = scen.flatMap { s =>
      (1 to rounds).map { k =>
        val prev =
          if (k == 1)
            // v0: conv=1e6, everything else 0 — a missing row reads as 0
            s"(SELECT 'conv' AS s, 1000000::BIGINT AS vm)"
          else s"v_${s}_${k - 1}"
        s"""v_${s}_$k AS MATERIALIZED (
           |  SELECT 'conv' AS s, 1000000::BIGINT AS vm
           |  UNION ALL
           |  SELECT e.f AS s,
           |    CAST(SUM(CAST(round(
           |      (CAST(e.cnt AS DOUBLE) / CAST(e.tot AS DOUBLE))
           |      * (CAST(COALESCE(v.vm, 0) AS DOUBLE) / 1000000.0::DOUBLE)
           |      * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS vm
           |  FROM e_$s e LEFT JOIN $prev v ON v.s = e.t
           |  GROUP BY e.f)""".stripMargin
      }
    }
    val starts = scen.map { s =>
      s"""s_$s AS (
         |  SELECT COALESCE((SELECT vm FROM v_${s}_$rounds WHERE s = 'START'), 0) AS vm)""".stripMargin
    }
    val effects = markovOracleChannels.map { c =>
      s"SELECT (SELECT vm FROM s_base) - (SELECT vm FROM s_$c) AS eff"
    }.mkString(" UNION ALL ")
    s"""$head,
       |${(scenCtes ++ roundCtes ++ starts).mkString(",\n")},
       |eff_sum AS (SELECT CAST(SUM(eff) AS BIGINT) AS se FROM ($effects)),
       |out AS (
       |  SELECT ch.channel,
       |    (SELECT vm FROM s_base) AS base_m,
       |    CASE ch.channel
       |${markovOracleChannels.map(c =>
          s"      WHEN '$c' THEN (SELECT vm FROM s_$c)").mkString("\n")}
       |    END AS removed_m
       |  FROM channels ch)
       |SELECT channel,
       |  CAST(base_m AS DOUBLE) / 1000000.0::DOUBLE AS p_conv_base,
       |  CAST(removed_m AS DOUBLE) / 1000000.0::DOUBLE AS p_conv_removed,
       |  CAST(base_m - removed_m AS DOUBLE) / 1000000.0::DOUBLE AS removal_effect,
       |  CASE WHEN (SELECT se FROM eff_sum) = 0 THEN NULL
       |       ELSE CAST(base_m - removed_m AS DOUBLE)
       |            / CAST((SELECT se FROM eff_sum) AS DOUBLE) END AS attribution
       |FROM out ORDER BY channel""".stripMargin
  }

  /** The q239/q240 shared per-user panel: deterministic md5 arm (the
    * q170 assignment discipline), pre-period activity x (events before
    * the cutoff) and post-period activity y — exact BIGINT counts. */
  private def userPanel(t: Tables, salt: String,
      cutoff: String): DataFrame =
    t.events.groupBy(col("user_id")).agg(
        sum(when(col("ts").cast("date") < lit(cutoff).cast("date"), 1L)
          .otherwise(0L)).as("x"),
        sum(when(col("ts").cast("date") >= lit(cutoff).cast("date"), 1L)
          .otherwise(0L)).as("y"))
      .withColumn("arm",
        conv(substring(md5(concat(lit(salt), lit(":"),
          col("user_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2)

  private def userPanelCte(salt: String, cutoff: String): String =
    s"""users AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) < DATE '$cutoff'
       |             THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '$cutoff'
       |             THEN 1 ELSE 0 END) AS BIGINT) AS y,
       |    CAST('0x' || substr(md5('$salt' || ':' ||
       |      CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS arm
       |  FROM events GROUP BY user_id)""".stripMargin

  /** Q239: CUPED variance reduction (Deng et al. WSDM 2013) — the
    * experimentation-platform standard for tightening an A/B readout
    * with pre-period data: ŷ = y − θ(x − x̄) with θ = cov(x,y)/var(x)
    * pooled, which provably removes the pre-period-predictable share of
    * the metric's variance. Emits the raw and adjusted per-arm means,
    * θ, and the achieved variance-reduction ratio (the cov²/ (var_x·
    * var_y) identity — no second pass over the data).
    *
    * Exactness: x/y are exact per-user BIGINT counts; all five pooled
    * moments are exact BIGINT sums; θ, the adjusted means and the
    * reduction ratio are fixed IEEE sequences over exact-int doubles
    * (raw), nullif'd on degenerate variances (q170 rule). The arm-level
    * frame is 2 rows; the readout is an aggregate ON TOP of it (never
    * the q114 scalar join).
    *
    * Scale shape: one per-user aggregate, one 2-row arm aggregate with
    * the moments, one 1-row readout. */
  def qCuped(t: Tables, salt: String = "exp1",
      cutoff: String = "2024-01-03"): DataFrame = {
    val users = userPanel(t, salt, cutoff)
    val arms = users.groupBy(col("arm")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val flat = arms.agg(
      sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("sy")).otherwise(0L)).as("sy_a"),
      sum(when(col("arm") === 1, col("sy")).otherwise(0L)).as("sy_b"),
      sum(when(col("arm") === 0, col("sx")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") === 1, col("sx")).otherwise(0L)).as("sx_b"),
      sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
      sum(col("sxy")).as("sxy"), sum(col("sxx")).as("sxx"),
      sum(col("syy")).as("syy"))
    val nd = col("n").cast("double")
    val covN = nd * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varXN = nd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varYN = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val theta = covN / nullif(varXN, lit(0.0))
    val xbar = col("sx").cast("double") / nullif(nd, lit(0.0))
    def meanY(s: String, cnt: String) =
      col(s).cast("double") / nullif(col(cnt).cast("double"), lit(0.0))
    def meanX(s: String, cnt: String) =
      col(s).cast("double") / nullif(col(cnt).cast("double"), lit(0.0))
    flat.select(col("n_a"), col("n_b"),
        meanY("sy_a", "n_a").as("mean_y_a"), meanY("sy_b", "n_b").as("mean_y_b"),
        theta.as("theta"),
        (meanY("sy_a", "n_a") - theta * (meanX("sx_a", "n_a") - xbar)).as("adj_mean_a"),
        (meanY("sy_b", "n_b") - theta * (meanX("sx_b", "n_b") - xbar)).as("adj_mean_b"),
        (covN * covN / nullif(varXN * varYN, lit(0.0))).as("var_reduction"))
  }

  /** q239 oracle: the same panel CTE, moments and IEEE sequences. */
  def qCupedSql(salt: String = "exp1", cutoff: String = "2024-01-03"): String =
    s"""WITH ${userPanelCte(salt, cutoff)},
       |arms AS (
       |  SELECT arm, COUNT(*)::BIGINT AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM users GROUP BY arm),
       |flat AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN sy ELSE 0 END) AS BIGINT) AS sy_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN sy ELSE 0 END) AS BIGINT) AS sy_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN sx ELSE 0 END) AS BIGINT) AS sx_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN sx ELSE 0 END) AS BIGINT) AS sx_b,
       |    CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
       |    CAST(SUM(sy) AS BIGINT) AS sy, CAST(SUM(sxy) AS BIGINT) AS sxy,
       |    CAST(SUM(sxx) AS BIGINT) AS sxx, CAST(SUM(syy) AS BIGINT) AS syy
       |  FROM arms)
       |SELECT n_a, n_b,
       |  CAST(sy_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0::DOUBLE) AS mean_y_a,
       |  CAST(sy_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0::DOUBLE) AS mean_y_b,
       |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0::DOUBLE) AS theta,
       |  CAST(sy_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0::DOUBLE)
       |    - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0::DOUBLE)
       |      * (CAST(sx_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0::DOUBLE)
       |         - CAST(sx AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0::DOUBLE)) AS adj_mean_a,
       |  CAST(sy_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0::DOUBLE)
       |    - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0::DOUBLE)
       |      * (CAST(sx_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0::DOUBLE)
       |         - CAST(sx AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0::DOUBLE)) AS adj_mean_b,
       |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0::DOUBLE) AS var_reduction
       |FROM flat""".stripMargin

  /** Q240: difference-in-differences — the quasi-experimental readout
    * when assignment isn't randomized per unit: compare each arm's
    * post-minus-pre activity change; the cross-difference cancels both
    * the arm-level baseline and the common time trend (Card & Krueger
    * 1994 canon). DiD = (ȳ_b − x̄_b) − (ȳ_a − x̄_a) over the per-user
    * panel, with the standard error from the per-user diff variance.
    *
    * Exactness: per-user d = y − x is an exact BIGINT; per-arm Σd and
    * Σd² are exact; the four cell means, the estimate and the SE
    * (n·Σd²−(Σd)² moment form, one correctly-rounded sqrt) are fixed
    * IEEE sequences over exact ints, nullif'd on degenerate arms.
    *
    * Scale shape: identical to q239 — per-user aggregate, 2-row arm
    * frame, 1-row readout. */
  def qDiffInDiff(t: Tables, salt: String = "exp1",
      cutoff: String = "2024-01-03"): DataFrame = {
    val users = userPanel(t, salt, cutoff)
      .withColumn("d", col("y") - col("x"))
    val arms = users.groupBy(col("arm")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("d")).as("sd"), sum(col("d") * col("d")).as("sdd"))
    val flat = arms.agg(
      sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("sx")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") === 1, col("sx")).otherwise(0L)).as("sx_b"),
      sum(when(col("arm") === 0, col("sy")).otherwise(0L)).as("sy_a"),
      sum(when(col("arm") === 1, col("sy")).otherwise(0L)).as("sy_b"),
      sum(when(col("arm") === 0, col("sd")).otherwise(0L)).as("sd_a"),
      sum(when(col("arm") === 1, col("sd")).otherwise(0L)).as("sd_b"),
      sum(when(col("arm") === 0, col("sdd")).otherwise(0L)).as("sdd_a"),
      sum(when(col("arm") === 1, col("sdd")).otherwise(0L)).as("sdd_b"))
    def m(s: String, cnt: String) =
      col(s).cast("double") / nullif(col(cnt).cast("double"), lit(0.0))
    def v(sd: String, sdd: String, cnt: String) = {
      val nd = col(cnt).cast("double")
      (nd * col(sdd).cast("double") -
        col(sd).cast("double") * col(sd).cast("double")) /
        nullif(nd * (nd - lit(1.0)), lit(0.0))
    }
    flat.select(col("n_a"), col("n_b"),
      m("sx_a", "n_a").as("pre_a"), m("sy_a", "n_a").as("post_a"),
      m("sx_b", "n_b").as("pre_b"), m("sy_b", "n_b").as("post_b"),
      (m("sd_b", "n_b") - m("sd_a", "n_a")).as("did"),
      sqrt(v("sd_a", "sdd_a", "n_a") / nullif(col("n_a").cast("double"), lit(0.0)) +
        v("sd_b", "sdd_b", "n_b") / nullif(col("n_b").cast("double"), lit(0.0)))
        .as("did_se"))
  }

  /** q240 oracle: same panel, moments and IEEE sequences. */
  def qDiffInDiffSql(salt: String = "exp1", cutoff: String = "2024-01-03"): String =
    s"""WITH ${userPanelCte(salt, cutoff)},
       |u AS (SELECT *, y - x AS d FROM users),
       |arms AS (
       |  SELECT arm, COUNT(*)::BIGINT AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(d * d) AS BIGINT) AS sdd
       |  FROM u GROUP BY arm),
       |flat AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN sx ELSE 0 END) AS BIGINT) AS sx_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN sx ELSE 0 END) AS BIGINT) AS sx_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN sy ELSE 0 END) AS BIGINT) AS sy_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN sy ELSE 0 END) AS BIGINT) AS sy_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN sd ELSE 0 END) AS BIGINT) AS sd_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN sd ELSE 0 END) AS BIGINT) AS sd_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN sdd ELSE 0 END) AS BIGINT) AS sdd_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN sdd ELSE 0 END) AS BIGINT) AS sdd_b
       |  FROM arms)
       |SELECT n_a, n_b,
       |  CAST(sx_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0::DOUBLE) AS pre_a,
       |  CAST(sy_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0::DOUBLE) AS post_a,
       |  CAST(sx_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0::DOUBLE) AS pre_b,
       |  CAST(sy_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0::DOUBLE) AS post_b,
       |  CAST(sd_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0::DOUBLE)
       |    - CAST(sd_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0::DOUBLE) AS did,
       |  sqrt(
       |    (CAST(n_a AS DOUBLE) * CAST(sdd_a AS DOUBLE)
       |     - CAST(sd_a AS DOUBLE) * CAST(sd_a AS DOUBLE))
       |      / nullif(CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0::DOUBLE), 0.0::DOUBLE)
       |      / nullif(CAST(n_a AS DOUBLE), 0.0::DOUBLE)
       |    + (CAST(n_b AS DOUBLE) * CAST(sdd_b AS DOUBLE)
       |       - CAST(sd_b AS DOUBLE) * CAST(sd_b AS DOUBLE))
       |      / nullif(CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0::DOUBLE), 0.0::DOUBLE)
       |      / nullif(CAST(n_b AS DOUBLE), 0.0::DOUBLE)) AS did_se
       |FROM flat""".stripMargin

  /** Q235: watermark-lateness profile — for each candidate watermark
    * delay, how many events would a streaming job DROP? An event is late
    * by (running max event-time over everything that arrived before it)
    * − (its own event-time); under `withWatermark(delay)` it is dropped
    * when that lateness exceeds the delay. This is THE measurement that
    * picks the delay for q46/q101/q187's watermarks — run it batch-side
    * on history before deploying the stream. Arrival order is event_id
    * (unique, TESTDATA) — the ingestion sequence the synthetic table
    * encodes. On THIS corpus the sequence is perfectly time-ordered, so
    * the profile is all-zero at every delay — the (verified) "no slack
    * required" answer; the spec asserts consistency with the data rather
    * than a textbook nonzero tail (the q203 corpus-shape rule).
    *
    * Exactness: lateness is exact integer micros off an exclusive
    * prefix-MAX; per-delay counts are exact; fractions are raw divisions
    * (nullif'd).
    *
    * Scale shape: the prefix-MAX is the q169 two-phase bucket form (the
    * bucket-prefix idiom for ANY associative op — MAX here): ≤128
    * event_id-range buckets, per-bucket maxima ride the driver, exclusive
    * cross-bucket offsets broadcast back, the window runs partitioned BY
    * BUCKET; then one explode over the bounded delay list (never a
    * range-condition nested-loop join) and one aggregate. */
  def qLatenessProfile(t: Tables,
      delaysMin: Seq[Long] = Seq(0L, 1L, 5L, 15L, 60L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.events.sparkSession
    import spark.implicits._
    val ev = t.events.select(col("event_id"), unix_micros(col("ts")).as("us"))
    val mxRow = ev.agg(max(col("event_id"))).head()
    if (mxRow.isNullAt(0))
      return Tables.emptyFrame(spark, "delay_min" -> LongType,
        "n_events" -> LongType, "n_late" -> LongType,
        "frac_late" -> DoubleType, "max_late_us" -> LongType)
    val span = mxRow.getLong(0) / 127 + 1
    val b = ev.withColumn("bkt", expr(s"event_id div ${span}L"))
    val bmax = b.groupBy(col("bkt")).agg(max(col("us")).as("bm"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = Long.MinValue
    val offsets = bmax.map { case (k, m) =>
      val o = (k, acc); acc = math.max(acc, m); o
    }
    val offDf = broadcast(offsets.toSeq.toDF("bkt", "offmax"))
    val w = Window.partitionBy(col("bkt")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = b.join(offDf, Seq("bkt"))
      .withColumn("pm", greatest(
        coalesce(max(col("us")).over(w), lit(Long.MinValue)), col("offmax")))
      .withColumn("late_us",
        when(col("pm") === Long.MinValue, 0L)
          .otherwise(greatest(col("pm") - col("us"), lit(0L))))
    late.select(col("late_us"),
        explode(typedLit(delaysMin)).as("delay_min"))
      .groupBy(col("delay_min"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > col("delay_min") * 60000000L, 1L)
          .otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
      .select(col("delay_min"), col("n_events"), col("n_late"),
        (col("n_late").cast("double") /
          nullif(col("n_events").cast("double"), lit(0.0))).as("frac_late"),
        col("max_late_us"))
      .orderBy(col("delay_min"))
  }

  /** q235 oracle: the same lateness via the naive single global
    * exclusive-prefix window (plans differ, results hash-equal — the
    * q144/q169 contract) and an unnested delay list. */
  def qLatenessProfileSql(delaysMin: Seq[Long] = Seq(0L, 1L, 5L, 15L, 60L)): String =
    s"""WITH ev AS (
      |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |rm AS (
      |  SELECT event_id, us,
      |    MAX(us) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM ev),
      |late AS (
      |  SELECT CASE WHEN pm IS NULL THEN 0
      |         ELSE greatest(pm - us, 0) END AS late_us FROM rm),
      |d AS (SELECT CAST(unnest([${delaysMin.mkString(", ")}]) AS BIGINT) AS delay_min)
      |SELECT delay_min, COUNT(*)::BIGINT AS n_events,
      |  CAST(SUM(CASE WHEN late_us > delay_min * 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(SUM(CASE WHEN late_us > delay_min * 60000000 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / nullif(CAST(COUNT(*) AS DOUBLE), 0.0::DOUBLE) AS frac_late,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM late, d GROUP BY delay_min ORDER BY delay_min""".stripMargin

  /** Q290: autocorrelation function of the daily event-count series,
    * lags 1..maxLag — the stationarity/seasonality diagnostic that sits
    * under every forecasting choice (q269 Holt assumes short memory; a
    * slow ACF decay says difference first; a lag-7 spike confirms the
    * q192 weekly season). EXACT integer algebra end to end: with n days
    * and total S, the centered product Σ(n·y_t − S)(n·y_{t+k} − S) and
    * the variance Σ(n·y_t − S)² are both BIGINTs (n² times the usual
    * sums), so acf_k is ONE division of exact integers (raw-emit).
    * Gapped days pair only with existing day+k (n_pairs on the record).
    * At 100 TB daily aggregates stay tiny; the integer forms switch to
    * DECIMAL if n·y outgrows 2⁶³.
    *
    * Scale shape: one corpus aggregate to daily counts; everything after
    * runs on the ≤|days|·maxLag bounded table (window + self-join —
    * bounded-table rule). */
  def qAcf(t: Tables, maxLag: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t.events
      .groupBy(datediff(col("ts").cast("date"), lit("2024-01-01"))
        .cast("long").as("day_x"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint() // bounded daily table feeds three derived branches
    val w = Window.partitionBy(lit(0))
    val st = daily
      .withColumn("x", count(lit(1)).over(w) * col("y") - sum(col("y")).over(w))
      .select(col("day_x"), col("x"))
    val lags = explode(array((1 to maxLag).map(k => lit(k.toLong)): _*)).as("lag")
    val a = st.select(col("day_x"), col("x").as("xa"), lags)
    val b = st.select(col("day_x").as("day_b"), col("x").as("xb"))
    val prods = a.join(b, col("day_b") === col("day_x") + col("lag"))
      .select(col("lag"), (col("xa") * col("xb")).as("pv"),
        lit(null).cast("long").as("sv"))
    val sqs = st.select(lags, lit(null).cast("long").as("pv"),
      (col("x") * col("x")).as("sv"))
    prods.unionAll(sqs)
      .groupBy(col("lag"))
      .agg(count(col("pv")).as("n_pairs"),
        coalesce(sum(col("pv")), lit(0L)).as("num_scaled"),
        coalesce(sum(col("sv")), lit(0L)).as("den_scaled"))
      .withColumn("acf",
        when(col("den_scaled") === 0L, lit(null).cast("double"))
          .otherwise(col("num_scaled").cast("double") /
            col("den_scaled").cast("double")))
      .orderBy(col("lag"))
  }

  /** q290 oracle: same daily census, centered-integer products over a
    * range(1, maxLag+1) lag table. */
  def qAcfSql(maxLag: Int = 7): String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1),
      |st AS MATERIALIZED (
      |  SELECT day_x,
      |    CAST(COUNT(*) OVER () * y - SUM(y) OVER () AS BIGINT) AS x
      |  FROM daily),
      |lags AS (SELECT CAST(unnest(range(1, ${maxLag + 1})) AS BIGINT) AS lag),
      |num AS (
      |  SELECT l.lag, COUNT(*)::BIGINT AS n_pairs,
      |    CAST(COALESCE(SUM(a.x * b.x), 0) AS BIGINT) AS num_scaled
      |  FROM lags l JOIN st a ON TRUE JOIN st b ON b.day_x = a.day_x + l.lag
      |  GROUP BY l.lag),
      |den AS (
      |  SELECT l.lag, CAST(COALESCE(SUM(a.x * a.x), 0) AS BIGINT) AS den_scaled
      |  FROM lags l JOIN st a ON TRUE GROUP BY l.lag)
      |SELECT l.lag, COALESCE(n.n_pairs, 0) AS n_pairs,
      |  COALESCE(n.num_scaled, 0) AS num_scaled, d.den_scaled,
      |  CASE WHEN d.den_scaled = 0 THEN NULL
      |       ELSE CAST(COALESCE(n.num_scaled, 0) AS DOUBLE)
      |            / CAST(d.den_scaled AS DOUBLE) END AS acf
      |FROM lags l LEFT JOIN num n ON n.lag = l.lag
      |JOIN den d ON d.lag = l.lag ORDER BY l.lag""".stripMargin

  /** Q296: periodogram of the daily event-count series — the DFT power
    * at harmonics k = 1..maxK (up to Nyquist, 2k ≤ N), the frequency-
    * domain face of the q290 ACF / q192 seasonal pair: a lag-7 ACF spike
    * and a k = N/7 periodogram peak are the same weekly season seen from
    * the two sides of the Wiener–Khinchin identity.
    *
    * Exactness: t is the dense rank over present days and the angle is
    * 2π·((k·t) mod N)/N — the mod keeps the argument in [0, 2π) so both
    * engines evaluate the SAME IEEE double; cos/sin re-enter libm and
    * are micro-rounded per term (the r9 exp/log rule), so each
    * contribution y_t·cos_micro is an exact BIGINT and the DFT sums are
    * order-independent. Power is the raw double re² + im² of exact
    * integers (same IEEE sequence cross-engine). Gapped days compress
    * (documented): the transform is over the OBSERVED series index.
    *
    * Scale shape: one corpus aggregate to daily counts; the k × days
    * grid (≤ 10·|days|) rides the bounded-table window rule. */
  def qPeriodogram(t: Tables, maxK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val daily = t.events
      .groupBy(datediff(col("ts").cast("date"), lit("2024-01-01"))
        .cast("long").as("day_x"))
      .agg(count(lit(1)).as("y"))
    val idx = daily
      .withColumn("tt",
        row_number().over(w.orderBy(col("day_x"))).cast("long") - lit(1L))
      .withColumn("n", count(lit(1)).over(w))
    val ks = explode(array((1 to maxK).map(k => lit(k.toLong)): _*)).as("k")
    idx.select(col("tt"), col("n"), col("y"), ks)
      .filter(col("k") * lit(2L) <= col("n"))
      .withColumn("theta",
        lit(2.0) * lit(math.Pi) * ((col("k") * col("tt")) % col("n")).cast("double") /
          col("n").cast("double"))
      .withColumn("cm", round(cos(col("theta")) * lit(1000000.0), 0).cast("long"))
      .withColumn("sm", round(sin(col("theta")) * lit(1000000.0), 0).cast("long"))
      .groupBy(col("k"))
      .agg(max(col("n")).as("n_days"),
        sum(col("y") * col("cm")).as("re_scaled"),
        sum(col("y") * col("sm")).as("im_scaled"))
      .withColumn("power_scaled",
        col("re_scaled").cast("double") * col("re_scaled").cast("double") +
          col("im_scaled").cast("double") * col("im_scaled").cast("double"))
      .orderBy(col("k"))
  }

  /** q296 oracle: same dense day index, mod-reduced angle, micro trig
    * terms, BIGINT DFT sums. */
  def qPeriodogramSql(maxK: Int = 10): String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1),
      |idx AS MATERIALIZED (
      |  SELECT day_x, y,
      |    CAST(ROW_NUMBER() OVER (ORDER BY day_x) - 1 AS BIGINT) AS tt,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n
      |  FROM daily),
      |ks AS (SELECT CAST(unnest(range(1, ${maxK + 1})) AS BIGINT) AS k),
      |terms AS (
      |  SELECT k.k, i.n, i.y,
      |    CAST(round(cos(2.0::DOUBLE * pi() * CAST((k.k * i.tt) % i.n AS DOUBLE)
      |        / CAST(i.n AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS cm,
      |    CAST(round(sin(2.0::DOUBLE * pi() * CAST((k.k * i.tt) % i.n AS DOUBLE)
      |        / CAST(i.n AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS sm
      |  FROM ks k JOIN idx i ON k.k * 2 <= i.n)
      |SELECT k, CAST(MAX(n) AS BIGINT) AS n_days,
      |  CAST(SUM(y * cm) AS BIGINT) AS re_scaled,
      |  CAST(SUM(y * sm) AS BIGINT) AS im_scaled,
      |  CAST(CAST(SUM(y * cm) AS BIGINT) AS DOUBLE)
      |    * CAST(CAST(SUM(y * cm) AS BIGINT) AS DOUBLE)
      |  + CAST(CAST(SUM(y * sm) AS BIGINT) AS DOUBLE)
      |    * CAST(CAST(SUM(y * sm) AS BIGINT) AS DOUBLE) AS power_scaled
      |FROM terms GROUP BY k ORDER BY k""".stripMargin

  /** Q294: Benjamini–Hochberg FDR control over the per-day event-type
    * mix — m simultaneous χ² goodness-of-fit tests (one per day, the
    * day's 5-type mix vs the corpus mix) with the step-up rule at
    * α = 0.05. THE multiple-testing discipline every drift-monitoring
    * battery needs once it fires a test per day/segment (q107/q108/q215
    * each test alone; at m tests, α per test inflates the family-wise
    * false-alarm rate — BH bounds the FALSE DISCOVERY rate instead,
    * Benjamini & Hochberg 1995).
    *
    * Exactness: χ² uses the q253 missing-cell identity (Σ_all e = n_d ⇒
    * χ² = Σ_present((o−e)²/e − e) + n_d) with per-cell terms micro-
    * rounded and BIGINT-summed; with T = 5 types, df = T−1 = 4 and the
    * χ²₍₄₎ survival is ELEMENTARY: p = exp(−x/2)·(1 + x/2) — one exp,
    * micro-rounded (the r9 rule). The step-up test p₍ᵢ₎ ≤ α·i/m is the
    * integer cross-multiplication 20·p_micro·m ≤ 1e6·i (α = 1/20), and
    * i* = max passing rank, so every reject flag is exact. Rank ties
    * break (p_micro, day_x) on both engines.
    *
    * Scale shape: one (day × type) aggregate; everything after runs on
    * the ≤|days| bounded table (windows over lit(0) — bounded-table
    * rule). At 100 TB the per-day cells stay one map-side-combinable
    * aggregate. */
  def qBhFdr(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val cells = t.events
      .groupBy(datediff(col("ts").cast("date"), lit("2024-01-01"))
        .cast("long").as("day_x"), col("event_type"))
      .agg(count(lit(1)).as("o"))
    val withTotals = cells
      .withColumn("n_d", sum(col("o")).over(Window.partitionBy(col("day_x"))))
      .withColumn("n_t", sum(col("o")).over(Window.partitionBy(col("event_type"))))
      .withColumn("n", sum(col("o")).over(w))
    val terms = withTotals
      .withColumn("e",
        (col("n_d") * col("n_t")).cast("double") / col("n").cast("double"))
      .withColumn("term_micro",
        round(((col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e") - col("e")) *
          lit(1000000.0), 0).cast("long"))
    val perDay = terms.groupBy(col("day_x"))
      .agg(max(col("n_d")).as("n_d"), sum(col("term_micro")).as("tsum"))
      .withColumn("chi2_micro", col("tsum") + col("n_d") * lit(1000000L))
      .withColumn("h", col("chi2_micro").cast("double") / lit(2000000.0))
      .withColumn("p_micro",
        round(exp(-col("h")) * (lit(1.0) + col("h")) * lit(1000000.0), 0)
          .cast("long"))
    val ranked = perDay
      .withColumn("rank",
        row_number().over(w.orderBy(col("p_micro"), col("day_x"))).cast("long"))
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("passes",
        when(lit(20L) * col("p_micro") * col("m") <= lit(1000000L) * col("rank"),
          col("rank")).otherwise(lit(null).cast("long")))
      .withColumn("i_star", coalesce(max(col("passes")).over(w), lit(0L)))
    ranked.select(col("day_x"), col("chi2_micro"), col("p_micro"),
        col("rank"), col("m"), col("i_star"),
        (col("rank") <= col("i_star")).as("rejected"))
      .orderBy(col("day_x"))
  }

  /** q294 oracle: the q253 χ² identity per day, elementary df=4
    * survival, integer cross-multiplied BH step-up. */
  def qBhFdrSql(): String =
    """WITH cells AS (
      |  SELECT CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
      |    event_type, COUNT(*)::BIGINT AS o
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT day_x, event_type, o,
      |    CAST(SUM(o) OVER (PARTITION BY day_x) AS BIGINT) AS n_d,
      |    CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS n_t,
      |    CAST(SUM(o) OVER () AS BIGINT) AS n
      |  FROM cells),
      |terms AS (
      |  SELECT day_x, n_d,
      |    CAST(round(((CAST(o AS DOUBLE) - CAST(n_d * n_t AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(o AS DOUBLE) - CAST(n_d * n_t AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n_d * n_t AS DOUBLE) / CAST(n AS DOUBLE))
      |      - CAST(n_d * n_t AS DOUBLE) / CAST(n AS DOUBLE))
      |      * 1000000.0::DOUBLE) AS BIGINT) AS term_micro
      |  FROM tot),
      |per_day AS MATERIALIZED (
      |  SELECT day_x, CAST(MAX(n_d) AS BIGINT) AS n_d,
      |    CAST(SUM(term_micro) + MAX(n_d) * 1000000 AS BIGINT) AS chi2_micro
      |  FROM terms GROUP BY day_x),
      |pv AS (
      |  SELECT day_x, chi2_micro,
      |    CAST(round(exp(-(CAST(chi2_micro AS DOUBLE) / 2000000.0::DOUBLE))
      |      * (1.0::DOUBLE + CAST(chi2_micro AS DOUBLE) / 2000000.0::DOUBLE)
      |      * 1000000.0::DOUBLE) AS BIGINT) AS p_micro
      |  FROM per_day),
      |ranked AS (
      |  SELECT day_x, chi2_micro, p_micro,
      |    CAST(ROW_NUMBER() OVER (ORDER BY p_micro, day_x) AS BIGINT) AS rank,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m
      |  FROM pv),
      |star AS (
      |  SELECT *, CAST(COALESCE(MAX(CASE WHEN 20 * p_micro * m <= 1000000 * rank
      |      THEN rank END) OVER (), 0) AS BIGINT) AS i_star
      |  FROM ranked)
      |SELECT day_x, chi2_micro, p_micro, rank, m, i_star,
      |  rank <= i_star AS rejected
      |FROM star ORDER BY day_x""".stripMargin

  /** The q304 shared prefix/SSE scaffold: daily counts → dense index r,
    * prefix sums S/Q, and the (i, j) segment-SSE table on the micro grid
    * — sse(i,j) = round((Q_j−Q_{i−1} − (S_j−S_{i−1})²/(j−i+1))·1e6), a
    * fixed IEEE sequence of exact integers. */
  private def segmentSse(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w0 = Window.partitionBy(lit(0))
    val wr = w0.orderBy(col("day_x"))
    val pre = t.events
      .groupBy(datediff(col("ts").cast("date"), lit("2024-01-01"))
        .cast("long").as("day_x"))
      .agg(count(lit(1)).as("y"))
      .withColumn("r", row_number().over(wr).cast("long"))
      .withColumn("s", sum(col("y")).over(
        wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("q", sum(col("y") * col("y")).over(
        wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint() // bounded |days| table feeds the i/j fan
    val ends = pre.select(col("r").as("j"), col("day_x").as("day_j"),
      col("s").as("sj"), col("q").as("qj"),
      explode(expr("sequence(1L, r)")).as("i"))
    val starts = pre.select((col("r") + lit(1L)).as("i"),
      col("s").as("si"), col("q").as("qi"))
    ends.join(starts, Seq("i"), "left")
      .select(col("i"), col("j"), col("day_j"),
        (col("qj") - coalesce(col("qi"), lit(0L))).as("dq"),
        (col("sj") - coalesce(col("si"), lit(0L))).as("ds"),
        (col("j") - col("i") + lit(1L)).as("len"))
      .withColumn("sse_micro",
        round((col("dq").cast("double") -
          col("ds").cast("double") * col("ds").cast("double") /
            col("len").cast("double")) * lit(1000000.0), 0).cast("long"))
      .select(col("i"), col("j"), col("day_j"), col("sse_micro"))
  }

  /** Q304: optimal k-segmentation of the daily event-count series by
    * exact dynamic programming (Bellman 1961) — the best piecewise-
    * constant fit with m = 1..k segments, the offline gold standard that
    * calibrates every heuristic changepoint detector (q215 CUSUM flags a
    * shift; q304 says where the OPTIMAL breaks are and how much SSE each
    * extra segment buys). Emits the full dp table (m, j): optimal cost
    * of covering days 1..j with m segments + the argmin split (ties →
    * smallest i via the q206 integer encoding, cost·64 + i).
    *
    * Exactness: segment SSEs enter the DP on the micro grid (exact
    * BIGINTs), so every DP comparison is integer; splits are decoded
    * from the same MIN. The oracle unrolls m as chained MATERIALIZED
    * CTEs (the q119/q139 shape).
    *
    * Scale shape: one corpus aggregate to daily counts; the DP runs on
    * the ≤|days|² bounded SSE table (sequence() explode, no range
    * join). */
  def qSegmentationDp(t: Tables, k: Int = 4): DataFrame = {
    val sse = segmentSse(t).localCheckpoint() // feeds every DP round
    var dp = sse.filter(col("i") === 1L)
      .select(lit(1L).as("m"), col("j"), col("day_j"),
        col("sse_micro").as("dp_micro"), lit(1L).as("split_i"))
      .localCheckpoint()
    var out = dp
    var m = 2
    while (m <= k) {
      val prev = dp.select((col("j") + lit(1L)).as("i"),
        col("dp_micro").as("prev_micro"))
      val cand = sse.join(prev, Seq("i"))
        .select(col("j"), col("day_j"),
          (col("prev_micro") + col("sse_micro")).as("cand"),
          col("i"))
        .withColumn("enc", col("cand") * lit(64L) + col("i"))
        .groupBy(col("j"), col("day_j"))
        .agg(min(col("enc")).as("enc_min"))
      dp = cand.select(lit(m.toLong).as("m"), col("j"), col("day_j"),
          expr("enc_min div 64L").as("dp_micro"),
          (col("enc_min") % lit(64L)).as("split_i"))
        .localCheckpoint()
      out = out.unionAll(dp)
      m += 1
    }
    out.orderBy(col("m"), col("j"))
  }

  /** q304 oracle: the same prefix/SSE scaffold + the DP rounds unrolled
    * as chained MATERIALIZED CTEs. */
  def qSegmentationDpSql(k: Int = 4): String = {
    val steps = (2 to k).map { m =>
      s"""cand$m AS (
         |  SELECT s.j, s.day_j,
         |    MIN((p.dp_micro + s.sse_micro) * 64 + s.i) AS enc_min
         |  FROM sse s JOIN dp${m - 1} p ON p.j = s.i - 1
         |  GROUP BY s.j, s.day_j),
         |dp$m AS MATERIALIZED (
         |  SELECT CAST($m AS BIGINT) AS m, j, day_j,
         |    CAST(enc_min // 64 AS BIGINT) AS dp_micro,
         |    CAST(enc_min % 64 AS BIGINT) AS split_i
         |  FROM cand$m)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(m => s"SELECT * FROM dp$m").mkString("\n  UNION ALL ")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(date_diff('day', DATE '2024-01-01',
       |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
       |    COUNT(*)::BIGINT AS y
       |  FROM events GROUP BY 1),
       |pre AS MATERIALIZED (
       |  SELECT day_x, y,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day_x) AS BIGINT) AS r,
       |    CAST(SUM(y) OVER (ORDER BY day_x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
       |    CAST(SUM(y * y) OVER (ORDER BY day_x
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS q
       |  FROM daily),
       |ends AS (
       |  SELECT r AS j, day_x AS day_j, s AS sj, q AS qj,
       |    CAST(unnest(range(1, r + 1)) AS BIGINT) AS i
       |  FROM pre),
       |sse AS MATERIALIZED (
       |  SELECT e.i, e.j, e.day_j,
       |    CAST(round((CAST(e.qj - COALESCE(p.q, 0) AS DOUBLE)
       |      - CAST(e.sj - COALESCE(p.s, 0) AS DOUBLE)
       |        * CAST(e.sj - COALESCE(p.s, 0) AS DOUBLE)
       |        / CAST(e.j - e.i + 1 AS DOUBLE))
       |      * 1000000.0::DOUBLE) AS BIGINT) AS sse_micro
       |  FROM ends e LEFT JOIN pre p ON p.r = e.i - 1),
       |dp1 AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS m, j, day_j,
       |    sse_micro AS dp_micro, CAST(1 AS BIGINT) AS split_i
       |  FROM sse WHERE i = 1),
       |$steps,
       |uni AS (
       |  $union)
       |SELECT m, j, day_j, dp_micro, split_i
       |FROM uni ORDER BY m, j""".stripMargin
  }

  /** Q309: robust trend battery over the daily event-count series —
    * the Theil–Sen slope (median of all pairwise slopes, Sen 1968) and
    * the Mann–Kendall S test with tie-corrected variance (Mann 1945,
    * Kendall 1975): the nonparametric pair to q269's Holt fit (which a
    * single outlier day can bend; the median slope shrugs it off) and
    * the standard "is there a monotone trend at all?" gate.
    *
    * Exactness: every pairwise slope is ONE division of exact integers
    * (deterministic to compare), and the median is the value at the
    * lower-median rank of the (slope, i, j) total order; S and the
    * tie-corrected 18·Var(S) are pure integers; z = (S∓1)/√(var18/18)
    * is sqrt-of-exact — IEEE sqrt is correctly rounded, safe raw.
    *
    * Scale shape: one corpus aggregate to daily counts; the pair fan is
    * the bounded |days|² sequence() explode. */
  def qTrendTest(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w0 = Window.partitionBy(lit(0))
    val wr = w0.orderBy(col("day_x"))
    val daily = t.events
      .groupBy(datediff(col("ts").cast("date"), lit("2024-01-01"))
        .cast("long").as("day_x"))
      .agg(count(lit(1)).as("y"))
      .withColumn("r", row_number().over(wr).cast("long"))
      .localCheckpoint() // bounded daily table feeds the pair fan twice
    // r >= 2 guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not
    // empty like DuckDB's range — the first row must not explode
    val left = daily.filter(col("r") >= 2L)
      .select(col("r").as("j"), col("day_x").as("tj"),
        col("y").as("yj"), explode(expr("sequence(1L, r - 1L)")).as("i"))
    val right = daily.select(col("r").as("i"), col("day_x").as("ti"),
      col("y").as("yi"))
    val pairs = left.join(right, Seq("i"))
      .select(col("i"), col("j"), col("ti"), col("tj"), col("yi"), col("yj"))
      .withColumn("slope",
        (col("yj") - col("yi")).cast("double") /
          (col("tj") - col("ti")).cast("double"))
      .withColumn("sgn",
        when(col("yj") > col("yi"), 1L).when(col("yj") < col("yi"), -1L)
          .otherwise(0L))
      .localCheckpoint() // bounded pair table feeds rank + aggregates
    val ranked = pairs
      .withColumn("rk", row_number().over(
        w0.orderBy(col("slope"), col("i"), col("j"))).cast("long"))
      .withColumn("np", count(lit(1)).over(w0))
    val medSlope = ranked
      .filter(col("rk") === (col("np") + lit(1L)) / lit(2L))
      .select(col("slope").as("slope_median"), col("np").as("n_pairs"))
    val ties = daily.groupBy(col("y")).agg(count(lit(1)).as("tc"))
      .agg(coalesce(sum(col("tc") * (col("tc") - lit(1L)) *
        (lit(2L) * col("tc") + lit(5L))), lit(0L)).as("tie18"),
        coalesce(sum(col("tc")), lit(0L)).as("n"))
    val s = pairs.agg(sum(col("sgn")).as("s_stat"))
    // three bounded 1-row frames → one row via crossJoin-free stack:
    // combine through windows over a 1-row union is overkill; these are
    // driver-bounded fetches (the q286 literal pattern)
    val Array(slopeMedian, nPairs) = {
      val r = medSlope.collect()(0); Array(r.getDouble(0), r.getLong(1).toDouble)
    }
    val tiesRow = ties.collect()(0)
    val (tie18, nDays) = (tiesRow.getLong(0), tiesRow.getLong(1))
    val sStat = s.collect()(0).getLong(0)
    val var18 = nDays * (nDays - 1L) * (2L * nDays + 5L) - tie18
    val z =
      if (var18 == 0L) 0.0
      else if (sStat > 0L) (sStat - 1L).toDouble / math.sqrt(var18.toDouble / 18.0)
      else if (sStat < 0L) (sStat + 1L).toDouble / math.sqrt(var18.toDouble / 18.0)
      else 0.0
    val spark = t.spark
    import spark.implicits._
    Seq((nDays, nPairs.toLong, slopeMedian, sStat, var18, z))
      .toDF("n_days", "n_pairs", "slope_median", "s_stat", "var18", "z")
  }

  /** q309 oracle: same pair fan, lower-median rank, integer tie
    * correction, sqrt-of-exact z. */
  val qTrendTestSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1),
      |idx AS MATERIALIZED (
      |  SELECT day_x, y, CAST(ROW_NUMBER() OVER (ORDER BY day_x) AS BIGINT) AS r
      |  FROM daily),
      |pj AS (
      |  SELECT r AS j, day_x AS tj, y AS yj,
      |    CAST(unnest(range(1, r)) AS BIGINT) AS i
      |  FROM idx),
      |pr AS MATERIALIZED (
      |  SELECT p.i, p.j, a.day_x AS ti, p.tj, a.y AS yi, p.yj,
      |    CAST(p.yj - a.y AS DOUBLE) / CAST(p.tj - a.day_x AS DOUBLE) AS slope,
      |    CASE WHEN p.yj > a.y THEN 1 WHEN p.yj < a.y THEN -1 ELSE 0 END AS sgn
      |  FROM pj p JOIN idx a ON a.r = p.i),
      |med AS (
      |  SELECT slope AS slope_median, np AS n_pairs FROM (
      |    SELECT slope,
      |      CAST(ROW_NUMBER() OVER (ORDER BY slope, i, j) AS BIGINT) AS rk,
      |      CAST(COUNT(*) OVER () AS BIGINT) AS np
      |    FROM pr)
      |  WHERE rk = (np + 1) // 2),
      |tie AS (
      |  SELECT CAST(COALESCE(SUM(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT) AS tie18,
      |    CAST(COALESCE(SUM(tc), 0) AS BIGINT) AS n
      |  FROM (SELECT y, COUNT(*)::BIGINT AS tc FROM daily GROUP BY y)),
      |ss AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pr)
      |SELECT t.n AS n_days, m.n_pairs, m.slope_median, s.s_stat,
      |  CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18 AS BIGINT) AS var18,
      |  CASE
      |    WHEN t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18 = 0 THEN 0.0::DOUBLE
      |    WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
      |      / sqrt(CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18 AS DOUBLE)
      |             / 18.0::DOUBLE)
      |    WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
      |      / sqrt(CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie18 AS DOUBLE)
      |             / 18.0::DOUBLE)
      |    ELSE 0.0::DOUBLE END AS z
      |FROM med m, tie t, ss s""".stripMargin

  /** Q311: overdispersion diagnostic per event type — the index of
    * dispersion D = Var/Mean of the daily counts via the EXACT integer
    * identity n·Σy² − S² over S (a Poisson stream has D ≈ 1; D ≫ 1 says
    * negative-binomial/bursty, the model-choice gate under q107's
    * anomaly thresholds and q194's interarrival fit). The flag uses the
    * integer cross-multiplication 2·num ≥ 3·S·(n−1) (D/(n−1) ≥ 1.5) —
    * exact, no distributional tail needed.
    *
    * Scale shape: one (type, day) aggregate, then a ≤|types| bounded
    * table. */
  def qOverdispersion(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01"))
          .cast("long").as("day_x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("q"))
      .withColumn("num", col("n_days") * col("q") - col("s") * col("s"))
      .withColumn("dispersion",
        col("num").cast("double") /
          (col("s") * (col("n_days") - lit(1L))).cast("double"))
      .withColumn("overdispersed",
        lit(2L) * col("num") >= lit(3L) * col("s") * (col("n_days") - lit(1L)))
      .select(col("event_type"), col("n_days"), col("s"), col("q"),
        col("num"), col("dispersion"), col("overdispersed"))
      .orderBy(col("event_type"))
  }

  /** q311 oracle: same integer identity and cross-multiplied flag. */
  val qOverdispersionSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '2024-01-01',
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day_x,
      |    COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days,
      |    CAST(SUM(y) AS BIGINT) AS s, CAST(SUM(y * y) AS BIGINT) AS q
      |  FROM daily GROUP BY event_type)
      |SELECT event_type, n_days, s, q,
      |  CAST(n_days * q - s * s AS BIGINT) AS num,
      |  CAST(n_days * q - s * s AS DOUBLE)
      |    / CAST(s * (n_days - 1) AS DOUBLE) AS dispersion,
      |  2 * (n_days * q - s * s) >= 3 * s * (n_days - 1) AS overdispersed
      |FROM g ORDER BY event_type""".stripMargin

  /** Q314: Nelson–Aalen cumulative hazard + Aalen variance (Nelson 1972,
    * Aalen 1978) over the q221 signup→purchase latency frame — the
    * hazard-space sibling of q221's product-limit survival: H(t) = Σ d/n
    * accumulates risk directly (Fleming–Harrington S = e^{−H} is the
    * small-sample-robust survival face), and σ²(t) = Σ d/n² gives the
    * pointwise uncertainty q221 lacks.
    *
    * Exactness: per-step hazard terms round(1e6·d/n) are micro BIGINTs;
    * variance terms round(1e12·d/n²) are pico BIGINTs; both accumulate
    * as integer prefix sums; S enters exp once and lands back on the
    * micro grid (the q221 discipline); se is sqrt-of-exact (IEEE sqrt,
    * raw).
    *
    * Scale shape: identical to q221 — one per-user aggregate, then the
    * |latency-grid| bounded table. */
  def qNelsonAalen(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = t.events.groupBy(col("user_id")).agg(
      min(unix_micros(col("ts"))).as("first_us"),
      min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
        .as("purch_us"),
      max(unix_micros(col("ts"))).as("last_us"))
    val lat = per.select(
      when(col("purch_us").isNotNull,
        expr("(purch_us - first_us) div 60000000L"))
        .otherwise(expr("(last_us - first_us) div 60000000L")).as("t_min"),
      when(col("purch_us").isNotNull, 1L).otherwise(0L).as("death"))
    val byT = lat.groupBy(col("t_min")).agg(
      sum(col("death")).as("d"),
      sum(lit(1L) - col("death")).as("c"))
    val wExc = Window.orderBy(col("t_min"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wInc = Window.orderBy(col("t_min"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    byT
      .withColumn("removed", coalesce(sum(col("d") + col("c")).over(wExc), lit(0L)))
      .withColumn("n_risk", sum(col("d") + col("c")).over(all) - col("removed"))
      .withColumn("h_term_micro",
        round(col("d").cast("double") / col("n_risk").cast("double") *
          lit(1000000.0), 0).cast("long"))
      .withColumn("v_term_pico",
        round(col("d").cast("double") /
          (col("n_risk").cast("double") * col("n_risk").cast("double")) *
          lit(1.0e12), 0).cast("long"))
      .withColumn("h_micro", sum(col("h_term_micro")).over(wInc))
      .withColumn("v_pico", sum(col("v_term_pico")).over(wInc))
      .filter(col("d") > 0)
      .select(col("t_min"), col("d"), col("c"), col("n_risk"),
        col("h_micro"), col("v_pico"),
        round(exp(-col("h_micro").cast("double") / lit(1000000.0)), 6).as("s_fh"),
        sqrt(col("v_pico").cast("double") / lit(1.0e12)).as("se_h"))
      .orderBy(col("t_min"))
  }

  /** q314 oracle: the q221 latency/risk CTEs with hazard-space micro/pico
    * prefix terms. */
  val qNelsonAalenSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
      |    MIN(CASE WHEN event_type = 'purchase'
      |             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS purch_us,
      |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      |  FROM events GROUP BY user_id),
      |lat AS (
      |  SELECT CASE WHEN purch_us IS NOT NULL
      |              THEN (purch_us - first_us) // 60000000
      |              ELSE (last_us - first_us) // 60000000 END AS t_min,
      |    CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM per),
      |byt AS (
      |  SELECT t_min, CAST(SUM(death) AS BIGINT) AS d,
      |    CAST(SUM(1 - death) AS BIGINT) AS c
      |  FROM lat GROUP BY t_min),
      |risk AS (
      |  SELECT *,
      |    COALESCE(CAST(SUM(d + c) OVER (ORDER BY t_min
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS removed,
      |    CAST(SUM(d + c) OVER () AS BIGINT) AS n_total
      |  FROM byt),
      |terms AS (
      |  SELECT *, n_total - removed AS n_risk,
      |    CAST(round(CAST(d AS DOUBLE) / CAST(n_total - removed AS DOUBLE)
      |               * 1000000.0::DOUBLE) AS BIGINT) AS h_term_micro,
      |    CAST(round(CAST(d AS DOUBLE)
      |               / (CAST(n_total - removed AS DOUBLE)
      |                  * CAST(n_total - removed AS DOUBLE))
      |               * 1000000000000.0::DOUBLE) AS BIGINT) AS v_term_pico
      |  FROM risk),
      |cums AS (
      |  SELECT *,
      |    CAST(SUM(h_term_micro) OVER wi AS BIGINT) AS h_micro,
      |    CAST(SUM(v_term_pico) OVER wi AS BIGINT) AS v_pico
      |  FROM terms
      |  WINDOW wi AS (ORDER BY t_min
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT t_min, d, c, n_risk, h_micro, v_pico,
      |  round(exp(-(CAST(h_micro AS DOUBLE) / 1000000.0::DOUBLE)), 6) AS s_fh,
      |  sqrt(CAST(v_pico AS DOUBLE) / 1000000000000.0::DOUBLE) AS se_h
      |FROM cums WHERE d > 0 ORDER BY t_min""".stripMargin
}
