package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-match) join — composed from built-ins rather than a
  * custom SparkPlan (preference (a) of the custom-operator ladder: the
  * union + last(ignoreNulls) running window expresses the semantics
  * exactly, keeps whole-stage codegen, and shuffles each side once on the
  * key).
  *
  * Semantics: for every left row (key, ts), attach the right row with the
  * greatest ts_r ≤ ts for the same key (inclusive, like DuckDB/kdb asof).
  * Shape at scale: one union (no build side), one shuffle by key, one
  * in-partition sort — same cost profile as a sort-merge join, and
  * skew-safe under AQE like any windowed aggregation.
  */
object AsOf {

  /** @param left  (key, ts, ...leftCols)
    * @param right (key, ts, valueCol) — the column to carry to left rows
    * @return left rows + `asof_<valueCol>` + `asof_ts` (null if no match) */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      valueCol: String): DataFrame = {
    val leftTagged = left.withColumn("__tag", lit(1))
      .withColumn("__v", lit(null).cast(right.schema(valueCol).dataType))
      .withColumn("__vts", lit(null).cast("timestamp"))
    val rightTagged = right.select(col(key), col(ts),
      lit(0).as("__tag"), col(valueCol).as("__v"), col(ts).as("__vts"))
    val unioned = leftTagged.unionByName(
      rightTagged
        .withColumns(left.columns.filterNot(Seq(key, ts).contains)
          .map(c => c -> lit(null).cast(left.schema(c).dataType)).toMap),
      allowMissingColumns = false)
    // right rows (tag 0) sort before left rows at equal ts ⇒ inclusive ≤
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__asof_v", last(col("__v"), ignoreNulls = true).over(w))
      .withColumn("__asof_ts", last(col("__vts"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .drop("__tag", "__v", "__vts")
      .withColumnRenamed("__asof_v", s"asof_$valueCol")
      .withColumnRenamed("__asof_ts", "asof_ts")
  }

  /** Query surface: each click event joined to the user's most recent
    * purchase at-or-before it. Oracle: DuckDB's native ASOF LEFT JOIN —
    * our composed operator must agree exactly. */
  def qAsOfJoin(t: Tables): DataFrame = {
    val ev = t.events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    asOfJoin(clicks, purchases, "user_id", "ts", "value")
      .select(col("user_id"), col("event_id"), col("asof_value"), col("asof_ts"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val qAsOfJoinSql: String =
    """SELECT c.user_id, c.event_id, p.value AS asof_value,
      |  CAST(p.ts AS TIMESTAMP) AS asof_ts
      |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      |      FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN
      |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND p.ts <= c.ts
      |ORDER BY c.user_id, c.event_id""".stripMargin

  /** Event-time range join: purchases within 30 minutes AFTER a click by
    * the same user (the attribution-window shape). Composed as an
    * equi-join on the key with the range as a join condition — Catalyst
    * plans the equi part as the join key and the range as a post-join
    * predicate; the same expressions run under streaming as a
    * watermarked stream-stream join (StreamingSpec). */
  def qRangeJoin(t: Tables): DataFrame = {
    val ev = t.events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val qRangeJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, p.value
      |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      |      FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      |      FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '30 minutes'
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** Q97: interval join WITHOUT an equi key — the pattern a naive plan
    * turns into BroadcastNestedLoopJoin (O(n·m) compares: the scale trap).
    * The scale shape is BIN BUCKETIZATION: quantize both sides to
    * fixed-width time bins (here calendar days; a multi-day interval
    * explodes into one row per covered bin), equi-join on the bin, then
    * apply the exact range as a residual filter. The join becomes
    * hash/broadcast-equi — shuffle O(n + windows·bins_per_window) — and
    * each event meets only same-bin windows instead of all of them.
    * Windows here are derived from the data (every 3rd calendar day's
    * 06:00-18:00), disjoint by construction; AsOfSpec asserts plan shape
    * (no BNLJ) and row-parity with the direct inequality join. */
  def q97IntervalJoin(t: Tables): DataFrame = {
    val ev = t.events
    val windows = ev.select(to_date(col("ts")).as("d")).distinct()
      .filter(dayofmonth(col("d")) % 3 === 0)
      .select(col("d").cast("string").as("window_id"),
        (col("d").cast("timestamp") + expr("INTERVAL 6 HOURS")).as("w_start"),
        (col("d").cast("timestamp") + expr("INTERVAL 18 HOURS")).as("w_end"),
        col("d").as("bin"))
    ev.select(col("event_id"), col("ts"), col("value"),
        to_date(col("ts")).as("bin"))
      .join(broadcast(windows), Seq("bin"))
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .orderBy(col("window_id"))
  }

  /** The oracle runs the DIRECT inequality join — different plan, same
    * rows — proving the bucketized rewrite is semantics-preserving. */
  val q97Sql: String =
    """WITH windows AS (
      |  SELECT CAST(d AS VARCHAR) AS window_id,
      |         d + INTERVAL 6 HOUR AS w_start,
      |         d + INTERVAL 18 HOUR AS w_end
      |  FROM (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events)
      |  WHERE day(d) % 3 = 0)
      |SELECT window_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN windows w
      |  ON CAST(e.ts AS TIMESTAMP) >= w.w_start AND CAST(e.ts AS TIMESTAMP) < w.w_end
      |GROUP BY window_id ORDER BY window_id""".stripMargin
}
