package graft.ops

import graft.Tables
import graft.functions.text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational core over the TPC-H-ish test tables (SURVEY.md §2.1-§2.8).
  *
  * Every query here is declarative DataFrame API: Catalyst pushes filters and
  * projections into the parquet scan, picks broadcast vs shuffle joins from
  * statistics, and runs whole-stage codegen over the operators. Scale notes
  * per query describe why the plan survives 1000 executors / 100 TB.
  *
  * Oracle-exactness convention: double SUMs are order-dependent in IEEE
  * arithmetic, so a Spark partial-aggregate tree and DuckDB's sequential sum
  * can differ in the low bits and fail a hash compare. Any summed 2-decimal
  * money column is cast to DECIMAL first (exact, associative), summed, then
  * cast back to double — bit-identical on both engines. Integer-valued
  * doubles (l_quantity) sum exactly in any order and need no cast.
  */
object Relational {

  /** Exact cross-engine sum of a 2-decimal money column. */
  private def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact cross-engine sum of a per-row double product (4 decimals kept). */
  private def dsum4(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Q1: pricing summary — scan-filter-agg, the canonical map-side-combine
    * shape (SURVEY A6). Partial aggregation means each executor emits ≤
    * |flag×status| rows regardless of input size; shuffle is O(groups). */
  def q01PricingSummary(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        (dsum2(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  AVG(l_quantity) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Q2: selective filter + narrow projection — exists to prove pushdown:
    * `.explain` must show PushedFilters on l_shipdate/l_quantity and a
    * 4-column ReadSchema. At 100 TB this is the difference between reading
    * the table and reading 4 column chunks of a pruned date range. */
  def q02FilterPushdown(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp") &&
        col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem —
      // all four output columns are needed for a total order
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      |  AND l_quantity < 5
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin

  /** Q3: star-schema revenue rollup (SURVEY J3) — lineitem⋈orders is the one
    * genuine shuffle join (both large, co-keyed); customer/nation/region are
    * dimensions and must broadcast. Catalyst picks that from sizes; nation and
    * region are hinted because at 100 TB their file stats may be missing. */
  def q03StarJoinRevenue(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  val q03Sql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Q4: fact⋈dimension with an explicit broadcast hint (SURVEY J3) — part is
    * small relative to lineitem at every SF; broadcasting removes the shuffle
    * of the 100 TB side entirely. */
  def q04BroadcastJoin(t: Tables): DataFrame =
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  val q04Sql: String =
    """SELECT p_brand,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Q5: left-semi join = EXISTS (SURVEY J3/E1) — semi joins ship only the
    * join key of the probe side and stop at first match; never materialize
    * the pairing. */
  def q05SemiJoin(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val q05Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Q6: left-anti join = NOT EXISTS (SURVEY E1 — the dedup "seen set"
    * negative-membership shape from pipeline.py:27-35, relationalized). */
  def q06AntiJoin(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  val q06Sql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Q7: left outer join preserving unmatched rows, with null-safe counting
    * (count(o_orderkey) skips nulls exactly like the oracle). */
  def q07LeftJoinAgg(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum2(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))

  val q07Sql: String =
    """SELECT c_custkey, c_name,
      |  COUNT(o_orderkey) AS n_orders,
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** Q8: ROLLUP (SURVEY A8) — hierarchical subtotals region→nation→grand.
    * Null group markers are coalesced to a sentinel so row ordering is
    * null-free and identical across engines. */
  def q08Rollup(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(dsum2(col("c_acctbal")).as("sum_bal"), count(lit(1)).as("n_cust"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("sum_bal"), col("n_cust"))
      .orderBy(col("region"), col("nation"))

  val q08Sql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
      |  COUNT(*) AS n_cust
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** Q9: CUBE (SURVEY A8) — all 2^k grouping combinations in one pass
    * (Expand operator: k× row multiplication map-side, then one shuffle). */
  def q09Cube(t: Tables): DataFrame =
    t.lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_items"))
      .orderBy(col("returnflag"), col("linestatus"))

  val q09Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  SUM(l_quantity) AS sum_qty, COUNT(*) AS n_items
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Q10: ranking window (SURVEY W1/W5) — top-3 orders per customer.
    * row_number with a total tie-break (price desc, orderkey) is
    * deterministic; one shuffle on the partition key, sort within. */
  def q10WindowRank(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q10Sql: String =
    """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Q11: running-frame window (SURVEY W5) — cumulative value per user in
    * event-time order. The frame order (ts, event_id) is a total order
    * (event_id unique), so the sequential IEEE additions happen in the same
    * order on both engines and the running double is bit-identical.
    * (lineitem is unusable here: (l_orderkey, l_linenumber) has ~11.8k
    * duplicate pairs in the synthetic data, so no deterministic frame order
    * exists over it.) */
  def q11WindowRunning(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .withColumn("running_value",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
      .withColumn("n_so_far", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("running_value"), col("n_so_far"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q11Sql: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n_so_far
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Q12: lag/lead analytics (SURVEY W5) over the event stream — per-user
    * previous value and next event type in time order. */
  def q12WindowLagLead(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("prev_value"), col("next_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q12Sql: String =
    """SELECT user_id, event_id, event_type, value,
      |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
      |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Q13: global top-k (SURVEY W3/O1-O3) — orderBy+limit plans as
    * TakeOrderedAndProject: each partition keeps a k-heap, driver merges k×p
    * rows; no global sort ever materializes. The reference pushes this into
    * its sources (realtimeapi.py:35-39 pageSize/sortBy). */
  def q13GlobalTopK(t: Tables): DataFrame =
    t.orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))

  val q13Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Q14: distinct aggregates (SURVEY A7) — exact distinct counts expand to
    * a two-phase plan; the approximate HLL++ variant for 100 TB is
    * q_approx_distinct (rows-only, not hash-comparable by design). */
  def q14DistinctAgg(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))

  val q14Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_items
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q15: UNION ALL of heterogeneous feeds (SURVEY E3) — the multi-source
    * article-feed union (S2+S3) relationalized: customers and suppliers as
    * one "party" stream with a provenance tag. */
  def q15Union(t: Tables): DataFrame =
    t.customer.select(lit("customer").as("kind"), col("c_custkey").as("key"),
        col("c_name").as("name"), col("c_acctbal").as("acctbal"))
      .unionByName(
        t.supplier.select(lit("supplier").as("kind"), col("s_suppkey").as("key"),
          col("s_name").as("name"), col("s_acctbal").as("acctbal")))
      .orderBy(col("kind"), col("key"))

  val q15Sql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS kind, c_custkey AS key, c_name AS name, c_acctbal AS acctbal FROM customer
      |  UNION ALL
      |  SELECT 'supplier' AS kind, s_suppkey AS key, s_name AS name, s_acctbal AS acctbal FROM supplier)
      |ORDER BY kind, key""".stripMargin

  /** Q16: INTERSECT / EXCEPT distinct-set semantics (SURVEY E3) over the
    * nation keys reachable from customers vs suppliers. */
  def q16SetOps(t: Tables): DataFrame = {
    val custNations = t.customer.select(col("c_nationkey").as("nationkey"))
    val suppNations = t.supplier.select(col("s_nationkey").as("nationkey"))
    custNations.intersect(suppNations).select(lit("both").as("kind"), col("nationkey"))
      .unionByName(
        custNations.except(suppNations).select(lit("cust_only").as("kind"), col("nationkey")))
      .orderBy(col("kind"), col("nationkey"))
  }

  val q16Sql: String =
    """SELECT * FROM (
      |  SELECT 'both' AS kind, nationkey FROM
      |    (SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
      |  UNION ALL
      |  SELECT 'cust_only' AS kind, nationkey FROM
      |    (SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier))
      |ORDER BY kind, nationkey""".stripMargin

  /** Q17: JSON field extraction (SURVEY F14/F15) — events.props is a JSON
    * string; get_json_object is codegen'd path extraction, no UDF. The
    * oracle uses a regexp to avoid DuckDB's JSON extension (offline). */
  def q17JsonExtract(t: Tables): DataFrame =
    t.fanout(t.events)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), avg(col("k")).as("avg_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q17Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  AVG(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS avg_k,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q18: date bucketing (SURVEY F10/T3) — orders per month. date_trunc is
    * a pure column expression; at scale this is the partition-pruning key. */
  def q18DateTrunc(t: Tables): DataFrame =
    t.orders
      .withColumn("month", date_trunc("month", col("o_orderdate")))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("sum_price"))
      .orderBy(col("month"))

  val q18Sql: String =
    """SELECT date_trunc('month', o_orderdate) AS month,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY month ORDER BY month""".stripMargin

  /** Q19: conditional aggregation (SURVEY P7 shape — scoring via CASE WHEN,
    * constant-folded by Catalyst). */
  def q19CaseWhen(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("n_returned"),
        sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0.0))).as("qty_discounted"),
        count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))

  val q19Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
      |  SUM(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0.0 END) AS qty_discounted,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Q20: string functions (SURVEY F1/F2/F8/F9) — trim/lower/upper/substr/
    * length/concat and split+element_at (the reddit.py:50-53 domain-parse
    * shape: last token of a dot/space-separated name). */
  def q20StringFuncs(t: Tables): DataFrame =
    t.part
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        lower(col("p_type")).as("type_lower"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_name")).as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        element_at(split(col("p_type"), " "), -1).as("type_last_word"))
      .orderBy(col("p_partkey"))

  val q20Sql: String =
    """SELECT p_partkey,
      |  UPPER(p_brand) AS brand_upper,
      |  LOWER(p_type) AS type_lower,
      |  SUBSTRING(p_name, 1, 8) AS name_prefix,
      |  CAST(LENGTH(p_name) AS INT) AS name_len,
      |  CONCAT_WS('|', p_brand, p_type) AS brand_type,
      |  regexp_extract(p_type, '(\S+)$', 1) AS type_last_word
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Q21: HAVING (post-aggregation filter, SURVEY P10 shape — the
    * "cluster kept only if ≥3 qualifying members" gate from cluster.py:83). */
  def q21Having(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .filter(col("n_items") >= 40)
      .orderBy(col("l_partkey"))

  val q21Sql: String =
    """SELECT l_partkey, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 40
      |ORDER BY l_partkey""".stripMargin

  /** Q22: correlated-style scalar-aggregate comparison — orders above their
    * customer's average order value. Expressed as join-with-agg (how Catalyst
    * decorrelates it anyway); the agg side is tiny relative to orders so it
    * broadcasts. */
  def q22AboveCustomerAvg(t: Tables): DataFrame = {
    val custAvg = t.orders
      .groupBy(col("o_custkey").as("ca_custkey"))
      .agg((dsum2(col("o_totalprice")) / count(lit(1))).as("avg_price"))
    t.orders
      .join(broadcast(custAvg), col("o_custkey") === col("ca_custkey"))
      .filter(col("o_totalprice") > col("avg_price") * 1.5)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val q22Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders JOIN (
      |  SELECT o_custkey AS ca_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
      |  FROM orders GROUP BY o_custkey) ON o_custkey = ca_custkey
      |WHERE o_totalprice > avg_price * 1.5
      |ORDER BY o_orderkey""".stripMargin

  /** Q51: exact percentiles with linear interpolation (OLAP surface; same
    * definition as DuckDB's quantile_cont, so rounded values hash-match).
    * The 100 TB variant is approx_percentile (t-digest) — rows-only by
    * nature, exercised in the spec. */
  def q51Percentiles(t: Tables): DataFrame =
    // one percentile(col, array(...)) call = ONE counts-map buffer per
    // group; separate calls each build and merge their own (2× the cost)
    t.fanout(t.lineitem)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ps"),
        count(lit(1)).as("n"))
      .select(
        col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p50"),
        round(element_at(col("ps"), 2), 4).as("p95"),
        col("n"))
      .orderBy(col("l_returnflag"))

  val q51Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q52: GROUPING SETS (SURVEY A8) — arbitrary group combinations in one
    * pass (Expand operator underneath), via the Dataset.groupingSets API
    * (no session temp view — a query builder must not mutate session
    * namespace; VERDICT r2 item 6). */
  def q52GroupingSets(t: Tables): DataFrame =
    t.lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  val q52Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  SUM(l_quantity) AS sum_qty, CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Q53: ordered string aggregation (LISTAGG/string_agg shape) —
    * deterministic via sort_array before joining, so both engines emit the
    * same concatenation. */
  def q53StringAgg(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .filter(col("c_acctbal") > 9000)
      .groupBy(col("n_name"))
      .agg(
        array_join(sort_array(collect_list(col("c_name"))), ",").as("customers"),
        count(lit(1)).as("n"))
      .orderBy(col("n_name"))

  val q53Sql: String =
    """SELECT n_name,
      |  string_agg(c_name, ',' ORDER BY c_name) AS customers,
      |  COUNT(*) AS n
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > 9000
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Q54: deterministic mode per group — max_by on (count, value) with a
    * total tie-break, identical rule spelled out in the oracle. */
  def q54Mode(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(max(struct(col("cnt"), col("l_quantity"))).as("m"))
      .select(col("l_returnflag"), col("m.l_quantity").as("mode_qty"),
        col("m.cnt").as("mode_count"))
      .orderBy(col("l_returnflag"))

  val q54Sql: String =
    """SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_count FROM (
      |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY COUNT(*) DESC, l_quantity DESC) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_quantity)
      |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  /** Q55: analytic window functions — first/last/nth value over a running
    * frame per user (completes the W5 surface beyond lag/lead/rank). */
  def q55WindowAnalytics(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .withColumn("first_type", first(col("event_type")).over(w))
      .withColumn("nth2_type", nth_value(col("event_type"), 2).over(w))
      .withColumn("last_value_so_far", last(col("value")).over(w))
      .select(col("user_id"), col("event_id"), col("first_type"),
        col("nth2_type"), col("last_value_so_far"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q55Sql: String =
    """SELECT user_id, event_id,
      |  first_value(event_type) OVER w AS first_type,
      |  nth_value(event_type, 2) OVER w AS nth2_type,
      |  last_value(value) OVER w AS last_value_so_far
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Q57: one ANSI query text, two engines — the TPC-H Q7 shape (shipping
    * volume between nation pairs) run verbatim through spark.sql AND as
    * the DuckDB oracle. Demonstrates the SQL surface end-to-end: 6-way
    * join, derived table, year extraction, decimal-exact revenue. */
  val q57Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(YEAR(l_shipdate) AS INT) AS l_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE n1.n_name < n2.n_name
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  def q57SqlParity(t: Tables): DataFrame = {
    Seq("lineitem" -> t.lineitem, "orders" -> t.orders, "customer" -> t.customer,
      "supplier" -> t.supplier, "nation" -> t.nation)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    t.spark.sql(q57Sql)
  }

  /** Approx percentiles (sketch family next to HLL): percentile_approx's
    * bounded-memory digest is the 100 TB path where exact interpolation
    * (q51) would sort every group. Rows-only (estimator-specific values);
    * DistinctSketchSpec asserts the error envelope vs q51's exact values. */
  def qApproxPercentile(t: Tables): DataFrame = {
    // single sketch for both quantiles (see q51 note). Hash-gated by the
    // sketch's ACTUAL contract — rank error: for an approx value v at
    // quantile q, |rank(v)/n − q| must sit inside the tolerance. The rank
    // check is computed in-plan (one broadcast join + conditional counts)
    // and the oracle asserts the booleans TRUE; this is robust to the
    // estimator returning different (all valid) values across merges,
    // where hashing the approx value itself never could be.
    val li = t.fanout(t.lineitem).select(col("l_returnflag"), col("l_extendedprice"))
    li.join(broadcast(approxPercentiles(t)), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        first(col("n")).as("n"),
        sum(when(col("l_extendedprice") <= col("p50_approx"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("l_extendedprice") <= col("p95_approx"), 1L).otherwise(0L)).as("r95"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("r50").cast("double") / col("n").cast("double") - 0.5) <= 0.005)
          .as("p50_rank_ok"),
        (abs(col("r95").cast("double") / col("n").cast("double") - 0.95) <= 0.005)
          .as("p95_rank_ok"))
      .orderBy(col("l_returnflag"))
  }

  val qApproxPercentileSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The raw sketch values (one percentile_approx call for both
    * quantiles) — q60's rank gate consumes this; SketchSpec compares it
    * against q51's exact interpolated percentiles directly. */
  private[graft] def approxPercentiles(t: Tables): DataFrame =
    t.fanout(t.lineitem)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), array(lit(0.5), lit(0.95)), lit(10000))
          .as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("ps"), 1).as("p50_approx"),
        element_at(col("ps"), 2).as("p95_approx"),
        col("n"))

  /** Approx distinct via HLL++ (SURVEY A7) — the 100 TB path where exact
    * distinct would shuffle every key. No SQL oracle (estimator-specific);
    * driver rows-only check + DistinctSpec asserts the error envelope. */
  def qApproxDistinct(t: Tables): DataFrame = {
    // Two separate aggregates joined on the tiny group key — NEVER mix
    // countDistinct with a high-precision HLL in one agg: Catalyst's
    // distinct rewrite expands rows and every phase-1 (flag, partkey)
    // group then carries the ~21 KB rsd=0.01 HLL buffer (measured 8 s /
    // ~13 GB of buffers at sf0.1; split form is ~0.5 s). The exact side
    // exists only to exhibit the HLL error envelope.
    val li = t.fanout(t.lineitem)
    // rsd 0.02 → 2^12 registers: 8× smaller partial buffers than 0.01 for
    // error still inside SketchSpec's 5% envelope (measured 2.5× faster)
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    // hash-gated via the q109 envelope pattern: the oracled columns are
    // the exact counts, and the engine-specific HLL estimate folds into a
    // deterministic ≤5% envelope boolean the oracle asserts as TRUE
    approx.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts").cast("double") - col("exact_parts").cast("double"))
          <= col("exact_parts").cast("double") * 0.05).as("within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  val qApproxDistinctSql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  TRUE AS within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q109: HLL sketch MATERIALIZATION + reuse (Spark 4 DataSketches
    * surface) — the 100 TB distinct-count pattern: build one compact
    * sketch per fine-grained slice (here per day) in a single scan, then
    * answer ANY coarser rollup (week, month, arbitrary ranges) by merging
    * sketches — no rescan of the raw data, and the weekly shuffle carries
    * |days| × ~1 KB sketch bytes instead of |events| user ids. The daily
    * aggregate carries ONLY the sketch (mixing countDistinct with a
    * high-precision HLL in one aggregate trips Catalyst's distinct-rewrite
    * — rows × sketch buffer per group, the q23 lesson); the exact weekly
    * distinct comes from its own two-phase aggregate. Hash-gated: the
    * oracled columns are the exact weekly counts, and the engine-specific
    * sketch estimate is folded into `within_5pct`, a deterministic
    * |est−exact|/exact ≤ 0.05 envelope the oracle asserts as TRUE — a
    * sketch drifting outside its error bound fails the hash compare. */
  def qHllRollup(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), to_date(col("ts")).as("d"))
    val daily = ev.groupBy(col("d"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    daily
      .groupBy(weekofyear(col("d")).as("week"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"))
      .join(
        ev.groupBy(weekofyear(col("d")).as("week"))
          .agg(countDistinct(col("user_id")).as("exact_users")),
        Seq("week"))
      .select(col("week").cast("long").as("week"), col("n_days"),
        col("exact_users"),
        (abs(col("approx_users").cast("double") - col("exact_users").cast("double"))
          <= col("exact_users").cast("double") * 0.05).as("within_5pct"))
      .orderBy(col("week"))
  }

  val qHllRollupSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events)
      |SELECT CAST(weekofyear(d) AS BIGINT) AS week,
      |  COUNT(DISTINCT d)::BIGINT AS n_days,
      |  COUNT(DISTINCT user_id)::BIGINT AS exact_users,
      |  TRUE AS within_5pct
      |FROM ev GROUP BY 1 ORDER BY week""".stripMargin

  /** Q61: pivot (wide aggregation) — one pass, map-side combine on the
    * (flag, status) pair, then the pivot is a projection of the grouped
    * result. Pivot values are DECLARED (Seq("F","O")) so Spark skips the
    * extra distinct-values job — at 100 TB an undeclared pivot scans the
    * table twice. */
  def q61Pivot(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum2(col("l_extendedprice")))
      .withColumnRenamed("F", "sum_f")
      .withColumnRenamed("O", "sum_o")
      .orderBy(col("l_returnflag"))

  val q61Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q62: unpivot (wide → long) — Dataset.unpivot is a zero-shuffle
    * generator (each input row explodes to |metrics| rows); the only
    * shuffle is the upstream aggregate. */
  def q62Unpivot(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty").cast("double").as("sum_qty"), col("sum_price")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))

  val q62Sql: String =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM g
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM g)
      |ORDER BY l_returnflag, metric""".stripMargin

  /** Q63: deterministic hash sampling (pipeline QA / split creation) —
    * Bernoulli-style ~5% sample keyed on a content hash, so the same rows
    * are sampled on ANY engine and ANY partitioning (unlike TABLESAMPLE,
    * which is partition-dependent). The predicate is a pure filter pushed
    * into the scan stage: no shuffle, no extra pass — the 100 TB way to
    * cut a reproducible dev slice. First two md5 hex chars < '0d' ⇒
    * 13/256 ≈ 5.1%. */
  def q63HashSample(t: Tables): DataFrame =
    t.lineitem
      .filter(substring(md5(concat_ws("-",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"))), 1, 2) < "0d")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"))

  val q63Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
      |      || '-' || CAST(l_partkey AS VARCHAR)), 1, 2) < '0d'
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin

  /** Q65: stratified sampling (df.sampleBy semantics, made deterministic) —
    * a different Bernoulli rate per stratum keyed on the same content hash
    * as Q63, so the sample is reproducible on any engine/partitioning.
    * Rates: A 2/256, N 8/256, R 32/256. Emitted as per-stratum sample
    * aggregates (count + exact sums), which checks membership compactly. */
  def q65StratifiedSample(t: Tables): DataFrame =
    t.lineitem
      .withColumn("h", substring(md5(concat_ws("-",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"))), 1, 2))
      .filter(
        (col("l_returnflag") === "A" && col("h") < "02") ||
        (col("l_returnflag") === "N" && col("h") < "08") ||
        (col("l_returnflag") === "R" && col("h") < "20"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))

  val q65Sql: String =
    """SELECT l_returnflag,
      |  COUNT(*) AS n_sampled,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM (
      |  SELECT *, substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
      |         || '-' || CAST(l_partkey AS VARCHAR)), 1, 2) AS h
      |  FROM lineitem)
      |WHERE (l_returnflag = 'A' AND h < '02')
      |   OR (l_returnflag = 'N' AND h < '08')
      |   OR (l_returnflag = 'R' AND h < '20')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q100: weighted (probability-proportional-to-size) sampling with a
    * Horvitz–Thompson estimate — the importance-sampling shape a training
    * pipeline uses to over-sample high-value documents while keeping
    * estimates unbiased. Inclusion test is INTEGER-EXACT cross-engine:
    * accept row i iff the first 4 md5 hex chars of its content key are
    * lexicographically below the 4-hex-digit rendering of w_i·26 (fixed-
    * width lowercase hex compare ≡ integer compare, no float in the
    * membership decision ⇒ the oracle can never drift by an ulp). So
    * p_i = w_i·26/65536 with w = l_quantity ∈ [1,50]. Like q63/q65 the
    * predicate is a pure scan-stage filter: no shuffle before the final
    * 3-group aggregate — the 100 TB way to draw a weighted dev slice.
    * ht_rows_est = Σ 1/p_i (per-row exact IEEE division; cross-partition
    * sum order-dependent ⇒ round(2)). */
  def q100WeightedSample(t: Tables): DataFrame = weightedSampleAgg(t.lineitem)

  /** Kernel on a raw lineitem frame — split out so the spec can prove the
    * sample is partitioning-invariant (same rows from any physical layout). */
  private[graft] def weightedSampleAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .withColumn("h4", substring(md5(concat_ws("-",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"))), 1, 4))
      .filter(col("h4") < format_string("%04x", (col("l_quantity") * 26).cast("int")))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(lit(65536.0) / (lit(26.0) * col("l_quantity"))), 2).as("ht_rows_est"))
      .orderBy(col("l_returnflag"))

  val q100Sql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n_sampled,
      |  SUM(l_quantity) AS sum_qty,
      |  round(SUM(65536.0 / (26.0 * l_quantity)), 2) AS ht_rows_est
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
      |      || '-' || CAST(l_partkey AS VARCHAR)), 1, 4)
      |      < printf('%04x', CAST(l_quantity * 26 AS INT))
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q66: typed per-group top-k via the bounded-buffer Aggregator
    * (functions.TopKAggregator) — partial+final aggregation with ≤k rows of
    * state per group per partition instead of a per-partition sort. The
    * oracle is the equivalent ROW_NUMBER window: two implementations, one
    * answer. Top-3 orders by price per priority. */
  def q66TopkAggregator(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val scored = t.orders.select(col("o_orderpriority"),
        col("o_totalprice").cast("double"), col("o_orderkey"))
      .as[(String, Double, Long)]
    val agg = new graft.functions.TopKAggregator(3).toColumn
    scored.groupByKey(_._1)
      .mapValues { case (_, price, key) => (price, key) }
      .agg(agg.name("top"))
      .flatMap { case (prio, top) =>
        top.zipWithIndex.map { case ((price, key), i) =>
          (prio, i + 1, key, price)
        }
      }
      .toDF("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  val q66Sql: String =
    """SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin

  /** Q67: salted skew join under the correctness gate — ops.Skew.saltedJoin
    * (hot keys spread over salt buckets, small side replicated) must be
    * row-identical to the plain equi-join the oracle runs. */
  def q67SaltedJoin(t: Tables): DataFrame =
    Skew.saltedJoin(
      t.lineitem.select(col("l_orderkey"), col("l_quantity"), col("l_linenumber")),
      t.orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      "l_orderkey", saltFrom = col("l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))

  val q67Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q68: distribution window functions (W5 completion) — ntile,
    * percent_rank, cume_dist over a per-priority price ranking.
    * percent_rank/cume_dist are single-division doubles (IEEE-exact both
    * engines). Output thinned to a deterministic key slice. */
  def q68WindowDistribution(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("ntile4", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .filter(col("o_orderkey") % 100 === 0)
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  val q68Sql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, ntile4, pct_rank, cume FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(NTILE(4) OVER w AS INT) AS ntile4,
      |    PERCENT_RANK() OVER w AS pct_rank,
      |    CUME_DIST() OVER w AS cume
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE o_orderkey % 100 = 0
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** Q69: date/interval arithmetic surface (F10 completion) — day diffs
    * against a fixed epoch, month shifts with end-of-month clamping,
    * calendar field extraction. All pure column exprs; at scale these are
    * the partition-key derivations. */
  def q69DateArithmetic(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderkey") % 97 === 0)
      .select(
        col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_epoch"),
        add_months(col("o_orderdate"), 3).as("plus_3_months"),
        last_day(col("o_orderdate")).as("month_end"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofweek(col("o_orderdate")).cast("long").as("dow_sun1"))
      .orderBy(col("o_orderkey"))

  val q69Sql: String =
    """SELECT o_orderkey,
      |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3_months,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow_sun1
      |FROM orders WHERE o_orderkey % 97 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** Q70: array function surface (F16) — distinct-sort-slice-join over the
    * token array, per document. */
  def q70ArrayFuncs(t: Tables): DataFrame = {
    val toks = graft.functions.text.tokenize(col("text"))
    t.fanout(t.documents)
      .select(
        col("doc_id"),
        array_join(slice(sort_array(array_distinct(toks)), 1, 5), ",")
          .as("first5_sorted"),
        // try_element_at: under ANSI mode element_at throws on an empty
        // array, while the DuckDB oracle's toks[-1] yields NULL — a
        // punctuation-only document must NULL-match, not crash (ADVICE r2)
        try_element_at(sort_array(array_distinct(toks), asc = false), lit(1))
          .as("max_token"),
        size(flatten(array(toks, toks))).cast("long").as("n_doubled"))
      .orderBy(col("doc_id"))
  }

  val q70Sql: String =
    s"""SELECT doc_id,
      |  array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS first5_sorted,
      |  list_sort(list_distinct(toks))[-1] AS max_token,
      |  CAST(2 * len(toks) AS BIGINT) AS n_doubled
      |FROM (SELECT doc_id,
      |        ${text.tokenizeSql("text")} AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Q75: bloom-filter-accelerated semi join — the runtime-filter pattern
    * at operator level. A bloom sketch of the (filtered) dim side's keys
    * is broadcast and applied as a MAP-SIDE pre-filter on the probe scan,
    * so the exact semi join that follows only shuffles probable matches;
    * the semi join removes the bloom's false positives, making the result
    * EXACTLY the plain semi join (which is what the oracle runs). At
    * 100 TB this is the shape that keeps a selective dim filter from
    * paying a full probe-side shuffle; the sketch is bounded (~1.2 MB at
    * 1M keys / 1% fpp) regardless of probe size. */
  def q75BloomSemiJoin(t: Tables): DataFrame = {
    val dimKeys = t.supplier.filter(col("s_acctbal") > 9000).select(col("s_suppkey"))
    // stat.bloomFilter NPEs on an empty input (null agg buffer); an empty
    // dim side means an empty semi join, so pre-filter everything out.
    // The count is a dim-side-only job — small by the pattern's contract.
    val nDim = dimKeys.count()
    val preFilter: Column =
      if (nDim == 0) lit(false)
      else {
        // size from the just-computed count (floor keeps tiny SFs honest) —
        // a hardcoded expectation degrades the fpp as the dim side grows
        val bloom = dimKeys.stat.bloomFilter("s_suppkey", math.max(nDim, 1000L), 0.01)
        val bc = t.spark.sparkContext.broadcast(bloom)
        val might = udf((k: Long) => bc.value.mightContain(k))
        might(col("l_suppkey"))
      }
    t.lineitem
      .filter(preFilter)
      .join(dimKeys, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  val q75Sql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q76: RANGE window frame (W5 completion) — rolling 30-day spend per
    * customer. The frame is value-based (days-since-epoch), not row-based,
    * so date peers aggregate together on both engines; the sum is
    * decimal-exact. o_orderkey gives the emitted slice a total order. */
  def q76RangeFrame(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch_day"))
      .rangeBetween(-30, Window.currentRow)
    t.orders
      .withColumn("epoch_day",
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("rolling_30d",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("rolling_30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q76Sql: String =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, rolling_30d FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
      |  FROM orders)
      |WHERE o_orderkey % 50 = 0
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Q82: conditional/filtered aggregates (A6 surface completion) —
    * count_if / conditional sums in one grouped pass (FILTER-clause
    * semantics). Quantities are integer-valued doubles (q01 precedent),
    * so raw sums are hash-exact. */
  def q82FilteredAgg(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count_if(col("l_quantity") > 25).as("n_big"),
        sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0.0)))
          .as("qty_discounted"),
        max(when(col("l_linestatus") === "F", col("l_quantity"))).as("max_qty_f"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val q82Sql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
      |  COALESCE(SUM(l_quantity) FILTER (WHERE l_discount > 0.05), 0) AS qty_discounted,
      |  MAX(l_quantity) FILTER (WHERE l_linestatus = 'F') AS max_qty_f,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q83: latest record per key — CDC/SCD compaction: one pass, per-key
    * top-1 by recency with a unique tie-break (event_id). Spark 4 plans
    * WindowGroupLimit (no full per-partition sort of losers); at 100 TB
    * this is the log-compaction query every changelog table needs. */
  def q83LatestPerKey(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t.events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  val q83Sql: String =
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Q85: histogram profiling — fixed-width value binning (the data-
    * profiling pass a pipeline runs before choosing partition bounds).
    * floor(x / width) is the same IEEE op on both engines; counts and
    * decimal sums are exact. */
  def q85Histogram(t: Tables): DataFrame =
    t.lineitem
      .groupBy(floor(col("l_extendedprice") / 5000.0).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("bin"))

  val q85Sql: String =
    """SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS INT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin

  /** Q89: MERGE/upsert semantics without a table format (the corpus-refresh
    * shape: a nightly snapshot merged with an update batch). The update
    * batch is DERIVED deterministically from the snapshot itself (every 7th
    * customer gets a re-stated balance; key+1500 rows are inserts), so both
    * engines see identical inputs. Plan shape: full outer join on the merge
    * key + coalesce per column — at 100 TB this is one co-partitioned
    * shuffle on the key (or zero with bucketed storage, BucketingSpec), vs
    * a table format's file-level merge-on-read; action column makes the
    * upsert auditable. */
  def q89MergeUpsert(t: Tables): DataFrame = {
    val snap = t.customer.select(col("c_custkey").as("key"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"))
    val updates = t.customer.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("u_key"),
        col("c_name").as("u_name"),
        (col("c_acctbal") + 1000.0).as("u_acctbal"))
      .unionAll(t.customer.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1500000).as("u_key"),
          concat(lit("NEW-"), col("c_name")).as("u_name"),
          lit(0.0).as("u_acctbal")))
    snap.join(updates, col("key") === col("u_key"), "full_outer")
      .select(
        coalesce(col("key"), col("u_key")).as("key"),
        coalesce(col("u_name"), col("name")).as("name"),
        // acctbal arithmetic is +1000.0 on a 2-decimal double — same IEEE
        // op both engines, hash-safe raw
        coalesce(col("u_acctbal"), col("acctbal")).as("acctbal"),
        when(col("key").isNull, "insert")
          .when(col("u_key").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy(col("key"))
  }

  /** Q127: incremental aggregate maintenance — the materialized-view /
    * nightly-batch pattern: persisted per-group aggregate STATE (built
    * from the history partition) merged with a new batch's partials
    * WITHOUT rescanning history. The state carries mergeable components
    * only (count, decimal sum, min, max — a commutative monoid), so the
    * merge is a full-outer join on the group key + component-wise
    * combine; avg is derived at read time from the merged components.
    *
    * The ORACLE is the full recompute over the union — the hash compare
    * IS the algebraic claim (merge(state, partials(batch)) ≡
    * aggregate(history ∪ batch)). At 100 TB this is the difference
    * between touching one day and rescanning the lake; the same component
    * discipline is why Spark's own partial aggregation works.
    *
    * Nulls through the merge: a group present on one side only must keep
    * that side's components — least/greatest null handling differs across
    * engines, so both sides coalesce EXPLICITLY before combining. */
  def qIncrementalAgg(t: Tables, splitDate: String = "1997-01-01"): DataFrame = {
    val split = lit(splitDate).cast("timestamp")
    def partials(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(s"${tag}_cnt"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).as(s"${tag}_sum"),
          min(col("l_quantity")).as(s"${tag}_min"),
          max(col("l_quantity")).as(s"${tag}_max"))
    val state = partials(t.lineitem.filter(col("l_shipdate") < split), "s")
    val batch = partials(t.lineitem.filter(col("l_shipdate") >= split), "b")
    state.join(batch, Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        (coalesce(col("s_cnt"), lit(0L)) + coalesce(col("b_cnt"), lit(0L))).as("cnt"),
        (coalesce(col("s_sum"), lit(0).cast(DecimalType(18, 2)))
          + coalesce(col("b_sum"), lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("sum_price"),
        least(coalesce(col("s_min"), col("b_min")),
          coalesce(col("b_min"), col("s_min"))).as("min_qty"),
        greatest(coalesce(col("s_max"), col("b_max")),
          coalesce(col("b_max"), col("s_max"))).as("max_qty"))
      .withColumn("avg_price",
        round(col("sum_price") / col("cnt").cast("double"), 6))
      .orderBy(col("l_returnflag"))
  }

  /** q127 oracle: the FULL recompute — merge must be indistinguishable
    * from rescanning everything. */
  val qIncrementalAggSql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  MIN(l_quantity) AS min_qty,
      |  MAX(l_quantity) AS max_qty,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q175: exact weighted median of extended price, weighted by quantity,
    * per return flag — the robust-aggregation primitive (weighted
    * p50 resists outlier line items the way the mean cannot; quantity
    * weighting answers "the median DOLLAR-VOLUME-weighted price").
    * Values pre-aggregate by (flag, price) so lineitem's LACK of a
    * unique key is irrelevant — the cumulative walk is over distinct
    * prices, totally ordered. The pick is the smallest value whose
    * doubled cumulative weight reaches the total (the lower weighted
    * median — integer comparisons only, no interpolation float).
    *
    * Scale shape: one (flag, price) aggregate, then the q144 two-phase
    * prefix fully IN-PLAN (no driver fetch): price-range buckets carry
    * cross-bucket offsets via a window over the tiny per-(flag, bucket)
    * sum table, and the cumulative walk runs partitioned BY (flag,
    * bucket) — bounded sorts, never a per-flag sort of every distinct
    * price (a single-window version measured 3.2 s at sf0.1 on exactly
    * that sort; this shape runs ~1.5 s and survives 100 TB). The bucket
    * key is plan-internal — the oracle keeps the naive global window.
    * All DECIMAL/BIGINT exact. */
  def q175WeightedMedian(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // barrier (r13 opt): grouped fed both the bucket-sum pass and the
    // final in-bucket window join — 2 lineitem scans + decimal aggregates
    // before; the checkpointed frame is the distinct (flag, price) groups.
    val grouped = t.lineitem
      .groupBy(col("l_returnflag"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("v"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
      // value-monotone bucket key: ties in v share a bucket by construction
      .withColumn("bucket", floor(col("v") / lit(1000)).cast("int"))
      .localCheckpoint()
    val bsums = grouped.groupBy(col("l_returnflag"), col("bucket"))
      .agg(sum(col("w")).as("bw"))
    val prevBuckets = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perFlag = Window.partitionBy(col("l_returnflag"))
    val offs = bsums
      .withColumn("off", coalesce(sum(col("bw")).over(prevBuckets), lit(0L)))
      .withColumn("tw", sum(col("bw")).over(perFlag))
      .select(col("l_returnflag"), col("bucket"), col("off"), col("tw"))
    val inBucket = Window.partitionBy(col("l_returnflag"), col("bucket"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped.join(broadcast(offs), Seq("l_returnflag", "bucket"))
      .withColumn("cw", col("off") + sum(col("w")).over(inBucket))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("v")).cast("double").as("weighted_median"),
        max(col("tw")).as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  val q175Sql: String =
    """WITH grouped AS (
      |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |walked AS (
      |  SELECT l_returnflag, v, w,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM grouped)
      |SELECT l_returnflag,
      |  CAST(MIN(v) AS DOUBLE) AS weighted_median,
      |  CAST(MAX(tw) AS BIGINT) AS total_weight
      |FROM walked WHERE cw * 2 >= tw
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q176: Pearson correlation matrix over lineitem's numeric columns
    * (quantity, price, discount, tax) — the feature-screening pass a
    * modeling pipeline runs before training. Normally float-fragile;
    * here EVERY sufficient statistic (Σx, Σxy for all pairs) is an EXACT
    * DECIMAL sum (all four columns are ≤2-decimal money-class doubles,
    * so products are exact DECIMAL(·,4)), and each r is one identical
    * IEEE tree over the casted sums. r carries round(6): the sums' cast
    * to double is NOT identical cross-engine once the decimal mantissa
    * exceeds 2^53 (DuckDB's int128→double path vs Spark's correctly
    * rounded BigDecimal — a last-ulp input difference at sf0.1), the
    * established rounding case.
    *
    * Scale shape: ONE aggregate computes all 14 sufficient statistics in
    * a single pass (map-side combinable — the textbook one-scan moment
    * matrix); the 6 pair rows unpivot from the 1-row result (the q94
    * pattern). */
  def q176Correlation(t: Tables): DataFrame = {
    def dec(c: String) = col(c).cast(DecimalType(18, 2))
    val names = Seq("l_quantity" -> "q", "l_extendedprice" -> "p",
      "l_discount" -> "d", "l_tax" -> "x")
    val sums = names.map { case (c, a) => sum(dec(c)).as(s"s_$a") } ++
      (for { i <- names.indices; j <- i until names.length } yield {
        val (ci, ai) = names(i); val (cj, aj) = names(j)
        sum(dec(ci) * dec(cj)).as(s"s_$ai$aj")
      }) :+ count(lit(1)).as("n")
    val wide = t.lineitem.agg(sums.head, sums.tail: _*)
    def dd(name: String) = col(name).cast("double")
    def r(a: String, b: String) = {
      val n = col("n").cast("double")
      (n * dd(s"s_$a$b") - dd(s"s_$a") * dd(s"s_$b")) /
        sqrt((n * dd(s"s_$a$a") - dd(s"s_$a") * dd(s"s_$a")) *
          (n * dd(s"s_$b$b") - dd(s"s_$b") * dd(s"s_$b")))
    }
    val pairs = Seq(("q", "p", "quantity_price"), ("q", "d", "quantity_discount"),
      ("q", "x", "quantity_tax"), ("p", "d", "price_discount"),
      ("p", "x", "price_tax"), ("d", "x", "discount_tax"))
    wide.select(explode(array(pairs.map { case (a, b, nm) =>
        struct(lit(nm).as("pair"), col("n").as("n"), round(r(a, b), 6).as("r"))
      }: _*)).as("s"))
      .select(col("s.pair").as("pair"), col("s.n").as("n"), col("s.r").as("r"))
      .orderBy(col("pair"))
  }

  val q176Sql: String = {
    val cols = Seq("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount", "x" -> "l_tax")
    val singles = cols.map { case (a, c) =>
      s"SUM(CAST($c AS DECIMAL(18,2))) AS s_$a" }
    val products = for { i <- cols.indices; j <- i until cols.length } yield {
      val (ai, ci) = cols(i); val (aj, cj) = cols(j)
      s"SUM(CAST($ci AS DECIMAL(18,2)) * CAST($cj AS DECIMAL(18,2))) AS s_$ai$aj"
    }
    def r(a: String, b: String) =
      s"""(CAST(n AS DOUBLE) * CAST(s_$a$b AS DOUBLE)
         |      - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(s_$a$a AS DOUBLE)
         |        - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(s_$b$b AS DOUBLE)
         |        - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)))""".stripMargin
    val pairs = Seq(("q", "p", "quantity_price"), ("q", "d", "quantity_discount"),
      ("q", "x", "quantity_tax"), ("p", "d", "price_discount"),
      ("p", "x", "price_tax"), ("d", "x", "discount_tax"))
    val arms = pairs.map { case (a, b, nm) =>
      s"SELECT '$nm' AS pair, n, round(${r(a, b)}, 6) AS r FROM wide" }
    s"""WITH wide AS (
       |  SELECT ${(singles ++ products).mkString(",\n    ")},
       |    COUNT(*)::BIGINT AS n
       |  FROM lineitem)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY pair""".stripMargin
  }

  /** Q158: snapshot diff — the CDC/table-versioning face completing the
    * q89 (merge) / q124 (SCD2) / q127 (incremental maintenance) family:
    * given two table versions, classify every key as added / removed /
    * changed / unchanged and emit per-class counts plus an order-
    * independent key checksum (bit_xor over md5-derived integers — the
    * commutative fold that audits WHICH keys changed, not just how
    * many; xor per the ANSI-overflow invariant). Snapshots are derived
    * deterministically from orders (the q89 recipe) so both engines see
    * identical inputs; `changed` compares the columns NUMERICALLY (the
    * +10.0 restatement is the same IEEE op both sides — no double→string
    * formatting, which diverges cross-engine).
    *
    * Scale shape: ONE co-partitioned full-outer shuffle on the key (zero
    * with bucketed storage, q91) + an O(4) aggregate — at 100 TB this is
    * the nightly snapshot-reconciliation pass, never a row-by-row
    * driver compare. */
  def q158SnapshotDiff(t: Tables): DataFrame = {
    val v1 = t.orders.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k1"), col("o_totalprice").as("p1"),
        col("o_orderstatus").as("s1"))
    val v2 = t.orders.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey").as("k2"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("p2"),
        col("o_orderstatus").as("s2"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .withColumn("change_type",
        when(col("k1").isNull, "added")
          .when(col("k2").isNull, "removed")
          .when(col("p1") =!= col("p2") || col("s1") =!= col("s2"), "changed")
          .otherwise("unchanged"))
      .withColumn("khash", conv(substring(
        md5(coalesce(col("k1"), col("k2")).cast("string")), 1, 15), 16, 10)
        .cast("long"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(khash)").as("key_xor"))
      .orderBy(col("change_type"))
  }

  val q158Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey AS k1, o_totalprice AS p1, o_orderstatus AS s1
      |  FROM orders WHERE o_orderkey % 97 <> 0),
      |v2 AS (
      |  SELECT o_orderkey AS k2,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
      |         ELSE o_totalprice END AS p2,
      |    o_orderstatus AS s2
      |  FROM orders WHERE o_orderkey % 89 <> 0),
      |d AS (
      |  SELECT CASE WHEN k1 IS NULL THEN 'added'
      |              WHEN k2 IS NULL THEN 'removed'
      |              WHEN p1 <> p2 OR s1 <> s2 THEN 'changed'
      |              ELSE 'unchanged' END AS change_type,
      |    COALESCE(k1, k2) AS key
      |  FROM v1 FULL OUTER JOIN v2 ON k1 = k2)
      |SELECT change_type, COUNT(*)::BIGINT AS n,
      |  CAST(bit_xor(CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15)
      |    AS BIGINT)) AS BIGINT) AS key_xor
      |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin

  val q89Sql: String =
    """WITH snap AS (
      |  SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal FROM customer),
      |updates AS (
      |  SELECT c_custkey AS u_key, c_name AS u_name, c_acctbal + 1000.0 AS u_acctbal
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1500000 AS u_key, 'NEW-' || c_name AS u_name, 0.0 AS u_acctbal
      |  FROM customer WHERE c_custkey % 100 = 0)
      |SELECT COALESCE(key, u_key) AS key,
      |  COALESCE(u_name, name) AS name,
      |  COALESCE(u_acctbal, acctbal) AS acctbal,
      |  CASE WHEN key IS NULL THEN 'insert'
      |       WHEN u_key IS NULL THEN 'keep'
      |       ELSE 'update' END AS action
      |FROM snap FULL OUTER JOIN updates ON key = u_key
      |ORDER BY key""".stripMargin

  /** Q279: ABC revenue classification (Pareto/80-15-5 inventory
    * analysis — the other classic warehouse segmentation beside q278's
    * RFM): rank parts by exact cents revenue, walk the descending
    * cumulative share, class A while cumulative ≤ 80% of total, B while
    * ≤ 95%, C after; emit the 3-row class census.
    *
    * Exactness: per-row revenue cents = round(extprice·(1−disc)·100) —
    * an integer on both engines (positive product, same IEEE sequence);
    * per-part and cumulative sums exact BIGINTs; the class boundaries
    * are integer cross-multiplications (100·cum ≤ 80·total), no float
    * anywhere until the final share divisions.
    *
    * Scale shape: one lineitem aggregate; the descending cumulative uses
    * the two-phase bucket prefix (revenue-monotone buckets, offsets ride
    * the driver, windows partitioned BY BUCKET — the q144 idiom); the
    * census is a 3-row aggregate. */
  def qAbcClassification(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val rev = t.fanout(t.lineitem)
      .select(col("l_partkey").as("pkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0), 0)
          .cast("long").as("cents"))
      .groupBy(col("pkey")).agg(sum(col("cents")).as("rev"))
      .localCheckpoint() // feeds the stats fetch, bucket sums, and the walk
    val stRow = rev.agg(max(col("rev")), coalesce(sum(col("rev")), lit(0L))).head()
    if (stRow.isNullAt(0))
      return Tables.emptyFrame(t.spark, "class" -> StringType,
        "n_parts" -> LongType, "rev_cents" -> LongType, "share" -> DoubleType)
    val (maxRev, total) = (stRow.getLong(0), stRow.getLong(1))
    val b = rev.withColumn("bkt", expr(s"(rev * 101L) div ${maxRev + 1L}L"))
    // offsets = revenue mass in HIGHER buckets (descending walk)
    val bsums = b.groupBy(col("bkt")).agg(sum(col("rev")).as("br"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    var acc = 0L
    val offs = bsums.map { case (k, v) => val o = (k, acc); acc += v; o }
    import t.spark.implicits._
    val offDf = broadcast(offs.toSeq.toDF("bkt", "off"))
    val w = Window.partitionBy(col("bkt"))
      .orderBy(col("rev").desc, col("pkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(offDf, Seq("bkt"))
      .withColumn("cum", col("off") + sum(col("rev")).over(w))
      .withColumn("class",
        when(col("cum") * 100L <= lit(80L) * total, "A")
          .when(col("cum") * 100L <= lit(95L) * total, "B")
          .otherwise("C"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cents"))
      .select(col("class"), col("n_parts"), col("rev_cents"),
        (col("rev_cents").cast("double") / lit(total.toDouble)).as("share"))
      .orderBy(col("class"))
  }

  /** q279 oracle: the same cents aggregate and integer boundaries, the
    * cumulative as one plain descending window. */
  val qAbcClassificationSql: String =
    """WITH rev AS (
      |  SELECT l_partkey AS pkey,
      |    CAST(SUM(CAST(round(l_extendedprice * (1.0::DOUBLE - l_discount)
      |      * 100.0::DOUBLE) AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |st AS (SELECT CAST(SUM(rev) AS BIGINT) AS total FROM rev),
      |walk AS (
      |  SELECT pkey, rev,
      |    CAST(SUM(rev) OVER (ORDER BY rev DESC, pkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM rev),
      |cls AS (
      |  SELECT CASE WHEN cum * 100 <= 80 * st.total THEN 'A'
      |              WHEN cum * 100 <= 95 * st.total THEN 'B'
      |              ELSE 'C' END AS class, rev, st.total
      |  FROM walk, st)
      |SELECT class, COUNT(*)::BIGINT AS n_parts,
      |  CAST(SUM(rev) AS BIGINT) AS rev_cents,
      |  CAST(SUM(rev) AS DOUBLE) / CAST(ANY_VALUE(total) AS DOUBLE) AS share
      |FROM cls GROUP BY class ORDER BY class""".stripMargin

  /** Q278: RFM customer segmentation (Hughes 1994's recency/frequency/
    * monetary scoring — the classic revenue-analytics partition, still
    * the standard first segmentation every warehouse ships): per
    * purchasing customer, recency = days since last order, frequency =
    * order count, monetary = lifetime spend; each dimension quintiled by
    * exact global rank, segment = the 3-digit RFM code, rolled up to
    * per-segment census + spend.
    *
    * Exactness: monetary keys are exact cents (round(p·100) BIGINT per
    * order, summed); quintile q = ((rank−1)·5) div n + 1 over total-order
    * ranks (key, custkey) — pure integer math; recency score inverts the
    * quintile (recent = 5). Per-segment spend stays a BIGINT cents sum;
    * avg spend is one raw division of exact integers.
    *
    * Scale shape: one orders aggregate; the three global ranks use the
    * bucketRank two-phase prefix (never a single-partition sort); the
    * rollup is a ≤125-row aggregate. */
  def qRfmSegments(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val maxRow = t.orders.agg(max(col("o_orderdate").cast("date"))).head()
    if (maxRow.isNullAt(0))
      return Tables.emptyFrame(t.spark, "segment" -> LongType,
        "n_cust" -> LongType, "orders_sum" -> LongType,
        "m_cents_sum" -> LongType, "avg_spend" -> DoubleType)
    val maxD = maxRow.getDate(0).toString
    val cust = t.orders.groupBy(col("o_custkey").as("ck"))
      .agg(datediff(lit(maxD).cast("date"), max(col("o_orderdate").cast("date")))
          .cast("long").as("r_days"),
        count(lit(1)).as("f"),
        sum(round(col("o_totalprice") * lit(100.0), 0).cast("long")).as("m_cents"))
      .localCheckpoint() // feeds three rank passes + the span fetches
    val n = cust.count()
    val Array(maxR, maxF, maxM) = cust
      .agg(max(col("r_days")), max(col("f")), max(col("m_cents"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    def quintile(keyCol: String, span: Long, out: String)(df: DataFrame): DataFrame =
      TextAnalysis.bucketRank(df, keyCol, span + 1L,
          Seq(col(keyCol), col("ck")), s"${out}_rank")
        .withColumn(out,
          expr(s"((${out}_rank - 1L) * 5L) div ${n}L") + lit(1L))
        .drop(s"${out}_rank")
    val scored = quintile("m_cents", maxM, "q_m")(
      quintile("f", maxF, "q_f")(
        quintile("r_days", maxR, "q_r")(cust)))
      .withColumn("segment",
        (lit(6L) - col("q_r")) * 100L + col("q_f") * 10L + col("q_m"))
    scored.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("f")).as("orders_sum"),
        sum(col("m_cents")).as("m_cents_sum"))
      .select(col("segment"), col("n_cust"), col("orders_sum"),
        col("m_cents_sum"),
        (col("m_cents_sum").cast("double") /
          (lit(100.0) * col("n_cust").cast("double"))).as("avg_spend"))
      .orderBy(col("segment"))
  }

  /** q278 oracle: the same cents-exact aggregate, global ROW_NUMBER ranks
    * (the two-phase prefix is an execution detail), identical integer
    * quintile math. */
  val qRfmSegmentsSql: String =
    """WITH mx AS (SELECT CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS d
      |            FROM orders),
      |cust AS (
      |  SELECT o_custkey AS ck,
      |    CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), mx.d) AS BIGINT)
      |      AS r_days,
      |    COUNT(*)::BIGINT AS f,
      |    CAST(SUM(CAST(round(o_totalprice * 100.0::DOUBLE) AS BIGINT)) AS BIGINT)
      |      AS m_cents
      |  FROM orders, mx GROUP BY o_custkey, mx.d),
      |st AS (SELECT COUNT(*)::BIGINT AS n FROM cust),
      |rk AS (
      |  SELECT ck, r_days, f, m_cents,
      |    CAST(ROW_NUMBER() OVER (ORDER BY r_days, ck) AS BIGINT) AS rr,
      |    CAST(ROW_NUMBER() OVER (ORDER BY f, ck) AS BIGINT) AS rf,
      |    CAST(ROW_NUMBER() OVER (ORDER BY m_cents, ck) AS BIGINT) AS rm
      |  FROM cust),
      |sc AS (
      |  SELECT ck, f, m_cents,
      |    (6 - (((rr - 1) * 5) // st.n + 1)) * 100
      |      + (((rf - 1) * 5) // st.n + 1) * 10
      |      + (((rm - 1) * 5) // st.n + 1) AS segment
      |  FROM rk, st)
      |SELECT CAST(segment AS BIGINT) AS segment, COUNT(*)::BIGINT AS n_cust,
      |  CAST(SUM(f) AS BIGINT) AS orders_sum,
      |  CAST(SUM(m_cents) AS BIGINT) AS m_cents_sum,
      |  CAST(SUM(m_cents) AS DOUBLE)
      |    / (100.0::DOUBLE * CAST(COUNT(*) AS DOUBLE)) AS avg_spend
      |FROM sc GROUP BY segment ORDER BY segment""".stripMargin

  /** Q285: robust location statistics per order priority — the 10%
    * trimmed mean and winsorized mean (Tukey) of order totals, exact to
    * the cent. With rows ranked (cents, o_orderkey) per group and
    * k = ⌊n/10⌋: the trimmed sum covers ranks (k, n−k]; the winsorized sum
    * is the ALGEBRAIC identity trim_sum + k·(lo + hi) where lo/hi are the
    * boundary order statistics — no second clamp pass over the data. Means
    * are single divisions of exact integers (raw-emit rule).
    *
    * Scale shape: one per-group window rank + one aggregate. Groups here
    * are the 5 priorities (~n/5 rows per window task); for a high-
    * cardinality value column at 100 TB the rank phase swaps to the
    * TextAnalysis.bucketRank two-phase prefix — the statistics and the
    * boundary identity are unchanged. */
  def qRobustStats(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("priority")).orderBy(col("cents"), col("o_orderkey"))
    val wn = Window.partitionBy(col("priority"))
    t.orders.select(col("o_orderpriority").as("priority"), col("o_orderkey"),
        round(col("o_totalprice") * lit(100.0), 0).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("k", expr("n div 10L"))
      .groupBy(col("priority"))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        max(when(col("rn") === col("k") + 1L, col("cents"))).as("lo_cents"),
        max(when(col("rn") === col("n") - col("k"), col("cents"))).as("hi_cents"),
        sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"),
          col("cents"))).as("trim_sum_cents"))
      .withColumn("trimmed_mean", col("trim_sum_cents").cast("double") /
        ((col("n") - lit(2L) * col("k")) * lit(100L)).cast("double"))
      .withColumn("winsor_mean",
        (col("trim_sum_cents") + col("k") * (col("lo_cents") + col("hi_cents")))
          .cast("double") / (col("n") * lit(100L)).cast("double"))
      .orderBy(col("priority"))
  }

  /** q285 oracle: same cents grid, same per-priority rank window, same
    * boundary-identity winsorized sum. */
  val qRobustStatsSql: String =
    """WITH r AS (
      |  SELECT o_orderpriority AS priority, o_orderkey,
      |    CAST(round(o_totalprice * 100.0::DOUBLE) AS BIGINT) AS cents
      |  FROM orders),
      |rk AS (
      |  SELECT priority, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY priority
      |                            ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n
      |  FROM r),
      |g AS (
      |  SELECT priority, CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(MAX(n // 10) AS BIGINT) AS k,
      |    CAST(MAX(CASE WHEN rn = n // 10 + 1 THEN cents END) AS BIGINT) AS lo_cents,
      |    CAST(MAX(CASE WHEN rn = n - n // 10 THEN cents END) AS BIGINT) AS hi_cents,
      |    CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN cents END)
      |         AS BIGINT) AS trim_sum_cents
      |  FROM rk GROUP BY priority)
      |SELECT priority, n, k, lo_cents, hi_cents, trim_sum_cents,
      |  CAST(trim_sum_cents AS DOUBLE)
      |    / CAST((n - 2 * k) * 100 AS DOUBLE) AS trimmed_mean,
      |  CAST(trim_sum_cents + k * (lo_cents + hi_cents) AS DOUBLE)
      |    / CAST(n * 100 AS DOUBLE) AS winsor_mean
      |FROM g ORDER BY priority""".stripMargin

  /** Q307: delete-one-group jackknife (Quenouille 1956 / Tukey 1958)
    * variance of the revenue-per-unit RATIO estimator, grouped by
    * supplier nation — the classic survey-statistics answer to "what is
    * the sampling error of a ratio of totals?", where the bootstrap
    * (q232) resamples rows, the grouped jackknife deletes whole
    * correlated blocks. Emits each nation's leave-one-out ratio and the
    * jackknife variance/SE of the full-sample ratio.
    *
    * Exactness: revenue cents and quantity units are exact BIGINTs
    * (q279's cents pattern); each leave-one-out ratio is ONE division of
    * exact integer window differences; ratios enter the variance on the
    * 1e-4 grid (rt = round(R_g·1e4) — cents-scale ratios would overflow
    * the squared-micro sum at 25 groups, documented) so Σrt and Σrt²
    * are exact BIGINTs and the variance is a fixed IEEE sequence of
    * exact integers. ANSI-safe: loo denominators nullif'd.
    *
    * Scale shape: one lineitem aggregate per (suppkey→nation) join
    * (broadcast dims); everything after runs on the ≤25-row nation
    * table. */
  def qJackknifeRatio(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val g = t.fanout(t.lineitem)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0), 0)
          .cast("long").as("cents"),
        round(col("l_quantity"), 0).cast("long").as("qty"))
      .join(broadcast(t.supplier.select(col("s_suppkey").as("l_suppkey"),
        col("s_nationkey"))), Seq("l_suppkey"))
      .join(broadcast(t.nation.select(col("n_nationkey").as("s_nationkey"),
        col("n_name"))), Seq("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("cents")).as("rev_g"), sum(col("qty")).as("qty_g"))
    val loo = g
      .withColumn("gcnt", count(lit(1)).over(w))
      .withColumn("t_rev", sum(col("rev_g")).over(w))
      .withColumn("t_qty", sum(col("qty_g")).over(w))
      .withColumn("loo_ratio",
        (col("t_rev") - col("rev_g")).cast("double") /
          nullif((col("t_qty") - col("qty_g")).cast("double"), lit(0.0)))
      // dollars-per-unit on the 1e-4 grid: cents/100 then ×1e4 ⇒ ×100
      .withColumn("rt",
        round(col("loo_ratio") / lit(100.0) * lit(10000.0), 0).cast("long"))
    loo
      .withColumn("sum_rt", sum(col("rt")).over(w))
      .withColumn("sum_rt2", sum(col("rt") * col("rt")).over(w))
      .withColumn("full_ratio",
        col("t_rev").cast("double") /
          nullif(col("t_qty").cast("double"), lit(0.0)))
      .withColumn("var_jk",
        (col("gcnt") - lit(1L)).cast("double") / col("gcnt").cast("double") *
          (col("sum_rt2").cast("double") / col("gcnt").cast("double") -
            (col("sum_rt").cast("double") / col("gcnt").cast("double")) *
              (col("sum_rt").cast("double") / col("gcnt").cast("double"))) /
          lit(1.0e8))
      .select(col("n_name"), col("rev_g"), col("qty_g"), col("loo_ratio"),
        col("rt"), col("gcnt"), col("full_ratio"), col("var_jk"))
      .orderBy(col("n_name"))
  }

  /** q307 oracle: same cents/units aggregates, window leave-one-out
    * differences, 1e-4-grid variance. */
  val qJackknifeRatioSql: String =
    """WITH li AS (
      |  SELECT l_suppkey,
      |    CAST(round(l_extendedprice * (1.0::DOUBLE - l_discount)
      |      * 100.0::DOUBLE) AS BIGINT) AS cents,
      |    CAST(round(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem),
      |g AS MATERIALIZED (
      |  SELECT n.n_name,
      |    CAST(SUM(li.cents) AS BIGINT) AS rev_g,
      |    CAST(SUM(li.qty) AS BIGINT) AS qty_g
      |  FROM li JOIN supplier s ON s.s_suppkey = li.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  GROUP BY n.n_name),
      |loo AS (
      |  SELECT *,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS gcnt,
      |    CAST(SUM(rev_g) OVER () AS BIGINT) AS t_rev,
      |    CAST(SUM(qty_g) OVER () AS BIGINT) AS t_qty
      |  FROM g),
      |rts AS (
      |  SELECT *,
      |    CAST(t_rev - rev_g AS DOUBLE)
      |      / nullif(CAST(t_qty - qty_g AS DOUBLE), 0.0::DOUBLE) AS loo_ratio,
      |    CAST(round(CAST(t_rev - rev_g AS DOUBLE)
      |      / nullif(CAST(t_qty - qty_g AS DOUBLE), 0.0::DOUBLE)
      |      / 100.0::DOUBLE * 10000.0::DOUBLE) AS BIGINT) AS rt
      |  FROM loo)
      |SELECT n_name, rev_g, qty_g, loo_ratio, rt, gcnt,
      |  CAST(t_rev AS DOUBLE) / nullif(CAST(t_qty AS DOUBLE), 0.0::DOUBLE)
      |    AS full_ratio,
      |  CAST(gcnt - 1 AS DOUBLE) / CAST(gcnt AS DOUBLE)
      |    * (CAST(SUM(rt * rt) OVER () AS DOUBLE) / CAST(gcnt AS DOUBLE)
      |      - (CAST(SUM(rt) OVER () AS DOUBLE) / CAST(gcnt AS DOUBLE))
      |        * (CAST(SUM(rt) OVER () AS DOUBLE) / CAST(gcnt AS DOUBLE)))
      |    / 100000000.0::DOUBLE AS var_jk
      |FROM rts ORDER BY n_name""".stripMargin
}
