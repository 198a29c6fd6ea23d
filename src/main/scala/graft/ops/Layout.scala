package graft.ops

import graft.{Shared, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Storage-layout operators — the two techniques that decide whether a
  * 100 TB fact⋈fact workload shuffles the lake per query or not:
  *
  *  - '''bucketing''' (q91): both join sides written `bucketBy(join key)` +
  *    `sortBy` → every subsequent sort-merge join on that key needs NO
  *    Exchange and NO Sort; the shuffle is paid ONCE at write time and
  *    amortized over every later query. BucketingSpec asserts the
  *    no-Exchange plan; q91 puts the result under the driver's hash gate.
  *  - '''partitioned layout + partition pruning''' (q93): the table written
  *    `partitionBy(low-cardinality column)` → a filter on that column
  *    prunes whole directories at planning time (PartitionFilters in the
  *    scan, files never opened). At 100 TB this is the difference between
  *    scanning 5 TB and 100 TB for a per-language slice.
  *
  * Both queries physically WRITE the laid-out copy into a per-SF temp dir
  * once per session (a `graft.Shared` entry), then answer from it. The
  * layout step is a deliberate part of the measured work: it is exactly
  * what a production pipeline pays at ingest, and re-using it across bench
  * reps mirrors how the amortization works on a cluster. Results are
  * layout-independent, so the DuckDB oracles run on the original parquet.
  */
object Layout {

  private def dsum2(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Both laid-out copies live under one temp dir per (session, sfDir),
    * and the tables carry the same scope tag: two live sessions on one
    * sfDir get disjoint metastore tables and temp dirs (no overwrite race),
    * and a restarted session rebuilds instead of reading a stopped
    * session's catalog. */
  private def layoutRoot(t: Tables): java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-layout-${Shared.scopeTag(t)}")

  /** Write lineitem + orders bucketed by their join key (8 buckets, sorted
    * within buckets), projected to the columns q91 needs — a pruned write,
    * like a real ingest job materializing a join-optimized layout. */
  private def ensureBucketed(t: Tables): (String, String) =
    Shared(t, "bucketed_layout") {
      val tag = Shared.scopeTag(t)
      val (liName, ordName) = (s"graft_li_bkt_$tag", s"graft_ord_bkt_$tag")
      val root = layoutRoot(t)
      t.lineitem
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
        .write.mode("overwrite")
        .option("path", root.resolve("lineitem_bkt").toString)
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liName)
      t.orders
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite")
        .option("path", root.resolve("orders_bkt").toString)
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordName)
      (liName, ordName)
    }

  /** Build both laid-out copies (idempotent per session and sfDir). Bench
    * calls this in its sfDir warmup so q91/q93 measure QUERY time off the
    * layout, not the one-time ingest write the layout amortizes away —
    * mirroring a cluster where the bucketed/partitioned table already
    * exists. Verify (correctness) still pays it inline, which is fine:
    * results are layout-independent. */
  def prepare(t: Tables): Unit = {
    ensureBucketed(t)
    ensurePartitionedDocs(t)
  }

  /** The co-located join itself, pre-aggregation — exposed so BucketingSpec
    * can assert the physical plan has no Exchange under the join. The merge
    * hint forces the sort-merge path (a broadcast would also skip the
    * shuffle here, but only because the test orders table is small — the
    * bucketed SMJ is the shape that survives fact⋈fact at 100 TB). */
  def bucketedJoined(t: Tables): DataFrame = {
    val (liName, ordName) = ensureBucketed(t)
    t.spark.table(liName).hint("merge")
      .join(t.spark.table(ordName), col("l_orderkey") === col("o_orderkey"))
  }

  /** Q91: revenue by order priority × return flag off the bucketed layout.
    * Plan: bucketed scan → zero-Exchange SMJ → partial agg → shuffle of
    * O(groups) rows. The only full-width shuffle in the query's lifetime
    * happened at layout time. Oracle: the same join/agg in ANSI SQL on the
    * original parquet — results are layout-independent by definition. */
  def q91BucketedJoin(t: Tables): DataFrame =
    bucketedJoined(t)
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"), col("l_returnflag"))

  val q91Sql: String =
    """SELECT o_orderpriority, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority, l_returnflag
      |ORDER BY o_orderpriority, l_returnflag""".stripMargin

  /** Write documents partitioned by lang (hive-style directories). */
  private def ensurePartitionedDocs(t: Tables): String =
    Shared(t, "lang_partitioned_docs") {
      val dir = layoutRoot(t).resolve("docs_by_lang").toString
      t.documents.write.mode("overwrite").partitionBy("lang").parquet(dir)
      dir
    }

  /** Q93: per-language corpus stats answered from the lang-partitioned
    * layout with a partition-pruning filter — the scan opens only the
    * en/de directories (PartitionFilters; asserted in BucketingSpec). At
    * 100 TB with ~40 language partitions this reads ~2/40ths of the lake.
    * Oracle: same aggregate on the unpartitioned original. */
  def q93PartitionPrune(t: Tables): DataFrame = {
    // explicit schema: a 0-row source writes no data files and inference
    // fails; partition discovery (and pruning) still applies
    val docs = t.spark.read.schema(t.documents.schema)
      .parquet(ensurePartitionedDocs(t))
    docs.filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("source"))
  }

  /** Exposed for the pruning plan assertion. */
  def partitionPrunedScan(t: Tables): DataFrame =
    t.spark.read.schema(t.documents.schema)
      .parquet(ensurePartitionedDocs(t))
      .filter(col("lang").isin("en", "de"))

  val q93Sql: String =
    """SELECT lang, source, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IN ('en', 'de')
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** Q154: Z-order layout skipping audit — the third storage-layout
    * technique after bucketing (q91) and hive partitioning (q93):
    * MULTI-dimensional clustering for min/max file skipping (the
    * Delta/Iceberg `OPTIMIZE ZORDER BY` idea; Morton 1966). Orders are
    * mapped to a 2-D Morton curve over (o_custkey, order day): each dim
    * is value-bucketed to 16 bits against its min/max range, the buckets
    * bit-interleaved into a 32-bit z-value, and the top 6 z-bits name the
    * target file (≤64 files) — a pure scan-stage expression, NO global
    * sort (range-partitioning by z-prefix is exactly how a distributed
    * writer lays the curve out; at 100 TB the file assignment stays
    * embarrassingly parallel). The audit compares per-file min/max spans
    * and probe-hit counts against a LINEAR (date-only) layout: linear
    * gives perfect date spans but every file spans the full custkey
    * range; z-order shrinks BOTH dims ~√files, so a point query on
    * EITHER dim skips most files. Output: one verdict row per layout
    * (the q95/q121 audit pattern) — all columns exact BIGINT arithmetic
    * (bit ops per the q131 precedent, floor-div bucketing on positive
    * ints), so the whole audit is hash-gated.
    *
    * Scale shape: one 4-long stats fetch (the BM25 bounded-parameter
    * contract), one scan computing both file ids map-side, ONE shuffle of
    * 2·n tagged rows into the per-(layout, file) aggregate, then an
    * O(files) second aggregate. */
  def q154ZorderLayout(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.spark
    val o = t.orders.select(
      col("o_custkey").cast("long").as("ck"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("dd"))
    val st = o.agg(min(col("ck")), max(col("ck")), min(col("dd")), max(col("dd")))
      .collect().head
    if (st.isNullAt(0))
      return Tables.emptyFrame(spark, "layout" -> StringType,
        "n_files" -> LongType, "n_rows" -> LongType,
        "sum_ck_span" -> LongType, "sum_d_span" -> LongType,
        "files_hit_ck" -> LongType, "files_hit_d" -> LongType)
    val (ckLo, ckHi, ddLo, ddHi) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    // probes: each dim's midpoint — the representative point query
    val ckP = (ckLo + ckHi) / 2
    val ddP = (ddLo + ddHi) / 2
    val b = o
      .withColumn("bck", expr(s"((ck - ${ckLo}L) * 65536L) div ${ckHi - ckLo + 1}L"))
      .withColumn("bdd", expr(s"((dd - ${ddLo}L) * 65536L) div ${ddHi - ddLo + 1}L"))
    // Morton interleave: 32 fixed integer terms (even bits ← custkey,
    // odd bits ← day) — identical >>/&/<< arithmetic in the oracle
    val zval = (0 until 16).map { i =>
      shiftleft(shiftright(col("bck"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("bdd"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    val tagged = b
      .withColumn("zf", shiftright(zval, 26))
      .withColumn("lf", shiftright(col("bdd"), 10))
      .select(explode(array(
        struct(lit("linear").as("layout"), col("lf").as("f"), col("ck"), col("dd")),
        struct(lit("zorder").as("layout"), col("zf").as("f"), col("ck"), col("dd")))).as("r"))
      .select(col("r.layout").as("layout"), col("r.f").as("f"),
        col("r.ck").as("ck"), col("r.dd").as("dd"))
    tagged
      .groupBy(col("layout"), col("f"))
      .agg(count(lit(1)).as("n"),
        min(col("ck")).as("fcklo"), max(col("ck")).as("fckhi"),
        min(col("dd")).as("fddlo"), max(col("dd")).as("fddhi"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n")).as("n_rows"),
        sum(col("fckhi") - col("fcklo")).as("sum_ck_span"),
        sum(col("fddhi") - col("fddlo")).as("sum_d_span"),
        sum(when(col("fcklo") <= ckP && col("fckhi") >= ckP, 1L).otherwise(0L))
          .as("files_hit_ck"),
        sum(when(col("fddlo") <= ddP && col("fddhi") >= ddP, 1L).otherwise(0L))
          .as("files_hit_d"))
      .orderBy(col("layout"))
  }

  /** q155's target bytes per output file. */
  final val CompactionTarget = 65536L

  /** Q155: compaction planner — the small-files fix every 100 TB lake
    * runs nightly (Delta OPTIMIZE / Iceberg rewrite_data_files): pack
    * documents in doc_id (write) order into target-size output files of
    * `CompactionTarget` chars, and emit the per-file manifest (doc range, size).
    * File assignment is floor(exclusive-prefix-chars / CompactionTarget) — the
    * deterministic bin layout a compactor materializes.
    *
    * Scale shape: the global prefix sum uses the q144 two-phase
    * distributed form, NOT a single-partition window: doc_ids bucket by
    * range into ≤256 value-monotone buckets (width from a min/max fetch
    * — scale-independent), per-bucket char sums ride the driver, offsets
    * broadcast back, and the cumulative window runs partitioned BY
    * BUCKET. Concatenated (bucket, doc_id) order equals the global
    * doc_id order, so the prefix — and every file boundary — is exact.
    * All-BIGINT arithmetic; the oracle replays it with a naive global
    * window (plans differ, results hash-equal — the q144 contract). */
  def q155CompactionPlan(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.spark
    val d = t.documents.select(col("doc_id"), col("n_chars").cast("long").as("nc"))
    val st = d.agg(min(col("doc_id")), max(col("doc_id"))).collect().head
    if (st.isNullAt(0))
      return Tables.emptyFrame(spark, "file_id" -> LongType,
        "n_docs" -> LongType, "sum_chars" -> LongType,
        "first_doc" -> LongType, "last_doc" -> LongType)
    val (lo, hi) = (st.getLong(0), st.getLong(1))
    val width = (hi - lo + 256L) / 256L // ≤256 buckets at any scale
    val b = d.withColumn("bucket", ((col("doc_id") - lit(lo)) / lit(width)).cast("long"))
    val sums = b.groupBy(col("bucket")).agg(sum(col("nc")).as("bchars"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (bk, s) => val o = (bk, acc); acc += s; o }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("bucket", "offset"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(offDf, Seq("bucket"))
      .withColumn("cum_before", col("offset") + sum(col("nc")).over(w) - col("nc"))
      .withColumn("file_id", expr(s"cum_before div ${CompactionTarget}L"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("file_id"))
  }

  def q155Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
       |    COALESCE(CAST(SUM(n_chars) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS cum_before
       |  FROM documents)
       |SELECT cum_before // $CompactionTarget AS file_id,
       |  COUNT(*)::BIGINT AS n_docs, CAST(SUM(nc) AS BIGINT) AS sum_chars,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM d GROUP BY file_id ORDER BY file_id""".stripMargin

  /** q154 oracle: the identical integer program — `//` floor-div matches
    * Spark's `div` on these non-negative values, `>>`/`&`/`<<` match
    * shiftright/bitwiseAND/shiftleft on BIGINT (the q131 precedent). */
  val q154Sql: String = {
    val terms = (0 until 16).map { i =>
      s"(((bck >> $i) & 1) << ${2 * i}) + (((bdd >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH o AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS ck,
       |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS dd
       |  FROM orders),
       |st AS (SELECT min(ck) AS cklo, max(ck) AS ckhi,
       |              min(dd) AS ddlo, max(dd) AS ddhi,
       |              (min(ck) + max(ck)) // 2 AS ckp,
       |              (min(dd) + max(dd)) // 2 AS ddp FROM o),
       |b AS (
       |  SELECT ck, dd,
       |    ((ck - cklo) * 65536) // (ckhi - cklo + 1) AS bck,
       |    ((dd - ddlo) * 65536) // (ddhi - ddlo + 1) AS bdd
       |  FROM o, st),
       |z AS (SELECT ck, dd, bdd, ($terms) AS zval FROM b),
       |tagged AS (
       |  SELECT 'linear' AS layout, bdd >> 10 AS f, ck, dd FROM z
       |  UNION ALL
       |  SELECT 'zorder' AS layout, zval >> 26 AS f, ck, dd FROM z),
       |pf AS (
       |  SELECT layout, f, COUNT(*)::BIGINT AS n,
       |    min(ck) AS fcklo, max(ck) AS fckhi,
       |    min(dd) AS fddlo, max(dd) AS fddhi
       |  FROM tagged GROUP BY layout, f)
       |SELECT layout, COUNT(*)::BIGINT AS n_files,
       |  CAST(SUM(n) AS BIGINT) AS n_rows,
       |  CAST(SUM(fckhi - fcklo) AS BIGINT) AS sum_ck_span,
       |  CAST(SUM(fddhi - fddlo) AS BIGINT) AS sum_d_span,
       |  CAST(SUM(CASE WHEN fcklo <= st.ckp AND fckhi >= st.ckp
       |                THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_ck,
       |  CAST(SUM(CASE WHEN fddlo <= st.ddp AND fddhi >= st.ddp
       |                THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_d
       |FROM pf, st
       |GROUP BY layout ORDER BY layout""".stripMargin
  }
}
