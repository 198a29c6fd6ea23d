package graft

import org.apache.spark.sql.functions._

/** Bucketing (the 100 TB co-located-join story): both sides written
  * bucketed by the join key → the sort-merge join needs NO Exchange.
  * At cluster scale this is how repeated fact⋈fact joins avoid
  * re-shuffling 100 TB per query. */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    // warehouse.dir is a static conf — tables land in ./spark-warehouse
    // (gitignored) under the default metastore
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")

    sf0001.lineitem.select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    sf0001.orders.select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q"), max(col("o_totalprice")).as("p"))

    // force a sort-merge path so bucketing (not broadcast) carries the join
    val smj = joined.hint("merge")
    val plan = smj.queryExecution.executedPlan.toString
    val joinSection = plan.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"),
      "bucketed join still shuffles the lineitem side:\n" + plan.take(2000))

    // and it is correct
    val viaBuckets = smj.orderBy("l_orderkey").limit(5).collect()
    val plain = sf0001.lineitem
      .join(sf0001.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q"), max(col("o_totalprice")).as("p"))
      .orderBy("l_orderkey").limit(5).collect()
    assert(viaBuckets.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  test("q91: gate query's bucketed SMJ has no exchange and matches plain join") {
    val t = sf0001
    val joined = ops.Layout.bucketedJoined(t)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed gate join still shuffles a side:\n" + plan.take(2000))

    val viaBuckets = ops.Layout.q91BucketedJoin(t).collect()
    val plain = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy(col("o_orderpriority"), col("l_returnflag"))
      .collect()
    assert(viaBuckets.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("q93: lang-partitioned layout prunes to the filtered partitions") {
    val t = sf0001
    val read = ops.Layout.partitionPrunedScan(t)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1500))
    // result parity with the unpartitioned original
    val expected = t.documents.filter(col("lang").isin("en", "de")).count()
    assert(read.count() == expected && expected > 0)
  }

  test("q154: z-order layout shrinks both dims' file spans vs linear") {
    val t = sf001
    val rows = ops.Layout.q154ZorderLayout(t).collect()
      .map(r => r.getString(0) -> r).toMap
    val lin = rows("linear"); val zo = rows("zorder")
    // both layouts place every order exactly once
    val n = t.orders.count()
    assert(lin.getLong(2) == n && zo.getLong(2) == n)
    // linear (date-only) layout: every file spans ~the full custkey range,
    // so the custkey point probe hits EVERY file (and the date probe
    // exactly one — the one thing linear is good at)
    assert(lin.getLong(5) == lin.getLong(1),
      s"linear files_hit_ck ${lin.getLong(5)} != n_files ${lin.getLong(1)}")
    assert(lin.getLong(6) == 1L, s"linear files_hit_d ${lin.getLong(6)}")
    // z-order: the custkey probe skips most files (hits ≤ half), while
    // the date probe also skips most — multi-dim skipping, the point of
    // the curve
    assert(zo.getLong(5) * 2 <= zo.getLong(1),
      s"zorder files_hit_ck ${zo.getLong(5)} of ${zo.getLong(1)}")
    assert(zo.getLong(6) * 2 <= zo.getLong(1),
      s"zorder files_hit_d ${zo.getLong(6)} of ${zo.getLong(1)}")
    // z-order's total custkey span is far below linear's (which is
    // ~n_files × full range)
    assert(zo.getLong(3) * 2 < lin.getLong(3),
      s"zorder sum_ck_span ${zo.getLong(3)} vs linear ${lin.getLong(3)}")
  }

  test("q155: compaction plan preserves every char in contiguous bounded files") {
    val t = sf001
    val target = ops.Layout.CompactionTarget
    val files = ops.Layout.q155CompactionPlan(t).collect()
    val totalChars = t.documents.agg(sum(col("n_chars"))).head().getLong(0)
    val maxDoc = t.documents.agg(max(col("n_chars"))).head().getLong(0)
    // nothing lost, file ids contiguous from 0
    assert(files.map(_.getLong(2)).sum == totalChars)
    assert(files.map(_.getLong(0)).toSeq == (0L until files.length).toSeq)
    // each file holds the docs whose prefix START falls in its [kT,(k+1)T)
    // stripe, so its size is < target + one straddling doc
    files.foreach { f =>
      assert(f.getLong(2) < target + maxDoc, s"file ${f.getLong(0)} oversize")
    }
    // doc ranges are disjoint and ordered (the manifest is a valid plan)
    files.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) < b.getLong(3))
      case _ =>
    }
    assert(files.length >= (totalChars / (target + maxDoc)).toInt)
  }

  test("q92: passage dedup keeps exactly the distinct passages, null on empty") {
    val t = sf0001
    val out = ops.TextAnalysis.qPassageDedup(t).cache()
    val keptTotal = out.agg(sum("n_kept")).head().getLong(0)
    // corpus-wide keep-first ⇒ kept passages = distinct passages
    val toks = t.documents.select(col("doc_id"),
      graft.functions.text.tokenize(col("text")).as("toks"))
    val nDistinct = toks.select(explode(expr(
      """transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),
        |           i -> array_join(slice(toks, i * 10 + 1, 10), ' '))""".stripMargin)).as("p"))
      .select("p").distinct().count()
    assert(keptTotal == nDistinct, s"kept $keptTotal vs distinct $nDistinct")
    // dedup_text is null exactly when nothing survives
    assert(out.filter(col("n_kept") === 0 && col("dedup_text").isNotNull).count() == 0)
    assert(out.filter(col("n_kept") > 0 && col("dedup_text").isNull).count() == 0)
    out.unpersist()
  }
}
