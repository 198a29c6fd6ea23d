package graft

import graft.ops.Relational
import org.apache.spark.sql.functions._

/** Error envelopes for the approximate (sketch) aggregates — the 100 TB
  * substitutes for exact distinct/percentile. */
class SketchSpec extends SparkSpec {

  test("HLL++ approx distinct within its envelope (q23, hash-gated boolean)") {
    val rows = Relational.qApproxDistinct(sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("within_5pct")),
        s"${r.getString(0)}: estimate outside the 5% envelope")
    }
  }

  test("q109 HLL rollup: merged daily sketches within 5% of exact, and ≡ direct weekly sketch") {
    val t = sf0001
    // the query itself now folds the estimate into the hash-gated
    // within_5pct envelope column — every row must sit inside it
    val rows = Relational.qHllRollup(t).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("within_5pct")),
        s"week ${r.getLong(0)}: sketch estimate outside the 5% envelope")
    }
    // sketch-reuse consistency: union of per-day sketches estimates the
    // same as one sketch built directly over the week's raw ids
    val ev = t.events.select(col("user_id"), to_date(col("ts")).as("d"))
    val viaUnion = ev
      .groupBy(col("d")).agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .groupBy(weekofyear(col("d")).as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val direct = t.events
      .groupBy(weekofyear(to_date(col("ts"))).as("week"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(viaUnion.keySet == direct.keySet)
    viaUnion.foreach { case (w, u) =>
      val d = direct(w).toDouble
      assert(math.abs(u - d) / d < 0.02, s"week $w: union $u vs direct $d")
    }
  }

  test("q156 CMS: one-sided guarantee for every key and per-row mass conservation") {
    val t = sf0001
    // narrow sketch (w=8) forces collisions — the approximate regime
    val out = ops.EventAnalytics.qCmsFreq(t, w = 8, topK = 50).collect()
    assert(out.nonEmpty)
    // CMS NEVER undercounts: est ≥ exact for every probed key
    out.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2), s"undercount for user ${r.getLong(1)}")
      assert(r.getBoolean(5))
    }
    // with w=8 and ~hundreds of users, collisions must actually occur
    assert(out.exists(_.getLong(4) > 0), "no collisions at w=8 — sketch inert")
    // and at the default width the top keys should be nearly collision-free
    val wide = ops.EventAnalytics.qCmsFreq(t).collect()
    val n = t.events.count().toDouble
    wide.foreach { r =>
      // standard CMS bound: overcount ≤ e/w · N with prob 1 - e^-d per row;
      // min over d=4 rows makes exceeding it on ALL rows vanishingly rare
      assert(r.getLong(4) <= (math.E / ops.EventAnalytics.CmsW) * n * 2,
        s"overcount ${r.getLong(4)} beyond twice the CMS bound")
    }
  }

  test("space-saving exact regime (capacity ≥ vocab): sketch equals groupBy counts, err = 0") {
    import org.apache.spark.sql.GraftBridge
    val toks = sf0001.documents
      .select(explode(graft.functions.text.tokenize(col("text"))).as("tok"))
    val exact = toks.groupBy(col("tok")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sk = toks.agg(GraftBridge.column(
        graft.functions.SpaceSavingTopK(
          GraftBridge.expression(col("tok")), 64).toAggregateExpression()).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est"), col("e.err")).collect()
    assert(sk.length == exact.size)
    sk.foreach { r =>
      assert(r.getLong(1) == exact(r.getString(0)), s"${r.getString(0)} est != exact")
      assert(r.getLong(2) == 0L)
    }
  }

  test("space-saving approximate regime (2-grams, capacity 16): invariants + heavy-hitter guarantee") {
    import org.apache.spark.sql.GraftBridge
    val grams = sf0001.documents
      .select(graft.functions.text.tokenize(col("text")).as("toks"))
      .select(explode(graft.functions.text.ngrams(col("toks"), 2)).as("g"))
    val exact = grams.groupBy(col("g")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    assert(exact.size > 16, s"need eviction pressure, vocab ${exact.size}")
    val cap = 16
    val sk = grams.agg(GraftBridge.column(
        graft.functions.SpaceSavingTopK(
          GraftBridge.expression(col("g")), cap).toAggregateExpression()).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est"), col("e.err")).collect()
    assert(sk.length == cap)
    // total stream weight is conserved across partial buffers + merges
    assert(sk.map(_.getLong(1)).sum == n)
    sk.foreach { r =>
      val t = exact(r.getString(0))
      assert(r.getLong(1) >= t, s"${r.getString(0)}: est below true")
      assert(r.getLong(1) - r.getLong(2) <= t, s"${r.getString(0)}: est-err above true")
    }
    // mergeable-summary guarantee: anything truly heavier than 2n/cap survives
    val present = sk.map(_.getString(0)).toSet
    exact.filter(_._2 > 2L * n / cap).keys.foreach { g =>
      assert(present.contains(g), s"heavy 2-gram '$g' missing from sketch")
    }
  }

  test("space-saving finds the dominant item in a skewed synthetic stream at capacity 8") {
    import org.apache.spark.sql.GraftBridge
    import spark.implicits._
    val rows = (Seq.fill(1000)("hot") ++ (1 to 200).map(i => s"cold_$i")).toDF("x")
      .repartition(13) // adversarial partitioning: force real merges
    val sk = rows.agg(GraftBridge.column(
        graft.functions.SpaceSavingTopK(
          GraftBridge.expression(col("x")), 8).toAggregateExpression()).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est"), col("e.err")).collect()
    val top = sk.maxBy(_.getLong(1))
    assert(top.getString(0) == "hot")
    assert(top.getLong(1) >= 1000L && top.getLong(1) - top.getLong(2) <= 1000L)
  }

  test("t-digest approx percentiles near the exact interpolated values (q60 vs q51)") {
    val approx = Relational.approxPercentiles(sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Relational.q51Percentiles(sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (flag, (p50, p95)) =>
      val (a50, a95) = approx(flag)
      assert(math.abs(a50 - p50) / p50 < 0.02, s"$flag p50 $a50 vs $p50")
      assert(math.abs(a95 - p95) / p95 < 0.02, s"$flag p95 $a95 vs $p95")
    }
    // and the gated rank-error booleans hold on every group
    Relational.qApproxPercentile(sf0001).collect().foreach { r =>
      assert(r.getBoolean(r.fieldIndex("p50_rank_ok")) &&
        r.getBoolean(r.fieldIndex("p95_rank_ok")),
        s"${r.getString(0)}: rank error outside tolerance")
    }
  }
}
