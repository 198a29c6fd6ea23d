package graft

import org.apache.spark.sql.functions._

/** q94 data profiling: one aggregate pass for all non-distinct stats,
  * separate exact-distinct aggregates joined back (q23 lesson: never mix
  * multiple COUNT(DISTINCT)s — or a distinct with a sketch — in one agg). */
class ProfilingSpec extends SparkSpec {

  test("q126: expectations pass on clean data and catch an injected violation") {
    val t = sf0001
    val rows = graft.ops.Profiling.qExpectations(t).collect()
    assert(rows.length == 5)
    // the synthetic tables are clean by construction: all checks green
    rows.foreach { r =>
      assert(r.getBoolean(3), s"${r.getString(0)}: ${r.getLong(2)} violations")
      assert(r.getLong(1) > 0)
    }
    // sanity of the violation arithmetic: a duplicated event_id set must
    // report exactly n duplicates on the uniqueness check's own formula
    import org.apache.spark.sql.functions._
    val ev = t.events.limit(10)
    val dup = ev.unionAll(ev)
    val viol = dup.agg((count(lit(1)) - countDistinct(col("event_id"))).as("v"))
      .head().getLong(0)
    assert(viol == 10L, s"expected 10 injected duplicates, got $viol")
  }

  test("q127: merged state is split-invariant (the mergeable-monoid property)") {
    import graft.ops.Relational
    // merge(state@d, batch@d) must equal the full recompute for ANY split
    // point — three different splits, identical results
    val results = Seq("1994-06-01", "1997-01-01", "1998-12-01")
      .map(d => Relational.qIncrementalAgg(sf0001, d).collect().map(_.toSeq).toSeq)
    assert(results.distinct.size == 1, "merge result depends on the split point")
  }

  test("q158: snapshot diff classes partition the key universe with exact counts") {
    val t = sf0001
    val out = ops.Relational.q158SnapshotDiff(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val keys = t.orders.select("o_orderkey").collect().map(_.getLong(0))
    def cnt(p: Long => Boolean) = keys.count(p).toLong
    // v1 = %97 survivors, v2 = %89 survivors; changed ⇔ in both ∧ %7=0
    assert(out("added")._1 == cnt(k => k % 97 == 0 && k % 89 != 0))
    assert(out("removed")._1 == cnt(k => k % 97 != 0 && k % 89 == 0))
    assert(out("changed")._1 == cnt(k => k % 97 != 0 && k % 89 != 0 && k % 7 == 0))
    assert(out("unchanged")._1 == cnt(k => k % 97 != 0 && k % 89 != 0 && k % 7 != 0))
    // the xor checksums of disjoint classes fold to the xor over the union
    val allXor = out.values.map(_._2).reduce(_ ^ _)
    val direct = ops.Relational.q158SnapshotDiff(t)
      .agg(expr("bit_xor(key_xor)")).head().getLong(0)
    assert(allXor == direct)
  }

  test("q176: correlation matrix is bounded and matches Spark's own corr()") {
    val t = sf0001
    val out = ops.Relational.q176Correlation(t).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out.size == 6)
    out.values.foreach(r => assert(r >= -1.0 && r <= 1.0))
    // cross-check two pairs against the built-in (floating) estimator
    val ref = t.lineitem.agg(
      corr(col("l_quantity"), col("l_extendedprice")),
      corr(col("l_discount"), col("l_tax"))).head()
    assert(math.abs(out("quantity_price") - ref.getDouble(0)) < 1e-6)
    assert(math.abs(out("discount_tax") - ref.getDouble(1)) < 1e-6)
  }

  test("q175: weighted median satisfies the defining mass inequalities") {
    val t = sf0001
    val rows = ops.Relational.q175WeightedMedian(t).collect()
    assert(rows.nonEmpty)
    val li = t.lineitem
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP),
        r.getLong(2)))
    rows.foreach { r =>
      val (flag, m, tw) = (r.getString(0), BigDecimal(r.getDouble(1)), r.getLong(2))
      val grp = li.filter(_._1 == flag)
      assert(tw == grp.map(_._3).sum)
      // defining property of the lower weighted median
      val below = grp.filter(_._2 < m).map(_._3).sum
      val upto = grp.filter(_._2 <= m).map(_._3).sum
      assert(below * 2 < tw, s"$flag: too much mass strictly below $m")
      assert(upto * 2 >= tw, s"$flag: mass up to $m doesn't reach half")
    }
  }

  test("q173/q174: chi-square and Benford recompute from first principles") {
    val t = sf0001
    val chi = ops.Profiling.q173ChiSquare(t).collect().head
    val cells = t.documents.groupBy("source", "lang").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val n = cells.map(_._2).sum.toDouble
    val rt = cells.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val ct = cells.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val terms = cells.map { case ((s, l), o) =>
      val e = (rt(s) * ct(l)).toDouble / n
      BigDecimal(r6((o - e) * (o - e) / e))
    }
    assert(chi.getDouble(0) == terms.sum.toDouble)
    assert(chi.getLong(1) == (rt.size - 1).toLong * (ct.size - 1))
    assert(chi.getLong(2) == n.toLong)
    val ben = ops.Profiling.q174Benford(t).collect()
    assert(ben.nonEmpty && ben.map(_.getLong(1)).sum == t.orders.count())
    // probability masses each sum to ~1 over the digits present
    assert(math.abs(ben.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    ben.foreach { r =>
      assert(r.getLong(0) >= 1 && r.getLong(0) <= 9)
      assert(r.getDouble(4) == math.abs(r.getDouble(2) - r.getDouble(3)))
    }
  }

  test("q171: FK audit edges agree with direct anti-join probes") {
    val t = sf0001
    val out = ops.Profiling.q171FkAudit(t).collect()
    assert(out.length == 7)
    out.foreach { r =>
      assert(r.getBoolean(5) == (r.getLong(3) == 0L))
      assert(r.getLong(3) >= 0 && r.getLong(4) >= 0 && r.getLong(2) > 0)
    }
    // spot-check one edge against a direct computation
    val li = out.find(_.getString(0) == "lineitem.l_orderkey").get
    val orphans = t.lineitem.join(
      t.orders.select(col("o_orderkey").as("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_anti").count()
    assert(li.getLong(3) == orphans && li.getLong(2) == t.lineitem.count())
  }

  test("q162: FD verdicts agree with direct distinct-count probes") {
    val t = sf0001
    val out = ops.Profiling.q162FdDiscovery(t).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getBoolean(5) == (r.getLong(3) == r.getLong(4)))
      assert(r.getLong(6) == r.getLong(4) - r.getLong(3) && r.getLong(6) >= 0)
    }
    // key-determined FDs must hold; the nationkey → mktsegment attribute
    // pair must fail on any data with >1 segment per nation
    val byDet = out.map(r => r.getString(1) -> r.getBoolean(5)).toMap
    assert(byDet("n_nationkey") && byDet("o_orderkey"))
    val segs = t.customer.groupBy("c_nationkey")
      .agg(countDistinct("c_mktsegment").as("s"))
      .agg(max("s")).head().getLong(0)
    assert(byDet("c_nationkey") == (segs <= 1))
  }

  test("q94: per-column stats are consistent with direct queries") {
    val t = sf0001
    val out = ops.Profiling.q94Profile(t).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("l_orderkey", "l_quantity", "l_extendedprice",
      "l_returnflag", "l_shipdate"))

    val total = t.lineitem.count()
    out.values.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == total, r.toString) // n + n_null
    }
    val flags = t.lineitem.select(countDistinct(col("l_returnflag"))).head().getLong(0)
    assert(out("l_returnflag").getLong(3) == flags)
    val minKey = t.lineitem.agg(min(col("l_orderkey"))).head().getLong(0)
    assert(out("l_orderkey").getString(4) == minKey.toString)
    // decimal-cast formatting is fixed-scale (trailing zeros kept)
    assert(out("l_extendedprice").getString(4).matches("""\d+\.\d\d"""))
    assert(out("l_shipdate").getString(4).matches("""\d{4}-\d{2}-\d{2}"""))
  }

  test("q113: skew audit rows agree with direct per-key computations") {
    val t = sf0001
    val rows = ops.Profiling.qSkewAudit(t).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("l_partkey", "l_suppkey", "l_orderkey"))
    val total = t.lineitem.count()
    Seq("l_partkey", "l_suppkey", "l_orderkey").foreach { k =>
      val r = rows(k)
      assert(r.getLong(1) == total, s"$k n_rows")
      val counts = t.lineitem.groupBy(col(k)).agg(count(lit(1)).as("c"))
      assert(r.getLong(2) == counts.count(), s"$k n_keys")
      assert(r.getLong(3) == counts.agg(max(col("c"))).head().getLong(0), s"$k max_cnt")
      val top10 = counts.orderBy(col("c").desc, col(k)).limit(10)
        .agg(sum(col("c"))).head().getLong(0)
      assert(math.abs(r.getDouble(5) - top10.toDouble / total) < 1e-6, s"$k top10_share")
      assert(r.getDouble(4) >= 1.0 - 1e-9, s"$k skew_ratio >= 1 (max >= mean)")
    }
  }

  test("q114: pre-flight est_rows EXACTLY equals the executed join's output") {
    val t = sf0001
    val rows = ops.Profiling.qJoinPreflight(t).collect()
      .map(r => r.getString(0) -> r).toMap
    val liOrders = t.lineitem.join(t.orders,
      col("l_orderkey") === col("o_orderkey")).count()
    assert(rows("lineitem_orders").getLong(4) == liOrders)
    val self = t.lineitem.select(col("l_partkey").as("a"))
      .join(t.lineitem.select(col("l_partkey").as("b")), col("a") === col("b")).count()
    assert(rows("lineitem_self_partkey").getLong(4) == self)
    // orders/part at sf0.001 are well under the broadcast threshold
    assert(rows("lineitem_orders").getString(6) == "broadcast")
    assert(rows("lineitem_part").getString(6) == "broadcast")
  }

  test("q199 deletion cascade: every count matches an independent semi-join recompute") {
    val t = sf0001
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Profiling.q199DeletionCascade(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem"))
    val seed = t.customer.filter(col("c_acctbal") < 0).select("c_custkey")
    val delOrders = t.orders.join(seed, col("o_custkey") === col("c_custkey"), "left_semi")
    val wantCust = (seed.count(), t.customer.count())
    val wantOrd = (delOrders.count(), t.orders.count())
    val wantLine = (t.lineitem.join(delOrders.select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count(), t.lineitem.count())
    Seq("customer" -> wantCust, "orders" -> wantOrd, "lineitem" -> wantLine).foreach {
      case (tb, (nd, nt)) =>
        val (gd, gt, fr) = rows(tb)
        assert((gd, gt) == ((nd, nt)), s"$tb: got ($gd,$gt) want ($nd,$nt)")
        assert(fr == nd.toDouble / nt.toDouble)
    }
    // the cascade actually cascades at this SF
    assert(rows("customer")._1 > 0 && rows("orders")._1 > 0 && rows("lineitem")._1 > 0)
  }
}
