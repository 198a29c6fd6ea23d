package graft

import graft.ops.{Dedup, Relational}
import org.apache.spark.sql.functions._

/** Round-2 additions: pivot/unpivot, deterministic hash sampling, and
  * embedding-cosine near-dup dedup. */
class PivotSampleSpec extends SparkSpec {

  test("q61 pivot equals the equivalent case-when aggregate") {
    val t = sf0001
    val got = Relational.q61Pivot(t).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = t.lineitem.groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_linestatus") === "F", col("l_extendedprice"))
          .cast("decimal(18,2)")).cast("double").as("f"),
        sum(when(col("l_linestatus") === "O", col("l_extendedprice"))
          .cast("decimal(18,2)")).cast("double").as("o"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == want)
  }

  test("q62 unpivot emits one row per (flag, metric) with matching values") {
    val t = sf0001
    val rows = Relational.q62Unpivot(t).collect()
    val flags = t.lineitem.select(col("l_returnflag")).distinct().count()
    assert(rows.length == flags * 2)
    assert(rows.map(_.getString(1)).toSet == Set("sum_qty", "sum_price"))
  }

  test("q63 hash sample is deterministic and near the 13/256 rate") {
    val t = sf0001
    val a = Relational.q63HashSample(t).collect()
    val b = Relational.q63HashSample(t).collect()
    assert(a.toSeq == b.toSeq) // same rows in the same order, run to run
    val total = t.lineitem.count().toDouble
    val rate = a.length / total
    assert(rate > 0.02 && rate < 0.09, s"rate $rate")
  }

  test("q65 stratified sample rates follow the per-stratum thresholds") {
    val t = sf0001
    val sampled = Relational.q65StratifiedSample(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = t.lineitem.groupBy(col("l_returnflag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = Map("A" -> 2.0 / 256, "N" -> 8.0 / 256, "R" -> 32.0 / 256)
    expect.foreach { case (flag, p) =>
      val rate = sampled.getOrElse(flag, 0L).toDouble / totals(flag)
      assert(math.abs(rate - p) < 3 * math.sqrt(p * (1 - p) / totals(flag)) + 0.01,
        s"$flag rate $rate vs $p")
    }
  }

  test("q64 components: representative is the min member id and sizes sum to n") {
    val t = sf0001
    val rows = Dedup.qDedupEmbedding(t).collect()
    val n = t.embeddings.count()
    assert(rows.map(_.getLong(1)).sum == n)
    // every keep_id is a real vec_id and unique
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
    // a near-dup pair's endpoints share a component, so at most one of
    // them can be a representative
    val reps = ids.toSet
    val pairs = ops.Similarity.cosinePairsExact(t.embeddings, 0.4)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (x, y) =>
      assert(!(reps.contains(x) && reps.contains(y)),
        s"pair ($x,$y) spans two representatives")
    }
  }

  test("q100: weighted sample is partitioning-invariant and weight-monotone") {
    val t = sf0001
    val base = ops.Relational.q100WeightedSample(t).collect()
    // deterministic under a different physical layout (hash membership,
    // not TABLESAMPLE): identical aggregates after an 11-way repartition
    val reparted = ops.Relational.weightedSampleAgg(t.lineitem.repartition(11))
    assert(reparted.collect().toSeq == base.toSeq)
    // PPS property: the sampled mean quantity must exceed the population
    // mean (heavier rows are more likely to be drawn)
    val sampledMean = base.map(r => r.getDouble(r.fieldIndex("sum_qty"))).sum /
      base.map(_.getLong(1)).sum
    val popMean = t.lineitem.agg(avg(col("l_quantity"))).head().getDouble(0)
    assert(sampledMean > popMean,
      s"PPS sample mean $sampledMean not above population mean $popMean")
  }
  test("q279 ABC: matches an in-memory Pareto walk; classes conserve") {
    val t = sf0001
    val rows = t.lineitem.selectExpr("l_partkey", "l_extendedprice", "l_discount")
      .collect().map(r => (r.getLong(0),
        math.round(r.getDouble(1) * (1.0 - r.getDouble(2)) * 100.0)))
    val rev = rows.groupBy(_._1).map { case (p, rs) => (p, rs.map(_._2).sum) }.toSeq
    val total = rev.map(_._2).sum
    var cum = 0L
    val classes = rev.sortBy { case (p, r) => (-r, p) }.map { case (_, r) =>
      cum += r
      (if (cum * 100L <= 80L * total) "A"
       else if (cum * 100L <= 95L * total) "B" else "C", r)
    }
    val expected = classes.groupBy(_._1).map { case (c, rs) =>
      (c, rs.length.toLong, rs.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    val got = Relational.qAbcClassification(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected)
    assert(got.map(_._3).sum == total)
    assert(got.map(_._1).toSet == Set("A", "B", "C"))
  }

  test("q278 RFM: matches an in-memory quintile recompute") {
    val t = sf0001
    val orders = t.orders.selectExpr("o_custkey",
        "cast(o_orderdate as date) as d", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDate(1), r.getDouble(2)))
    val maxD = orders.map(_._2.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val cust = orders.groupBy(_._1).map { case (ck, os) =>
      val last = os.map(_._2.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
      (ck, maxD.toEpochDay - last.toEpochDay,
        os.length.toLong, os.map(o => math.round(o._3 * 100.0)).sum)
    }.toSeq
    val n = cust.length.toLong
    def quint(key: Seq[(Long, Long)]): Map[Long, Long] =
      key.sortBy(identity).zipWithIndex.map { case ((_, ck), i) =>
        ck -> ((i.toLong * 5L) / n + 1L)
      }.toMap
    val qr = quint(cust.map(c => (c._2, c._1)).map { case (k, ck) => (k, ck) })
    val qf = quint(cust.map(c => (c._3, c._1)))
    val qm = quint(cust.map(c => (c._4, c._1)))
    val expected = cust.groupBy(c =>
        (6L - qr(c._1)) * 100L + qf(c._1) * 10L + qm(c._1))
      .map { case (seg, cs) =>
        (seg, cs.length.toLong, cs.map(_._3).sum, cs.map(_._4).sum)
      }.toSeq.sortBy(_._1)
    val got = Relational.qRfmSegments(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected)
    assert(got.map(_._2).sum == n)
  }

  test("q285 robust stats: matches an in-memory trimmed/winsorized recompute") {
    val t = sf0001
    val rows = t.orders.selectExpr("o_orderpriority", "o_orderkey", "o_totalprice")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100.0)))
    val got = Relational.qRobustStats(t).collect()
    assert(got.nonEmpty)
    got.foreach { g =>
      val cents = rows.filter(_._1 == g.getString(0))
        .sortBy(x => (x._3, x._2)).map(_._3)
      val n = cents.length; val k = n / 10
      val trimmed = cents.slice(k, n - k)
      assert(g.getLong(1) == n.toLong); assert(g.getLong(2) == k.toLong)
      assert(g.getLong(3) == cents(k))
      assert(g.getLong(4) == cents(n - k - 1))
      assert(g.getLong(5) == trimmed.sum)
      // winsorized sum via explicit clamp equals the boundary identity
      val winsor = cents.map(c =>
        math.max(cents(k), math.min(cents(n - k - 1), c))).sum
      assert(g.getLong(5) + k * (cents(k) + cents(n - k - 1)) == winsor)
      assert(math.abs(g.getDouble(6) -
        trimmed.sum.toDouble / ((n - 2 * k) * 100).toDouble) < 1e-9)
      assert(math.abs(g.getDouble(7) - winsor.toDouble / (n * 100).toDouble) < 1e-9)
    }
  }

  test("q307 jackknife: matches an in-memory leave-one-out recompute") {
    val t = sf0001
    val rows = t.lineitem
      .join(t.supplier, expr("l_suppkey = s_suppkey"))
      .join(t.nation, expr("s_nationkey = n_nationkey"))
      .selectExpr("n_name",
        "cast(round(l_extendedprice * (1.0 - l_discount) * 100.0) as long) as cents",
        "cast(round(l_quantity) as long) as qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val g = rows.groupBy(_._1).map { case (nm, xs) =>
      (nm, xs.map(_._2).sum, xs.map(_._3).sum) }.toSeq.sortBy(_._1)
    val tRev = g.map(_._2).sum; val tQty = g.map(_._3).sum
    val gc = g.length.toLong
    val rts = g.map { case (_, rev, qty) =>
      val loo = (tRev - rev).toDouble / (tQty - qty).toDouble
      math.floor(loo / 100.0 * 10000.0 + 0.5).toLong
    }
    val sumRt = rts.sum; val sumRt2 = rts.map(x => x * x).sum
    val varJk = (gc - 1).toDouble / gc.toDouble *
      (sumRt2.toDouble / gc.toDouble -
        (sumRt.toDouble / gc.toDouble) * (sumRt.toDouble / gc.toDouble)) / 1.0e8
    val got = graft.ops.Relational.qJackknifeRatio(t).collect()
    assert(got.length == g.length)
    got.zip(g.zip(rts)).foreach { case (r, ((nm, rev, qty), rt)) =>
      assert(r.getString(0) == nm)
      assert(r.getLong(1) == rev); assert(r.getLong(2) == qty)
      assert(math.abs(r.getDouble(3) -
        (tRev - rev).toDouble / (tQty - qty).toDouble) < 1e-9)
      assert(r.getLong(4) == rt)
      assert(r.getLong(5) == gc)
      assert(math.abs(r.getDouble(6) - tRev.toDouble / tQty.toDouble) < 1e-9)
      assert(math.abs(r.getDouble(7) - varJk) < 1e-12)
    }
  }
}
