package graft

import graft.ops.EventAnalytics
import org.apache.spark.sql.functions._

/** Funnel / cohort-retention semantics the hash gate can't express:
  * monotonicity, an independent driver-side recompute of the funnel walk,
  * and cohort conservation laws. */
class EventAnalyticsSpec extends SparkSpec {

  test("q124: SCD2 intervals are contiguous, half-open, with one open row per key") {
    val rows = graft.ops.EventAnalytics.qScd2(sf0001).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      // exactly one current (open) interval per key
      assert(rs.count(_.getBoolean(4)) == 1, s"user $u: open-interval count != 1")
      val sorted = rs.sortBy(r => (r.getTimestamp(2).getTime, r.getLong(1)))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // contiguity: this row's valid_to IS the next row's valid_from
          assert(a.getTimestamp(3) == b.getTimestamp(2), s"user $u: gap in history")
          assert(!a.getBoolean(4), s"user $u: non-final row marked current")
        case _ =>
      }
      assert(sorted.last.getBoolean(4) && sorted.last.get(3) == null)
    }
  }

  test("q104: stage counts are monotone and match an independent per-user walk") {
    val t = sf0001
    val row = EventAnalytics.qFunnel(t).head()
    val (n1, n2, n3) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(n1 >= n2 && n2 >= n3)
    assert(n1 > 0)

    // independent recompute: walk each user's sorted events directly
    val byUser = t.events.select(col("user_id"), col("event_type"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      .groupBy(_._1)
    val windowMs = 12L * 3600 * 1000
    var (c1, c2, c3) = (0L, 0L, 0L)
    byUser.values.foreach { evs =>
      val t1 = evs.filter(_._2 == "view").map(_._3.getTime).minOption
      t1.foreach { v =>
        c1 += 1
        val t2 = evs.filter(e => e._2 == "click" && e._3.getTime >= v &&
          e._3.getTime < v + windowMs).map(_._3.getTime).minOption
        t2.foreach { c =>
          c2 += 1
          val t3 = evs.filter(e => e._2 == "purchase" && e._3.getTime >= c &&
            e._3.getTime < c + windowMs).map(_._3.getTime).minOption
          t3.foreach(_ => c3 += 1)
        }
      }
    }
    assert((n1, n2, n3) == ((c1, c2, c3)),
      s"plan ($n1,$n2,$n3) vs driver walk ($c1,$c2,$c3)")
  }

  test("q106: top session paths match an independent driver-side sessionization") {
    val t = sf0001
    val got = EventAnalytics.qSessionPaths(t).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // independent recompute with plain Scala collections
    val evs = t.events.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val gapUs = 1800L * 1000000L
    def micros(ts: java.sql.Timestamp): Long =
      (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000
    val paths = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (micros(r._4), r._2))
      val sessions = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[String])
      var prevUs = Long.MinValue
      sorted.foreach { r =>
        val us = micros(r._4)
        if (prevUs != Long.MinValue && us - prevUs > gapUs)
          sessions += scala.collection.mutable.ArrayBuffer.empty[String]
        sessions.last += r._3
        prevUs = us
      }
      sessions.map(_.take(5).mkString(">"))
    }
    val expect = paths.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got == expect, s"got ${got.take(3)}… expected ${expect.take(3)}…")
  }

  test("q107: z-scores are centered per type and flag the extremes") {
    val rows = EventAnalytics.qVolumeAnomaly(sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      // z of a column against its own mean/std: sums to ~0, spread to ~1
      val zs = rs.map(r => r.getDouble(r.fieldIndex("z")))
      assert(math.abs(zs.sum) < 1e-3, s"$tpe: z does not center, sum=${zs.sum}")
      val sampleVar = zs.map(z => z * z).sum / (zs.length - 1)
      assert(math.abs(sampleVar - 1.0) < 1e-3, s"$tpe: z variance $sampleVar")
    }
  }

  test("q108: PSI deciles conserve both halves and stay small on stationary data") {
    val t = sf0001
    val rows = graft.ops.Profiling.qDriftPsi(t).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val total = t.events.count()
    assert(rows.map(_.getLong(1)).sum + rows.map(_.getLong(2)).sum == total)
    // first-half deciles are near-equal by construction (NTILE)
    val n1s = rows.map(_.getLong(1))
    assert(n1s.max - n1s.min <= 1)
    // synthetic values are stationary across halves: total PSI below the
    // conventional 0.1 "no shift" line
    val psi = rows.map(r => r.getDouble(r.fieldIndex("psi_term"))).sum
    assert(psi < 0.1, s"unexpected drift: PSI=$psi")
  }

  test("q160: OLS trend equals a from-scratch normal-equation recompute") {
    val t = sf0001
    val got = EventAnalytics.qDailyTrend(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    val daily = t.events
      .select(col("event_type"), datediff(col("ts").cast("date"), lit("2024-01-01")).as("x"))
      .groupBy("event_type", "x").count().collect()
      .map(r => (r.getString(0), r.getInt(1).toLong, r.getLong(2)))
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxy = rows.map(r => r._2 * r._3).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      val icept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
      val (gn, gs, gi) = got(et)
      assert(gn == n && gs == slope && gi == icept, s"$et: ($gn,$gs,$gi) vs ($n,$slope,$icept)")
      // fitted line must reproduce the mean point (an OLS identity)
      assert(math.abs(gs * (sx.toDouble / n) + gi - sy.toDouble / n) < 1e-9)
    }
  }

  test("q177: rolling 7-day actives equal a brute-force per-window recount") {
    val t = sf0001
    val got = EventAnalytics.qRollingActive(t).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2))).toSeq
    assert(got.nonEmpty)
    val days = t.events
      .select(col("event_type"), col("user_id"), col("ts").cast("date"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDate(2).toLocalDate))
    got.foreach { case (et, end, n) =>
      val expect = days.filter { case (e, _, d) =>
        e == et && !d.isAfter(end) && d.isAfter(end.minusDays(7))
      }.map(_._2).distinct.length.toLong
      assert(n == expect, s"$et @ $end: $n vs $expect")
    }
    // every (type, day-with-activity) has a window row
    assert(got.length == days.map(d => (d._1, d._3)).distinct.length)
  }

  test("q170: A/B readout recomputes from a driver-side two-proportion test") {
    val t = sf0001
    val r = EventAnalytics.qAbTest(t).collect().head
    val (na, nb, ca, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // arms partition the user population; conversions bounded by arms
    assert(na + nb == t.events.select("user_id").distinct().count())
    assert(ca <= na && cb <= nb && na > 0 && nb > 0)
    // the hash split must be roughly balanced (binomial tail bound — the
    // sf0.001 population is ~50 users, so the noise floor is wide)
    assert(math.abs(na - nb).toDouble / (na + nb) <= 0.3)
    val (ra, rb) = (ca.toDouble / na, cb.toDouble / nb)
    val p = (ca + cb).toDouble / (na + nb)
    val z = (rb - ra) / math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    assert(r.getDouble(4) == ra && r.getDouble(5) == rb && r.getDouble(6) == z)
    // a null-effect split of the SAME metric should not be wildly significant
    assert(math.abs(z) < 5.0, s"hash split shows |z| = $z — assignment is biased")
  }

  test("q167: TTL classes partition rows and agree with a direct recount") {
    val t = sf0001
    val out = EventAnalytics.qTtlPlan(t).collect()
    assert(out.nonEmpty)
    val cutoff = java.sql.Date.valueOf("2024-01-15")
    val direct = t.events.select(col("event_type"), col("ts").cast("date").as("d"))
      .collect().map(r => (r.getString(0), r.getDate(1)))
    out.foreach { r =>
      val et = r.getString(0)
      val rows = direct.filter(_._1 == et)
      val byDay = rows.groupBy(_._2)
      assert(r.getLong(1) == byDay.size)
      val drop = byDay.filter(_._1.before(cutoff))
      // daily partitions are either fully expired or fully live — the
      // mixed class can only appear on a sub-day cutoff
      assert(r.getLong(2) == drop.size && r.getLong(3) == 0L)
      assert(r.getLong(4) == drop.values.map(_.length.toLong).sum)
      assert(r.getLong(5) == 0L)
    }
  }

  test("q168: pseudonymization preserves the join structure on every type") {
    val out = EventAnalytics.qPseudonymize(sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5),
        s"${r.getString(0)}: remap broke structure")
    }
    // and a salt change yields different pseudonyms but the same verdicts
    val other = EventAnalytics.qPseudonymize(sf0001, salt = "other")
      .collect()
    assert(other.forall(r => r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5)))
  }

  test("q163: gap fill yields a dense spine whose non-gap rows match the raw counts") {
    val t = sf0001
    val out = EventAnalytics.qGapFill(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    // dense: per type, hours are contiguous lo..hi
    out.groupBy(_._1).foreach { case (_, rows) =>
      val hrs = rows.map(_._2).sorted
      assert(hrs.zip(hrs.head to hrs.last).forall { case (a, b) => a == b })
    }
    // non-gap rows carry the true hourly count; gap rows repeat the last one
    val truth = t.events.groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.foreach { case (et, hr, filled, gap) =>
      if (!gap) assert(truth((et, hr)) == filled)
      else {
        assert(!truth.contains((et, hr)))
        val prev = out.filter(r => r._1 == et && r._2 < hr && !r._4)
        assert(filled == truth((et, prev.map(_._2).max)))
      }
    }
  }

  test("q164: pair supports are bounded by marginals and lift recomputes") {
    val t = sf0001
    val rows = EventAnalytics.qCoOccurrence(t).collect()
    assert(rows.nonEmpty)
    val nb = t.events.select(col("user_id"), col("ts").cast("date")).distinct().count()
    rows.foreach { r =>
      val (sup, sa, sb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sup <= math.min(sa, sb) && sa <= nb && sb <= nb)
      assert(r.getString(0) < r.getString(1))
      assert(r.getDouble(5) == (sup * nb).toDouble / (sa * sb).toDouble)
    }
  }

  test("q161: MAD stats equal a from-scratch robust recompute") {
    val t = sf0001
    val got = EventAnalytics.qMadAnomaly(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val daily = t.events
      .groupBy(col("event_type"), col("ts").cast("date").as("day")).count()
      .collect().map(r => (r.getString(0), r.getLong(2)))
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      // linear-interpolation percentile at p=0.5 (the percentile/
      // quantile_cont definition): index (n-1)/2
      val idx = (n - 1) * 0.5
      val lo = s(idx.toInt)
      if (idx == idx.floor) lo else lo + (idx - idx.floor) * (s(idx.toInt + 1) - lo)
    }
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val ys = rows.map(_._2.toDouble).toSeq
      val med = medianOf(ys)
      val adevs = ys.map(y => math.abs(y - med))
      val mad = medianOf(adevs)
      val nAnom = adevs.count(_ > 3.0 * 1.4826 * mad).toLong
      val (gn, gmed, gmad, ga) = got(et)
      assert(gn == ys.length && gmed == med && gmad == mad && ga == nAnom,
        s"$et: ($gn,$gmed,$gmad,$ga) vs (${ys.length},$med,$mad,$nAnom)")
    }
  }

  test("q105: day-0 rows conserve users and activity never exceeds cohort size") {
    val t = sf0001
    val rows = EventAnalytics.qRetention(t).collect()
    val day0 = rows.filter(_.getInt(1) == 0)
      .map(r => r.getDate(0) -> r.getLong(2)).toMap
    // every cohort has a day-0 row (a user is active on their first day)
    val cohorts = rows.map(_.getDate(0)).distinct
    assert(cohorts.forall(day0.contains))
    // all cohort day-0 sizes sum to the distinct-user population
    val users = t.events.select(col("user_id")).distinct().count()
    assert(day0.values.sum == users)
    // no (cohort, offset) cell can exceed its cohort's size; offsets ≥ 0
    rows.foreach { r =>
      assert(r.getInt(1) >= 0)
      assert(r.getLong(2) <= day0(r.getDate(0)))
    }
  }

  test("q182 overlap matrix: set algebra invariants + sketch envelopes hold") {
    val t = sf0001
    val rows = EventAnalytics.qAudienceOverlap(t).collect()
    assert(rows.nonEmpty)
    // exact set algebra: inter ≤ min(a,b), union ≥ max(a,b), inclusion-exclusion
    rows.foreach { r =>
      val (a, b, inter, union) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(inter <= math.min(a, b) && union >= math.max(a, b))
      assert(union == a + b - inter)
      assert(r.getBoolean(6) && r.getBoolean(7), s"envelope violated: $r")
    }
    // pairs are canonically ordered and unique
    val pairs = rows.map(r => (r.getString(0), r.getString(1)))
    assert(pairs.forall { case (x, y) => x < y })
    assert(pairs.distinct.length == pairs.length)
    // exact intersection spot-check against a driver recompute
    val byType = t.events.select("event_type", "user_id").distinct().collect()
      .groupBy(_.getString(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    rows.foreach { r =>
      val want = (byType(r.getString(0)) intersect byType(r.getString(1))).size.toLong
      assert(r.getLong(4) == want)
    }
  }

  test("q192 seasonal decomposition: identity holds; trend/flag match a driver recompute") {
    val t = sf0001
    val rows = EventAnalytics.qSeasonalDecomp(t).collect()
    assert(rows.nonEmpty)
    // daily series per type, recomputed directly
    val daily = rows.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val types = rows.map(_.getString(0)).distinct
    var sawAnomaly = false
    rows.foreach { r =>
      val (tp, x, y) = (r.getString(0), r.getLong(1), r.getLong(2))
      val window = (x - 3 to x + 3).flatMap(d => daily.get((tp, d)))
      if (window.length == 7) {
        assert(!r.isNullAt(3))
        assert(r.getDouble(3) == window.sum.toDouble / 7.0, s"trend mismatch at ($tp,$x)")
      } else assert(r.isNullAt(3), s"trend on incomplete window at ($tp,$x)")
      if (!r.isNullAt(5)) {
        // decomposition identity: y = trend + seasonal + resid
        val recomposed = r.getDouble(3) + r.getDouble(4) + r.getDouble(5)
        assert(math.abs(recomposed - y.toDouble) < 1e-9, s"identity broken at ($tp,$x)")
        // flag = |resid| above half the type's daily mean
        val typeDays = rows.filter(_.getString(0) == tp)
        val ybar = typeDays.map(_.getLong(2)).sum.toDouble / typeDays.length
        val want = math.abs(r.getDouble(5)) > 0.5 * ybar
        assert(r.getBoolean(6) == want, s"flag mismatch at ($tp,$x)")
        if (r.getBoolean(6)) sawAnomaly = true
      } else assert(r.isNullAt(6))
    }
    // every (type, day) cell appears exactly once
    assert(rows.length == rows.map(r => (r.getString(0), r.getLong(1))).distinct.length)
    assert(types.nonEmpty)
  }

  test("q194 interarrival fit: lambda and the KS statistic match a driver recompute") {
    val t = sf0001
    val rows = EventAnalytics.qInterarrivalFit(t).collect()
    assert(rows.nonEmpty)
    // driver-side gaps per (type, user) at exact µs resolution
    def micros(ts: java.sql.Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    val evs = t.events.select(col("event_type"), col("user_id"), col("event_id"), col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), micros(r.getTimestamp(3))))
    val gapsByType = evs.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((tp, _), es) =>
      es.sortBy(e => (e._4, e._3)).map(_._4).toSeq
        .sliding(2).collect { case Seq(a, b) => (tp, b - a) }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val tp = r.getString(0)
      val gaps = gapsByType(tp)
      assert(r.getLong(1) == gaps.length, s"$tp gap count")
      assert(r.getLong(2) == gaps.sum, s"$tp gap sum")
      val n = gaps.length
      val lam = n.toDouble / (gaps.sum.toDouble / 1000000.0)
      assert(r.getDouble(3) == lam)
      // full KS recompute over the sorted gaps (tie permutations cannot
      // change the max: the (rank, value) multiset is order-invariant)
      val d = BigDecimal(gaps.zipWithIndex.map { case (g, i) =>
        val fx = 1.0 - math.exp(-(lam * (g.toDouble / 1000000.0)))
        math.max((i + 1).toDouble / n.toDouble - fx, fx - i.toDouble / n.toDouble)
      }.max).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == d, s"$tp ks_d ${r.getDouble(4)} vs $d")
      assert(r.getBoolean(5) == (d * math.sqrt(n.toDouble) > 1.36))
    }
  }

  test("q190 attribution edges: Markov-chain flow conservation laws hold") {
    val t = sf0001
    val edges = EventAnalytics.attributionEdges(t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(edges.nonEmpty)
    val outflow = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val inflow = edges.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // absorbing states never emit; START never receives
    assert(!outflow.contains("conv") && !outflow.contains("null"))
    assert(!inflow.contains("START"))
    // every session opens once (START outflow) and closes once (conv+null inflow)
    assert(outflow("START") == inflow.getOrElse("conv", 0L) + inflow.getOrElse("null", 0L))
    // transient channels conserve flow: every entry is followed by an exit
    // (the truncated journey continues until an absorbing state)
    val channels = (outflow.keySet ++ inflow.keySet) -- Set("START", "conv", "null")
    channels.foreach { c =>
      assert(inflow.getOrElse(c, 0L) == outflow.getOrElse(c, 0L),
        s"flow not conserved at $c")
    }
  }

  test("q190 removal effects: non-negative, bounded, attribution sums to 1") {
    val t = sf0001
    val rows = EventAnalytics.qMarkovAttribution(t).collect()
    assert(rows.nonEmpty)
    val base = rows.head.getDouble(1)
    assert(base > 0.0 && base <= 1.0)
    var attrSum = 0.0
    rows.foreach { r =>
      assert(r.getDouble(1) == base) // same base on every row
      val removed = r.getDouble(2)
      val effect = r.getDouble(3)
      // removing a channel cannot increase conversion (up to micro rounding
      // accumulated over 12 fixed-point rounds)
      assert(removed >= -1e-4 && removed <= base + 1e-4, s"removed=$removed")
      assert(math.abs(effect - (base - removed)) < 1e-9)
      assert(effect >= -1e-4, s"negative removal effect: $r")
      if (!r.isNullAt(4)) attrSum += r.getDouble(4)
    }
    assert(math.abs(attrSum - 1.0) < 1e-5, s"attribution sum $attrSum")
  }

  test("q215 CUSUM: prefix identity equals the clamped recurrence; alarms recompute") {
    val t = sf0001
    val rows = EventAnalytics.qCusum(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(6), r.getLong(7), r.getBoolean(8), r.getBoolean(9)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (et, g) =>
      val seq = g.sortBy(_._2)
      val dd = seq.head._4; val tot = seq.head._5
      assert(dd == seq.length && tot == seq.map(_._3).sum)
      val ssq = seq.map(r => r._3 * r._3).sum
      // the ACTUAL clamped recurrences the windows claim to equal
      var sPos = 0L; var sNeg = 0L
      seq.foreach { case (_, _, x, _, _, gotPos, gotNeg, aPos, aNeg) =>
        val zs = dd * x - tot
        sPos = math.max(0L, sPos + zs)
        sNeg = math.max(0L, sNeg - zs)
        assert(gotPos == sPos && gotNeg == sNeg,
          s"$et: prefix identity diverges from the recurrence")
        val thresh = 16.0 * (dd * ssq - tot * tot).toDouble
        assert(aPos == (sPos.toDouble * sPos.toDouble > thresh))
        assert(aNeg == (sNeg.toDouble * sNeg.toDouble > thresh))
      }
    }
  }

  test("q220 transition entropy: recomputes from the q190 edge table") {
    val t = sf0001
    val edges = EventAnalytics.attributionEdges(t)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val rows = EventAnalytics.qTransitionEntropy(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(5), r.getLong(6)))
    assert(rows.nonEmpty && rows.map(_._1).toSet == edges.map(_._1).toSet)
    def r0(x: Double): Long = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    rows.foreach { case (state, nOut, tot, hMicro, topTo, topCnt) =>
      val es = edges.filter(_._1 == state)
      assert(nOut == es.length && tot == es.head._4)
      assert(tot == es.map(_._3).sum, s"$state totals inconsistent")
      val h = es.map { case (_, _, c, tt) =>
        r0(c.toDouble / tt.toDouble * math.log(tt.toDouble / c.toDouble) * 1e6)
      }.sum
      assert(hMicro == h, s"$state entropy $hMicro want $h")
      val best = es.minBy { case (_, to, c, _) => (-c, to) }
      assert(topTo == best._2 && topCnt == best._3)
      // a deterministic next step (n_out == 1) must mean zero entropy
      if (nOut == 1) assert(hMicro == 0L)
    }
  }

  test("q221 Kaplan-Meier: product limit recomputes from raw user latencies") {
    val t = sf0001
    val rows = EventAnalytics.qKaplanMeier(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getDouble(5)))
    assert(rows.nonEmpty)
    // raw per-user latencies + censoring from the events table
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L
    val ev = t.events.select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), micros(r.getTimestamp(1)), r.getString(2)))
    // .toSeq BEFORE mapping to (latency, death) pairs: mapping a Map to
    // Tuple2s yields a Map and DEDUPES equal latencies (the r5 Set.map
    // invariant, Map variant)
    val perUser = ev.groupBy(_._1).toSeq.map { case (_, g) =>
      val first = g.map(_._2).min
      val purch = g.filter(_._3 == "purchase").map(_._2).minOption
      val last = g.map(_._2).max
      purch match {
        case Some(p) => ((p - first) / 60000000L, true)
        case None    => ((last - first) / 60000000L, false)
      }
    }
    def r0(x: Double): Long = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // sequential product-limit over the full time axis
    val times = perUser.map(_._1).distinct.sorted
    var atRisk = perUser.size.toLong
    var cum = 0L; var zeroed = false
    val expect = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Option[Long], Double)]
    times.foreach { tm =>
      val d = perUser.count { case (x, dead) => x == tm && dead }.toLong
      val c = perUser.count { case (x, dead) => x == tm && !dead }.toLong
      if (d > 0 && d < atRisk)
        cum += r0(math.log((atRisk - d).toDouble / atRisk.toDouble) * 1e6)
      if (d > 0 && d == atRisk) zeroed = true
      if (d > 0) expect(tm) = (d, c, atRisk,
        if (zeroed) None else Some(cum),
        if (zeroed) 0.0
        else BigDecimal(math.exp(cum.toDouble / 1e6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      atRisk -= d + c
    }
    assert(rows.length == expect.size)
    rows.foreach { case (tm, d, c, n, lnS, s) =>
      val (ed, ec, en, elnS, es) = expect(tm)
      assert(d == ed && c == ec && n == en, s"t=$tm counts")
      assert(lnS == elnS && s == es, s"t=$tm survival")
    }
    // survival is non-increasing
    val ss = rows.sortBy(_._1).map(_._6)
    assert(ss.zip(ss.tail).forall { case (a, b) => b <= a + 1e-9 })
  }

  test("q222 log-rank: O/E/V recompute; group split covers every user") {
    // sf0.001 exercises the degenerate one-group branch (no view-first
    // user exists there); sf0.01 the real test
    Seq(sf0001, sf001).foreach { t => checkLogRank(t) }
  }

  private def checkLogRank(t: Tables): Unit = {
    val row = EventAnalytics.qLogRank(t).head()
    val (n1, n2, o1, e1m, vm) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    val users = t.events.select("user_id").distinct().count()
    assert(n1 + n2 == users, "groups must partition the user base")
    if (vm > 0) {
      val chi2 = row.getDouble(7)
      val expChi = math.pow((o1 * 1000000L - e1m).toDouble, 2) / (vm.toDouble * 1e6)
      assert(math.abs(chi2 - expChi) < 1e-9)
      assert(row.getBoolean(8) == (chi2 > 3.841))
    } else {
      // a degenerate split (one empty group, e.g. sf0.001 has no
      // view-first user) must surface as NULL chi2, not a crash or 0/0
      assert(o1 == 0L && e1m == 0L)
      assert(row.isNullAt(7) && row.isNullAt(8))
    }
    // E1 is a weighted share of total deaths: 0 <= E1 <= total deaths
    val km = EventAnalytics.qKaplanMeier(t).collect()
    val totalDeaths = km.map(_.getLong(1)).sum
    assert(o1 <= totalDeaths && e1m <= totalDeaths * 1000000L)
  }

  test("q222 zero-deaths branch: group sizes stay defined with no purchases") {
    // ADVICE r10: with zero death-times the aggregate previously collapsed
    // to an all-NULL row; group sizes must come from the unfiltered
    // per-time table. Synthesize the branch by dropping every purchase.
    val t = sf0001
    val dir = java.nio.file.Files.createTempDirectory("graft-logrank0").toString
    t.events.filter(col("event_type") =!= "purchase")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val t0 = Tables(spark, dir)
    val row = EventAnalytics.qLogRank(t0).head()
    val users = t0.events.select("user_id").distinct().count()
    assert(row.getLong(0) + row.getLong(1) == users,
      "groups must partition the user base even with zero deaths")
    assert(row.getLong(2) == 0L && row.getLong(3) == 0L && row.getLong(4) == 0L)
    assert(row.isNullAt(7) && row.isNullAt(8))
  }

  test("q221/q222 precondition: the global windows run over a horizon-bounded minute grid") {
    // The survival queries' unpartitioned windows are scale-safe ONLY
    // because they range over DISTINCT latency minutes, whose cardinality
    // is bounded by the event horizon — not the corpus (VERDICT r10 item
    // 6: pin the bound so a data change to e.g. second-resolution
    // latencies can't silently turn them into corpus-scale
    // single-partition sorts).
    Seq(sf0001, sf001).foreach { t =>
      val span = t.events.agg(
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("us"),
        count(lit(1)).as("n")).head()
      val horizonMinutes = span.getLong(0) / 60000000L + 1
      val nEvents = span.getLong(1)
      val grid = t.events.groupBy(col("user_id")).agg(
          ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            / lit(60000000L)).as("t_min"))
        .select(col("t_min")).distinct().count()
      assert(grid <= horizonMinutes,
        s"${t.sfDir}: ${grid} grid rows exceed the ${horizonMinutes}-minute horizon")
      assert(grid * 10 <= nEvents,
        s"${t.sfDir}: minute grid (${grid}) is not small vs the corpus ($nEvents)")
    }
  }

  test("q235 lateness profile: sequential recompute; drop counts monotone in delay") {
    val t = sf0001
    val rows = EventAnalytics.qLatenessProfile(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 5L, 15L, 60L))
    // independent sequential walk in event_id (arrival) order
    val evs = t.events.select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var runMax = Long.MinValue
    val lates = evs.map { case (_, us) =>
      val l = if (runMax == Long.MinValue) 0L else math.max(runMax - us, 0L)
      runMax = math.max(runMax, us)
      l
    }
    rows.foreach { case (d, n, nl, frac, mx) =>
      assert(n == evs.length.toLong)
      val want = lates.count(_ > d * 60000000L).toLong
      assert(nl == want, s"delay $d: n_late $nl want $want")
      assert(frac == nl.toDouble / n)
      assert(mx == lates.max)
    }
    // more delay can only drop fewer events
    val byDelay = rows.sortBy(_._1).map(_._3)
    assert(byDelay.zip(byDelay.tail).forall { case (a, b) => b <= a })
    // corpus-shape consistency, not a textbook range (the q203 rule): the
    // synthetic history is ingestion-ordered, so the profile certifies
    // ZERO required watermark slack — assert it matches the walk's verdict
    assert((rows.head._3 == 0) == lates.forall(_ == 0L))
  }

  test("q239 CUPED / q240 DiD: recompute from an in-memory user panel") {
    val t = sf0001
    // independent panel rebuild: md5 arm + pre/post counts per user
    val cutoff = java.time.LocalDate.parse("2024-01-03")
    val mdInst = java.security.MessageDigest.getInstance("MD5")
    def arm(u: Long): Long = {
      val hex = mdInst.digest(s"exp1:$u".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val panel = t.events.select(col("user_id"), col("ts").cast("date"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1).map { case (u, es) =>
        (arm(u), es.count(_._2.isBefore(cutoff)).toLong,
          es.count(e => !e._2.isBefore(cutoff)).toLong)
      }.toSeq
    val a = panel.filter(_._1 == 0); val b = panel.filter(_._1 == 1)

    val cu = EventAnalytics.qCuped(t).head()
    assert(cu.getLong(0) == a.length && cu.getLong(1) == b.length)
    assert(cu.getDouble(2) == a.map(_._3).sum.toDouble / a.length)
    assert(cu.getDouble(3) == b.map(_._3).sum.toDouble / b.length)
    val n = panel.length.toDouble
    val (sx, sy) = (panel.map(_._2).sum, panel.map(_._3).sum)
    val sxy = panel.map(p => p._2 * p._3).sum
    val sxx = panel.map(p => p._2 * p._2).sum
    val theta = (n * sxy - sx.toDouble * sy) / (n * sxx - sx.toDouble * sx)
    assert(math.abs(cu.getDouble(4) - theta) < 1e-9, s"theta ${cu.getDouble(4)} want $theta")
    // variance reduction is a correlation² — in (0, 1], and the adjusted
    // arm means preserve the pooled mean structure
    val vr = cu.getDouble(7)
    assert(vr > 0.0 && vr <= 1.0)

    val dd = EventAnalytics.qDiffInDiff(t).head()
    assert(dd.getLong(0) == a.length && dd.getLong(1) == b.length)
    def mean(xs: Seq[Long]): Double = xs.sum.toDouble / xs.length
    assert(dd.getDouble(2) == mean(a.map(_._2)) && dd.getDouble(3) == mean(a.map(_._3)))
    assert(dd.getDouble(4) == mean(b.map(_._2)) && dd.getDouble(5) == mean(b.map(_._3)))
    val didExp = mean(b.map(p => p._3 - p._2)) - mean(a.map(p => p._3 - p._2))
    assert(math.abs(dd.getDouble(6) - didExp) < 1e-9)
    assert(dd.getDouble(7) > 0.0, "DiD standard error must be positive")
    // the DiD estimate equals the cross-difference of the four cells
    assert(math.abs(dd.getDouble(6) -
      ((dd.getDouble(5) - dd.getDouble(4)) - (dd.getDouble(3) - dd.getDouble(2)))) < 1e-9)
  }

  test("q190 oracle contract: bounded edge table, positive totals, fixed channel set") {
    // Three unstated preconditions behind q190's driver-side chain solve
    // (the AffinitySpec precedent): the edge table must stay inside the
    // bounded-fetch contract (≤ 50 rows — it is |states|² at worst), every
    // from-state total must be positive (p = cnt/tot is the only division),
    // and the data-derived channel set must equal the oracle's unrolled
    // scenario list (the in-code require turns divergence into a loud
    // failure; this spec pins the precondition per SF).
    Seq(sf0001, sf001).foreach { t =>
      val edges = EventAnalytics.attributionEdges(t)
        .select(col("from"), col("to"), col("cnt").cast("long"), col("tot").cast("long"))
        .collect()
      assert(edges.length <= 50,
        s"${t.sfDir}: edge table ${edges.length} rows — outside the bounded-fetch contract")
      edges.foreach { r =>
        assert(r.getLong(3) > 0L && r.getLong(2) <= r.getLong(3),
          s"${t.sfDir}: degenerate transition row $r")
      }
      val channels = edges.flatMap(r => Seq(r.getString(0), r.getString(1)))
        .filter(s => s != "START" && s != "conv" && s != "null").distinct.sorted
      assert(channels.sameElements(EventAnalytics.markovOracleChannels.sorted),
        s"${t.sfDir}: channel set [${channels.mkString(",")}] diverges from the " +
          "oracle scenario list — qMarkovAttributionSql must be regenerated")
    }
  }

  test("q276 SPRT: matches an in-memory sequential walk") {
    val t = sf0001
    val md = java.security.MessageDigest.getInstance("MD5")
    def armOf(uid: Long): Long = {
      val h = md.digest(s"exp1:$uid".getBytes("UTF-8"))
      val hex = h.take(4).map(b => f"${b & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val cutoff = java.sql.Date.valueOf("2024-01-03")
    val users = t.events.selectExpr("user_id", "event_type", "cast(ts as date) as d")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDate(2)))
      .groupBy(_._1).map { case (uid, evs) =>
        (uid, armOf(uid),
          if (evs.exists(e => e._2 == "purchase" && e._3.before(cutoff))) 1L else 0L)
      }.toSeq
    val c1m = Math.round(1e6 * math.log(0.04 / 0.02))
    val c0m = Math.round(1e6 * math.log(0.96 / 0.98))
    val upM = Math.round(1e6 * math.log(0.95 / 0.05))
    val downM = Math.round(1e6 * math.log(0.05 / 0.95))
    val got = EventAnalytics.qSprt(t).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val arm = r.getLong(0)
      val walk = users.filter(_._2 == arm).sortBy(_._1)
      assert(r.getLong(1) == walk.length.toLong)
      val nConv = walk.map(_._3).sum
      assert(r.getLong(2) == nConv)
      assert(r.getLong(3) == c1m * nConv + c0m * (walk.length - nConv))
      var k = 0L; var crossed: Option[(Long, Long)] = None
      walk.zipWithIndex.foreach { case ((_, _, x), i) =>
        k += x
        val n = (i + 1).toLong
        val llr = c1m * k + c0m * (n - k)
        if (crossed.isEmpty && (llr >= upM || llr <= downM))
          crossed = Some((n, llr))
      }
      crossed match {
        case Some((n, llr)) =>
          assert(r.getLong(5) == n && r.getLong(6) == llr, s"arm $arm crossing")
          assert(r.getString(4) == (if (llr >= upM) "accept_h1" else "accept_h0"))
        case None =>
          assert(r.getString(4) == "continue" && r.isNullAt(5) && r.isNullAt(6))
      }
    }
  }

  test("q269 Holt trend: matches an in-memory shift-recurrence walk") {
    val t = sf0001
    val got = EventAnalytics.qHoltTrend(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    // daily counts recomputed from raw events
    val daily = t.events.selectExpr("event_type",
        "cast(datediff(cast(ts as date), date'2024-01-01') as long) as x")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val expected = daily.keys.map(_._1).toSeq.distinct.sorted.flatMap { ch =>
      val days = daily.filter(_._1._1 == ch).toSeq
        .map { case ((_, x), y) => (x, y) }.sortBy(_._1)
      var lm = 0L; var tm = 0L; var first = true
      days.map { case (x, y) =>
        val ym = y * 1000000L
        if (first) { lm = ym; tm = 0L; first = false; (ch, x, y, lm, tm, None) }
        else {
          val fm = lm + tm
          val l2 = (ym + fm) >> 1
          val t2 = tm + ((l2 - lm - tm) >> 2)
          lm = l2; tm = t2
          (ch, x, y, lm, tm, Some(fm))
        }
      }
    }
    assert(got.toSeq == expected)
    // the smoother tracks: every non-first row's error is bounded by the
    // raw day-to-day count swing in micro units
    val maxSwing = expected.map(_._3).max * 1000000L
    got.flatMap(_._6).zip(got.filter(_._6.isDefined)).foreach { case (fm, r) =>
      assert(math.abs(r._3 * 1000000L - fm) <= 2 * maxSwing)
    }
  }

  test("q290 ACF: matches an in-memory centered-integer recompute") {
    val t = sf0001
    val daily = t.events
      .selectExpr("datediff(cast(ts as date), date'2024-01-01') as d")
      .collect().map(_.getInt(0).toLong)
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    val n = daily.size.toLong; val tot = daily.values.toSeq.sum
    val x = daily.map { case (d, y) => d -> (n * y - tot) }
    val den = x.values.toSeq.map(v => v * v).sum
    val got = graft.ops.EventAnalytics.qAcf(t).collect()
    assert(got.length == 7)
    got.foreach { r =>
      val k = r.getLong(0)
      val prods = x.toSeq.flatMap { case (d, xa) =>
        x.get(d + k).map(xb => xa * xb) }
      assert(r.getLong(1) == prods.length.toLong)
      assert(r.getLong(2) == prods.sum)
      assert(r.getLong(3) == den)
      if (den != 0L)
        assert(math.abs(r.getDouble(4) - prods.sum.toDouble / den.toDouble) < 1e-12)
    }
  }

  private def microAway(x: Double): Long = {
    val m = x * 1000000.0
    (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)).toLong
  }

  test("q294 BH-FDR: matches an in-memory chi-square + step-up recompute") {
    val t = sf0001
    val cells = t.events
      .selectExpr("datediff(cast(ts as date), date'2024-01-01') as d", "event_type")
      .collect().map(r => (r.getInt(0).toLong, r.getString(1)))
      .groupBy(identity).map { case (k, xs) => (k._1, k._2, xs.length.toLong) }.toSeq
    val nD = cells.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._3).sum }
    val nT = cells.groupBy(_._2).map { case (ty, xs) => ty -> xs.map(_._3).sum }
    val n = cells.map(_._3).sum
    val chi2 = nD.map { case (d, nd) =>
      val tsum = cells.filter(_._1 == d).map { case (_, ty, o) =>
        val e = (nd * nT(ty)).toDouble / n.toDouble
        microAway(((o.toDouble - e) * (o.toDouble - e) / e - e))
      }.sum
      d -> (tsum + nd * 1000000L)
    }
    val p = chi2.map { case (d, cm) =>
      val h = cm.toDouble / 2000000.0
      d -> microAway(math.exp(-h) * (1.0 + h))
    }
    val m = p.size.toLong
    val ranked = p.toSeq.sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case ((d, pm), i) => (d, pm, i + 1L) }
    val iStar = ranked.filter { case (_, pm, i) => 20L * pm * m <= 1000000L * i }
      .map(_._3).reduceOption(_ max _).getOrElse(0L)
    val got = graft.ops.EventAnalytics.qBhFdr(t).collect()
    assert(got.length == p.size)
    val byDay = ranked.map(r => r._1 -> r).toMap
    got.foreach { r =>
      val (d, pm, rk) = byDay(r.getLong(0))
      assert(r.getLong(1) == chi2(d)); assert(r.getLong(2) == pm)
      assert(r.getLong(3) == rk); assert(r.getLong(4) == m)
      assert(r.getLong(5) == iStar)
      assert(r.getBoolean(6) == (rk <= iStar))
    }
  }

  test("q296 periodogram: matches an in-memory micro-trig DFT recompute") {
    val t = sf0001
    val daily = t.events
      .selectExpr("datediff(cast(ts as date), date'2024-01-01') as d")
      .collect().map(_.getInt(0).toLong)
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
      .toSeq.sortBy(_._1)
    val n = daily.length.toLong
    val got = graft.ops.EventAnalytics.qPeriodogram(t).collect()
    assert(got.length == (1 to 10).count(k => 2L * k <= n))
    got.foreach { r =>
      val k = r.getLong(0)
      var re = 0L; var im = 0L
      daily.zipWithIndex.foreach { case ((_, y), ti) =>
        val theta = 2.0 * math.Pi * ((k * ti) % n).toDouble / n.toDouble
        re += y * microAway(math.cos(theta))
        im += y * microAway(math.sin(theta))
      }
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == re); assert(r.getLong(3) == im)
      assert(math.abs(r.getDouble(4) -
        (re.toDouble * re.toDouble + im.toDouble * im.toDouble)) < 1e-3)
    }
  }

  test("q304 segmentation DP: matches an in-memory Bellman recompute") {
    val t = sf0001
    val daily = t.events
      .selectExpr("datediff(cast(ts as date), date'2024-01-01') as d")
      .collect().map(_.getInt(0).toLong)
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
      .toSeq.sortBy(_._1)
    val n = daily.length
    val y = daily.map(_._2)
    def sse(i: Int, j: Int): Long = { // 1-based inclusive
      val seg = y.slice(i - 1, j)
      val s = seg.sum; val q = seg.map(v => v * v).sum
      val v = q.toDouble - s.toDouble * s.toDouble / seg.length.toDouble
      math.floor(v * 1e6 + 0.5).toLong
    }
    val dp = Array.ofDim[Long](5, n + 1)
    val spl = Array.ofDim[Long](5, n + 1)
    for (j <- 1 to n) { dp(1)(j) = sse(1, j); spl(1)(j) = 1L }
    for (m <- 2 to 4; j <- m to n) {
      val enc = (m to j).map(i => (dp(m - 1)(i - 1) + sse(i, j)) * 64L + i).min
      dp(m)(j) = enc / 64L; spl(m)(j) = enc % 64L
    }
    val got = graft.ops.EventAnalytics.qSegmentationDp(t).collect()
    assert(got.length == (1 to 4).map(m => n - m + 1).sum)
    got.foreach { r =>
      val (m, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      assert(r.getLong(2) == daily(j - 1)._1)
      assert(r.getLong(3) == dp(m)(j))
      assert(r.getLong(4) == spl(m)(j))
    }
    // more segments never cost more (optimality sanity)
    val byMj = got.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    for (m <- 2L to 4L; j <- m to n.toLong)
      assert(byMj((m, j)) <= byMj((m - 1, j)))
  }

  test("q309 trend test: matches an in-memory Theil-Sen + Mann-Kendall recompute") {
    val t = sf0001
    val daily = t.events
      .selectExpr("datediff(cast(ts as date), date'2024-01-01') as d")
      .collect().map(_.getInt(0).toLong)
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
      .toSeq.sortBy(_._1)
    val n = daily.length.toLong
    val slopes = for {
      j <- daily.indices; i <- 0 until j
    } yield ((daily(j)._2 - daily(i)._2).toDouble /
        (daily(j)._1 - daily(i)._1).toDouble, i + 1, j + 1)
    val sorted = slopes.sortBy { case (s, i, j) => (s, i, j) }
    val med = sorted(((sorted.length + 1) / 2 - 1).toInt)._1
    val sStat = slopes.map { case (s, _, _) => if (s > 0) 1L else if (s < 0) -1L else 0L }.sum
    // sgn(slope) == sgn(yj - yi) since tj > ti
    val ties = daily.groupBy(_._2).map { case (_, xs) => xs.length.toLong }
    val tie18 = ties.map(tc => tc * (tc - 1L) * (2L * tc + 5L)).sum
    val var18 = n * (n - 1L) * (2L * n + 5L) - tie18
    val z =
      if (var18 == 0L) 0.0
      else if (sStat > 0L) (sStat - 1L).toDouble / math.sqrt(var18.toDouble / 18.0)
      else if (sStat < 0L) (sStat + 1L).toDouble / math.sqrt(var18.toDouble / 18.0)
      else 0.0
    val r = graft.ops.EventAnalytics.qTrendTest(t).collect()(0)
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == slopes.length.toLong)
    assert(math.abs(r.getDouble(2) - med) < 1e-12)
    assert(r.getLong(3) == sStat)
    assert(r.getLong(4) == var18)
    assert(math.abs(r.getDouble(5) - z) < 1e-12)
  }

  test("q311 overdispersion: matches an in-memory integer-identity recompute") {
    val t = sf0001
    val cells = t.events
      .selectExpr("event_type", "datediff(cast(ts as date), date'2024-01-01') as d")
      .collect().map(r => (r.getString(0), r.getInt(1).toLong))
      .groupBy(identity).map { case ((ty, d), xs) => (ty, d, xs.length.toLong) }
    val byType = cells.groupBy(_._1)
    val got = graft.ops.EventAnalytics.qOverdispersion(t).collect()
    assert(got.map(_.getString(0)).toSet == byType.keySet)
    got.foreach { r =>
      val ys = byType(r.getString(0)).map(_._3).toSeq
      val nd = ys.length.toLong; val s = ys.sum; val q = ys.map(y => y * y).sum
      val num = nd * q - s * s
      assert(r.getLong(1) == nd); assert(r.getLong(2) == s); assert(r.getLong(3) == q)
      assert(r.getLong(4) == num)
      assert(math.abs(r.getDouble(5) - num.toDouble / (s * (nd - 1L)).toDouble) < 1e-12)
      assert(r.getBoolean(6) == (2L * num >= 3L * s * (nd - 1L)))
    }
  }

  test("q314 Nelson-Aalen: matches an in-memory hazard recompute") {
    val t = sf0001
    def microAway(x: Double): Long = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)).toLong
    }
    val per = t.events
      .selectExpr("user_id", "unix_micros(ts) as us", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      // .toSeq BEFORE mapping to (t, death) tuples: Map.map dedupes by
      // key, collapsing users with equal latency (the round-5 Set.map rule)
      .groupBy(_._1).toSeq.map { case (_, xs) =>
        val first = xs.map(_._2).min; val last = xs.map(_._2).max
        val purch = xs.filter(_._3 == "purchase").map(_._2).minOption
        purch match {
          case Some(p) => ((p - first) / 60000000L, 1L)
          case None    => ((last - first) / 60000000L, 0L)
        }
      }.toSeq
    val byT = per.groupBy(_._1).map { case (tm, xs) =>
      (tm, xs.map(_._2).sum, xs.count(_._2 == 0L).toLong) }.toSeq.sortBy(_._1)
    val nTot = per.length.toLong
    var removed = 0L; var h = 0L; var v = 0L
    val expect2 = byT.flatMap { case (tm, d, c) =>
      val nRisk = nTot - removed
      h += microAway(d.toDouble / nRisk.toDouble)
      v += {
        val m = d.toDouble / (nRisk.toDouble * nRisk.toDouble) * 1.0e12
        math.floor(m + 0.5).toLong
      }
      removed += d + c
      if (d > 0) Some((tm, d, c, nRisk, h, v)) else None
    }
    val got = graft.ops.EventAnalytics.qNelsonAalen(t).collect()
    assert(got.length == expect2.length)
    got.zip(expect2).foreach { case (r, (tm, d, c, nRisk, hm, vp)) =>
      assert(r.getLong(0) == tm); assert(r.getLong(1) == d)
      assert(r.getLong(2) == c); assert(r.getLong(3) == nRisk)
      assert(r.getLong(4) == hm); assert(r.getLong(5) == vp)
      assert(math.abs(r.getDouble(7) - math.sqrt(vp.toDouble / 1.0e12)) < 1e-15)
    }
  }
}
