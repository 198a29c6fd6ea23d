package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("cosine matches a hand-computed value") {
    import spark.implicits._
    val df = Seq((Seq(1f, 0f, 1f), Seq(1f, 1f, 0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(got - 0.5) < 1e-12) // (1·1)/(√2·√2)
  }

  test("brute-force top-k is ordered, sized, and self-excluding") {
    val res = Similarity.qKnnBruteForce(sf0001).collect()
    val byProbe = res.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    byProbe.foreach { case (probe, rows) =>
      assert(rows.length == 10)
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"probe $probe not sim-descending")
      assert(!rows.exists(_.getLong(2) == probe), s"probe $probe returned itself")
    }
  }

  test("blocked distributed exact pair mining is bit-equal to the broadcast kernel") {
    // the mid rung of the cosinePairs ladder must be EXACT (oracle parity
    // depends on it) — same pairs, same doubles, no driver collect
    val exact = Similarity.cosinePairsExact(sf0001.embeddings, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = Similarity.cosinePairsBlocked(sf0001.embeddings, 0.3, nBlocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture threshold found no pairs")
    assert(blocked == exact)
  }

  test("q121 ANN recall audit: every method above its floor, plus the all row") {
    val rows = graft.ops.Similarity.qAnnRecallAudit(sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("all", "ivf", "pq", "sq8", "srp_lsh"))
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("pass_floor")),
        s"${r.getString(0)}: mean recall below its floor")
      if (r.getString(0) == "all") {
        assert(r.getLong(r.fieldIndex("n_probes")) == 40) // 4 methods × 10
        assert(r.isNullAt(r.fieldIndex("floor"))) // no single floor on the AND row
      } else assert(r.getLong(r.fieldIndex("n_probes")) == 10)
    }
  }

  test("LSH pair mining recall vs exact is usable at the near-dup threshold") {
    val exact = Similarity.cosinePairsExact(sf0001.embeddings, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(sf0001.embeddings, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH verify must never emit a below-threshold pair")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH pair recall $recall below floor")
    }
  }

  test("LSH top-k recall vs brute force is usable") {
    val exact = Similarity.qKnnBruteForce(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.qKnnLsh(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall below 0.5")
    // and every LSH hit's sim is a true cosine (verified path): ranks sane
    assert(approx.nonEmpty)
  }

  test("SQ8 quantize-then-rerank recall is near-exact") {
    val exact = Similarity.qKnnBruteForce(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq8 = Similarity.qKnnSq8(sf0001).collect()
    val got = sq8.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    // 8-bit scalar quantization barely perturbs cosine ordering; with a
    // 3× rerank budget the floor is high by construction
    assert(recall >= 0.9, s"SQ8 recall $recall below floor")
    // the emitted recall_at_k column must agree with the computed recall
    val emitted = sq8.map(r => r.getDouble(4)).sum / sq8.length
    assert(math.abs(emitted - recall) < 0.15,
      s"emitted recall column $emitted far from measured $recall")
  }

  test("binary sign-hash ANN recall beats the PQ-class floor, codes balanced") {
    val t = sf0001
    val exact = Similarity.qKnnBruteForce(t).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val bin = Similarity.qKnnBinary(t).collect()
    val got = bin.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    // 64-bit codes + 8× rerank: the PQ-class floor (measured ≈0.44-0.5)
    assert(recall >= 0.3, s"binary recall $recall below 0.3")
    // median thresholds ⇒ near-balanced bits ⇒ inter-point Hamming
    // distances concentrate near 32 (never degenerate 0/64)
    val hams = bin.map(_.getLong(3))
    assert(hams.forall(h => h >= 0 && h <= 64))
    assert(hams.max > 5, "Hamming distances degenerate — codes collapsed")
  }

  test("q165 retrieval metrics: bounded, consistent with the binary rung's hits") {
    val t = sf0001
    val m = Similarity.qRetrievalMetrics(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(m.length == 10)
    val hits = Similarity.qKnnBinary(t).collect()
      .groupBy(_.getLong(0)).map { case (p, rs) =>
        p -> math.round(rs.head.getDouble(5) * 10).toInt }
    m.foreach { case (p, nRel, mrr, ndcg) =>
      assert(nRel >= 0 && nRel <= 10 && nRel == hits(p))
      assert(ndcg >= 0.0 && ndcg <= 1.0, s"probe $p ndcg $ndcg")
      assert(if (nRel > 0) mrr >= 0.1 && mrr <= 1.0 else mrr == 0.0)
      // an empty hit set forces both rank metrics to zero together
      if (nRel == 0) assert(ndcg == 0.0)
    }
    // the metrics must discriminate: not all probes identical on noise
    assert(m.map(_._4).distinct.length > 1)
  }

  test("IVF top-k recall beats the random-cells floor") {
    val exact = Similarity.qKnnBruteForce(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.qKnnIvf(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // isotropic noise: scanning nProbe/nCells = 6/16 of the corpus at
    // random would give ~0.375 — require clearly above that floor
    assert(recall >= 0.4, s"IVF recall $recall below 0.4")
  }

  test("PQ ADC-then-rerank recall clears its floor") {
    val t = sf0001
    val res = Similarity.qKnnPq(t).collect()
    assert(res.length == 100) // 10 probes x k=10
    val recall = res.map(r => (r.getLong(0), r.getDouble(r.fieldIndex("recall_at_k"))))
      .distinct.map(_._2).sum / 10
    info(s"PQ mean recall@10 = $recall")
    // 8x16 codebooks on isotropic 64-dim noise: measured 0.63/0.69/0.37
    // at sf0.001/0.01/0.1 (the fixed rerank=50 budget scans a shrinking
    // corpus fraction as n grows; the random-candidate baseline is
    // rerank/n = 0.1/0.1/0.025). Floor 0.3 holds at every SF
    assert(recall >= 0.3, s"PQ recall $recall below floor")
  }

  test("q142 bitext mining: margins recompute driver-side; mined pair is the argmax") {
    val t = sf0001
    val langOf = t.documents.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val embs = t.embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        ab += x * y; aa += x * x; bb += y * y; i += 1
      }
      if (aa == 0 || bb == 0) 0.0 else ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val src = embs.filter(e => langOf(e._1) == "en").sortBy(_._1)
    val tgt = embs.filter(e => langOf(e._1) == "fr").sortBy(_._1)
    val sims = (for { (x, ex) <- src; (y, ey) <- tgt } yield ((x, y), cos(ex, ey))).toMap
    val ax = src.map { case (x, _) =>
      x -> r6(tgt.map { case (y, _) => (y, sims((x, y))) }
        .sortBy { case (y, s) => (-s, y) }.take(4).map(_._2).sum / 4)
    }.toMap
    val ay = tgt.map { case (y, _) =>
      y -> r6(src.map { case (x, _) => (x, sims((x, y))) }
        .sortBy { case (x, s) => (-s, x) }.take(4).map(_._2).sum / 4)
    }.toMap
    val got = Similarity.qBitextMine(t).collect()
    assert(got.length == src.length)
    got.foreach { r =>
      val (x, y, margin) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      val expMargin = r6(sims((x, y)) / ((ax(x) + ay(y)) / 2.0))
      assert(math.abs(margin - expMargin) < 2e-6,
        s"margin ($x,$y): got $margin want $expMargin")
      // argmax: no other candidate for x has a strictly larger margin
      tgt.map(_._1).foreach { y2 =>
        val m2 = r6(sims((x, y2)) / ((ax(x) + ay(y2)) / 2.0))
        assert(m2 <= margin + 2e-6, s"pair ($x,$y2) margin $m2 beats chosen $margin")
      }
    }
  }

  test("srp buckets are deterministic across evaluations") {
    def run() = sf0001.embeddings.select(col("vec_id"),
      Similarity.srpBucketsUdf(6, 4)(col("embedding")).as("b")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(run() == run())
  }

  test("q213 isotropy: identity matches the brute-force mean pairwise cosine") {
    val t = sf0001
    val rows = Similarity.qIsotropy(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).toSeq == rows.indices.map(_.toLong))
    // per-dim micro sums recompute from normalized vectors
    val vecs = t.embeddings.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def r0(x: Double): Long = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val normed = vecs.map { case (_, v) =>
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nn)
    }
    val d = normed.head.length
    val sm = Array.tabulate(d)(j => normed.map(v => r0(v(j) * 1e6)).sum)
    rows.foreach { case (dim, n, s, _) =>
      assert(n == vecs.length)
      assert(s == sm(dim.toInt), s"dim $dim: $s want ${sm(dim.toInt)}")
    }
    // the sum-vector identity vs an actual O(n^2) pair loop (raw doubles,
    // so only within micro-grid tolerance)
    var acc = 0.0; var cnt = 0L
    for (i <- normed.indices; j <- (i + 1) until normed.length) {
      var dot = 0.0; var kk = 0
      while (kk < d) { dot += normed(i)(kk) * normed(j)(kk); kk += 1 }
      acc += dot; cnt += 1
    }
    val brute = acc / cnt
    val got = rows.head._4
    assert(math.abs(got - brute) < 1e-4,
      s"identity $got vs brute-force $brute")
  }

  test("q251 semantic decontamination: matches a brute-force recompute") {
    val t = sf0001
    val vecs = t.embeddings.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16)
    }
    val (ev, tr) = vecs.partition(v => bucket(v._1) % 10 == 0)
    assert(ev.nonEmpty && tr.nonEmpty)
    def cos(a: Array[Float], b: Array[Float]): Double =
      graft.functions.fasthash.cosine(a, b)
    val maxSim = tr.map { case (_, v, lab) =>
      (lab, ev.map(e => cos(v, e._2)).max) }
    val got = Similarity.qSemanticDecontamination(t).collect()
    // per-label counts and flags tie out against the brute recompute
    val byLab = maxSim.groupBy(_._1)
    assert(got.map(_.getLong(1)).sum == tr.length)
    got.foreach { r =>
      val sims = byLab(r.getInt(0)).map(_._2)
      assert(r.getLong(1) == sims.length, s"label ${r.getInt(0)}: n_train")
      assert(r.getLong(2) == sims.count(_ > 0.4), s"label ${r.getInt(0)}: flags")
      assert(math.abs(r.getDouble(4) - sims.max) < 1e-9,
        s"label ${r.getInt(0)}: top_sim")
      assert(math.abs(r.getDouble(3) - sims.map(s =>
        math.round(s * 1e6)).sum / 1e6 / sims.length) < 1e-9,
        s"label ${r.getInt(0)}: mean")
    }
  }

  test("q274 dim budget: matches an in-memory prefix-cosine recompute") {
    val t = sf0001
    val all = t.embeddings.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (probes, train) = all.partition(_._1 < 8)
    def micro(x: Double): Long = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)).toLong
    }
    val dims = Seq(64, 32, 16, 8)
    val expected = scala.collection.mutable.Map.empty[(Long, Int), Set[Long]]
    probes.foreach { case (pid, pe) =>
      dims.foreach { d =>
        val top = train.map { case (tid, te) =>
          (tid, micro(graft.functions.fasthash.cosine(pe.take(d), te.take(d))))
        }.sortBy { case (tid, sm) => (-sm, tid) }.take(10).map(_._1).toSet
        expected((pid, d)) = top
      }
    }
    val got = Similarity.qDimBudget(t).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    probes.foreach { case (pid, _) =>
      val full = expected((pid, 64))
      assert(full.size == 10)
      dims.foreach { d =>
        val ov = (expected((pid, d)) intersect full).size.toLong
        got.get((pid, d)) match {
          case Some((n, rec)) =>
            assert(n == ov, s"probe $pid d $d: overlap $n want $ov")
            assert(rec == ov.toDouble / 10.0)
          case None => assert(ov == 0L, s"probe $pid d $d: missing but overlap $ov")
        }
      }
      // the full-dim row is the identity sanity face
      assert(got((pid, 64))._1 == 10L)
    }
  }

  test("q259 KNN-Shapley matches an in-memory recompute + the efficiency axiom") {
    val t = sf0001
    val got = Similarity.qKnnShapley(t).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val all = t.embeddings.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val (probes, train) = all.partition(_._1 < 16)
    assert(probes.length == 16 && train.nonEmpty)
    val k = 5
    val sv = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    probes.foreach { case (_, ep, yl) =>
      val ranked = train.map { case (tid, et, ty) =>
        (tid, graft.functions.fasthash.cosine(ep, et), if (ty == yl) 1L else 0L)
      }.sortBy { case (tid, s, _) => (-s, tid) }
      val n = ranked.length
      val terms = Array.tabulate(n) { i =>
        val rnk = i + 1
        if (rnk == n) ranked(i)._3 * Math.round(1e6 / n)
        else (ranked(i)._3 - ranked(i + 1)._3) *
          Math.round(1e6 * math.min(k, rnk) / (k * rnk))
      }
      var acc = 0L
      val sfx = new Array[Long](n)
      var i = n - 1
      while (i >= 0) { acc += terms(i); sfx(i) = acc; i -= 1 }
      (0 until n).foreach(j => sv(ranked(j)._1) += sfx(j))
      // efficiency axiom: Shapley values sum to the utility of the full
      // train set = the top-K label-match share. Each micro-rounded term
      // (err ≤ 0.5µ) appears in rank-many suffix sums, so the slack is
      // Σ_j j·0.5µ ≈ n²/4 µ; utilities are multiples of 1/K = 0.2, so
      // the bound still separates adjacent utility levels for n ≤ ~900
      val topK = ranked.take(k).map(_._3).sum.toDouble / k
      val slack = n.toLong * n / 4 * 1e-6
      assert(math.abs(sfx.sum.toDouble / 1e6 - topK) <= slack,
        s"efficiency violated: ${sfx.sum / 1e6} vs $topK (slack $slack)")
    }
    assert(got.keySet == train.map(_._1).toSet)
    got.foreach { case (tid, (svMicro, nProbes)) =>
      assert(nProbes == probes.length, s"train $tid: probe count")
      assert(svMicro == sv(tid), s"train $tid: ${svMicro} vs ${sv(tid)}")
    }
  }


  test("q282 MMR: matches an in-memory greedy recompute; diversifies") {
    val t = sf0001
    val embs = t.embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def micro(x: Double): Long = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)).toLong
    }
    val got = Similarity.qMmrRerank(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    (0L until 3L).foreach { pid =>
      val cand = embs.keys.toSeq.filter(_ != pid)
        .map(n => (n, micro(graft.functions.fasthash.cosine(embs(pid), embs(n)))))
        .sortBy(c => (-c._2, c._1)).take(20)
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val chosen = scala.collection.mutable.ArrayBuffer[Long]()
      (1 to 5).foreach { r =>
        val best = cand.filterNot(c => chosen.contains(c._1)).map { c =>
          val ms = if (chosen.isEmpty) 0L
            else chosen.map(s => micro(graft.functions.fasthash.cosine(embs(c._1), embs(s)))).max
          (c._1, c._2, 7L * c._2 - 3L * ms)
        }.minBy(x => (-x._3, x._1))
        sel += ((best._1, best._2, best._3)); chosen += best._1
      }
      val mine = sel.zipWithIndex.map { case ((nid, rel, sc), i) =>
        (pid, (i + 1).toLong, nid, rel, sc) }
      assert(got.filter(_._1 == pid).toSeq == mine.toSeq)
    }
    // rank-1 is the pure-relevance argmax; later scores stay inside the
    // λ-envelope 7·rel ∓ 3·|maxsim| (maxsim may be negative → a bonus)
    got.filter(_._2 == 1L).foreach(r => assert(r._5 == 7L * r._4))
    got.filter(_._2 > 1L).foreach(r =>
      assert(r._5 >= 7L * r._4 - 3000000L && r._5 <= 7L * r._4 + 3000000L))
  }

  test("q284 Frechet: per-dim terms match a recompute and are non-negative") {
    val t = sf0001
    val rows = Similarity.qLabelFrechet(t).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(9) >= -1e-12))
    val byLabel = t.embeddings.select("label", "embedding").collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Float](1).toArray)
      .groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2) }
    val first = rows.head
    val (la, lb, dim) = (first.getLong(0), first.getLong(1), first.getLong(2).toInt)
    def stats(l: Long) = {
      val vs = byLabel(l).map(_(dim - 1).toDouble)
      val sm = vs.map(v => math.round(v * 1000000.0)).sum // positive-skew data: JVM round ok for spec tolerance
      val qs = vs.map(v => math.round(v * v * 1000000000000.0)).sum
      val n = vs.length.toDouble
      val mu = (sm.toDouble / 1000000.0) / n
      val vr = math.max((qs.toDouble / 1000000000000.0) / n - mu * mu, 0.0)
      (mu, vr)
    }
    val (muA, vrA) = stats(la); val (muB, vrB) = stats(lb)
    assert(math.abs(first.getDouble(5) - muA) < 1e-6)
    assert(math.abs(first.getDouble(7) - vrA) < 1e-6)
    val term = (muA - muB) * (muA - muB) + vrA + vrB -
      2.0 * math.sqrt(vrA) * math.sqrt(vrB)
    assert(math.abs(first.getDouble(9) - term) < 1e-6)
  }

  test("q297 JL distortion: matches an in-memory integer recompute") {
    val t = sf0001
    def microAway(x: Double): Long = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)).toLong
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val emb = t.embeddings.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = emb.map { case (id, v) =>
      id -> v.map(x => microAway(x.toDouble)) }
    val m = 16
    val sign = Array.tabulate(m, 64) { (j, i) =>
      if (md5hex(s"jl-$j-$i").charAt(0) < '8') 1L else -1L }
    val proj = q.map { case (id, vq) =>
      id -> Array.tabulate(m)(j => (0 until 64).map(i => sign(j)(i) * vq(i)).sum) }
    val rows = Similarity.qJlDistortion(t).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, delta) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(b == a + delta)
      val od = (0 until 64).map(i => { val d = q(a)(i) - q(b)(i); d * d }).sum
      val pd = (0 until m).map(j => { val d = proj(a)(j) - proj(b)(j); d * d }).sum
      assert(r.getLong(3) == od); assert(r.getLong(4) == pd)
      if (od != 0L)
        assert(math.abs(r.getDouble(5) - pd.toDouble / (m.toLong * od).toDouble) < 1e-12)
    }
    // pair inventory: every delta-shifted id pair present exactly once
    val ids = emb.keySet
    val expected = Seq(1L, 17L, 257L).flatMap(d =>
      ids.filter(i => ids.contains(i + d)).map(i => (i, d))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSet == expected)
  }

  test("q322 NN-descent: local joins strictly improve on the seed graph's recall") {
    import org.apache.spark.sql.functions._
    val t = sf0001
    val k = 5
    // the claim that makes NN-descent worth a ladder rung: the fixed-round
    // refinement finds neighbors the seed graph alone cannot
    def meanRecall(graph: org.apache.spark.sql.DataFrame): Double = {
      val probes = t.embeddings.filter(col("vec_id") < 10)
      val exact = graft.ops.Similarity.bruteForceTopK(t.embeddings, probes, k)
        .select(col("probe_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = graph.filter(col("v") < 10)
        .select(col("v"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val n = t.embeddings.count()
    val buckets = math.max(1L, n / (k + 1L))
    def bucketed(vName: String) = {
      val hashBk = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % buckets
      t.embeddings.select(col("vec_id").as(vName),
        (col("vec_id") % buckets).as("bka"), hashBk.as("bkb"))
    }
    val ba = bucketed("v"); val bb = bucketed("w")
    val seeds = ba.join(bb, Seq("bka")).filter(col("v") =!= col("w"))
      .select(col("v"), col("w"))
      .union(ba.select(col("v"), col("bkb"))
        .join(bb.select(col("w"), col("bkb")), Seq("bkb"))
        .filter(col("v") =!= col("w")).select(col("v"), col("w")))
    val seedGraph = graft.ops.Similarity.nnDescentGraph(t.embeddings, seeds, k, 0)
    val descended = graft.ops.Similarity.nnDescentGraph(t.embeddings, seeds, k, 3)
    val r0 = meanRecall(seedGraph)
    val r3 = meanRecall(descended)
    assert(r3 > r0, s"descent recall $r3 not above seed recall $r0")
    assert(r3 >= 0.15, s"descent recall $r3 implausibly low")
    // graph shape: exactly ≤k rows per node, self-free, ranks contiguous
    val perNode = descended.groupBy(col("v"))
      .agg(count(lit(1)).as("c"), max(col("rank")).as("mx"))
      .filter(col("c") =!= col("mx") || col("c") > k).count()
    assert(perNode == 0)
    assert(descended.filter(col("v") === col("w")).count() == 0)
  }

  test("q322 gate face: emitted recall column agrees with an independent recompute") {
    import org.apache.spark.sql.functions._
    val t = sf0001
    val out = graft.ops.Similarity.qNnDescentGate(t).collect()
    val probes = t.embeddings.filter(col("vec_id") < 10)
    val exact = graft.ops.Similarity.bruteForceTopK(t.embeddings, probes, 5)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probeRows = out.filter(r => !r.isNullAt(4))
    assert(probeRows.nonEmpty)
    probeRows.groupBy(_.getLong(0)).toSeq.foreach { case (v, rows) =>
      val hits = rows.count(r => exact.contains((v, r.getLong(2))))
      val want = math.rint(hits / 5.0 * 100) / 100
      rows.foreach(r => assert(math.abs(r.getDouble(4) - want) < 1e-9,
        s"v=$v emitted ${r.getDouble(4)} vs recomputed $want"))
    }
    // non-probe rows carry null recall; every node emits ≤5 ranked rows
    assert(out.filter(r => r.isNullAt(4)).nonEmpty)
  }
}
