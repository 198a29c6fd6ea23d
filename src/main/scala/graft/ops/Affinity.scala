package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's two commented-out clustering modes, made real (M3/M4,
  * SURVEY §2.9): affinity propagation (cluster.py:40-45 — damping 0.95,
  * euclidean affinity, "OG numbers" preference=-4; Frey & Dueck 2007) and
  * agglomerative clustering (cluster.py:46-50 — complete linkage, cosine
  * affinity). Both are bounded-group algorithms — sklearn runs them on one
  * in-memory matrix per call — so the Spark-first shape is the
  * flatMapGroups kernel (the lexrankGrouped precedent): ONE shuffle keys
  * the vectors by group, then each bounded group clusters locally while
  * thousands of groups run in parallel across the cluster. At 100 TB the
  * group is a story/feed/label bucket, never the corpus: corpus-scale
  * clustering is q43/q153 (k-means / k-center), and these kernels are the
  * within-group refinement pass.
  *
  * Both gate queries (q179/q180) are hash-ORACLED: every float the
  * recurrences produce is pinned to the 1e-6 grid with the SAME rounding
  * DuckDB applies (see roundMicro), sums are exact integer-micro sums, and
  * all comparisons/tie-breaks are on those grid values — the DuckDB replay
  * (unrolled chained CTEs, the q119/q120/q132 discipline) is bit-identical,
  * not approximately equal.
  */
object Affinity {

  /** DuckDB's round(x, 6) for DOUBLE is std::round(x*1e6)/1e6 — multiply,
    * half-away-from-zero on the PRODUCT, divide. This differs from Spark's
    * round() (shortest-repr BigDecimal HALF_UP) exactly on the .5-boundary
    * products these recurrences produce STRUCTURALLY: a damped update
    * (1-λ)·Δ with λ=0.7 and Δ on the 1e-6 grid lands on x.5 micro
    * boundaries for ~1 in 10 cells every round. The kernels therefore
    * mirror DuckDB's algorithm bit-for-bit instead of calling round(). */
  private[graft] def roundMicro(x: Double): Double = {
    val m = x * 1000000.0
    (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)) / 1000000.0
  }

  /** Exact non-negative micro units for order-independent sums: the one
    * SUM in the AP recurrence (availability mass) must not depend on
    * engine aggregation order, so both sides sum BIGINT micros. */
  private def micros(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong

  /** Unit-normalize with the same IEEE op sequence the oracle writes:
    * norm = sqrt(e1² + … + e64²) left-to-right, then per-element divide. */
  private def unitize(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var j = 0
    while (j < v.length) { s = s + v(j) * v(j); j += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    j = 0
    while (j < v.length) { out(j) = v(j) / n; j += 1 }
    out
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { s = s + a(j) * b(j); j += 1 }
    s
  }

  // ------------------------------------------------------------------ M3

  /** Affinity propagation on one group (Frey & Dueck 2007, the reference's
    * sklearn call at cluster.py:40-44): similarities s(i,k) = −‖uᵢ−uₖ‖² =
    * 2·cos−2 on unit vectors (the ref's 'euclidean' affinity on l2 rows),
    * s(k,k) = preference (ref's tuned −4), damped responsibility /
    * availability messages for a FIXED round count. Fixed rounds + grid
    * rounding per update make the whole message history deterministic and
    * replayable; damping is a convergence knob (Frey & Dueck use 0.5,
    * the ref 0.95 with 4000 iterations — 0.7×15 is converged on this
    * corpus and keeps the unrolled oracle bounded).
    *
    * Returns per member: (id, crit = r(k,k)+a(k,k) — RAW, one exact add of
    * two grid values, the q152 rule), cluster = own id for exemplars else
    * the max-s exemplar (tie → min id; every point its own cluster if no
    * exemplar emerged), and the exemplar count. */
  private[graft] def apKernel(ids: Array[Long], vecs: Array[Array[Double]],
      preference: Double, damping: Double, rounds: Int)
      : Array[(Long, Double, Long, Long, Double)] = {
    val n = ids.length
    if (n == 0) return Array.empty
    if (n == 1) return Array((ids(0), 0.0, ids(0), 1L, 1.0))
    val u = vecs.map(unitize)
    val s = Array.tabulate(n, n) { (i, k) =>
      if (i == k) preference else roundMicro(2.0 * dot(u(i), u(k)) - 2.0)
    }
    val r = Array.fill(n, n)(0.0)
    val a = Array.fill(n, n)(0.0)
    var t = 0
    while (t < rounds) {
      var i = 0
      while (i < n) {
        val v = Array.tabulate(n)(k => a(i)(k) + s(i)(k))
        var m1 = Double.NegativeInfinity
        var k = 0
        while (k < n) { if (v(k) > m1) m1 = v(k); k += 1 }
        var cnt1 = 0
        var m2 = Double.NegativeInfinity
        k = 0
        while (k < n) {
          if (v(k) == m1) cnt1 += 1 else if (v(k) > m2) m2 = v(k)
          k += 1
        }
        k = 0
        while (k < n) {
          val best = if (v(k) == m1 && cnt1 == 1) m2 else m1
          r(i)(k) = roundMicro(damping * r(i)(k) + (1.0 - damping) * (s(i)(k) - best))
          k += 1
        }
        i += 1
      }
      val posk = Array.tabulate(n) { k =>
        var sum = 0L
        var i2 = 0
        while (i2 < n) {
          if (i2 != k) sum += micros(math.max(r(i2)(k), 0.0))
          i2 += 1
        }
        sum.toDouble / 1000000.0
      }
      var i3 = 0
      while (i3 < n) {
        var k = 0
        while (k < n) {
          val cand =
            if (i3 == k) posk(k)
            else math.min(0.0, r(k)(k) + posk(k) - math.max(r(i3)(k), 0.0))
          a(i3)(k) = roundMicro(damping * a(i3)(k) + (1.0 - damping) * cand)
          k += 1
        }
        i3 += 1
      }
      t += 1
    }
    val crit = Array.tabulate(n)(k => r(k)(k) + a(k)(k))
    val ex = (0 until n).filter(crit(_) > 0.0).toArray
    Array.tabulate(n) { i =>
      val clusterIdx =
        if (ex.isEmpty || crit(i) > 0.0) i
        else {
          var bs = Double.NegativeInfinity
          ex.foreach(k => if (s(i)(k) > bs) bs = s(i)(k))
          val ties = ex.filter(k => s(i)(k) == bs)
          // NaN similarities (a zero-norm vector) match no exemplar —
          // degrade to a singleton instead of crashing on empty .min
          if (ties.isEmpty) i else ties.min
        }
      // member cosine to the exemplar, recovered exactly from the grid
      // similarity: s = 2·cos − 2 ⇒ cos = (s + 2)/2 (one add + one divide
      // on a grid value — RAW, replayable). Exemplars score 1.0. This is
      // the ref's member ranking input (cluster.py:73-76, W4).
      val cos =
        if (clusterIdx == i) 1.0 else (s(i)(clusterIdx) + 2.0) / 2.0
      (ids(i), crit(i), ids(clusterIdx), ex.length.toLong, cos)
    }
  }

  // Oracle-contract note (q179/q180/q183/q184): the generated SQL unrolls
  // a FIXED round count derived from the subset parameter `n`, while the
  // kernels adapt to the actual group size — the replay is exact only when
  // the embeddings table has ≥ n rows (true at every shipped SF, asserted
  // by AffinitySpec, which also asserts non-zero norms over the first
  // max(n) vec_ids so the kernels' NaN degrade paths stay out of oracled
  // territory — ADVICE r8). q183/q184 gate the SMALL-subset regime
  // (n = 6 / 8, below the q179/q180 defaults), so bounded groups smaller
  // than the default subset are oracle-backed too (VERDICT r9 item 4);
  // only the n==1 AP fast path remains kernel-only (its SQL replay
  // degenerates: m2 is NULL with a single candidate), spec-covered.

  /** The AP program of q179/q183 and the grouped kernel's defaults:
    * self-similarity preference, message damping and fixed rounds. */
  final val ApPreference = -4.0
  final val ApDamping = 0.7
  final val ApRounds = 15

  /** The embedding width the AP and agglomerative oracles unroll. */
  final val EmbDim = 64

  /** AP per bounded group — the scale face. One shuffle (groupByKey),
    * each group runs the kernel in its task. */
  def apGrouped(df: DataFrame, groupCol: String, idCol: String,
      vecCol: String, preference: Double = ApPreference,
      damping: Double = ApDamping, rounds: Int = ApRounds): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string"), col(idCol).cast("long"), col(vecCol))
      .as[(String, Long, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (grp, iter) =>
        val rows = iter.toArray.sortBy(_._2)
        apKernel(rows.map(_._2), rows.map(_._3.toArray.map(_.toDouble)),
          preference, damping, rounds)
          .iterator.map { case (id, c, cl, ne, cos) => (grp, id, c, cl, ne, cos) }
      }
      .toDF(groupCol, idCol, "crit", "cluster", "n_exemplars", "exemplar_cos")
  }

  /** The reference's AP cluster-assembly gate (cluster.py:80-93, the P10/W4
    * composition): keep only clusters with ≥ `minMembers` members whose
    * cosine to the exemplar exceeds `simThreshold` (ref constants 3 / .55),
    * and rank members by that similarity (desc, id tiebreak) — the
    * similarity-ordered cluster view the ref serves. One window over the
    * bounded AP output. */
  def apClusters(df: DataFrame, groupCol: String, idCol: String,
      vecCol: String, preference: Double = ApPreference,
      damping: Double = ApDamping, rounds: Int = ApRounds, simThreshold: Double = 0.55,
      minMembers: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ap = apGrouped(df, groupCol, idCol, vecCol, preference, damping, rounds)
    val byCluster = Window.partitionBy(col(groupCol), col("cluster"))
    ap.withColumn("n_close",
        sum(when(col("exemplar_cos") > simThreshold, 1L).otherwise(0L))
          .over(byCluster))
      .filter(col("n_close") >= minMembers)
      .withColumn("member_rank", row_number().over(
        byCluster.orderBy(col("exemplar_cos").desc, col(idCol))))
      .select(col(groupCol), col("cluster"), col("member_rank"), col(idCol),
        col("exemplar_cos"))
  }

  /** q179's subset: the `ApN` lowest vec_ids. */
  final val ApN = 20

  /** Q179: M3 under the hash gate — AP over the `n` lowest vec_ids. */
  def qAffinityProp(t: Tables, n: Int = ApN): DataFrame = {
    val sub = t.embeddings.orderBy(col("vec_id")).limit(n)
      .select(lit("all").as("g"), col("vec_id"), col("embedding"))
    apGrouped(sub, "g", "vec_id", "embedding")
      .select(col("vec_id"), col("crit"), col("cluster"), col("n_exemplars"),
        col("exemplar_cos"))
      .orderBy(col("vec_id"))
  }

  /** q179 oracle: the full message history unrolled as chained MATERIALIZED
    * CTEs (>5-round rule). Every literal is ::DOUBLE — DuckDB otherwise
    * computes 1.0−0.7 in exact DECIMAL (0.3, a DIFFERENT double than the
    * binary subtraction the kernel performs). The availability mass is a
    * BIGINT micro sum (order-independent), mirroring the kernel. */
  def qAffinityPropSql(n: Int = ApN): String = {
    val nrm = (1 to EmbDim).map(j => s"e[$j] * e[$j]").mkString(" + ")
    val dotE = (1 to EmbDim).map(j => s"a.u[$j] * b.u[$j]").mkString(" + ")
    val ulist = "[" + (1 to EmbDim).map(j => s"e[$j] / nv").mkString(", ") + "]"
    val lam = s"$ApDamping::DOUBLE"
    val oneMinusLam = s"(1.0::DOUBLE - $ApDamping::DOUBLE)"
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += s"""sub AS MATERIALIZED (
       |  SELECT vec_id, $ulist AS u
       |  FROM (SELECT vec_id, e, sqrt($nrm) AS nv
       |        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |              FROM embeddings ORDER BY vec_id LIMIT $n)))""".stripMargin
    ctes += s"""m0 AS MATERIALIZED (
       |  SELECT a.vec_id AS i, b.vec_id AS k,
       |         CASE WHEN a.vec_id = b.vec_id THEN $ApPreference::DOUBLE
       |              ELSE round(2.0::DOUBLE * ($dotE) - 2.0::DOUBLE, 6) END AS s,
       |         0.0::DOUBLE AS r, 0.0::DOUBLE AS a
       |  FROM sub a CROSS JOIN sub b)""".stripMargin
    for (t <- 1 to ApRounds) {
      val p = t - 1
      ctes += s"v$t AS MATERIALIZED (SELECT i, k, s, r, a, a + s AS v FROM m$p)"
      ctes += s"w$t AS MATERIALIZED (SELECT i, max(v) AS m1 FROM v$t GROUP BY i)"
      ctes += s"""w2$t AS MATERIALIZED (
         |  SELECT t.i, max(t.v) AS m2
         |  FROM v$t t JOIN w$t w ON t.i = w.i WHERE t.v < w.m1 GROUP BY t.i)""".stripMargin
      ctes += s"""c$t AS MATERIALIZED (
         |  SELECT t.i, COUNT(*) AS cnt1
         |  FROM v$t t JOIN w$t w ON t.i = w.i WHERE t.v = w.m1 GROUP BY t.i)""".stripMargin
      ctes += s"""rr$t AS MATERIALIZED (
         |  SELECT t.i, t.k, t.s, t.a,
         |    round($lam * t.r + $oneMinusLam *
         |      (t.s - CASE WHEN t.v = w.m1 AND c.cnt1 = 1 THEN w2.m2 ELSE w.m1 END), 6) AS r
         |  FROM v$t t JOIN w$t w ON t.i = w.i
         |    JOIN c$t c ON t.i = c.i LEFT JOIN w2$t w2 ON t.i = w2.i)""".stripMargin
      ctes += s"""pk$t AS MATERIALIZED (
         |  SELECT k,
         |    CAST(sum(CASE WHEN i <> k
         |         THEN CAST(round(greatest(r, 0.0::DOUBLE) * 1000000.0) AS BIGINT)
         |         ELSE 0 END) AS DOUBLE) / 1000000.0 AS posk,
         |    max(CASE WHEN i = k THEN r END) AS rkk
         |  FROM rr$t GROUP BY k)""".stripMargin
      ctes += s"""m$t AS MATERIALIZED (
         |  SELECT r.i, r.k, r.s, r.r,
         |    round($lam * r.a + $oneMinusLam *
         |      CASE WHEN r.i = r.k THEN p.posk
         |           ELSE least(0.0::DOUBLE, p.rkk + p.posk - greatest(r.r, 0.0::DOUBLE)) END, 6) AS a
         |  FROM rr$t r JOIN pk$t p ON r.k = p.k)""".stripMargin
    }
    s"""WITH ${ctes.mkString(",\n")},
       |diag AS (SELECT i AS k, r + a AS crit FROM m$ApRounds WHERE i = k),
       |ex AS (SELECT k FROM diag WHERE crit > 0.0::DOUBLE),
       |nex AS (SELECT COUNT(*) AS n FROM ex),
       |assign AS (
       |  SELECT d.k AS vec_id, d.crit,
       |    CASE WHEN (SELECT n FROM nex) = 0 OR d.crit > 0.0::DOUBLE THEN d.k
       |         ELSE (SELECT m.k FROM m$ApRounds m JOIN ex e ON m.k = e.k
       |               WHERE m.i = d.k ORDER BY m.s DESC, m.k LIMIT 1) END AS cluster,
       |    CAST((SELECT n FROM nex) AS BIGINT) AS n_exemplars
       |  FROM diag d)
       |SELECT a.vec_id, a.crit, a.cluster, a.n_exemplars,
       |  CASE WHEN a.cluster = a.vec_id THEN 1.0::DOUBLE
       |       ELSE (s.s + 2.0::DOUBLE) / 2.0::DOUBLE END AS exemplar_cos
       |FROM assign a JOIN m$ApRounds s ON s.i = a.vec_id AND s.k = a.cluster
       |ORDER BY a.vec_id""".stripMargin
  }

  /** q183's subset size, read by its Spark arm and its oracle entry. */
  final val ApSmallN = 6

  /** Q183: the small-group AP gate — same kernel and oracle generator as
    * q179 at n=`ApSmallN` (below the default subset), so the bounded-group
    * regime the grouped operators actually see (story/feed buckets of a
    * handful of members) is hash-oracled, not just spec-covered. */
  def qAffinityPropSmall(t: Tables): DataFrame = qAffinityProp(t, n = ApSmallN)

  // ------------------------------------------------------------------ M4

  /** Agglomerative clustering on one group (the reference's sklearn call at
    * cluster.py:46-47: linkage='complete', affinity='cosine', n_clusters).
    * Complete linkage needs only MAX over base pair distances, so once
    * d(i,j) = round(1−cos, 6) is pinned to the grid, every merge decision
    * is an exact comparison: the replay is deterministic by construction.
    * Cluster labels are the min member id (merges always fold the larger
    * label into the smaller); merge choice = min (linkage, labelA, labelB).
    */
  private[graft] def aggloKernel(ids: Array[Long], vecs: Array[Array[Double]],
      nClusters: Int): Array[(Long, Long, Long)] = {
    val n = ids.length
    if (n == 0) return Array.empty
    val norms = vecs.map { v =>
      var s = 0.0
      var j = 0
      while (j < v.length) { s = s + v(j) * v(j); j += 1 }
      math.sqrt(s)
    }
    val d = Array.tabulate(n, n) { (x, y) =>
      if (x < y) roundMicro(1.0 - dot(vecs(x), vecs(y)) / (norms(x) * norms(y)))
      else 0.0
    }
    val lbl = ids.clone()
    var merges = math.max(0, n - math.max(1, nClusters))
    var mergeable = true
    while (merges > 0 && mergeable) {
      // complete linkage per live cluster pair = max base distance
      val links = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
      var x = 0
      while (x < n) {
        var y = x + 1
        while (y < n) {
          if (lbl(x) != lbl(y)) {
            val key = (math.min(lbl(x), lbl(y)), math.max(lbl(x), lbl(y)))
            val cur = links.getOrElse(key, Double.NegativeInfinity)
            if (d(x)(y) > cur) links.update(key, d(x)(y))
          }
          y += 1
        }
        x += 1
      }
      // NaN distances (zero-norm vectors) enter no link (NaN > x is
      // false); an empty link table means nothing mergeable — stop
      // instead of crashing on minBy
      if (links.isEmpty) mergeable = false
      else {
        val ((ca, cb), _) = links.minBy { case ((a, b), v) => (v, a, b) }
        var z = 0
        while (z < n) { if (lbl(z) == cb) lbl(z) = ca; z += 1 }
        merges -= 1
      }
    }
    val sizes = lbl.groupBy(identity).map { case (c, m) => c -> m.length.toLong }
    Array.tabulate(n)(i => (ids(i), lbl(i), sizes(lbl(i))))
  }

  /** q180's subset size and target cluster count (the kernel's default). */
  final val AggloN = 24
  final val AggloK = 5

  /** Agglomerative per bounded group — the scale face (same shuffle shape
    * as apGrouped). */
  def agglomerativeGrouped(df: DataFrame, groupCol: String, idCol: String,
      vecCol: String, nClusters: Int = AggloK): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string"), col(idCol).cast("long"), col(vecCol))
      .as[(String, Long, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (grp, iter) =>
        val rows = iter.toArray.sortBy(_._2)
        aggloKernel(rows.map(_._2), rows.map(_._3.toArray.map(_.toDouble)), nClusters)
          .iterator.map { case (id, cl, sz) => (grp, id, cl, sz) }
      }
      .toDF(groupCol, idCol, "cluster", "cluster_size")
  }

  /** Q180: M4 under the hash gate — complete-linkage cosine clustering of
    * the `n` lowest vec_ids down to `k` clusters. */
  def qAgglomerative(t: Tables, n: Int = AggloN, k: Int = AggloK): DataFrame = {
    val sub = t.embeddings.orderBy(col("vec_id")).limit(n)
      .select(lit("all").as("g"), col("vec_id"), col("embedding"))
    agglomerativeGrouped(sub, "g", "vec_id", "embedding", k)
      .select(col("vec_id"), col("cluster"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** q184's subset size and cluster count, read by its Spark arm and its
    * oracle entry. */
  final val AggloSmallN = 8
  final val AggloSmallK = 3

  /** Q184: the small-group agglomerative gate — q180's kernel and oracle
    * generator at n=`AggloSmallN`, k=`AggloSmallK` (5 merge rounds).
    * Together with q183 this hash-gates the below-default-subset
    * territory. */
  def qAgglomerativeSmall(t: Tables): DataFrame =
    qAgglomerative(t, n = AggloSmallN, k = AggloSmallK)

  /** q180 oracle: n−k merge rounds unrolled; each round joins the base
    * pair-distance matrix to the live labels, takes the min
    * (complete-linkage, labelA, labelB) pair, and relabels. All
    * comparisons are on round(·,6) grid values — exact. */
  def qAgglomerativeSql(n: Int = AggloN, k: Int = AggloK): String = {
    val nrm = (1 to EmbDim).map(j => s"e[$j] * e[$j]").mkString(" + ")
    val dotE = (1 to EmbDim).map(j => s"a.e[$j] * b.e[$j]").mkString(" + ")
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += s"""sub AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, sqrt($nrm) AS nv
       |  FROM embeddings ORDER BY vec_id LIMIT $n)""".stripMargin
    ctes += s"""pd AS MATERIALIZED (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |         round(1.0::DOUBLE - ($dotE) / (a.nv * b.nv), 6) AS d
       |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id)""".stripMargin
    ctes += "l0 AS MATERIALIZED (SELECT vec_id, vec_id AS c FROM sub)"
    for (r <- 1 to math.max(0, n - k)) {
      ctes += s"""m$r AS MATERIALIZED (
         |  SELECT ca, cb FROM (
         |    SELECT least(la.c, lb.c) AS ca, greatest(la.c, lb.c) AS cb, max(p.d) AS link
         |    FROM pd p JOIN l${r - 1} la ON p.i = la.vec_id
         |              JOIN l${r - 1} lb ON p.j = lb.vec_id
         |    WHERE la.c <> lb.c GROUP BY 1, 2)
         |  ORDER BY link, ca, cb LIMIT 1)""".stripMargin
      ctes += s"""l$r AS MATERIALIZED (
         |  SELECT vec_id,
         |         CASE WHEN c = (SELECT cb FROM m$r) THEN (SELECT ca FROM m$r)
         |              ELSE c END AS c
         |  FROM l${r - 1})""".stripMargin
    }
    val last = math.max(0, n - k)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT l.vec_id, l.c AS cluster, CAST(s.n AS BIGINT) AS cluster_size
       |FROM l$last l JOIN (SELECT c, COUNT(*) AS n FROM l$last GROUP BY c) s
       |  ON l.c = s.c
       |ORDER BY l.vec_id""".stripMargin
  }
}
