package graft.ops

import graft.Tables
import graft.functions.text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LexRank extractive summarization (SURVEY.md §2.9 M6; reference
  * summarize.py:5-26 via the pinned sumpy lexrank, reddit_api.py:146-150).
  *
  * LexRank (Erkan & Radev 2004): sentences are nodes; edges connect
  * sentence pairs whose TF-IDF cosine exceeds a threshold; scores are the
  * stationary distribution of a random walk over that graph (PageRank with
  * damping). The summary is the top-k sentences per cluster (top-1
  * title/text in the CLI path, top-3 joined in the server path — W1/W2).
  *
  * Distribution: everything per-group is computed via group-keyed joins and
  * aggregations — thousands of clusters process in parallel, no per-cluster
  * driver work. The power iteration is a fixed-iteration driver loop over
  * one edges DataFrame (SURVEY §4 custom-concern 2), localCheckpoint-ed to
  * cut lineage; iterations cost one shuffle each regardless of cluster
  * count.
  */
object Summarize {

  /** Sentence-level TF (stemmed, stopword-filtered) as a token-count map. */
  private val tfMap = udf((tokens: Seq[String]) =>
    if (tokens == null) Map.empty[String, Int]
    else tokens.groupBy(identity).map { case (k, v) => k -> v.length })

  /** idf-weighted cosine between two token-count maps (LexRank eq. 3). */
  private val idfCosine = udf(
    (a: Map[String, Int], b: Map[String, Int], idf: Map[String, Double]) => {
      def w(m: Map[String, Int], t: String) = m.getOrElse(t, 0).toDouble * idf.getOrElse(t, 0.0)
      val terms = a.keySet ++ b.keySet
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      terms.foreach { t =>
        val x = w(a, t); val y = w(b, t)
        ab += x * y; aa += x * x; bb += y * y
      }
      if (aa == 0.0 || bb == 0.0) 0.0 else ab / (math.sqrt(aa) * math.sqrt(bb))
    })

  /** LexRank scores for (group, sentence) rows.
    *
    * @param sentences (groupCol, idCol, textCol) — one row per sentence
    * @return (group, id, score) — scores sum to ~1 within each group
    */
  def lexrank(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String, threshold: Double = 0.1, damping: Double = 0.85,
      iterations: Int = 12, stem: Boolean = true): DataFrame = {
    val g = col(groupCol).as("grp")
    val chain = {
      val base = text.removeStopwords(text.tokenize(col(textCol)))
      if (stem) text.stemTokens(base) else base
    }
    val toks = sentences.select(g, col(idCol).as("sid"), chain.as("toks"))

    // per-group smooth idf: log((N+1)/(df+1)) + 1
    val groupSizes = toks.groupBy(col("grp")).agg(count(lit(1)).as("n_sent"))
    val dfCounts = toks.select(col("grp"), col("sid"),
        explode(array_distinct(col("toks"))).as("term"))
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("df"))
    val idfMaps = dfCounts.join(groupSizes, "grp")
      .withColumn("idf", log((col("n_sent") + 1).cast("double") / (col("df") + 1)) + 1)
      .groupBy(col("grp"))
      .agg(map_from_arrays(collect_list(col("term")), collect_list(col("idf"))).as("idf"))

    val vecs = toks.withColumn("tf", tfMap(col("toks"))).join(idfMaps, "grp")

    // intra-group sentence graph: cosine > threshold (both directions kept)
    val a = vecs.select(col("grp"), col("sid").as("src"), col("tf").as("tf_a"), col("idf"))
    val b = vecs.select(col("grp"), col("sid").as("dst"), col("tf").as("tf_b"))
    val edges = a.join(b, Seq("grp"))
      .filter(col("src") =!= col("dst"))
      .withColumn("sim", idfCosine(col("tf_a"), col("tf_b"), col("idf")))
      .filter(col("sim") > threshold)
      .select(col("grp"), col("src"), col("dst"))
      .cache()
    val outDegree = edges.groupBy(col("grp"), col("src")).agg(count(lit(1)).as("deg"))

    // power iteration: s = (1-d)/n + d * Σ_in s_j/deg_j  (binary LexRank)
    var scores = vecs.select(col("grp"), col("sid"))
      .join(groupSizes, "grp")
      .withColumn("score", lit(1.0) / col("n_sent"))
      .select(col("grp"), col("sid"), col("score"))
    for (i <- 1 to iterations) {
      val contrib = edges
        .join(scores.select(col("grp"), col("sid").as("src"), col("score")), Seq("grp", "src"))
        .join(outDegree, Seq("grp", "src"))
        .groupBy(col("grp"), col("dst"))
        .agg(sum(col("score") / col("deg")).as("inflow"))
      scores = scores
        .join(contrib.select(col("grp"), col("dst").as("sid"), col("inflow")),
          Seq("grp", "sid"), "left")
        .join(groupSizes, "grp")
        .withColumn("score",
          (lit(1.0) - damping) / col("n_sent") + lit(damping) * coalesce(col("inflow"), lit(0.0)))
        .select(col("grp"), col("sid"), col("score"))
      if (i % 4 == 0) scores = scores.localCheckpoint()
    }
    scores.select(col("grp").as(groupCol), col("sid").as(idCol), col("score"))
  }

  /** LexRank with the per-group computation as an in-memory kernel inside
    * flatMapGroups: ONE shuffle (group the sentences), then each story
    * cluster — bounded by construction — computes its idf, cosine graph and
    * power iteration locally; thousands of groups run in parallel across
    * the cluster. This is the default: the iterative DataFrame variant
    * above (`lexrank`) exists for groups too large for one task, at the
    * cost of a shuffle per iteration. Same algorithm, same parameters. */
  /** Keep the `cap` smallest-by-id elements of a streaming group iterator
    * in O(n log cap) time and O(cap) memory (max-heap by id, evict the
    * largest) — the kernel-side enforcement arm of the per-group size
    * governor. Deterministic: the kept SET is the cap smallest ids,
    * independent of arrival order. */
  private[graft] def smallestByIdCap[T: scala.reflect.ClassTag](
      iter: Iterator[T], cap: Int, id: T => Long): Array[T] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[T](
      Ordering.by[T, Long](id)) // max-heap on id
    iter.foreach { e =>
      if (heap.size < cap) heap += e
      else if (id(e) < id(heap.head)) { heap.dequeue(); heap += e }
    }
    heap.toArray
  }

  def lexrankGrouped(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String, threshold: Double = 0.1, damping: Double = 0.85,
      iterations: Int = 20, stem: Boolean = true,
      maxGroup: Int = Int.MaxValue): DataFrame = {
    val spark = sentences.sparkSession
    import spark.implicits._
    // fan the (single-row-group) scan out before the tokenize→stem chain;
    // the groupByKey below re-shuffles by group anyway
    val fanned = sentences.repartition(spark.sparkContext.defaultParallelism)
    val chain = {
      val base = text.removeStopwords(text.tokenize(col(textCol)))
      if (stem) text.stemTokens(base) else base
    }
    val toks = fanned.select(col(groupCol).cast("string"), col(idCol).cast("long"),
        chain)
      .as[(String, Long, Seq[String])]
    toks.groupByKey(_._1).flatMapGroups { (grp, iter) =>
      // the quadratic cos graph is bounded by maxGroup² — an oversized
      // group keeps its maxGroup smallest sentence ids (deterministic),
      // streamed with bounded memory; ungoverned callers pass MaxValue
      // and take the plain path. sortBy(id) pins the in-kernel float
      // accumulation order (idf/score sums) — shuffle arrival order must
      // never be able to flip a last-ulp (r12, with the governor; the
      // Affinity kernels already sort)
      val sents = (
        if (maxGroup == Int.MaxValue) iter.toArray
        else smallestByIdCap(iter, maxGroup, (e: (String, Long, Seq[String])) => e._2)
      ).sortBy(_._2)
      val n = sents.length
      // per-group smooth idf
      val dfCount = scala.collection.mutable.HashMap.empty[String, Int]
      sents.foreach(_._3.distinct.foreach(t =>
        dfCount.update(t, dfCount.getOrElse(t, 0) + 1)))
      val idf = dfCount.map { case (t, d) =>
        t -> (math.log((n + 1).toDouble / (d + 1)) + 1)
      }
      val vecs: Array[Map[String, Double]] = sents.map { s =>
        s._3.groupBy(identity).map { case (t, o) => t -> o.length * idf(t) }
      }
      val norms = vecs.map(v => math.sqrt(v.values.map(x => x * x).sum))
      def cos(i: Int, j: Int): Double = {
        if (norms(i) == 0.0 || norms(j) == 0.0) return 0.0
        val (small, big) = if (vecs(i).size < vecs(j).size) (vecs(i), vecs(j)) else (vecs(j), vecs(i))
        var s = 0.0
        small.foreach { case (t, x) => big.get(t).foreach(y => s += x * y) }
        s / (norms(i) * norms(j))
      }
      // binary adjacency over the threshold
      val adj = Array.fill(n)(List.newBuilder[Int])
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          if (cos(i, j) > threshold) { adj(i) += j; adj(j) += i }
          j += 1
        }
        i += 1
      }
      val neighbors = adj.map(_.result().toArray)
      val deg = neighbors.map(_.length)
      var score = Array.fill(n)(1.0 / n)
      var it = 0
      while (it < iterations) {
        val next = Array.fill(n)((1.0 - damping) / n)
        var u = 0
        while (u < n) {
          if (deg(u) > 0) {
            val share = damping * score(u) / deg(u)
            neighbors(u).foreach(v => next(v) += share)
          }
          u += 1
        }
        score = next
        it += 1
      }
      sents.indices.iterator.map(ix => (grp, sents(ix)._2, score(ix)))
    }.toDF(groupCol, idCol, "score")
  }

  /** Governed grouped LexRank — the q185/q201 audit-plus-cap recipe
    * applied to the per-cluster kernel (VERDICT r11 item 2): group sizes
    * are bounded by construction at the reference's scale, but grow with
    * the corpus (5 sources / k clusters over a growing doc count) while
    * the kernel's cos graph is quadratic IN the group (q120 measured
    * 13.1× wall at 10× data). ONE bounded audit aggregate prices the
    * group sizes; when every group is ≤ cap this IS lexrankGrouped
    * (bit-identical — the oracled shipped-SF contract); when one
    * exceeds it, the kernel keeps each oversized group's `cap`
    * smallest-by-id sentences (streamed, O(cap) memory — no count
    * window, no mega-group single-task sort) and the audit line goes to
    * stderr. Scores for governed groups are LexRank over the kept
    * subset; dropped sentences emit no row — the documented recall
    * trade, priced by the audit exactly like q186's bucket cap. */
  /** The priced per-group size audit shared by every grouped-kernel
    * governor (lexrank, AP, agglomerative): ONE bounded aggregate fetch;
    * returns Int.MaxValue (ungoverned — kernel behavior bit-identical)
    * when every group prices ≤ cap, else logs the audit to stderr and
    * returns the cap for the kernel's enforcement trim. */
  private[graft] def groupCapOrMax(df: DataFrame, groupCol: String,
      cap: Int, tag: String): Int = {
    val a = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("max_group"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_governed"),
        sum(when(col("n") > cap, col("n") - cap).otherwise(0L)).as("dropped"))
      .head()
    if (a.getLong(0) <= cap) Int.MaxValue
    else {
      System.err.println(s"[$tag-governor] groups over cap=$cap: " +
        s"n_governed=${a.getLong(1)} max_group=${a.getLong(0)} " +
        s"dropped_rows=${a.getLong(2)}")
      cap
    }
  }

  def lexrankGoverned(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String, threshold: Double = 0.1, damping: Double = 0.85,
      iterations: Int = 20, stem: Boolean = true, cap: Int = 2048): DataFrame =
    lexrankGrouped(sentences, groupCol, idCol, textCol, threshold, damping,
      iterations, stem, groupCapOrMax(sentences, groupCol, cap, "lexrank"))

  /** Q246: qLexrankPower routed through the GOVERNED kernel — the gate
    * for the group-size governor's fallback arm. Contract (the q186/q242
    * pattern): at every shipped SF the source groups price under the cap
    * (sf0.1 max group = 250 < 512), so the governed path is bit-identical
    * to q120's program and the oracle replays it exactly; at sf1.0
    * (groups of 2500) the governor engages, the kernel runs on each
    * group's 512 smallest doc_ids, and the stderr audit prices the drop —
    * the capped-run scale measurement VERDICT r11 item 2 asks for. */
  def qLexrankGoverned(t: Tables, threshold: Double = 0.1,
      damping: Double = 0.85, iterations: Int = 10, topK: Int = 3,
      cap: Int = 512): DataFrame = {
    val scored = lexrankGoverned(
      t.fanout(t.documents).select(col("source"), col("doc_id"), col("text")),
      "source", "doc_id", "text", threshold, damping, iterations,
      stem = false, cap = cap)
    val wnd = Window.partitionBy(col("source"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= topK)
      .select(col("source"), col("rnk").cast("long").as("rank"),
        col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("source"), col("rank"))
  }

  /** Top-k summary rows per group by LexRank score (W1/W2): deterministic
    * tie-break on id. The PRODUCTION summary surface (newsPipeline /
    * joinedSummaries consume it), so it routes through the governed
    * kernel: bit-identical at reference-scale cluster sizes, priced and
    * bounded when a story cluster outgrows the cap (r12 governor). */
  def summarize(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String, k: Int, cap: Int = 2048): DataFrame = {
    val scored = lexrankGoverned(sentences, groupCol, idCol, textCol, cap = cap)
      .join(sentences.select(col(groupCol), col(idCol), col(textCol)),
        Seq(groupCol, idCol))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col(idCol),
        round(col("score"), 6).as("score"), col(textCol))
  }

  /** Query surface: each source is a "story cluster" of documents, each
    * document one sentence node (the synthetic corpus has no sentence
    * punctuation); emit the 3 most-central documents per source — the
    * server path's top-3 summary (reddit_api.py:148-149). */
  def qLexrankBySource(t: Tables): DataFrame =
    summarize(t.documents.select(col("source"), col("doc_id"), col("text")),
      "source", "doc_id", "text", 3)
      .select(col("source"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("source"), col("rank"))

  /** Concatenated top-3 summary text per group (reddit_api.py:148-150's
    * ' '.join of the top sentences), rank-ordered. */
  def joinedSummaries(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String): DataFrame =
    summarize(sentences, groupCol, idCol, textCol, 3)
      .groupBy(col(groupCol))
      // collect_list order is nondeterministic — sort the (rank, text)
      // structs before joining so the summary is rank-ordered.
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("rank"), col(textCol)))),
          s => s.getField(textCol)), " ").as("summary"))

  /** Q120: LexRank power iteration under the HASH GATE (summarize.py:5-26
    * intent, Erkan & Radev 2004) — the oracle-replayable counterpart of
    * q45 (whose stemmed tokens and map-kernel cosine aren't DuckDB-
    * expressible). Same graph-centrality algorithm, fully relational:
    *
    *  - nodes: documents within each `source` group (the synthetic corpus
    *    has no sentence punctuation — TESTDATA — so the doc is the
    *    sentence unit, as in q45);
    *  - tf·idf weights per (group, doc, term), smooth idf ln((n+1)/(df+1))+1
    *    on UNSTEMMED stopword-filtered tokens (documented deviation from
    *    q45's Porter chain: stemming isn't SQL-replayable; the algorithm
    *    is unchanged);
    *  - sim graph: idf-weighted cosine > threshold via an INVERTED-INDEX
    *    self-join on (group, term) + one pair aggregate — the dot products
    *    of all co-term pairs in one distributed pass, no per-group kernel
    *    (shuffle O(Σ_term df²); at 100 TB the threshold prefilter becomes
    *    LSH candidate generation, q34's machinery);
    *  - `iterations` fixed damped rounds s = (1−d)/n + d·Σ_in s_j/deg_j;
    *    fixed rounds rather than convergence so the DuckDB oracle can
    *    replay them as unrolled CTEs. Scores round(6): the two engines'
    *    sums run in different orders (kernel map order vs hash-aggregate
    *    order) and agree to ~1e-15, far inside the rounding.
    *
    * Execution is the grouped kernel (lexrankGrouped): ONE shuffle keys
    * the sentences by group, then each group — bounded by construction
    * (a story cluster's sentences) — builds its idf, graph and iteration
    * locally; thousands of groups run in parallel. The per-round
    * DataFrame-join variant (`lexrank`) remains the escape hatch for a
    * group too large for one task. (A first cut ran the iteration as 10
    * rounds of |E|-join DataFrames — 17 s at sf0.1 vs ~1 s for the
    * kernel, all of it Spark scheduling floor on tiny per-round state;
    * the measured reason the grouped kernel is this surface's default.) */
  def qLexrankPower(t: Tables, threshold: Double = 0.1, damping: Double = 0.85,
      iterations: Int = 10, topK: Int = 3): DataFrame = {
    val scored = lexrankGrouped(
      t.fanout(t.documents).select(col("source"), col("doc_id"), col("text")),
      "source", "doc_id", "text", threshold, damping, iterations, stem = false)
    val wnd = Window.partitionBy(col("source"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= topK)
      .select(col("source"), col("rnk").cast("long").as("rank"),
        col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("source"), col("rank"))
  }

  /** q120 oracle: the identical rounds unrolled as aggregating CTEs (an
    * aggregate in a RECURSIVE term is not portable); self-loop rows with a
    * zero contribution stand in for the Spark side's left join, so every
    * vertex survives each round. Constants are written as the same IEEE
    * expressions Catalyst folds ((1.0 - 0.85), not a decimal 0.15). */
  def qLexrankPowerSql(threshold: Double = 0.1, damping: Double = 0.85,
      iterations: Int = 10, topK: Int = 3): String =
    s"""WITH nodes AS (SELECT source AS grp, doc_id AS sid, text AS txt FROM documents),
       |${lexrankPowerCtes(threshold, damping, iterations)}
       |SELECT grp AS source, CAST(rnk AS BIGINT) AS rank, sid AS doc_id, score FROM (
       |  SELECT grp, sid, round(score, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY grp
       |      ORDER BY round(score, 6) DESC, sid) AS rnk
       |  FROM s$iterations) WHERE rnk <= $topK
       |ORDER BY source, rank""".stripMargin

  /** The q120 LexRank CTE chain over a caller-supplied `nodes(grp, sid,
    * txt)` CTE — the final scores land in `s<iterations>(grp, sid,
    * score)`. Factored out so the composed news-pipeline gate (q226) can
    * run the identical rounds with grp = k-means cluster id.
    * `materialized` marks the per-round and shared-input CTEs with the
    * DuckDB hint (the r6 >5-round chain rule) for callers embedding the
    * chain in a longer program. */
  private[graft] def lexrankPowerCtes(threshold: Double = 0.1,
      damping: Double = 0.85, iterations: Int = 10,
      materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    val stop = text.stopwords.map(s => s"'$s'").mkString(", ")
    val iterCtes = (0 until iterations).map { i =>
      s"""s${i + 1} AS $m(
         |  SELECT e.grp, e.dst AS sid,
         |    (1.0::DOUBLE - $damping::DOUBLE) / CAST(n.n AS DOUBLE)
         |      + $damping::DOUBLE * SUM(CASE WHEN e.src = e.dst THEN 0.0::DOUBLE
         |          ELSE s.score / CAST(e.deg AS DOUBLE) END) AS score
         |  FROM s$i s JOIN eaug e ON e.grp = s.grp AND e.src = s.sid
         |  JOIN nd n ON n.grp = e.grp
         |  GROUP BY e.grp, e.dst, n.n)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT grp, sid,
       |    unnest(list_filter(string_split_regex(lower(txt), '[^a-z0-9'']+'),
       |           x -> len(x) > 0)) AS term
       |  FROM nodes),
       |tf AS (
       |  SELECT grp, sid, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
       |  WHERE term NOT IN ($stop) GROUP BY grp, sid, term),
       |nd AS $m(SELECT grp, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM nodes GROUP BY grp),
       |verts AS (SELECT grp, sid FROM nodes),
       |dfc AS (SELECT grp, term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY grp, term),
       |w AS (
       |  SELECT tf.grp, tf.sid, tf.term,
       |    tf.tf * (ln(CAST(dfc2.n + 1 AS DOUBLE) / CAST(dfc.df + 1 AS DOUBLE)) + 1.0) AS w
       |  FROM tf JOIN dfc USING (grp, term) JOIN nd dfc2 USING (grp)),
       |norms AS (SELECT grp, sid, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY grp, sid),
       |dots AS (
       |  SELECT a.grp, a.sid AS src, b.sid AS dst, SUM(a.w * b.w) AS dot
       |  FROM w a JOIN w b ON a.grp = b.grp AND a.term = b.term AND a.sid < b.sid
       |  GROUP BY a.grp, a.sid, b.sid),
       |sim_half AS (
       |  SELECT d.grp, d.src, d.dst FROM dots d
       |  JOIN norms na ON na.grp = d.grp AND na.sid = d.src
       |  JOIN norms nb ON nb.grp = d.grp AND nb.sid = d.dst
       |  WHERE d.dot / (na.nrm * nb.nrm) > $threshold::DOUBLE),
       |edges AS (SELECT grp, src, dst FROM sim_half
       |          UNION ALL SELECT grp, dst, src FROM sim_half),
       |deg AS (SELECT grp, src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY grp, src),
       |eaug AS $m(
       |  SELECT e.grp, e.src, e.dst, d.deg FROM edges e
       |  JOIN deg d ON d.grp = e.grp AND d.src = e.src
       |  UNION ALL SELECT grp, sid, sid, 1 FROM verts),
       |s0 AS (
       |  SELECT v.grp, v.sid, 1.0::DOUBLE / CAST(n.n AS DOUBLE) AS score
       |  FROM verts v JOIN nd n USING (grp)),
       |$iterCtes""".stripMargin
  }
}
