package graft.ops

import graft.Tables
import graft.functions.text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LexRank extractive summarization (SURVEY.md §2.9 M6; reference
  * summarize.py:5-26 via the pinned sumpy lexrank, reddit_api.py:146-150).
  *
  * LexRank (Erkan & Radev 2004): sentences are nodes; edges connect
  * sentence pairs whose TF-IDF cosine exceeds a threshold; scores are the
  * stationary distribution of a random walk over that graph (PageRank with
  * damping). The summary is the top-k sentences per cluster (top-1
  * title/text in the CLI path via `summarize`, top-3 joined in the server
  * path via `joinedSummary` — W1/W2).
  *
  * Distribution: `lexrankGrouped` shuffles the sentences once by group and
  * runs each group's graph and power iteration in one task — thousands of
  * clusters process in parallel, no per-cluster driver work; the serving
  * pass's `joinedSummary` runs the same per-group kernel (`groupScores`)
  * inside its own shuffle. Group size is governed inside that kernel only
  * (the `maxGroup` trim): no job runs to price the groups.
  */
object Summarize {

  /** The sentence tokens LexRank compares: tokenize, drop stopwords and,
    * with `stem`, Porter-stem. */
  private[graft] def lexTokens(textCol: Column, stem: Boolean = true): Column = {
    val base = text.removeStopwords(text.tokenize(textCol))
    if (stem) text.stemTokens(base) else base
  }

  /** Keep the `cap` smallest-by-id elements of a streaming group iterator
    * in O(n log cap) time and O(cap) memory (max-heap by id, evict the
    * largest). Deterministic: the kept SET is the cap smallest ids,
    * independent of arrival order; a group of at most `cap` elements is
    * kept whole. The result is in heap order — callers sort it. */
  private def smallestByIdCap[T: scala.reflect.ClassTag](
      iter: Iterator[T], cap: Int, id: T => Long): Array[T] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[T](
      Ordering.by[T, Long](id)) // max-heap on id
    iter.foreach { e =>
      if (heap.size < cap) heap += e
      else if (id(e) < id(heap.head)) { heap.dequeue(); heap += e }
    }
    heap.toArray
  }

  /** LexRank with the per-group computation as an in-memory kernel inside
    * flatMapGroups: ONE shuffle (group the sentences), then each story
    * cluster computes its idf, cosine graph and power iteration locally;
    * thousands of groups run in parallel across the cluster.
    *
    * `maxGroup` is the group-size governor, and this kernel is its only
    * arm: the cosine graph is quadratic in the group, so a group of more
    * than `maxGroup` sentences keeps its `maxGroup` smallest ids (streamed,
    * O(maxGroup) memory) and the task writes one `[lexrank-governor]`
    * stderr line (group, size, cap, dropped). Scores of a trimmed group
    * are LexRank over the kept subset; dropped sentences emit no row. A
    * group at or below the cap is kept whole, so the default
    * (Int.MaxValue) never trims. Ids must be unique within a group (every
    * caller's are: article id, sentence id, doc_id): the kernel sorts by
    * id, and equal ids would keep heap order, not arrival order. */
  def lexrankGrouped(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String, threshold: Double = LexrankThreshold,
      damping: Double = LexrankDamping, iterations: Int = SummaryIterations,
      stem: Boolean = true,
      maxGroup: Int = Int.MaxValue): DataFrame = {
    val spark = sentences.sparkSession
    import spark.implicits._
    // fan the (single-row-group) scan out before the tokenize→stem chain;
    // the groupByKey below re-shuffles by group anyway
    val fanned = sentences.repartition(spark.sparkContext.defaultParallelism)
    val toks = fanned.select(col(groupCol).cast("string"), col(idCol).cast("long"),
        lexTokens(col(textCol), stem))
      .as[(String, Long, Seq[String])]
    toks.groupByKey(_._1).flatMapGroups { (grp, iter) =>
      val (_, sents, score) = groupScores(grp, iter, threshold, damping,
        iterations, maxGroup)(_._2, _._3)
      sents.indices.iterator.map(ix => (grp, sents(ix)._2, score(ix)))
    }.toDF(groupCol, idCol, "score")
  }

  /** The LexRank kernel over one group's rows (`lexrankGrouped`'s and the
    * serving pass's): trim to the `maxGroup` smallest ids, sort by id, then
    * per-group smooth idf, the binary cosine graph over `threshold` and
    * `iterations` rounds of damped power iteration. Returns the group's
    * full size, the kept rows in id order and their scores. */
  private def groupScores[T: scala.reflect.ClassTag](grp: String,
      iter: Iterator[T], threshold: Double, damping: Double, iterations: Int,
      maxGroup: Int)(id: T => Long, tokens: T => Seq[String])
      : (Long, Array[T], Array[Double]) = {
    // sortBy(id) pins the in-kernel float accumulation order (idf/score
    // sums) — shuffle arrival order must never be able to flip a
    // last-ulp (the Affinity kernels sort too)
    var size = 0L
    val sents = smallestByIdCap(iter.map { e => size += 1; e }, maxGroup, id)
      .sortBy(id)
    if (size > maxGroup)
      System.err.println(s"[lexrank-governor] group=$grp size=$size " +
        s"cap=$maxGroup dropped=${size - maxGroup}")
    val n = sents.length
    // per-group smooth idf
    val dfCount = scala.collection.mutable.HashMap.empty[String, Int]
    sents.foreach(s => tokens(s).distinct.foreach(t =>
      dfCount.update(t, dfCount.getOrElse(t, 0) + 1)))
    val idf = dfCount.map { case (t, d) =>
      t -> (math.log((n + 1).toDouble / (d + 1)) + 1)
    }
    val vecs: Array[Map[String, Double]] = sents.map { s =>
      tokens(s).groupBy(identity).map { case (t, o) => t -> o.length * idf(t) }
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
    (size, sents, score)
  }

  /** The LexRank program the q120/q246/q226 Spark arms and their oracle
    * chain read: the cosine edge threshold and the damping (the grouped
    * kernel's defaults, so serving shares them), the fixed power rounds
    * and the top-k rows kept per group. */
  final val LexrankThreshold = 0.1
  final val LexrankDamping = 0.85
  final val LexrankIterations = 10
  final val LexrankTopK = 3

  /** Q246: qLexrankPower routed through the GOVERNED kernel
    * (`lexrankGrouped` with `maxGroup = 512`). At every shipped SF the
    * source groups are under the cap (sf0.1 max group = 250 < 512), so the
    * kernel trims nothing, the result is bit-identical to q120's program
    * and the oracle replays it exactly; at sf1.0 (groups of 2500) each
    * group runs on its 512 smallest doc_ids, and the kernel's stderr line
    * prices the drop. */
  def qLexrankGoverned(t: Tables): DataFrame = {
    val scored = lexrankGrouped(
      t.fanout(t.documents).select(col("source"), col("doc_id"), col("text")),
      "source", "doc_id", "text", iterations = LexrankIterations,
      stem = false, maxGroup = 512)
    val wnd = Window.partitionBy(col("source"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= LexrankTopK)
      .select(col("source"), col("rnk").cast("long").as("rank"),
        col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("source"), col("rank"))
  }

  /** Top-k summary rows per group by LexRank score (W1/W2): deterministic
    * tie-break on id. The PRODUCTION summary surface (Pipeline's
    * newsPipeline and qLexrankBySource consume it; the serving pass's
    * `joinedSummary` is its k = 3 twin), so it runs the kernel with
    * `maxGroup = SummaryCap`: a story cluster at or below the cap is scored
    * whole, one that outgrows it is trimmed and logged by the kernel. */
  def summarize(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val scored = lexrankGrouped(sentences, groupCol, idCol, textCol, maxGroup = SummaryCap)
      .join(sentences.select(col(groupCol), col(idCol), col(textCol)),
        Seq(groupCol, idCol))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col(idCol),
        round(col("score"), 6).as("score"), col(textCol))
  }

  /** The story-cluster size above which `summarize` and `joinedSummary`
    * score only the smallest ids, and the power rounds both run. */
  private val SummaryCap = 2048
  private final val SummaryIterations = 20

  /** One story cluster's summary on the serving path (reddit_api.py:148-150's
    * ' '.join of the top sentences): `summarize(…, k = 3)` for one group —
    * the same kernel, parameters and cap, ranked by (score desc, id) — with
    * the texts joined by " " in rank order. Rows are (id, text,
    * `lexTokens(text)`); returns the group's size and its summary. */
  private[graft] def joinedSummary(grp: String,
      rows: Iterator[(Long, String, Seq[String])]): (Long, String) = {
    val (size, kept, score) = groupScores(grp, rows, LexrankThreshold,
      LexrankDamping, SummaryIterations, SummaryCap)(_._1, _._3)
    val byRank = kept.indices.sortBy(i => (-score(i), kept(i)._1))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    (size, byRank.take(3).map(kept(_)._2).mkString(" "))
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
    *  - `LexrankIterations` fixed damped rounds s = (1−d)/n + d·Σ_in s_j/deg_j;
    *    fixed rounds rather than convergence so the DuckDB oracle can
    *    replay them as unrolled CTEs. Scores round(6): the two engines'
    *    sums run in different orders (kernel map order vs hash-aggregate
    *    order) and agree to ~1e-15, far inside the rounding.
    *
    * Execution is the grouped kernel (lexrankGrouped): ONE shuffle keys
    * the sentences by group, then each group — bounded by construction
    * (a story cluster's sentences) — builds its idf, graph and iteration
    * locally; thousands of groups run in parallel. (A first cut ran the
    * iteration as 10 rounds of |E|-join DataFrames — 17 s at sf0.1 vs
    * ~1 s for the kernel, all of it Spark scheduling floor on tiny
    * per-round state; the measured reason the grouped kernel is this
    * surface's default.) */
  def qLexrankPower(t: Tables): DataFrame = {
    val scored = lexrankGrouped(
      t.fanout(t.documents).select(col("source"), col("doc_id"), col("text")),
      "source", "doc_id", "text", iterations = LexrankIterations, stem = false)
    val wnd = Window.partitionBy(col("source"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(wnd))
      .filter(col("rnk") <= LexrankTopK)
      .select(col("source"), col("rnk").cast("long").as("rank"),
        col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("source"), col("rank"))
  }

  /** q120 oracle: the identical rounds unrolled as aggregating CTEs (an
    * aggregate in a RECURSIVE term is not portable); self-loop rows with a
    * zero contribution stand in for the Spark side's left join, so every
    * vertex survives each round. Constants are written as the same IEEE
    * expressions Catalyst folds ((1.0 - 0.85), not a decimal 0.15). */
  def qLexrankPowerSql: String =
    s"""WITH nodes AS (SELECT source AS grp, doc_id AS sid, text AS txt FROM documents),
       |${lexrankPowerCtes()}
       |SELECT grp AS source, CAST(rnk AS BIGINT) AS rank, sid AS doc_id, score FROM (
       |  SELECT grp, sid, round(score, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY grp
       |      ORDER BY round(score, 6) DESC, sid) AS rnk
       |  FROM s$LexrankIterations) WHERE rnk <= $LexrankTopK
       |ORDER BY source, rank""".stripMargin

  /** The q120 LexRank CTE chain over a caller-supplied `nodes(grp, sid,
    * txt)` CTE — the final scores land in `s<LexrankIterations>(grp, sid,
    * score)`. Factored out so the composed news-pipeline gate (q226) can
    * run the identical rounds with grp = k-means cluster id.
    * `materialized` marks the per-round and shared-input CTEs with the
    * DuckDB hint (the r6 >5-round chain rule) for callers embedding the
    * chain in a longer program. */
  private[graft] def lexrankPowerCtes(materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    val iterCtes = (0 until LexrankIterations).map { i =>
      s"""s${i + 1} AS $m(
         |  SELECT e.grp, e.dst AS sid,
         |    (1.0::DOUBLE - $LexrankDamping::DOUBLE) / CAST(n.n AS DOUBLE)
         |      + $LexrankDamping::DOUBLE * SUM(CASE WHEN e.src = e.dst THEN 0.0::DOUBLE
         |          ELSE s.score / CAST(e.deg AS DOUBLE) END) AS score
         |  FROM s$i s JOIN eaug e ON e.grp = s.grp AND e.src = s.sid
         |  JOIN nd n ON n.grp = e.grp
         |  GROUP BY e.grp, e.dst, n.n)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT grp, sid,
       |    unnest(${text.tokenizeSql("txt")}) AS term
       |  FROM nodes),
       |tf AS (
       |  SELECT grp, sid, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
       |  WHERE term NOT IN (${text.stopwordsSql}) GROUP BY grp, sid, term),
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
       |  WHERE d.dot / (na.nrm * nb.nrm) > $LexrankThreshold::DOUBLE),
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
