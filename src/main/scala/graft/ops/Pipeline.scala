package graft.ops

import graft.Tables
import graft.functions.text
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's batch pipeline, end to end (SURVEY.md §3.1,
  * pipeline.py:12-68 intent): articles → greedy fuzzy title dedup →
  * TF-IDF(titles) → k-means k=⌈n/4⌉ → group by cluster → LexRank over
  * member texts → top-1 summary sentence + top-1 title per cluster.
  *
  * Deviations from the reference text, by design (SURVEY §0): the broken
  * clustering code is replaced by its stated intent; the `text_content` /
  * `text` key mismatch is resolved to `text`; the pdb.set_trace() stop and
  * the dead code around the double return in summarize.py are dropped.
  */
object Pipeline {

  /** @param articles (id LONG, title STRING, text STRING)
    * @return summary rows: (cluster_id, n_articles, best_title,
    *         best_sentence) — summarize.py:20-23's {title, text} record. */
  def newsPipeline(articles: DataFrame, kmeansMaxIter: Int = 100,
      seed: Long = 42L): DataFrame = {
    val spark = articles.sparkSession
    import spark.implicits._

    // 1. greedy fuzzy dedup on titles (pipeline.py:27-35) — arrival order,
    //    keep-first, fuzz.ratio > 80. Driver-side by contract (bounded
    //    input; the scalable strategies live in ops.Dedup).
    val rows = articles.select(col("id"), col("title")).as[(Long, String)]
      .collect().toSeq
    // empty-input guard: the k-means/LexRank stages cannot fit on an
    // empty corpus — an empty article set is an empty summary table
    if (rows.isEmpty) {
      import org.apache.spark.sql.types._
      return graft.Tables.emptyFrame(spark, "cluster_id" -> IntegerType,
        "n_articles" -> LongType, "best_title" -> StringType,
        "best_sentence" -> StringType)
    }
    val keptIds = Dedup.greedyFuzzyKeepIds(rows)
    val kept = articles.filter(col("id").isInCollection(keptIds))

    // 2. TF-IDF over titles (cluster.py:25-30) with the reference tokenizer
    val feats = Clustering.tfidf(kept, "title")

    // 3. k-means k=⌈n/4⌉, k-means++ init, maxIter 100 (cluster.py:51-53)
    val n = keptIds.size
    val k = math.max(math.ceil(n / 4.0).toInt, 2)
    val km = new KMeans().setK(k).setMaxIter(kmeansMaxIter).setSeed(seed)
      .setFeaturesCol("tfidf").setPredictionCol("cluster_id")
    val clustered = km.fit(feats).transform(feats)
      .select(col("id"), col("title"), col("text"), col("cluster_id"))
      .cache() // consumed three times below (sizes, titles, sentences)

    // 4-5. LexRank over member sentences AND member titles per cluster
    //      (summarize.py:12-18: lexrank over sentence-split texts, head-1
    //      for the best sentence; lexrank(titles) head-1 for the title).
    //      Sentence explode is the U7 generator: one row per sentence,
    //      id = article_id·10^4 + position.
    val sentences = clustered
      .select(col("cluster_id"), col("id"),
        posexplode(text.sentences(col("text"))).as(Seq("pos", "sentence")))
      .select(col("cluster_id"),
        (col("id") * 10000 + col("pos")).as("sent_id"), col("sentence"))
    val bestText = Summarize.summarize(
      sentences, "cluster_id", "sent_id", "sentence", 1)
      .select(col("cluster_id"), col("sentence").as("best_sentence"))
    val bestTitle = Summarize.summarize(
      clustered.select(col("cluster_id"), col("id"), col("title")),
      "cluster_id", "id", "title", 1)
      .select(col("cluster_id"), col("title").as("best_title"))
    val sizes = clustered.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_articles"))

    sizes.join(bestTitle, Seq("cluster_id"), "left")
      .join(bestText, Seq("cluster_id"), "left")
      .orderBy(col("cluster_id"))
  }

  /** Pipeline over the documents table (flagship query): each document is
    * an article, its first 60 chars the "title". Capped to reference-scale
    * input (the greedy dedup stage is sequential by semantics). */
  def qNewsPipeline(t: Tables): DataFrame = {
    val articles = t.documents
      .filter(col("doc_id") < 200)
      .select(col("doc_id").as("id"),
        substring(col("text"), 1, 60).as("title"), col("text"))
    newsPipeline(articles, kmeansMaxIter = 20)
  }

  /** Q226: the composed news pipeline under the HASH GATE — q50's trace
    * (SURVEY §3.1) rebuilt from the deterministic faces of its stages,
    * the q112 composition discipline: composing operators must not change
    * any stage's semantics, so each stage IS its gated standalone query
    * and the DuckDB oracle replays the entire chain end to end.
    *
    *  1. dedup: the q32 fuzzy-pair graph closed into components (q37's
    *     star contraction), min-id representative kept per component;
    *  2. cluster: the q119 Lloyd rounds (first-k-surviving-ids init,
    *     `Clustering.KmeansUpdates` round(6)-mean updates, argmax-cosine assignment) over
    *     the kept documents' embeddings — the deterministic face of the
    *     reference's k-means stage (cluster.py:51-53 intent);
    *  3. summarize: the q120 LexRank power iteration per CLUSTER (grp =
    *     cid instead of source) — tf·idf weights (the q102 math as the
    *     LexRank weight sub-stage), thresholded cosine graph, `LexrankIterations`
    *     damped rounds — top-1 doc per cluster (summarize.py head-1
    *     intent).
    *
    * Output: one row per non-empty cluster with per-stage conservation
    * (`n_kept` dedup survivors, `n_clustered` = Σ n_members — the
    * q112-style stage-survival audit) and the LexRank winner. q50 stays
    * the spark.ml-backed rows-only face; this is the gate.
    *
    * Scale shape: each stage keeps its standalone scale shape — star
    * contraction is O(log n) shuffle rounds, Lloyd is one broadcast-
    * assignment + one k·dims-partial aggregate per round, LexRank is ONE
    * shuffle into bounded per-cluster kernels. The kept set is
    * localCheckpointed once (doc_id + text, small rows) because three
    * branches and a bounded count consume it — the r9 barrier rule. */
  def qNewsPipelineGate(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reps = Dedup.fuzzyLabelsCached(t)
      .select(col("label").as("doc_id")).distinct()
    val kept = t.documents.join(reps, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
      .localCheckpoint(eager = false)
    val nKept = kept.count()
    val emb = t.embeddings
      .join(kept.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .cache()
    // the cache serves the construction-time collects (init + the Lloyd
    // rounds); unpersist before returning — the ADVICE r11 leak fix,
    // matching the qRankOverlap/qCohensKappa try/finally pattern
    val assigned = try {
      val init = emb.orderBy(col("vec_id")).limit(Clustering.KmeansK)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      Clustering.lloydRounds(emb, init, Clustering.KmeansUpdates).localCheckpoint()
    } finally emb.unpersist()
    val members = assigned.select(col("vec_id").as("doc_id"), col("cid"))
      .join(kept, Seq("doc_id"))
    val scored = Summarize.lexrankGrouped(
      members.select(col("cid"), col("doc_id"), col("text")),
      "cid", "doc_id", "text", iterations = Summarize.LexrankIterations,
      stem = false)
    val w = Window.partitionBy(col("cid"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
    val tops = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cid").cast("long").as("cid"),
        col("doc_id").as("top_doc_id"), round(col("score"), 6).as("top_score"))
    val sizes = members.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    sizes.join(tops, Seq("cid"))
      .withColumn("n_clustered", sum(col("n_members")).over(Window.partitionBy()))
      .select(col("cid").cast("long").as("cluster"), col("n_members"),
        lit(nKept).as("n_kept"), col("n_clustered"),
        col("top_doc_id"), col("top_score"))
      .orderBy(col("cluster"))
  }

  /** q226 oracle: the q37 recursive component CTEs + the q119 Lloyd round
    * CTEs (kept-subset emb, first-k-surviving init) + the q120 LexRank
    * chain with grp = cluster, all `AS MATERIALIZED` per the r6 long-chain
    * rule, composed into one program. */
  def qNewsPipelineGateSql: String = {
    val kmeans = Clustering.kmeansRoundCtes(Clustering.KmeansUpdates,
      """emb AS MATERIALIZED (
        |  SELECT e0.vec_id, CAST(e0.embedding AS DOUBLE[]) AS e
        |  FROM embeddings e0 JOIN kept ON e0.vec_id = kept.doc_id)""".stripMargin,
      s"c0 AS MATERIALIZED (SELECT vec_id AS cid, e AS c FROM emb ORDER BY vec_id LIMIT ${Clustering.KmeansK})",
      materialized = true)
    val lexrank = Summarize.lexrankPowerCtes(materialized = true)
    s"""WITH RECURSIVE ${Dedup.componentsRepCtes},
       |kept AS MATERIALIZED (SELECT DISTINCT keep_id AS doc_id FROM rep),
       |kdocs AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
       |$kmeans,
       |nodes AS MATERIALIZED (
       |  SELECT a.cid AS grp, a.vec_id AS sid, kd.text AS txt
       |  FROM a${Clustering.KmeansUpdates} a JOIN kdocs kd ON kd.doc_id = a.vec_id),
       |$lexrank,
       |sizes AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_members
       |          FROM nodes GROUP BY grp),
       |tops AS (
       |  SELECT grp, sid, score FROM (
       |    SELECT grp, sid, round(score, 6) AS score,
       |      ROW_NUMBER() OVER (PARTITION BY grp
       |        ORDER BY round(score, 6) DESC, sid) AS rnk
       |    FROM s${Summarize.LexrankIterations}) WHERE rnk = 1)
       |SELECT CAST(s.grp AS BIGINT) AS cluster, s.n_members,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept,
       |  CAST(SUM(s.n_members) OVER () AS BIGINT) AS n_clustered,
       |  t.sid AS top_doc_id, t.score AS top_score
       |FROM sizes s JOIN tops t USING (grp)
       |ORDER BY cluster""".stripMargin
  }
}
