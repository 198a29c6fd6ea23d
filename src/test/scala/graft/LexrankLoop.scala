package graft

import graft.ops.Summarize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LexRank as per-round DataFrame joins: a fixed-iteration driver loop over
  * one edges DataFrame, localCheckpoint-ed to cut lineage, one shuffle per
  * iteration. An implementation independent of `Summarize.groupScores`'s
  * in-task kernel, kept as the specs' reference for it. */
object LexrankLoop {

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
    val toks = sentences.select(g, col(idCol).as("sid"),
      Summarize.lexTokens(col(textCol), stem).as("toks"))

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
}
