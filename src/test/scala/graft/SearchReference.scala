package graft

import graft.functions.html
import graft.ops.{Dedup, ServerFlow, Summarize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `/search` dataflow as separate relational stages — sections to
  * queries, semi-join, dedup, fetch, registry filter + extraction, section
  * clusters (`articlesToClusters`), LexRank top-3 joined per section
  * (`joinedSummaries`), then joins back to the sizes and section lines.
  * `ServerFlow.searchPipeline` fuses this chain into one keyed pass; the
  * specs compare the two. */
object SearchReference {

  /** Registry filter → CSS extraction → one row per section with its
    * extracted articles (J1/P8). */
  def articlesToClusters(articles: DataFrame, registry: Map[String, String]): DataFrame = {
    // S7 as a UDF: exactly one selector match, else null
    val extract = udf((doc: String, source: String) =>
      registry.get(source).flatMap(html.extractText(doc, _)).orNull)
    ServerFlow.withRegisteredParser(articles, registry)
      .withColumn("text", extract(col("html"), col("source")))
      .filter(col("text").isNotNull)
      .groupBy(col("section_id"))
      .agg(collect_list(struct(col("id"), col("title"), col("text"))).as("articles"))
      .filter(size(col("articles")) > 0)
  }

  /** Concatenated top-3 summary text per group (reddit_api.py:148-150's
    * ' '.join of the top sentences), rank-ordered. */
  def joinedSummaries(sentences: DataFrame, groupCol: String, idCol: String,
      textCol: String): DataFrame =
    Summarize.summarize(sentences, groupCol, idCol, textCol, 3)
      .groupBy(col(groupCol))
      // collect_list order is nondeterministic — sort the (rank, text)
      // structs before joining so the summary is rank-ordered.
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("rank"), col(textCol)))),
          s => s.getField(textCol)), " ").as("summary"))

  def searchPipeline(sections: DataFrame, articles: DataFrame, pageTitle: String,
      registry: Map[String, String], fetcher: String => Option[String]): DataFrame = {
    val spark = articles.sparkSession
    import spark.implicits._
    val queries = ServerFlow.sectionsToQueries(sections, pageTitle)
    val inScope = articles.join(
      queries.select(col("section_id"), col("line")), Seq("section_id"), "left_semi")
    val rows = inScope.select(col("id"), col("title")).as[(Long, String)].collect().toSeq
    val kept = inScope.filter(col("id").isInCollection(Dedup.greedyFuzzyKeepIds(rows)))
    val fetched = ServerFlow.fetchContent(kept, fetcher).withColumnRenamed("body", "html")
    val clusters = articlesToClusters(fetched, registry)
    val members = clusters.select(col("section_id"), explode(col("articles")).as("a"))
      .select(col("section_id"), col("a.id"), col("a.text"))
    val summaries = joinedSummaries(members, "section_id", "id", "text")
    clusters.select(col("section_id"), size(col("articles")).as("n_articles"))
      .join(queries.select(col("section_id"), col("line")), Seq("section_id"))
      .join(summaries, Seq("section_id"), "left")
      .orderBy(col("section_id"))
  }
}
