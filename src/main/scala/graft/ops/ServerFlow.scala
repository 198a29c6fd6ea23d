package graft.ops

import graft.functions.html
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The servers' dataflow, relationalized (SURVEY.md §3.2/§3.3): section
  * scoring and pruning (P7/W3), query construction (F8), source-domain
  * derivation (P3), parser-registry membership (P9), executor-side content
  * fetch with error-null semantics (S5/T1/P11), and CSS text extraction
  * (S6/S7).
  *
  * The HTTP sources themselves are out of scope in a zero-egress sandbox
  * (SURVEY §7.6): operators take the fetched payloads as DataFrames behind
  * the same interface, and the fetch stage accepts a pluggable fetcher
  * function executed inside mapPartitions — executor-side, partition-batched,
  * exactly where an HTTP client pool would live (T1: completion order
  * nondeterminism is replaced by deterministic ids, SURVEY's documented
  * semantic deviation).
  */
object ServerFlow {

  val ReservedSections: Seq[String] =
    Seq("External links", "References", "Bibliography", "Notes", "See also")

  /** P7: the reference's query_heuristic (reddit_api.py:55-66) — 0 for
    * reserved section names, 1 otherwise. */
  def sectionScore(line: String): Int =
    if (ReservedSections.contains(line)) 0 else 1

  /** W3 + F8, reddit_api flavor (reddit_api.py:94-103): stable-sort
    * sections by score desc (original order preserved within ties — Python
    * sorted is stable, so that is one sort by (score desc, pos)), take 10,
    * prepend the synthetic Uncategorized section; F8 query string
    * `"title" +"section"` from realtimeapi.py's construct_query
    * (realtimeapi.py:98-101). With `sortByTocLevel`, realtimeapi.py:121-123's
    * pre-sort by toclevel desc makes the order (score desc, toclevel desc,
    * pos). A table of contents is a few dozen rows, so it is collected once
    * and ranked on the driver, as the reference does with `sorted`; the
    * result is a local frame of (section_id, line, query) by section_id. */
  def sectionsToQueries(sections: DataFrame, pageTitle: String,
      sortByTocLevel: Boolean = false): DataFrame = {
    val spark = sections.sparkSession
    import spark.implicits._
    // null toclevel sorts last under desc, null pos first under asc, as in
    // a Spark sort
    val toc = sections
      .select(col("line"), col("toclevel").cast("int"), col("pos").cast("long"))
      .collect().toSeq.map { r =>
        (r.getString(0), if (r.isNullAt(1)) Int.MinValue else r.getInt(1),
          if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
      }
    val top = toc
      .sortBy { case (line, level, pos) =>
        (-sectionScore(line), if (sortByTocLevel) -level.toLong else 0L, pos) }
      .take(10).map(_._1)
    ((0, "Uncategorized") +: top.zipWithIndex.map { case (line, i) => (i + 1, line) })
      .toDF("section_id", "line")
      .withColumn("query",
        concat(lit("\"" + pageTitle + "\" +\""), col("line"), lit("\"")))
  }

  /** P3: source domain derivation (reddit.py:50-53) — drop the TLD, take
    * the last remaining label: mobile.nytimes.com → nytimes. */
  def sourceFromDomain(domain: Column): Column = {
    val parts = split(domain, "\\.")
    element_at(slice(parts, lit(1), size(parts) - 1), -1)
  }

  /** P9: parser-availability filter (reddit_api.py:43-44) — keep only
    * articles whose source has a registered parser. */
  def withRegisteredParser(articles: DataFrame, registry: Map[String, String]): DataFrame =
    articles.filter(col("source").isInCollection(registry.keys.toSeq))

  /** S5 + P11: content fetch via a pluggable fetcher inside mapPartitions
    * (executor-side I/O stage), then error-row filtering. The fetcher maps
    * a URL to Some(body) or None (4xx/parse failure — reddit_api.py:39-40).
    * Each row keeps its article columns and gains `body`; rows whose fetch
    * fails are dropped (P11).
    */
  def fetchContent(articles: DataFrame, fetcher: String => Option[String]): DataFrame = {
    val url = articles.schema.fieldIndex("url")
    // one fetcher per partition = one http client per task in a real
    // deployment
    articles.mapPartitions { rows =>
      rows.flatMap(r => fetcher(r.getString(url)).map(b => Row.fromSeq(r.toSeq :+ b)))
    }(Encoders.row(articles.schema.add("body", StringType)))
  }

  /** The whole `GET /search` dataflow (reddit_api.py:68-153, SURVEY §3.2)
    * as one keyed pass: score+prune sections (P7/W3, collected: at most 11
    * rows) → articles of those sections (any source incl. the DSv2 feed) →
    * greedy fuzzy title dedup on the driver (J2) → fetch (S5) → registry
    * filter + CSS extraction (P9/S7) → LexRank tokens, all narrow; then one
    * shuffle by section (J1/P8), where each section's cluster is scored by
    * the LexRank kernel and summarized by its top 3 (M6/W2,
    * `Summarize.joinedSummary`).
    *
    * @param articles (id, title, url, source, section_id)
    * @param fetcher  url → Some(html) | None (the HTTP stage)
    * @return (section_id, n_articles, line, summary) by section_id, one row
    *         per section with at least one extracted article */
  def searchPipeline(sections: DataFrame, articles: DataFrame, pageTitle: String,
      registry: Map[String, String], fetcher: String => Option[String]): DataFrame = {
    val spark = articles.sparkSession
    import spark.implicits._
    val lines = sectionsToQueries(sections, pageTitle)
      .select(col("section_id"), col("line")).as[(Int, String)].collect().toMap
    val inScope = articles.filter(col("section_id").isInCollection(lines.keys))
    // greedy keep-first dedup on titles, arrival order = id order
    val rows = inScope.select(col("id"), col("title")).as[(Long, String)].collect().toSeq
    val keptIds = Dedup.greedyFuzzyKeepIds(rows)
    val kept = inScope.filter(col("id").isInCollection(keptIds))
    withRegisteredParser(fetchContent(kept, fetcher), registry)
      .select(col("section_id").cast("int"), col("id").cast("long"),
        col("body"), col("source"))
      .as[(Int, Long, String, String)]
      // S7, CSS extraction (exactly one match, else the article is
      // dropped) in one typed step: a null filter on an extraction column
      // is pushed below its projection, parsing every page twice
      .flatMap { case (section, id, body, source) =>
        registry.get(source).flatMap(html.extractText(body, _)).map((section, id, _)) }
      .toDF("section_id", "id", "text")
      .select(col("section_id"), col("id"), col("text"), Summarize.lexTokens(col("text")))
      .as[(Int, Long, String, Seq[String])]
      .groupByKey(_._1)
      .mapGroups { (section, iter) =>
        val (n, summary) = Summarize.joinedSummary(section.toString,
          iter.map(a => (a._2, a._3, a._4)))
        (section, n.toInt, lines(section), summary)
      }
      .toDF("section_id", "n_articles", "line", "summary")
      // ≤ 11 rows, sorted as in sectionsToQueries; the one task also runs
      // the per-section kernels, cheaper at a request's size than a stage
      .coalesce(1).sortWithinPartitions(col("section_id"))
  }
}
