package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wikipedia API response shapes (SURVEY.md §2.1 S4; reference
  * wikipedia.py:10-42, /wikipedia endpoint realtimeapi.py:172-197 /
  * reddit_api.py:156-194).
  *
  * The HTTP fetch is driver-side in the reference and out of scope in a
  * zero-egress sandbox; these operators take the API's JSON (as a string /
  * file) and do the engine-side work: schema projection and the
  * original→thumbnail→null image fallback chain.
  */
object Wikipedia {

  /** Parse a `query.pages` API response (JSON string column) into rows of
    * (pageid, title, extract, image) with the reference's image fallback:
    * original.source, else thumbnail.source, else null
    * (realtimeapi.py:185-191). */
  def pages(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("multiLine", true).json(Seq(json).toDS())
    raw.select(explode(col("query.pages")).as("p"))
      .select(
        col("p.pageid").cast("long").as("pageid"),
        col("p.title").as("title"),
        col("p.extract").as("extract"),
        coalesce(col("p.original.source"), col("p.thumbnail.source"))
          .as("image"))
  }

  /** Q133: the S4 image-fallback chain under the HASH GATE. Builds a
    * deterministic fleet of API-shaped page records from the documents
    * table (original present iff doc_id % 4 = 0, thumbnail present iff
    * doc_id % 2 = 0 — all four ladder states exercised), round-trips them
    * through the engine's JSON path (to_json → from_json, the same
    * `query.pages` struct shape `pages()` projects), and applies the
    * reference's original→thumbnail→null fallback
    * (realtimeapi.py:185-191). The oracle replays the ladder as a CASE —
    * the JSON round-trip must be lossless for the hash to match, so this
    * puts both the fallback semantics AND the JSON projection under the
    * driver gate (previously WikipediaSpec-only).
    *
    * Scale shape: pure per-row projection — scan-stage, no shuffle but
    * the final ORDER BY. */
  def qImageFallback(t: graft.Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val pages = t.documents.select(
      col("doc_id").as("pageid"),
      concat(lit("Page "), col("source")).as("title"),
      when(col("doc_id") % 4 === 0,
        concat(lit("https://img/orig/"), col("doc_id"))).as("orig"),
      when(col("doc_id") % 2 === 0,
        concat(lit("https://img/thumb/"), col("doc_id"))).as("thumb"))
    val schema = StructType(Seq(
      StructField("pageid", LongType),
      StructField("title", StringType),
      StructField("original", StructType(Seq(StructField("source", StringType)))),
      StructField("thumbnail", StructType(Seq(StructField("source", StringType))))))
    pages
      .select(to_json(struct(col("pageid"), col("title"),
        struct(col("orig").as("source")).as("original"),
        struct(col("thumb").as("source")).as("thumbnail"))).as("js"))
      .select(from_json(col("js"), schema).as("p"))
      .select(col("p.pageid").as("pageid"), col("p.title").as("title"),
        coalesce(col("p.original.source"), col("p.thumbnail.source")).as("image"))
      .orderBy(col("pageid"))
  }

  val qImageFallbackSql: String =
    """SELECT doc_id AS pageid, 'Page ' || source AS title,
      |  CASE WHEN doc_id % 4 = 0 THEN 'https://img/orig/' || CAST(doc_id AS VARCHAR)
      |       WHEN doc_id % 2 = 0 THEN 'https://img/thumb/' || CAST(doc_id AS VARCHAR)
      |       ELSE NULL END AS image
      |FROM documents ORDER BY pageid""".stripMargin

  /** Parse a `parse.sections` response into (line, toclevel, pos) — the
    * input shape for ServerFlow.sectionsToQueries (realtimeapi.py:119-130). */
  def sections(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("multiLine", true).json(Seq(json).toDS())
    raw.select(posexplode(col("parse.sections")).as(Seq("pos", "s")))
      .select(col("s.line").as("line"),
        col("s.toclevel").cast("int").as("toclevel"),
        (col("pos") + 1).cast("int").as("pos"))
  }
}
