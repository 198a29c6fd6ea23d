package graft.model

// Typed boundary records (SURVEY.md §1.1). DataFrames are the working
// currency inside operators; these case classes pin the schemas at the
// API edges (Dataset[T] where type safety helps).

/** An article (reference pipeline.py:36-40 / reddit_api.py:49-53 —
  * the CLI's `text_content` and the servers' `text` unified to `text`,
  * resolving the reference's key-mismatch bug, SURVEY §0). */
final case class Article(id: Long, title: String, text: String,
    url: Option[String] = None, source: Option[String] = None)

/** A story cluster (cluster.py:61-65): id + member articles. */
final case class Cluster(clusterId: Int, articleIds: Seq[Long],
    keywords: Seq[String] = Nil)

/** An extractive summary row (summarize.py:29-38 intended record). */
final case class SummarySentence(clusterId: Int, articleId: Long,
    rank: Int, score: Double, text: String)
