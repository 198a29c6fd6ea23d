package graft

import graft.functions.html
import graft.ops.ServerFlow
import graft.sources.FeedSource
import graft.sources.FeedSource.FeedRow
import scala.jdk.CollectionConverters._

/** Per-URL call counts of the counting fetcher below. A JVM-global object:
  * local mode runs the executor tasks in the test JVM, so the fetcher
  * closure the tasks deserialize still increments these counters. */
object FetchCounter {
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  def fetch(pages: Map[String, String])(url: String): Option[String] = {
    calls.merge(url, 1, _ + _)
    pages.get(url)
  }
}

/** End-to-end §3.2 trace: Wikipedia sections → scored queries → DSv2 feed
  * source (pushdown) → greedy dedup → fetch → CSS extraction → section
  * clusters → LexRank top-3 summaries. Every stage is the real operator. */
class ServerPipelineSpec extends SparkSpec {

  /** Runs the pipeline over a fixture of 7 articles in 3 sections; the
    * feed has one near-dup title pair (2 dups 1), one unknown source (5),
    * and one url the fetcher cannot fetch (7). */
  private def runFixture(fetcher: Map[String, String] => String => Option[String])
      : Array[org.apache.spark.sql.Row] = {
    import spark.implicits._

    val sections = Seq(
      ("History", 1, 1), ("Design", 2, 2), ("Reception", 1, 3),
      ("References", 1, 4), ("External links", 1, 5))
      .toDF("line", "toclevel", "pos")

    FeedSource.feeds("search") = Seq(
      FeedRow(1, "City approves new transit plan for the north side", "u1", "bbc", 1),
      FeedRow(2, "City approves new transit plan for the north side!", "u2", "cnbc", 1), // dup → dropped
      FeedRow(3, "Completely different story about a museum opening", "u3", "cnbc", 1),
      FeedRow(4, "Design awards announced for the riverfront bridge", "u4", "bbc", 2),
      FeedRow(5, "Unknown-source article about anything at all", "u5", "nosuchsource", 2), // no parser
      FeedRow(6, "Critics praise the new concert hall acoustics", "u6", "bbc", 3),
      FeedRow(7, "Fetch will fail for this one unfortunately today", "u7", "bbc", 3)) // fetcher None

    val pages = Map(
      "u1" -> """<div class="story-body__inner">The council approved the transit plan. Work begins in spring. Commuters cheered the decision.</div>""",
      "u3" -> """<div id="article_body">The museum opened its doors. Visitors praised the new wing. Tickets sold out fast.</div>""",
      "u4" -> """<div class="story-body__inner">The bridge won a design award. Judges cited its elegant span. The city celebrated.</div>""",
      "u6" -> """<div class="story-body__inner">The concert hall opened. Critics praised the acoustics. The orchestra played to a full house.</div>""")

    val articles = spark.read.format("graft.sources.FeedSource")
      .option("feed", "search").load()

    ServerFlow.searchPipeline(sections, articles, "Test Topic",
      html.redditSelectors, fetcher(pages)).collect()
  }

  test("full server search pipeline over the feed source") {
    val out = runFixture(pages => pages.get)

    // sections 1..3 got articles; reserved sections never queried
    val bySection = out.map(r => r.getInt(0) -> r).toMap
    assert(bySection.keySet.subsetOf(Set(1, 2, 3)))
    // section 1: dup dropped (id 2), id 1 + 3 survive fetch+parse
    assert(bySection(1).getInt(1) == 2, s"section 1: ${bySection(1)}")
    // section 2: unknown source dropped → only id 4
    assert(bySection(2).getInt(1) == 1)
    // section 3: failed fetch dropped → only id 6
    assert(bySection(3).getInt(1) == 1)
    // summaries are non-empty extracted text
    out.foreach { r =>
      val summary = r.getString(3)
      assert(summary != null && summary.nonEmpty)
    }
    assert(bySection(1).getString(3).contains("transit") ||
      bySection(1).getString(3).contains("museum"))
  }

  test("the pipeline fetches each kept, in-scope article exactly once") {
    FetchCounter.calls.clear()
    val out = runFixture(FetchCounter.fetch)
    assert(out.length == 3)
    // the dedup drops u2 before the fetch; u5 is fetched, then dropped by
    // the registry; u7's fetch returns None
    val expected = Seq("u1", "u3", "u4", "u5", "u6", "u7").map(_ -> 1).toMap
    val got = FetchCounter.calls.asScala.toMap
    assert(got == expected, s"fetch calls per url: $got")
  }
}
