package graft

import graft.functions.html
import graft.ops.ServerFlow
import graft.sources.FeedSource
import graft.sources.FeedSource.FeedRow
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
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

  /** `searchPipeline`'s signature: the fused pass or the staged reference. */
  private type SearchFn = (DataFrame, DataFrame, String, Map[String, String],
    String => Option[String]) => DataFrame

  private def sections: DataFrame = {
    import spark.implicits._
    Seq(("History", 1, 1), ("Design", 2, 2), ("Reception", 1, 3),
      ("References", 1, 4), ("External links", 1, 5))
      .toDF("line", "toclevel", "pos")
  }

  /** Runs `pipeline` (the fused `searchPipeline` unless given) over a
    * fixture of 7 articles in 3 sections; the feed has one near-dup title
    * pair (2 dups 1), one unknown source (5), and one url the fetcher
    * cannot fetch (7). */
  private def runFixture(fetcher: Map[String, String] => String => Option[String],
      pipeline: SearchFn = ServerFlow.searchPipeline): Array[Row] = {
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

    pipeline(sections, articles, "Test Topic", html.redditSelectors,
      fetcher(pages)).collect()
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

  test("the fused pass returns the staged composition's rows, summaries included") {
    val reference = runFixture(pages => pages.get, SearchReference.searchPipeline)
    assert(runFixture(pages => pages.get).toSeq == reference.toSeq)
  }

  test("fused = staged on 3+ articles per section, with LexRank score ties") {
    import spark.implicits._
    def page(cls: String, body: String) = s"""<div $cls>$body</div>"""
    val bbc = "class=\"story-body__inner\""; val cnbc = "id=\"article_body\""
    val harbor = "The harbor tunnel opened today. Drivers saved twenty minutes. Officials praised the crews."
    // section 1: 11 and 12 carry one body, so their scores tie; section 2
    // shares no term, so no edge and all three tie; 41 is out of scope
    val arts = Seq(
      (11L, "Harbor tunnel opens after years of delay", "p11", "bbc", 1, page(bbc, harbor)),
      (12L, "Commuters react to the long awaited crossing", "p12", "cnbc", 1, page(cnbc, harbor)),
      (13L, "Toll prices for the new route spark debate", "p13", "bbc", 1,
        page(bbc, "Toll prices for the tunnel were announced. Drivers questioned the cost of the tunnel.")),
      (21L, "Orchestra season opens with a premiere", "p21", "bbc", 2,
        page(bbc, "Violins soared during the premiere.")),
      (22L, "Local bakery wins national bread award", "p22", "cnbc", 2,
        page(cnbc, "Sourdough loaves impressed judges.")),
      (23L, "Volcano monitoring network gets upgrade", "p23", "bbc", 2,
        page(bbc, "Seismometers were installed near craters.")),
      (31L, "Stadium vote splits the council", "p31", "bbc", 3,
        page(bbc, "The council voted on the stadium. The stadium vote was close.")),
      (32L, "Fans rally outside city hall", "p32", "cnbc", 3,
        page(cnbc, "Fans rallied for the stadium outside city hall.")),
      (33L, "Budget office publishes arena costs", "p33", "bbc", 3,
        page(bbc, "The budget office priced the stadium and the arena.")),
      (34L, "Neighbors worry about match day parking", "p34", "cnbc", 3,
        page(cnbc, "Parking near the stadium worries neighbors on match day.")),
      (1L, "General news roundup for the week", "p1", "bbc", 0,
        page(bbc, "A quiet week in the city.")),
      (41L, "Out of scope story about gardening", "p41", "bbc", 9,
        page(bbc, "Tomatoes grew well this summer.")))
    val articles = arts.map(a => (a._1, a._2, a._3, a._4, a._5))
      .toDF("id", "title", "url", "source", "section_id")
    val pages = arts.map(a => a._3 -> a._6).toMap
    def run(p: SearchFn) =
      p(sections, articles, "Test Topic", html.redditSelectors, pages.get).collect().toSeq
    val fused = run(ServerFlow.searchPipeline)
    assert(fused == run(SearchReference.searchPipeline))
    assert(fused.map(r => r.getInt(0) -> r.getInt(1)) == Seq(0 -> 1, 1 -> 3, 2 -> 3, 3 -> 4))
    // an all-tied section ranks by id
    assert(fused(2).getString(3) == "Violins soared during the premiere. " +
      "Sourdough loaves impressed judges. Seismometers were installed near craters.")
  }

  test("one searchPipeline collect fires at most 5 Spark jobs") {
    val (out, jobs) = JobCounter(spark.sparkContext)(runFixture(pages => pages.get))
    assert(out.length == 3)
    // the staged composition this pass replaced fired 18 here
    assert(jobs > 0 && jobs <= 5, s"$jobs jobs")
  }

  test("building searchPipeline over local frames fires no Spark job") {
    import spark.implicits._
    val articles = Seq(
      (1L, "City approves new transit plan for the north side", "u1", "bbc", 1),
      (2L, "Design awards announced for the riverfront bridge", "u2", "bbc", 2))
      .toDF("id", "title", "url", "source", "section_id")
    val (_, jobs) = JobCounter(spark.sparkContext)(
      ServerFlow.searchPipeline(sections, articles, "Test Topic", html.redditSelectors,
        Map.empty[String, String].get))
    // the sections are ranked on the driver; a window over them cost a job
    assert(jobs == 0, s"$jobs jobs at construction")
  }

  test("the pipeline extracts each fetched, registered article exactly once") {
    ExtractCounter.calls.set(0)
    val out = runFixture(pages => pages.get, (s, a, title, registry, fetcher) =>
      ServerFlow.searchPipeline(s, a, title, new ExtractCounter(registry), fetcher))
    assert(out.length == 3)
    // u1, u3, u4 and u6 are fetched and have a parser; u5 has none, u7's
    // fetch fails
    assert(ExtractCounter.calls.get == 4, s"${ExtractCounter.calls.get} extractions")
  }
}

/** A parser registry that counts its selector lookups: the extraction looks
  * up the article's source once per call, so the count is the number of
  * extractions. The counter is JVM-global, as in FetchCounter. */
class ExtractCounter(registry: Map[String, String])
    extends scala.collection.immutable.AbstractMap[String, String] with Serializable {
  def get(key: String): Option[String] = {
    ExtractCounter.calls.incrementAndGet()
    registry.get(key)
  }
  def iterator: Iterator[(String, String)] = registry.iterator
  def removed(key: String): Map[String, String] = registry.removed(key)
  def updated[V >: String](key: String, value: V): Map[String, V] =
    registry.updated(key, value)
}

object ExtractCounter {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}
