package graft

import graft.functions.html
import graft.ops.ServerFlow
import org.apache.spark.sql.functions._

class ServerFlowSpec extends SparkSpec {

  test("selector engine handles every registry selector form") {
    val doc =
      """<html><body>
        |<div class="article-copy extra">Hello <b>world</b>.</div>
        |<div id="article_body">Body <script>var x=1;</script>text here.</div>
        |<section id="body-text">CNN text.</section>
        |<div itemprop="articleBody">Item prop text.</div>
        |<div class="body_123abc">Reuters style.</div>
        |<article id="story">NYT <style>.a{}</style>story.</article>
        |</body></html>""".stripMargin
    assert(html.extractText(doc, "div.article-copy").contains("Hello world ."))
    assert(html.extractText(doc, "div#article_body").contains("Body text here."))
    assert(html.extractText(doc, "section#body-text").contains("CNN text."))
    assert(html.extractText(doc, "div[itemprop=\"articleBody\"]").contains("Item prop text."))
    assert(html.extractText(doc, "div[class^=\"body_\"]").contains("Reuters style."))
    assert(html.extractText(doc, "article#story").contains("NYT story."))
  }

  test("selector contract: 0 or 2 matches → null; script/style stripped") {
    val two = """<div class="a">one</div><div class="a">two</div>"""
    assert(html.extractText(two, "div.a").isEmpty)
    assert(html.extractText("<p>nothing</p>", "div.a").isEmpty)
    val nested = """<div class="a">outer <div>inner</div> tail</div>"""
    assert(html.extractText(nested, "div.a").contains("outer inner tail"))
  }

  test("section scoring + top-10 + Uncategorized (reddit_api §3.2 head)") {
    import spark.implicits._
    val sections = (1 to 14).map(i => (s"Section $i", 1, i)) ++
      Seq(("References", 1, 15), ("External links", 1, 16))
    val df = sections.toDF("line", "toclevel", "pos")
    val out = ServerFlow.sectionsToQueries(df, "Some Topic").collect()
    assert(out.length == 11) // 10 + Uncategorized
    assert(out.head.getInt(0) == 0 && out.head.getString(1) == "Uncategorized")
    // reserved sections never make the cut while 14 normal ones exist
    assert(!out.exists(r => ServerFlow.ReservedSections.contains(r.getString(1))))
    // stable order: sections 1..10 in original order
    assert(out.tail.map(_.getString(1)).toSeq == (1 to 10).map(i => s"Section $i"))
    // F8 query shape (realtimeapi.py:98-101)
    assert(out(1).getString(2) == "\"Some Topic\" +\"Section 1\"")
  }

  test("realtimeapi variant: toclevel pre-sort reorders equal-score sections") {
    import spark.implicits._
    // realtimeapi.py:121-123 sorts by toclevel desc BEFORE the stable
    // score sort — deeper sections win within equal scores
    val df = Seq(("Shallow", 1, 1), ("Deep", 3, 2), ("Mid", 2, 3))
      .toDF("line", "toclevel", "pos")
    val out = ServerFlow.sectionsToQueries(df, "T", sortByTocLevel = true)
      .collect().filter(_.getInt(0) > 0)
    assert(out.map(_.getString(1)).toSeq == Seq("Deep", "Mid", "Shallow"))
  }

  test("domain parse P3: mobile.nytimes.com → nytimes") {
    import spark.implicits._
    val got = Seq("mobile.nytimes.com", "www.bbc.co", "edition.cnn.com", "vice.com")
      .toDF("domain")
      .select(ServerFlow.sourceFromDomain(col("domain")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("nytimes", "bbc", "cnn", "vice"))
  }

  test("fetch → registry filter → extract → cluster grouping (§3.2 tail)") {
    import spark.implicits._
    val pages = Map(
      "u1" -> """<div class="story-body__inner">BBC article one about topic.</div>""",
      "u2" -> """<div id="article_body">CNBC article two.</div>""",
      "u3" -> """<div class="unknown">No parser matches this.</div>""")
    val articles = Seq(
      (1L, "Title one", "u1", "bbc", 0),
      (2L, "Title two", "u2", "cnbc", 0),
      (3L, "Title three", "u3", "nosuchsource", 1),
      (4L, "Title four", "u4", "bbc", 1)) // fetch fails → dropped
      .toDF("id", "title", "url", "source", "section_id")

    val fetched = ServerFlow.fetchContent(articles, pages.get)
    assert(fetched.count() == 3) // u4 missing

    val clusters = SearchReference.articlesToClusters(
      fetched.withColumnRenamed("body", "html"), html.redditSelectors)
      .collect()
    // only sources with parsers AND exactly-one-match survive: ids 1, 2
    assert(clusters.length == 1)
    val arts = clusters.head.getSeq[org.apache.spark.sql.Row](1)
    assert(arts.map(_.getLong(0)).sorted == Seq(1L, 2L))
  }
}
