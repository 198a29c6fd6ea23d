package graft.functions

import scala.collection.mutable.ArrayBuffer

/** Minimal CSS-selector text extraction (SURVEY.md §2.1 S6/S7, reference
  * news_parsers.py:1-13): select elements, drop script/style, require
  * EXACTLY one match, return collapsed text — else null.
  *
  * Supports exactly the selector grammar the reference registries use
  * (news_parsers.py:16-51): `tag.class`, `tag#id`, `.class`, `#id`,
  * `tag[attr="value"]`, `tag[attr^="prefix"]`. No external HTML library in
  * this container (zero egress), so this is a small self-contained
  * tag-matching engine — not a general HTML5 parser; good for the
  * well-formed article markup the operator contract expects.
  */
object html {

  final case class Selector(tag: Option[String], cls: Option[String],
      id: Option[String], attr: Option[(String, String, Boolean)]) // (name, value, isPrefix)

  private val selectorRe =
    """^([a-zA-Z][a-zA-Z0-9]*)?(?:\.([\w-]+)|#([\w-]+)|\[([\w-]+)(\^?)="?([^"\]]*)"?\])?$""".r

  def parseSelector(s: String): Option[Selector] = s.trim match {
    case selectorRe(tag, cls, id, attrName, caret, attrVal) =>
      val attr = Option(attrName).map(n => (n, attrVal, caret == "^"))
      Some(Selector(Option(tag), Option(cls), Option(id), attr))
    case _ => None
  }

  private val tagRe = """(?s)<([a-zA-Z][a-zA-Z0-9]*)((?:[^>"']|"[^"]*"|'[^']*')*)/?>""".r
  private val attrRe = """([\w-]+)\s*=\s*("([^"]*)"|'([^']*)'|[^\s>]*)""".r
  private val voidTags = Set("br", "hr", "img", "input", "meta", "link", "area",
    "base", "col", "embed", "source", "track", "wbr")

  private def attrsOf(attrStr: String): Map[String, String] =
    attrRe.findAllMatchIn(attrStr).map { m =>
      val v = Option(m.group(3)).orElse(Option(m.group(4))).getOrElse(m.group(2))
      m.group(1).toLowerCase -> v
    }.toMap

  private def matches(sel: Selector, tag: String, attrs: Map[String, String]): Boolean = {
    sel.tag.forall(_.equalsIgnoreCase(tag)) &&
      sel.cls.forall(c => attrs.get("class").exists(_.split("\\s+").contains(c))) &&
      sel.id.forall(i => attrs.get("id").contains(i)) &&
      sel.attr.forall { case (n, v, isPrefix) =>
        attrs.get(n).exists(a => if (isPrefix) a.startsWith(v) else a == v)
      }
  }

  /** Inner HTML spans of all elements matching the selector. */
  private def findMatches(doc: String, sel: Selector): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    for (m <- tagRe.findAllMatchIn(doc)) {
      val tag = m.group(1).toLowerCase
      if (!m.matched.endsWith("/>") && !voidTags.contains(tag) &&
          matches(sel, tag, attrsOf(m.group(2)))) {
        // find the matching close tag with depth counting
        var depth = 1
        var pos = m.end
        val openRe = s"(?i)<$tag\\b".r
        val closeRe = s"(?i)</$tag\\s*>".r
        var inner: String = null
        while (inner == null && pos < doc.length) {
          val nextOpen = openRe.findFirstMatchIn(doc.substring(pos))
          val nextClose = closeRe.findFirstMatchIn(doc.substring(pos))
          nextClose match {
            case None => inner = "" // unbalanced: treat as empty
            case Some(c) =>
              if (nextOpen.exists(_.start < c.start)) {
                depth += 1; pos += nextOpen.get.end
              } else {
                depth -= 1
                if (depth == 0) inner = doc.substring(m.end, pos + c.start)
                else pos += c.end
              }
          }
        }
        out += Option(inner).getOrElse("")
      }
    }
    out.toSeq
  }

  private val scriptStyleRe = """(?is)<(script|style)\b.*?</\1\s*>""".r
  private val anyTagRe = """(?s)<[^>]*>""".r

  /** The reference's parse contract (news_parsers.py:2-13): exactly one
    * selector match or null; script/style removed; whitespace-collapsed
    * text. */
  def extractText(doc: String, selector: String): Option[String] = {
    if (doc == null) return None
    parseSelector(selector).flatMap { sel =>
      val hits = findMatches(doc, sel)
      if (hits.length != 1) None
      else {
        val cleaned = scriptStyleRe.replaceAllIn(hits.head, " ")
        val textOnly = anyTagRe.replaceAllIn(cleaned, " ")
        Some(textOnly.replaceAll("\\s+", " ").trim)
      }
    }
  }

  /** The Reddit registry (news_parsers.py:35-51): domain key → selector. */
  val redditSelectors: Map[String, String] = Map(
    "bbc" -> "div.story-body__inner",
    "cnbc" -> "div#article_body",
    "cnn" -> "section#body-text",
    "foxnews" -> "div.article-body",
    "nbcnews" -> "div.article-body",
    "msnbc" -> "div[itemprop=\"articleBody\"]",
    "reuters" -> "div[class^=\"body_\"]",
    "politico" -> "div.story-text",
    "economist" -> "div.blog-post__text",
    "time" -> "div#article-body",
    "washingtonpost" -> "div[itemprop=\"articleBody\"]",
    "wsj" -> "div.wsj-snipped-body",
    "nytimes" -> "article#story",
    "usatoday" -> "article.story",
    "vice" -> "div.post-content")
}
