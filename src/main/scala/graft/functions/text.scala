package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the engine (SURVEY.md §2.8 F1-F7, §2.11 U2).
  *
  * Everything that CAN be a built-in column expression IS one (codegen'd,
  * whole-stage-compatible, pushdown-friendly); only the Porter stemmer and
  * the indel ratio — genuinely procedural — are JVM functions exposed as
  * UDFs. No Python, no external NLP jars: the stemmer is implemented from
  * the published algorithm (Porter 1980), the ratio from the public
  * fuzzywuzzy/difflib definition.
  */
object text {

  /** Lowercase word tokenization (reference `cluster.py:15`:
    * lower → word_tokenize). Column-only: split on non-word runs. */
  def tokenize(c: Column): Column =
    filter(split(lower(c), "[^\\p{L}\\p{N}']+"), t => length(t) > 0)

  /** English stopword list (the scikit-learn/NLTK common core — public). */
  val stopwords: Seq[String] = Seq(
    "a", "about", "above", "after", "again", "against", "all", "am", "an",
    "and", "any", "are", "as", "at", "be", "because", "been", "before",
    "being", "below", "between", "both", "but", "by", "could", "did", "do",
    "does", "doing", "down", "during", "each", "few", "for", "from",
    "further", "had", "has", "have", "having", "he", "her", "here", "hers",
    "herself", "him", "himself", "his", "how", "i", "if", "in", "into",
    "is", "it", "its", "itself", "just", "me", "more", "most", "my",
    "myself", "no", "nor", "not", "now", "of", "off", "on", "once", "only",
    "or", "other", "our", "ours", "ourselves", "out", "over", "own", "s",
    "same", "she", "should", "so", "some", "such", "t", "than", "that",
    "the", "their", "theirs", "them", "themselves", "then", "there",
    "these", "they", "this", "those", "through", "to", "too", "under",
    "until", "up", "very", "was", "we", "were", "what", "when", "where",
    "which", "while", "who", "whom", "why", "will", "with", "you", "your",
    "yours", "yourself", "yourselves")

  /** Drop stopwords from a token array (reference `cluster.py:14-16`).
    * array_except also dedups; use filter(NOT IN) to keep multiplicity. */
  def removeStopwords(tokens: Column): Column =
    filter(tokens, t => !t.isInCollection(stopwords))

  /** Sentence split (reference `nltk.sent_tokenize` use, `lda.py:24`,
    * summarize.py via sumpy): split after ./!/? followed by whitespace.
    * Column-only — no UDF. */
  def sentences(c: Column): Column =
    filter(split(c, "(?<=[.!?])\\s+"), s => length(trim(s)) > 0)

  /** Word n-grams for one n over a token array — contiguous windows,
    * Column-only via transform over slice (reference `utils.py:9-28`). */
  def ngrams(tokens: Column, n: Int): Column =
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(
        transform(sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))

  /** The reference's n-gram map: n → distinct n-grams, n = 1..k
    * (`utils.py:1-30`, oracle example at utils.py:32). */
  def ngramMap(tokens: Column, k: Int): Column =
    map_from_arrays(
      sequence(lit(1), lit(k)),
      transform(sequence(lit(1), lit(k)),
        n => array_distinct(ngrams0(tokens, n))))

  // ngrams with a Column n (needed inside transform lambdas)
  private def ngrams0(tokens: Column, n: Column): Column =
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(
        transform(sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, n))))

  /** Document fingerprint (SURVEY north-star "document fingerprinting"):
    * min-hash of character shingles — equal texts always collide, near-equal
    * texts collide with prob ≈ Jaccard similarity. One 64-bit value.
    * JVM kernel (value-identical to array_min(transform(shingles, xxhash64))
    * — the interpreted higher-order form costs ~100× more per row). */
  def fingerprint(c: Column, shingleLen: Int = 8): Column =
    fasthash.minhashFingerprintUdf(shingleLen)(c)

  // ---------------------------------------------------------------- Porter

  /** Porter stemmer (Porter, "An algorithm for suffix stripping", 1980;
    * reference uses nltk PorterStemmer at cluster.py:13,17 / lda.py:15).
    * Plain-JVM implementation of the published algorithm. */
  def porterStem(w: String): String = {
    if (w == null || w.length <= 2) return w
    var b = w.toLowerCase
    def isCons(s: String, i: Int): Boolean = s.charAt(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y' => if (i == 0) true else !isCons(s, i - 1)
      case _ => true
    }
    // measure: number of VC sequences in the stem
    def m(s: String): Int = {
      var n = 0; var i = 0; val len = s.length
      while (i < len && isCons(s, i)) i += 1
      while (i < len) {
        while (i < len && !isCons(s, i)) i += 1
        if (i < len) { n += 1; while (i < len && isCons(s, i)) i += 1 }
      }
      n
    }
    def hasVowel(s: String): Boolean = s.indices.exists(i => !isCons(s, i))
    def doubleCons(s: String): Boolean =
      s.length >= 2 && s.charAt(s.length - 1) == s.charAt(s.length - 2) &&
        isCons(s, s.length - 1)
    // *o — stem ends cvc where second c is not w, x or y
    def cvc(s: String): Boolean = {
      val len = s.length
      len >= 3 && isCons(s, len - 1) && !isCons(s, len - 2) && isCons(s, len - 3) &&
        !"wxy".contains(s.charAt(len - 1))
    }
    def ends(suf: String): Boolean = b.endsWith(suf)
    def stem(suf: String): String = b.substring(0, b.length - suf.length)

    // Step 1a
    if (ends("sses")) b = stem("es")
    else if (ends("ies")) b = stem("es")
    else if (!ends("ss") && ends("s")) b = stem("s")
    // Step 1b
    var extra = false
    if (ends("eed")) { if (m(stem("eed")) > 0) b = stem("d") }
    else if (ends("ed") && hasVowel(stem("ed"))) { b = stem("ed"); extra = true }
    else if (ends("ing") && hasVowel(stem("ing"))) { b = stem("ing"); extra = true }
    if (extra) {
      if (ends("at") || ends("bl") || ends("iz")) b = b + "e"
      else if (doubleCons(b) && !"lsz".contains(b.charAt(b.length - 1))) b = b.substring(0, b.length - 1)
      else if (m(b) == 1 && cvc(b)) b = b + "e"
    }
    // Step 1c
    if (ends("y") && hasVowel(stem("y"))) b = stem("y") + "i"
    // Step 2
    val step2 = Seq(
      "ational" -> "ate", "tional" -> "tion", "enci" -> "ence", "anci" -> "ance",
      "izer" -> "ize", "abli" -> "able", "alli" -> "al", "entli" -> "ent",
      "eli" -> "e", "ousli" -> "ous", "ization" -> "ize", "ation" -> "ate",
      "ator" -> "ate", "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
      "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble")
    step2.find { case (suf, _) => ends(suf) }.foreach { case (suf, rep) =>
      if (m(stem(suf)) > 0) b = stem(suf) + rep
    }
    // Step 3
    val step3 = Seq(
      "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
      "ical" -> "ic", "ful" -> "", "ness" -> "")
    step3.find { case (suf, _) => ends(suf) }.foreach { case (suf, rep) =>
      if (m(stem(suf)) > 0) b = stem(suf) + rep
    }
    // Step 4
    val step4 = Seq(
      "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
      "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize")
    step4.find(ends).foreach { suf =>
      val st = stem(suf)
      if (m(st) > 1 &&
        (suf != "ion" || (st.nonEmpty && "st".contains(st.charAt(st.length - 1)))))
        b = st
    }
    // Step 5a
    if (ends("e")) {
      val st = stem("e")
      if (m(st) > 1 || (m(st) == 1 && !cvc(st))) b = st
    }
    // Step 5b
    if (m(b) > 1 && doubleCons(b) && b.endsWith("l")) b = b.substring(0, b.length - 1)
    b
  }

  /** porterStem over a token array, as a Column (the one text UDF). */
  val stemTokensUdf = udf((tokens: Seq[String]) =>
    if (tokens == null) null else tokens.map(porterStem))

  def stemTokens(tokens: Column): Column = stemTokensUdf(tokens)

  // ------------------------------------------------------------ fuzz.ratio

  /** Indel (substitution-cost-2 Levenshtein) distance — the metric under
    * fuzzywuzzy's fuzz.ratio (python-levenshtein, see BASELINE.md).
    * dist2 = |a| + |b| − 2·LCS(a,b). Thread-local DP row: this sits inside
    * all-pairs loops (25M calls at sf0.1), so per-call allocation is the
    * dominant cost without reuse. */
  private val dpRow = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](256)
  }

  def indelDistance(a: String, b: String): Int = {
    val n = a.length; val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    var dp = dpRow.get()
    if (dp.length < m + 1) { dp = new Array[Int](m + 1); dpRow.set(dp) }
    java.util.Arrays.fill(dp, 0, m + 1, 0)
    // single-row LCS DP with a rolling diagonal
    var i = 1
    while (i <= n) {
      val ai = a.charAt(i - 1)
      var diag = 0 // dp(j-1) from the previous row
      var j = 1
      while (j <= m) {
        val tmp = dp(j)
        dp(j) =
          if (ai == b.charAt(j - 1)) diag + 1
          else if (dp(j) >= dp(j - 1)) dp(j) else dp(j - 1)
        diag = tmp
        j += 1
      }
      i += 1
    }
    n + m - 2 * dp(m)
  }

  /** fuzz.ratio parity (reference `pipeline.py:29` etc.):
    * round(100 · (|a|+|b| − dist2) / (|a|+|b|)), 100 for two empties.
    * rint = half-even, matching Python 3's round() used by fuzzywuzzy's
    * int(round(...)) on exactly-representable .5 ratios (e.g. 62.5 → 62). */
  def fuzzRatio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    val total = a.length + b.length
    if (total == 0) return 100
    math.rint(100.0 * (total - indelDistance(a, b)) / total).toInt
  }

  val fuzzRatioUdf = udf((a: String, b: String) => fuzzRatio(a, b))

  /** Scalable approximation used in oracle-checked plans: plain levenshtein
    * similarity (built-in, codegen'd, identical in DuckDB). */
  def levenshteinSim(a: Column, b: Column): Column =
    // Myers bit-parallel native expression (plans/Levenshtein64): exact
    // Levenshtein, ~5× Spark's DP on the 40-char dedup prefixes — every
    // fuzzy-family candidate verify funnels through here
    lit(1.0) - (graft.plans.Levenshtein64.lev(a, b).cast("double") /
      greatest(length(a), length(b)).cast("double"))

  // -------------------------------------------------------------- lang id

  /** Language ID by stopword/character heuristic (SURVEY north-star "text
    * analysis: language-ID (n-gram heuristic)"). Scores each candidate
    * language by hits of its most-frequent function words in the token set;
    * CJK scripts short-circuit on character ranges. Column-only. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "los", "las", "es", "no", "una", "por", "con", "para", "como"))

  def langId(c: Column): Column = {
    val toks = tokenize(c)
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isInCollection(words))).as("score"),
        lit(lang).as("lang"))
    }
    when(c.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .otherwise(
        when(array_max(array(scores.map(_.getField("score")): _*)) === 0, lit("und"))
          .otherwise(array_max(array(scores: _*)).getField("lang")))
  }

  // ---------------------------------------------------------- POS filter

  /** POS-filtered tokens (SURVEY F6/P6; reference lda.py:13-29 keeps
    * tokens tagged NNP or NNS, len > 2, not in the query). The tagger is
    * a real averaged perceptron (PerceptronPos — Collins 2002 / Honnibal
    * 2013, the algorithm behind NLTK's pos_tag) trained in-process from
    * an embedded news-domain seed corpus; the whole input is tagged as
    * one sequence so the context features see the sentence, THEN the
    * NNP/NNS filter applies. Tokens are lowercased and stemmed after
    * filtering, as the reference does. */
  def posFilterTokens(textStr: String, queryTokens: Set[String]): Seq[String] = {
    if (textStr == null) return Nil
    val words = textStr.split("[^\\p{L}\\p{N}']+").toSeq.filter(_.nonEmpty)
    PerceptronPos.tag(words)
      .collect { case (w, t) if (t == "NNP" || t == "NNS") && w.length > 2 =>
        w.toLowerCase
      }
      .filterNot(queryTokens.contains)
      .map(porterStem)
  }

  // ------------------------------------------------------------- quality

  /** Quality features for training-data filtering (SURVEY north-star):
    * token count, mean token length, stopword ratio, alpha ratio,
    * punctuation density — all Column expressions over one tokenization. */
  def qualityFeatures(c: Column): Seq[(String, Column)] = {
    val toks = tokenize(c)
    val nTok = size(toks)
    Seq(
      "n_tokens" -> nTok.cast("long"),
      "mean_token_len" ->
        (aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          greatest(nTok, lit(1)).cast("double")),
      "stopword_ratio" ->
        (size(filter(toks, t => t.isInCollection(stopwords))).cast("double") /
          greatest(nTok, lit(1)).cast("double")),
      "alpha_ratio" ->
        (length(regexp_replace(c, "[^\\p{L}]", "")).cast("double") /
          greatest(length(c), lit(1)).cast("double")),
      "punct_ratio" ->
        (length(regexp_replace(c, "[^.,;:!?'\"()]", "")).cast("double") /
          greatest(length(c), lit(1)).cast("double")))
  }
}
