package graft.ops

import graft.{Shared, Tables}
import graft.functions.text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (SURVEY.md §2.8,
  * north-star "text analysis" block: language-ID, quality scoring, token
  * counting, fingerprinting).
  *
  * Everything here is per-row column expressions plus one narrow aggregate —
  * embarrassingly parallel, no shuffle except the final group/top-k, so the
  * plans scale linearly with input and survive 100 TB unchanged. Tokenization
  * happens once per query via a shared expression; Catalyst's common
  * subexpression elimination keeps it single-evaluation inside codegen.
  */
object TextAnalysis {

  /** Token count per document (whitespace tokens + a regex word-token count,
    * the "BPE-ish" proxy) — SURVEY north-star token counting. */
  /** GPT-2-style pre-tokenizer pieces (the "BPE-ish regex"): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * whitespace runs — lookahead-free so Java regex and DuckDB's RE2 agree.
    * Counts the pieces BPE would split further, ≈ token-count upper bound
    * scale factor for budgeting. */
  private val bpePiecePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+|\\s+"

  def qTokenCount(t: Tables): DataFrame =
    t.fanout(t.documents)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
        size(text.tokenize(col("text"))).cast("long").as("n_word_tokens"),
        regexp_count(lower(col("text")), lit(bpePiecePattern))
          .cast("long").as("n_bpe_pieces"),
        length(col("text")).cast("long").as("n_chars_actual"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  val qTokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS BIGINT) AS n_word_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '${bpePiecePattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_pieces,
       |  CAST(length(text) AS BIGINT) AS n_chars_actual,
       |  n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus word frequency: explode tokens, count, global top-k with a
    * total tie-break. The canonical map-side-combine + TakeOrdered shape:
    * at 100 TB the shuffle carries |vocab| rows, not |corpus|. */
  def qWordFreq(t: Tables): DataFrame =
    t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(20)

  val qWordFreqSql: String =
    """SELECT token, COUNT(*) AS freq FROM (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin

  /** Quality features per document (SURVEY north-star quality scoring) —
    * integer-exact counts only in the oracle-checked columns; the float
    * ratios live in qQualityScore (rows-only) to stay hash-safe. */
  def qQualityCounts(t: Tables): DataFrame = {
    val toks = text.tokenize(col("text"))
    t.fanout(t.documents)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, tk => tk.isInCollection(text.stopwords)))
          .cast("long").as("n_stopwords"),
        length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("long").as("n_alpha"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"))
      .orderBy(col("doc_id"))
  }

  val qQualityCountsSql: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stopwords,
       |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
       |FROM (SELECT doc_id, text,
       |        list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** The q27 score frame WITHOUT the presentation sort — the builder
    * behind [[qQualityScore]] (q27's own bench entry, uncached by the
    * q32 rule) and [[qualityScoreShared]] (what the nine composing
    * consumers ride). */
  private def qualityScoreFrame(t: Tables): DataFrame = {
    val feats = text.qualityFeatures(col("text"))
    val base = t.fanout(t.documents).select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
    // UNROUNDED on purpose: every term is the same IEEE op sequence on
    // both engines, so the raw double is bit-identical — while round(4)
    // itself diverges cross-engine on .5-boundary doubles (found at sf0.1)
    base.withColumn("quality_score",
      when(col("n_tokens") < 5, 0.0)
        .otherwise(
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3 +
            (lit(1.0) - least(col("stopword_ratio") * 2.0, lit(1.0))) * 0.2 +
            col("alpha_ratio") * 0.3 +
            least(col("mean_token_len") / 8.0, lit(1.0)) * 0.2))
  }

  /** Full quality score with float ratios + a composite 0-1 score
    * (rows-only: float ratios are not hash-stable cross-engine). */
  def qQualityScore(t: Tables): DataFrame =
    qualityScoreFrame(t).orderBy(col("doc_id"))

  /** The q27 score frame, materialized once as a `graft.Shared` entry:
    * NINE queries compose the identical
    * tokenize+score projection (q144/q169/q204/q210/q224/q249/q304/q306
    * + the bootstrap CI) and each previously re-ran the corpus scan.
    * Per-row raw doubles are bit-identical on a cache hit (deterministic
    * projection), so every downstream oracle is unaffected. q27's own
    * entry keeps the uncached builder. */
  private[graft] def qualityScoreShared(t: Tables): DataFrame =
    Shared(t, "quality_score")(qualityScoreFrame(t).localCheckpoint())

  /** Session-cached corpus UNIGRAM counts (w, f) and BIGRAM counts
    * (a, b, c) — q111 PMI, q152 bigram LM, q261 Kneser–Ney and q265
    * greedy decode each built the identical vocab-bounded tables from
    * their own tokenize passes (uf ×3, bf ×4 per bench run). Exact
    * integer counts; a hit is bit-identical; per-doc bigram STREAMS
    * (q152/q261 scoring) stay per-query — only the bounded aggregates
    * are shared. */
  private[graft] def unigramCountsShared(t: Tables): DataFrame =
    Shared(t, "unigram_counts")(t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint())

  /** Session-cached (source, term, c) count table — q211 domain xent,
    * q264 source JSD and q319 Burrows delta each built the identical
    * aggregate from their own tokenize pass. Exact integers;
    * |sources|·|vocab|-bounded. */
  private[graft] def sourceTermCountsShared(t: Tables): DataFrame =
    Shared(t, "srcterm_counts")(t.fanout(t.documents)
      .select(col("source"), explode(text.tokenize(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint())

  private[graft] def bigramCountsShared(t: Tables): DataFrame =
    Shared(t, "bigram_counts")(t.fanout(t.documents)
      .select(text.tokenize(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS a, toks[i] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint())

  /** The q27 feature+score CTE chain ending in
    * `scored(doc_id, n_tokens, …, quality_score)`, shared verbatim between
    * the q27 oracle and the q144 budget-selection oracle. */
  private val qualityScoreCtes: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""f AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_token_len,
       |    CAST(len(list_filter(toks, x -> x IN ($sw))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
       |    CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio
       |  FROM f),
       |scored AS (
       |  SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, alpha_ratio, punct_ratio,
       |    CASE WHEN n_tokens < 5 THEN 0.0 ELSE
       |      least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + (1.0 - least(stopword_ratio * 2.0, 1.0)) * 0.2
       |      + alpha_ratio * 0.3
       |      + least(mean_token_len / 8.0, 1.0) * 0.2 END AS quality_score
       |  FROM feats)""".stripMargin
  }

  /** q27 oracle: per-row int-division doubles are IEEE-exact (no aggregation
    * order involved), so the raw ratio columns hash-match across engines;
    * the composite score replays the identical expression tree. */
  val qQualityScoreSql: String =
    s"""WITH $qualityScoreCtes
       |SELECT * FROM scored ORDER BY doc_id""".stripMargin

  /** Language ID vs the table's labeled lang column — emits doc_id, the
    * predicted language and the label; spec asserts accuracy on 'zh' rows
    * and sanity elsewhere (word-salad text defeats stopword heuristics by
    * construction, so the label column is the ground truth, not the text). */
  def qLangId(t: Tables): DataFrame =
    t.fanout(t.documents)
      .select(col("doc_id"), text.langId(col("text")).as("lang_pred"), col("lang"))
      .orderBy(col("doc_id"))

  /** q28 oracle: replays the marker-hit argmax with langId's exact
    * tie-break (struct max ⇒ ties go to the lexicographically LAST
    * language) and the CJK short-circuit. Marker lists are generated from
    * text.langMarkers so the two can never drift. */
  val qLangIdSql: String = {
    // the CASE ladder below hardcodes the four-language tie-break; if a
    // language is ever added to langMarkers the oracle must be regenerated
    // with it, or the mismatch would masquerade as an engine bug (ADVICE r2)
    require(text.langMarkers.keySet == Set("de", "en", "es", "fr"),
      s"qLangIdSql CASE ladder covers de/en/es/fr but langMarkers has " +
        s"${text.langMarkers.keySet}: regenerate the ladder")
    def hits(lang: String): String = {
      val in = text.langMarkers(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($in))) AS s_$lang"
    }
    s"""WITH f AS (
       |  SELECT doc_id, text, lang,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, text, lang,
       |    ${hits("de")},
       |    ${hits("en")},
       |    ${hits("es")},
       |    ${hits("fr")}
       |  FROM f)
       |SELECT doc_id,
       |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |       WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
       |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       |       WHEN s_en >= s_de THEN 'en'
       |       ELSE 'de' END AS lang_pred,
       |  lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Q268: language-ID confusion matrix — the eval of the q28 filter
    * against the corpus's ground-truth `lang` column: per class,
    * true/predicted/correct counts and precision/recall/F1. THE check a
    * pipeline runs before trusting a heuristic language filter to route
    * 100 TB (langid failure modes are per-class: a marker list that
    * over-fires on one language shows up as that class's precision
    * collapsing, invisible in overall accuracy).
    *
    * Exactness: counts are exact BIGINTs from one (lang, pred) cell
    * aggregate; precision/recall are single IEEE divisions (nullif'd —
    * a class can have zero predictions), F1 one fixed sequence over
    * them, null-propagating identically cross-engine.
    *
    * Scale shape: one corpus scan → a ≤|classes|² cell aggregate;
    * the per-class marginals are two tiny aggregates full-outer-joined
    * on the class key (never a scalar cross join — the q114 rule). */
  def qLangIdConfusion(t: Tables): DataFrame = {
    val cells = t.fanout(t.documents)
      .select(text.langId(col("text")).as("lang_pred"), col("lang"))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
    val byTrue = cells.groupBy(col("lang"))
      .agg(sum(col("n")).as("n_true"),
        sum(when(col("lang_pred") === col("lang"), col("n")).otherwise(0L))
          .as("n_correct"))
      .withColumnRenamed("lang", "class")
    val byPred = cells.groupBy(col("lang_pred")).agg(sum(col("n")).as("n_pred"))
      .withColumnRenamed("lang_pred", "class")
    byTrue.join(byPred, Seq("class"), "full_outer")
      .select(col("class"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("prec", col("n_correct").cast("double") /
        nullif(col("n_pred").cast("double"), lit(0.0)))
      .withColumn("rec", col("n_correct").cast("double") /
        nullif(col("n_true").cast("double"), lit(0.0)))
      .withColumn("f1", lit(2.0) * col("prec") * col("rec") /
        nullif(col("prec") + col("rec"), lit(0.0)))
      .orderBy(col("class"))
  }

  /** q268 oracle: the q28 prediction query as a derived table + the same
    * cell aggregate, marginal full-outer join, and nullif'd metrics. */
  def qLangIdConfusionSql: String =
    s"""WITH cells AS (
       |  SELECT lang, lang_pred, COUNT(*)::BIGINT AS n
       |  FROM ($qLangIdSql) GROUP BY 1, 2),
       |bt AS (
       |  SELECT lang AS class, CAST(SUM(n) AS BIGINT) AS n_true,
       |    CAST(SUM(CASE WHEN lang_pred = lang THEN n ELSE 0 END) AS BIGINT)
       |      AS n_correct
       |  FROM cells GROUP BY 1),
       |bp AS (
       |  SELECT lang_pred AS class, CAST(SUM(n) AS BIGINT) AS n_pred
       |  FROM cells GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(bt.class, bp.class) AS class,
       |    COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred,
       |    COALESCE(n_correct, 0) AS n_correct
       |  FROM bt FULL OUTER JOIN bp ON bt.class = bp.class),
       |m AS (
       |  SELECT class, n_true, n_pred, n_correct,
       |    CAST(n_correct AS DOUBLE) / nullif(CAST(n_pred AS DOUBLE), 0.0) AS prec,
       |    CAST(n_correct AS DOUBLE) / nullif(CAST(n_true AS DOUBLE), 0.0) AS rec
       |  FROM j)
       |SELECT class, n_true, n_pred, n_correct, prec, rec,
       |  2.0::DOUBLE * prec * rec / nullif(prec + rec, 0.0::DOUBLE) AS f1
       |FROM m ORDER BY class""".stripMargin

  /** Document fingerprint: 64-bit minhash over 8-char shingles plus exact
    * md5 — the dedup keys for the Dedup operators (rows-only: xxhash64 is
    * Spark-specific). md5 column is itself oracle-checked in Dedup. */
  def qFingerprint(t: Tables): DataFrame =
    t.fanout(t.documents)
      .select(
        col("doc_id"),
        md5(col("text")).as("md5"),
        text.fingerprint(col("text")).as("minhash_fp"),
        graft.functions.fasthash.rollingFingerprintUdf(8)(col("text"))
          .as("rolling_fp"),
        xxhash64(col("text")).as("xxh64"))
      .orderBy(col("doc_id"))

  /** Q125: document fingerprinting under the HASH GATE — the oracle-
    * replayable face of q29's JVM rolling-hash kernel (that kernel stays
    * the fast path; its splitmix/xxhash values are engine-specific by
    * nature, so q29 is rows-only forever). Same operator class, exact
    * integer math both engines share: token value = first 8 md5 hex
    * digits as an integer (< 2^32), window hash = the base-257 polynomial
    * over each 4-token window (≤ 2^58 — no overflow, no modulus needed),
    * fingerprint = MIN over the doc's windows.
    *
    * Scale shape: one O(tokens) window shuffle partitioned by doc (lead()
    * supplies the 3 following token values — each token is read once, the
    * Rabin-Karp O(1)-slide idea in relational form), then a per-doc agg.
    * Docs with fewer than 4 tokens emit (0, NULL). */
  def qFingerprintGate(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), posexplode(text.tokenize(col("text"))).as(Seq("pos", "term")))
      .withColumn("v", conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .withColumn("h",
        col("v") * lit(16974593L) + lead(col("v"), 1).over(w) * lit(66049L)
          + lead(col("v"), 2).over(w) * lit(257L) + lead(col("v"), 3).over(w))
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_windows"), min(col("h")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val qFingerprintGateSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term,
      |    generate_subscripts(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0), 1) AS pos
      |  FROM documents),
      |vals AS (
      |  SELECT doc_id, pos, CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) AS v
      |  FROM toks),
      |wins AS (
      |  SELECT doc_id,
      |    v * 16974593 + LEAD(v, 1) OVER w * 66049
      |      + LEAD(v, 2) OVER w * 257 + LEAD(v, 3) OVER w AS h
      |  FROM vals WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      |SELECT doc_id, COUNT(h)::BIGINT AS n_windows, MIN(h) AS fingerprint
      |FROM wins GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q196: winnowing fingerprint sets + shared-fingerprint pair mining
    * (Schleimer–Wilkerson–Aiken, SIGMOD 2003 — the MOSS algorithm): from
    * each document's rolling 4-token hashes (the q125 base-257 polynomial,
    * integer-replayable cross-engine), keep the MINIMUM hash of every
    * window of `w`=8 consecutive positions. The winnowing guarantee: any
    * shared token run of ≥ w+k−1 tokens yields a shared fingerprint, with
    * ~2/(w+1) selection density — the local-dedup/plagiarism primitive
    * that q125's single global min (one fingerprint per doc) cannot
    * localize. Pairs sharing ≥2 selected fingerprints are emitted with
    * their overlap fraction.
    *
    * Exactness: hashes, window minima, the distinct selection, and all
    * pair counts are integers; overlap = shared/min(|A|,|B|) is one
    * division of exact integers, raw. Docs with fewer than w complete
    * hash windows select nothing (documented contract; q125 covers the
    * short-doc fingerprint).
    *
    * Scale shape: per-doc ROWS-frame minima (hash partition by doc), a
    * distinct on (doc, fp), and an inverted-index self-join on the
    * fingerprint value — candidate cost is Σ postings², concentrated on
    * true shared content by the winnowing guarantee; a q185-style
    * governor caps boilerplate-fingerprint skew at 100 TB. */
  /** The q196/q218 shared winnowing selection: each doc's distinct
    * window-minimum fingerprints (doc_id, fp). */
  private def winnowedFps(t: Tables, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val hashes = t.fanout(t.documents)
      .select(col("doc_id"), posexplode(text.tokenize(col("text"))).as(Seq("pos", "term")))
      .withColumn("v", conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"))
      .withColumn("h",
        col("v") * lit(16974593L) + lead(col("v"), 1).over(byPos) * lit(66049L)
          + lead(col("v"), 2).over(byPos) * lit(257L) + lead(col("v"), 3).over(byPos))
      .filter(col("h").isNotNull)
    val winFrame = byPos.rowsBetween(0, w - 1)
    hashes
      .withColumn("mn", min(col("h")).over(winFrame))
      .withColumn("cw", count(lit(1)).over(winFrame))
      .filter(col("cw") === w)
      .select(col("doc_id"), col("mn").as("fp")).distinct()
  }

  /** Session-cached winnowing fingerprints — q196 AND q218 both run the
    * tokenize + md5 + rolling-hash window kernel on the identical
    * corpus; one checkpoint serves both (exact integers, bit-identical
    * hits). */
  private[graft] def winnowedFpsShared(t: Tables, w: Int = 8): DataFrame =
    Shared(t, s"winnow_fps#$w")(winnowedFps(t, w).localCheckpoint())

  def qWinnowing(t: Tables, w: Int = 8): DataFrame = {
    // barrier: the selected-fingerprint frame is referenced three times
    // (per-doc counts + both posting-join sides) and each re-ran the
    // tokenize + rolling-hash window kernel (r13 opt); r14: shared with
    // q218's source-level matrix. (doc_id, fp) rows.
    val selected = winnowedFpsShared(t, w)
    val perDoc = selected.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val l = selected.select(col("fp"), col("doc_id").as("id_a"))
    val r = selected.select(col("fp"), col("doc_id").as("id_b"))
    val shared = l.join(r, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    shared
      .join(perDoc.select(col("doc_id").as("id_a"), col("n_fp").as("fp_a")), Seq("id_a"))
      .join(perDoc.select(col("doc_id").as("id_b"), col("n_fp").as("fp_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("fp_a"), col("fp_b"),
        (col("n_shared").cast("double")
          / least(col("fp_a"), col("fp_b")).cast("double")).as("overlap"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q196 oracle: the q125 hash CTEs + the same ROWS-frame minima,
    * distinct selection, and posting self-join. */
  /** The q196/q218 shared winnowing CTE chain ending in
    * `sel(doc_id, fp)`. */
  private def winnowingSelCtes(w: Int): String =
    s"""toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term,
      |    generate_subscripts(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0), 1) AS pos
      |  FROM documents),
      |vals AS (
      |  SELECT doc_id, pos, CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) AS v
      |  FROM toks),
      |wins AS (
      |  SELECT doc_id, pos,
      |    v * 16974593 + LEAD(v, 1) OVER wp * 66049
      |      + LEAD(v, 2) OVER wp * 257 + LEAD(v, 3) OVER wp AS h
      |  FROM vals WINDOW wp AS (PARTITION BY doc_id ORDER BY pos)),
      |hs AS (SELECT doc_id, pos, h FROM wins WHERE h IS NOT NULL),
      |sel AS (
      |  SELECT DISTINCT doc_id, mn AS fp FROM (
      |    SELECT doc_id,
      |      MIN(h) OVER wf AS mn,
      |      COUNT(*) OVER wf AS cw
      |    FROM hs
      |    WINDOW wf AS (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING))
      |  WHERE cw = $w)""".stripMargin

  def qWinnowingSql(w: Int = 8): String =
    s"""WITH ${winnowingSelCtes(w)},
      |pd AS (SELECT doc_id, COUNT(*)::BIGINT AS n_fp FROM sel GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS n_shared
      |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT s.id_a, s.id_b, s.n_shared, pa.n_fp AS fp_a, pb.n_fp AS fp_b,
      |  CAST(s.n_shared AS DOUBLE) / CAST(least(pa.n_fp, pb.n_fp) AS DOUBLE) AS overlap
      |FROM shared s JOIN pd pa ON pa.doc_id = s.id_a JOIN pd pb ON pb.doc_id = s.id_b
      |WHERE s.n_shared >= 2
      |ORDER BY s.id_a, s.id_b""".stripMargin

  /** Q218: cross-source text-reuse matrix — q196's winnowing
    * fingerprints lifted from doc pairs to SOURCE pairs: how much
    * fingerprint mass do two feeds share? This is the syndication/
    * mirror detector (wire copy republished across outlets) and, in a
    * training-data pipeline, the between-shard contamination matrix
    * that says which source pairs need the q191-class doc-level pass.
    *
    * Exactness: all counts of distinct (source, fingerprint) rows —
    * pure integers; the two directional containments are single
    * divisions, raw.
    *
    * Scale shape: the (source, fp) projection collapses the doc
    * dimension BEFORE the pair join, so the self-join runs on
    * |sources|-bounded posting lists (≤|S| rows per fingerprint), not
    * doc-level postings — cost Σ_fp |sources ∋ fp|² ≤ |S|²·|fps|. */
  def qReuseMatrix(t: Tables, w: Int = 8): DataFrame = {
    // barrier: referenced 3x (per-source totals + both sides of the
    // sharing self-join) — without it the winnowing fingerprint kernel
    // re-runs per reference; r14: the kernel itself rides the shared
    // session checkpoint (q196's sibling). Distinct (source, fp) rows.
    val srcFp = winnowedFpsShared(t, w)
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("fp")).distinct()
      .localCheckpoint()
    val perSrc = srcFp.groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    val l = srcFp.select(col("fp"), col("source").as("src_a"))
    val r = srcFp.select(col("fp"), col("source").as("src_b"))
    l.join(r, Seq("fp")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
      .join(broadcast(perSrc.select(col("source").as("src_a"),
        col("n_fp").as("fp_a"))), Seq("src_a"))
      .join(broadcast(perSrc.select(col("source").as("src_b"),
        col("n_fp").as("fp_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("fp_a"), col("fp_b"),
        (col("n_shared").cast("double") / col("fp_a").cast("double")).as("cont_a"),
        (col("n_shared").cast("double") / col("fp_b").cast("double")).as("cont_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q218 oracle: the shared winnowing chain + the source projection. */
  def qReuseMatrixSql(w: Int = 8): String =
    s"""WITH ${winnowingSelCtes(w)},
      |sf AS (
      |  SELECT DISTINCT d.source, sel.fp
      |  FROM sel JOIN documents d USING (doc_id)),
      |ps AS (SELECT source, COUNT(*)::BIGINT AS n_fp FROM sf GROUP BY source),
      |shared AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*)::BIGINT AS n_shared
      |  FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s.src_a, s.src_b, s.n_shared, pa.n_fp AS fp_a, pb.n_fp AS fp_b,
      |  CAST(s.n_shared AS DOUBLE) / CAST(pa.n_fp AS DOUBLE) AS cont_a,
      |  CAST(s.n_shared AS DOUBLE) / CAST(pb.n_fp AS DOUBLE) AS cont_b
      |FROM shared s
      |JOIN ps pa ON pa.source = s.src_a
      |JOIN ps pb ON pb.source = s.src_b
      |ORDER BY s.src_a, s.src_b""".stripMargin

  /** Q219: term burstiness — the index of dispersion (variance-to-mean
    * ratio, Church & Gale 1995's burstiness observation) of per-doc
    * counts for the corpus's top-k terms: VMR ≈ 1 is Poisson scatter
    * (function words), VMR ≫ 1 is bursty content vocabulary. The
    * signal separates topical terms from glue words better than raw
    * frequency — the selection input for keyword/stopword induction
    * (cf. q25/q77) without a hand-curated list.
    *
    * Exactness: over ALL D docs (zero counts included analytically):
    * VMR = (D·Σc² − (Σc)²)/(D·Σc) — exact BIGINTs into one division,
    * and the bursty flag is the cross-multiplied integer comparison
    * D·Σc² − (Σc)² > D·Σc (the q192/q215 discipline). Top-k selection
    * is (total desc, term) — total order.
    *
    * Scale shape: two count aggregates + TakeOrderedAndProject for the
    * top-k; D is a 1-value driver fetch (the q203 min/max contract). */
  def qBurstiness(t: Tables, k: Int = 20): DataFrame = {
    val dCount = t.documents.count()
    val per = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("term")).agg(
        sum(col("c")).as("tot"),
        count(lit(1)).as("df"),
        sum(col("c") * col("c")).as("ssq"))
    val varNum = lit(dCount) * col("ssq") - col("tot") * col("tot")
    per.orderBy(col("tot").desc, col("term")).limit(k)
      .select(col("term"), col("tot"), col("df"), col("ssq"),
        (varNum.cast("double") / (lit(dCount) * col("tot")).cast("double")).as("vmr"),
        (varNum > lit(dCount) * col("tot")).as("bursty"))
      .orderBy(col("tot").desc, col("term"))
  }

  /** q219 oracle: same moments; D enters as a scalar subquery. */
  def qBurstinessSql(k: Int = 20): String =
    s"""WITH dc AS (SELECT COUNT(*)::BIGINT AS d FROM documents),
      |per AS (
      |  SELECT term, CAST(SUM(c) AS BIGINT) AS tot,
      |    COUNT(*)::BIGINT AS df, CAST(SUM(c * c) AS BIGINT) AS ssq
      |  FROM (
      |    SELECT term, doc_id, COUNT(*)::BIGINT AS c FROM (
      |      SELECT doc_id,
      |        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |               x -> len(x) > 0)) AS term
      |      FROM documents)
      |    GROUP BY term, doc_id)
      |  GROUP BY term),
      |top AS (SELECT * FROM per ORDER BY tot DESC, term LIMIT $k)
      |SELECT term, tot, df, ssq,
      |  CAST((SELECT d FROM dc) * ssq - tot * tot AS DOUBLE)
      |    / CAST((SELECT d FROM dc) * tot AS DOUBLE) AS vmr,
      |  (SELECT d FROM dc) * ssq - tot * tot > (SELECT d FROM dc) * tot AS bursty
      |FROM top ORDER BY tot DESC, term""".stripMargin

  /** Q197: caliper-matched control sampling (nearest-neighbor matching
    * with replacement, Rubin 1973 — the observational-comparison
    * construction): every treated document (here: source `src1`) is
    * paired with its nearest control by length within the same exact
    * (lang, length-bin) cell — the caliper — so a downstream metric
    * comparison reads treatment effect, not covariate drift. Treated
    * rows with an empty cell surface as unmatched (NULL control) rather
    * than disappearing — match coverage is part of the answer.
    *
    * Exactness: all-integer — the bin, the |Δchars| distance, and the
    * (delta, c_id) argmin tie-break are exact; no float exists in the
    * output. NULLS LAST is pinned on both engines (Spark's ASC default
    * is nulls-FIRST, DuckDB's is nulls-LAST — the one divergence this
    * query could hit).
    *
    * Scale shape: one equi-join on (lang, bin) — cell sizes bound the
    * candidate fan-out (the caliper is also the skew bound) — and one
    * per-treated row_number window; both linear shuffles. */
  def qMatchedSampling(t: Tables, binWidth: Int = 50,
      treatedSource: String = "src1"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t.documents
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("bin", expr(s"n_chars div $binWidth"))
    val treated = docs.filter(col("source") === treatedSource)
      .select(col("doc_id").as("t_id"), col("lang"), col("bin"),
        col("n_chars").as("t_chars"))
    val controls = docs.filter(col("source") =!= treatedSource)
      .select(col("doc_id").as("c_id"), col("lang"), col("bin"),
        col("n_chars").as("c_chars"))
    val cand = treated.join(controls, Seq("lang", "bin"), "left")
      .withColumn("delta", abs(col("c_chars") - col("t_chars")))
    val wT = Window.partitionBy(col("t_id"))
      .orderBy(col("delta").asc_nulls_last, col("c_id").asc_nulls_last)
    cand.withColumn("rn", row_number().over(wT)).filter(col("rn") === 1)
      .select(col("t_id"), col("lang"), col("bin"), col("t_chars"),
        col("c_id"), col("c_chars"), col("delta"))
      .orderBy(col("t_id"))
  }

  /** q197 oracle: the same cell join + (delta, c_id) argmin window. */
  def qMatchedSamplingSql(binWidth: Int = 50, treatedSource: String = "src1"): String =
    s"""WITH d AS (
      |  SELECT doc_id, lang, source, n_chars, n_chars // $binWidth AS bin
      |  FROM documents),
      |t AS (SELECT doc_id AS t_id, lang, bin, n_chars AS t_chars
      |      FROM d WHERE source = '$treatedSource'),
      |c AS (SELECT doc_id AS c_id, lang, bin, n_chars AS c_chars
      |      FROM d WHERE source <> '$treatedSource'),
      |cand AS (
      |  SELECT t.t_id, t.lang, t.bin, t.t_chars, c.c_id, c.c_chars,
      |    abs(c.c_chars - t.t_chars) AS delta
      |  FROM t LEFT JOIN c USING (lang, bin)),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY t_id
      |    ORDER BY delta ASC NULLS LAST, c_id ASC NULLS LAST) AS rn
      |  FROM cand)
      |SELECT t_id, lang, bin, t_chars, c_id, c_chars, delta
      |FROM r WHERE rn = 1 ORDER BY t_id""".stripMargin

  /** N-gram surface (reference utils.py:1-30): distinct word 2-grams per
    * doc count + the reference's n→distinct-ngram map cardinalities. */
  def qNgrams(t: Tables): DataFrame = {
    // one-pass JVM kernel: the Column form (transform/slice/concat_ws) is
    // interpreted, not codegen'd — ~100× slower per row at corpus scale
    val counts = graft.functions.fasthash.ngramDistinctCountsUdf(3)(col("text"))
    t.fanout(t.documents)
      .select(col("doc_id"), counts.as("c"))
      .select(
        col("doc_id"),
        col("c").getItem(0).as("n_distinct_2grams"),
        col("c").getItem(1).as("n_distinct_3grams"))
      .orderBy(col("doc_id"))
  }

  /** Q78: repetition-quality stats (the Gopher/C4 repetition rules'
    * signals): per doc, the max frequency of any word 2-gram, total
    * 2-gram occurrences, and duplicate-segment counts ('. '-split
    * segments — literal split, identical on both engines). All integers —
    * hash-exact; the filter ratios (max/total etc.) are one division away
    * downstream. One JVM-kernel pass for the grams (the Column n-gram
    * form is interpreted — round-1 lesson). */
  def qRepetition(t: Tables): DataFrame = {
    val stats = graft.functions.fasthash.repetitionStatsUdf(2)(col("text"))
    val segs = split(col("text"), "\\. ")
    t.fanout(t.documents)
      .select(col("doc_id"), stats.as("s"),
        size(segs).cast("long").as("n_segments"),
        size(array_distinct(segs)).cast("long").as("n_distinct_segments"))
      .select(col("doc_id"),
        col("s").getItem(0).as("max_2gram_count"),
        col("s").getItem(1).as("total_2grams"),
        col("n_segments"), col("n_distinct_segments"))
      .orderBy(col("doc_id"))
  }

  val qRepetitionSql: String =
    """WITH g AS (
      |  SELECT doc_id, unnest([list_aggregate(toks[i:i+1], 'string_agg', ' ') FOR i IN range(1, len(toks))]) AS gram
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
      |        FROM documents)),
      |c AS (
      |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS max_2gram_count,
      |    CAST(SUM(cnt) AS BIGINT) AS total_2grams
      |  FROM (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(c.max_2gram_count, 0) AS max_2gram_count,
      |  COALESCE(c.total_2grams, 0) AS total_2grams,
      |  CAST(len(string_split(d.text, '. ')) AS BIGINT) AS n_segments,
      |  CAST(len(list_distinct(string_split(d.text, '. '))) AS BIGINT) AS n_distinct_segments
      |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Q79: benchmark decontamination — the overlap check an LLM data
    * pipeline runs before training: which "benchmark" docs (here the
    * doc_id%97 slice stands in for an eval set) share any word 8-gram
    * with any training doc. Gram STRINGS (not engine hashes) so the
    * equi-join and the oracle agree; the join is equi on the gram — at
    * 100 TB this is the standard shape (gram inverted index), never a
    * cross join, and the gram table can be bucketed by gram. */
  def qDecontaminate(t: Tables): DataFrame = {
    val grams = graft.functions.fasthash.distinctNgramsUdf(8)(col("text"))
    val docs = t.fanout(t.documents)
    val probe = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("probe_id"), explode(grams).as("gram"))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("train_id"), explode(grams).as("gram"))
    val hits = probe.join(train, Seq("gram"))
      .groupBy(col("probe_id"))
      .agg(countDistinct(col("train_id")).as("n_contaminating_docs"))
    t.documents.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_contaminating_docs"), lit(0L)).as("n_contaminating_docs"))
      .orderBy(col("probe_id"))
  }

  val qDecontaminateSql: String =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_distinct([list_aggregate(toks[i:i+7], 'string_agg', ' ') FOR i IN range(1, len(toks) - 6)])) AS gram
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
      |        FROM documents)),
      |hits AS (
      |  SELECT p.doc_id AS probe_id, COUNT(DISTINCT tr.doc_id) AS n_contaminating_docs
      |  FROM g p JOIN g tr ON p.gram = tr.gram
      |  WHERE p.doc_id % 97 = 0 AND tr.doc_id % 97 != 0
      |  GROUP BY p.doc_id)
      |SELECT d.doc_id AS probe_id,
      |  CAST(COALESCE(h.n_contaminating_docs, 0) AS BIGINT) AS n_contaminating_docs
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.probe_id
      |WHERE d.doc_id % 97 = 0
      |ORDER BY probe_id""".stripMargin

  /** Q84: pattern redaction — the PII-scrubbing shape (here digit runs
    * stand in for the sensitive pattern; swapping the regex swaps the
    * policy): per doc, match count, redacted length, and the redacted
    * text itself — all string/integer-exact cross-engine (DuckDB
    * regexp_replace needs the 'g' flag to match Spark's global default). */
  def qRedact(t: Tables): DataFrame =
    t.fanout(t.documents)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_redacted"),
        length(regexp_replace(col("text"), "[0-9]+", "<NUM>")).cast("long")
          .as("redacted_len"),
        substring(regexp_replace(col("text"), "[0-9]+", "<NUM>"), 1, 80)
          .as("redacted_prefix"))
      .orderBy(col("doc_id"))

  val qRedactSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redacted,
      |  CAST(length(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS BIGINT) AS redacted_len,
      |  substr(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), 1, 80) AS redacted_prefix
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Q77: per-document top terms (the SQL-exact face of the A2/A3 TF
    * machinery: term frequency + deterministic argmax, no ML fit) — top-3
    * non-stopword tokens per doc by (tf desc, token asc). Two-phase
    * count + a per-doc top-k window (WindowGroupLimit at scale). */
  def qTopTerms(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tf").desc, col("token"))
    t.fanout(t.documents)
      .select(col("doc_id"),
        explode(text.removeStopwords(text.tokenize(col("text")))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val qTopTermsSql: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH tf AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |             x -> len(x) > 0 AND x NOT IN ($sw))) AS token
       |    FROM documents)
       |  GROUP BY doc_id, token)
       |SELECT doc_id, CAST(rank AS INT) AS rank, token, tf FROM (
       |  SELECT doc_id, token, tf,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS rank
       |  FROM tf)
       |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
  }

  /** Q86: C4/Gopher-style composite quality GATE (Raffel et al. 2020 §2.2,
    * Rae et al. 2021 A1.1 — published rule families; thresholds tuned to the
    * synthetic corpus so every rule discriminates). Each ratio rule is a
    * CROSS-MULTIPLIED integer comparison — no float division anywhere, so
    * the booleans are bit-exact cross-engine:
    *   - rule_len:      20 ≤ n_tokens ≤ 80
    *   - rule_mwl:      mean word length in [4, 5]  (4·n ≤ chars ≤ 5·n)
    *   - rule_stop:     stopword fraction ≥ 5%      (20·n_stop ≥ n)
    *   - rule_distinct: distinct-token fraction ≥ ½ (2·n_distinct ≥ n)
    * Per-row column arithmetic only — the plan is a single scan stage,
    * linear at 100 TB, and the keep flag feeds a filter for free. */
  def qQualityFilter(t: Tables): DataFrame = {
    val toks = text.tokenize(col("text"))
    t.fanout(t.documents)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        // token characters = text minus separators (codegen'd; avoids an
        // interpreted aggregate() over the token array)
        length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
          .cast("long").as("n_tok_chars"),
        size(filter(toks, tk => tk.isInCollection(text.stopwords)))
          .cast("long").as("n_stop"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 80).as("rule_len"),
        (col("n_tok_chars") >= col("n_tokens") * 4 &&
          col("n_tok_chars") <= col("n_tokens") * 5).as("rule_mwl"),
        (col("n_stop") * 20 >= col("n_tokens")).as("rule_stop"),
        (col("n_distinct") * 2 >= col("n_tokens")).as("rule_distinct"))
      .withColumn("keep",
        col("rule_len") && col("rule_mwl") && col("rule_stop") && col("rule_distinct"))
      .orderBy(col("doc_id"))
  }

  val qQualityFilterSql: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, n_tokens,
       |  (n_tokens >= 20 AND n_tokens <= 80) AS rule_len,
       |  (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5) AS rule_mwl,
       |  (n_stop * 20 >= n_tokens) AS rule_stop,
       |  (n_distinct * 2 >= n_tokens) AS rule_distinct,
       |  ((n_tokens >= 20 AND n_tokens <= 80)
       |   AND (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5)
       |   AND (n_stop * 20 >= n_tokens)
       |   AND (n_distinct * 2 >= n_tokens)) AS keep
       |FROM (SELECT doc_id,
       |        CAST(len(toks) AS BIGINT) AS n_tokens,
       |        CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT) AS n_tok_chars,
       |        CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop,
       |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |      FROM (SELECT doc_id, text,
       |              list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Q87: head-vocabulary coverage filter (the OOV/noisiness signal a
    * training pipeline runs before tokenizer fitting): phase 1 derives the
    * corpus top-20 vocabulary (freq desc, token asc — a deterministic SET);
    * phase 2 joins it back per token occurrence and scores each doc by how
    * much of it is head-vocab mass. The derived dim is |head| rows →
    * broadcast join; the doc-side shuffle carries (doc_id) partial counts
    * only. Flag (cross-multiplied, exact): head coverage ≥ 75%. */
  def qHeadCoverage(t: Tables): DataFrame = {
    val tokens = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("token"))
    val head = tokens.groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(20)
      .select(col("token"))
    // one pass over the exploded tokens: left join the broadcast 20-row dim
    // with a marker and count total + marked together (a second tokenize
    // pass per aggregate benched 2× the cost)
    tokens.join(broadcast(head.withColumn("__h", lit(1))), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), count(col("__h")).as("n_head"))
      .withColumn("head_ok", col("n_head") * 4 >= col("n_tokens") * 3)
      .orderBy(col("doc_id"))
  }

  val qHeadCoverageSql: String =
    """WITH tokens AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS token
      |  FROM documents),
      |head AS (
      |  SELECT token FROM tokens GROUP BY token
      |  ORDER BY COUNT(*) DESC, token LIMIT 20)
      |SELECT t.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE t.token IN (SELECT token FROM head)) AS BIGINT) AS n_head,
      |  (COUNT(*) FILTER (WHERE t.token IN (SELECT token FROM head)) * 4 >= COUNT(*) * 3) AS head_ok
      |FROM tokens t GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Q88: per-domain document cap (the data-mixing "domain balancing" step:
    * no single source may contribute more than K docs). Priority within a
    * domain is a deterministic CONTENT hash (md5 — engine- and
    * partitioning-independent, the q63 pattern) with doc_id as the
    * duplicate-text tie-break, so the kept set is reproducible anywhere.
    * Window + rank≤K is the WindowGroupLimit shape: at 100 TB the shuffle
    * partitions by domain and each partition streams in sorted order —
    * skewed domains fall out of AQE or a pre-salted two-phase top-K. */
  def qDomainCap(t: Tables, cap: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(substring(md5(col("text")), 1, 16), col("doc_id"))
    t.fanout(t.documents)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cap)
      .select(col("source"), col("rank").cast("long").as("rank"), col("doc_id"))
      .orderBy(col("source"), col("rank"))
  }

  val qDomainCapSql: String =
    """SELECT source, CAST(rank AS BIGINT) AS rank, doc_id FROM (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY substr(md5(text), 1, 16), doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= 10 ORDER BY source, rank""".stripMargin

  val qNgramsSql: String =
    """SELECT doc_id,
      |  CAST(len(list_distinct([list_aggregate(toks[i:i+1], 'string_agg', ' ') FOR i IN range(1, len(toks))])) AS BIGINT) AS n_distinct_2grams,
      |  CAST(len(list_distinct([list_aggregate(toks[i:i+2], 'string_agg', ' ') FOR i IN range(1, len(toks)-1)])) AS BIGINT) AS n_distinct_3grams
      |FROM (SELECT doc_id,
      |        list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Q92: passage-level exact dedup with document reconstruction (the
    * C4/RefinedWeb sub-document dedup step: boilerplate passages repeated
    * across the corpus are dropped, documents are rebuilt from what
    * survives). Unit = fixed window of `passageLen` tokens (the corpus has
    * no newline/sentence structure to split on — TESTDATA). Keep-first rule
    * is the exact-dedup contract: first (doc_id, position) occurrence of a
    * passage wins, corpus-wide — including self-repeats inside a document.
    *
    * Scale shape: tokenize + chunk are per-row; the only shuffle is the
    * hash partition on passage text for the row_number window (O(n)
    * passages, same as exact dedup q31 — at 100 TB swap the raw passage for
    * its 128-bit hash to shrink the shuffle payload; text kept here so the
    * oracle can replay reconstruction). Rebuild is a groupBy(doc_id)
    * collect of the KEPT passages only — bounded by document length. */
  def qPassageDedup(t: Tables, passageLen: Int = 10): DataFrame = {
    val p = passageLen
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
    // chunk ids 0..ceil(n/p)-1; sequence() flips to a DESCENDING range when
    // n = 0 (start > stop), so guard the empty-doc case to an empty array
    val chunks = toks
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) = 0 THEN cast(array() as array<string>)
           |ELSE transform(sequence(0, cast(ceil(size(toks) / $p.0) as int) - 1),
           |               i -> array_join(slice(toks, i * $p + 1, $p), ' '))
           |END""".stripMargin)).as(Seq("idx", "passage")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("passage")).orderBy(col("doc_id"), col("idx"))
    chunks.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_passages"),
        count(when(col("rn") === 1, 1)).as("n_kept"),
        // collect_list drops the nulls from the unmatched WHEN branch —
        // only kept passages reach the rebuild; sort restores text order
        sort_array(collect_list(when(col("rn") === 1,
          struct(col("idx"), col("passage"))))).as("kept"))
      .select(col("doc_id"), col("n_passages"), col("n_kept"),
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(array_join(expr("transform(kept, x -> x.passage)"), " "))
          .as("dedup_text"))
      .orderBy(col("doc_id"))
  }

  val qPassageDedupSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, CAST(i AS INT) AS idx,
      |    array_to_string(list_slice(toks, i * 10 + 1, (i + 1) * 10), ' ') AS passage
      |  FROM (SELECT doc_id, toks,
      |          unnest(range(CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
      |        FROM toks)),
      |ranked AS (
      |  SELECT doc_id, idx, passage,
      |    ROW_NUMBER() OVER (PARTITION BY passage ORDER BY doc_id, idx) AS rn
      |  FROM chunks)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_passages,
      |  CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
      |  string_agg(passage, ' ' ORDER BY idx) FILTER (WHERE rn = 1) AS dedup_text
      |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q96: sequence packing — the pre-training step that bins documents
    * into fixed token-budget training sequences (pack-then-truncate
    * convention: a boundary-straddling document goes to the bin its FIRST
    * token lands in, so a bin may overflow by one document's tail).
    * Deterministic contract: docs pack in doc_id order within fixed
    * 1000-id shards; a shard's packing depends only on its own docs, so
    * shards pack in parallel and re-runs/backfills are reproducible —
    * the global-cumsum alternative would serialize the corpus through one
    * partition AND re-pack everything when any upstream doc changes.
    * Shuffle: one window per shard (hash on shard id) + the final
    * O(sequences) aggregate. fill_ratio is one IEEE division — raw. */
  def qSequencePack(t: Tables, budget: Int = 256, shardSize: Long = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    t.fanout(t.documents)
      .select(col("doc_id"),
        size(text.tokenize(col("text"))).cast("long").as("n_tokens"))
      // integer division, not floor(double /): exact at any id/count scale
      .withColumn("shard", expr(s"doc_id div $shardSize"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", expr(s"start_tok div $budget"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio", col("n_tokens").cast("double") / lit(budget.toDouble))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** Q98: unigram entropy + top-word fraction per document — the
    * Gopher/RefinedWeb-style statistical quality gates (low entropy or a
    * dominant single word ⇒ boilerplate / keyword-stuffed page). Two hash
    * aggregates over exploded tokens: shuffle O(Σ distinct words per doc)
    * then O(docs) — linear, no joins, survives 100 TB unchanged. Entropy
    * uses the factored form H = log2(n) − Σ c·log2(c) / n so the per-term
    * values stay integer-argument log2s; the cross-partition sum is
    * aggregation-order-dependent ⇒ round(6) (the established discipline).
    * top_word_frac is one IEEE division of exact integers ⇒ emitted raw. */
  def qEntropy(t: Tables): DataFrame =
    t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        round(
          log2(sum(col("c")).cast("double")) -
            sum(col("c").cast("double") * log2(col("c").cast("double"))) /
              sum(col("c")).cast("double"), 6).as("entropy"),
        (max(col("c")).cast("double") / sum(col("c")).cast("double"))
          .as("top_word_frac"))
      .orderBy(col("doc_id"))

  val qEntropySql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS token
      |  FROM documents),
      |cnt AS (SELECT doc_id, token, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  round(log2(CAST(SUM(c) AS DOUBLE))
      |        - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 6) AS entropy,
      |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q116: padding-waste audit — the batch-assembly economics check behind
    * q96's sequence packing. If training batches pad every document to a
    * power-of-2 length bucket (the static-shape / XLA-style strategy),
    * how many tokens are padding? One row per bucket: docs, real tokens,
    * padded tokens (n_docs · bucket), waste ratio. Reading this table is
    * how a pipeline decides packing (q96) is worth its shuffle.
    *
    * Buckets come from an integer CASE ladder (16, 32, … 4096, else 8192)
    * — no log2/pow floats to diverge cross-engine at exact powers of two.
    * Scale: one linear scan + a ≤9-group aggregate. */
  def qPaddingWaste(t: Tables): DataFrame = {
    val buckets = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
    val nt = size(split(trim(col("text")), "\\s+")).cast("long")
    val bucket = buckets.foldRight(lit(8192L): org.apache.spark.sql.Column) { (b, acc) =>
      when(col("n_tokens") <= b, b).otherwise(acc)
    }
    t.documents
      .select(nt.as("n_tokens"))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("actual_tokens"))
      .select(col("bucket"), col("n_docs"), col("actual_tokens"),
        (col("n_docs") * col("bucket")).as("padded_tokens"),
        round((col("n_docs") * col("bucket") - col("actual_tokens")).cast("double")
          / (col("n_docs") * col("bucket")).cast("double"), 6).as("waste_ratio"))
      .orderBy(col("bucket"))
  }

  val qPaddingWasteSql: String = {
    val ladder = Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
      .map(b => s"WHEN n_tokens <= $b THEN $b").mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |b AS (SELECT n_tokens, CASE $ladder ELSE 8192 END AS bucket FROM d)
       |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS actual_tokens,
       |  CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
       |  round(CAST(COUNT(*) * bucket - SUM(n_tokens) AS DOUBLE)
       |        / CAST(COUNT(*) * bucket AS DOUBLE), 6) AS waste_ratio
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Q117: Zipf-fit corpus health check — least-squares slope of
    * log(freq) on log(rank) over the ranked vocabulary (natural text sits
    * near slope −1; a corpus that drifts far from it after filtering is a
    * red flag: boilerplate floods or over-aggressive dedup). Rank is a
    * total order (freq DESC, token ASC) so the min-count cut is
    * engine-independent; the fit is the closed-form b = (nΣxy−ΣxΣy) /
    * (nΣx²−(Σx)²) with per-row ln() IEEE-exact and only the Σ's
    * aggregation-order-dependent → slope/intercept round(6).
    *
    * Scale: vocabulary aggregate (map-side combine, shuffle O(|vocab|)),
    * then the top-maxRank cut runs as TakeOrderedAndProject — per-partition
    * heaps of maxRank rows, NOT a single-task global sort/window over the
    * whole vocabulary (the tail vocab at 100 TB is huge even after the
    * minFreq filter). Rank is then assigned by a window over the already-
    * bounded maxRank-row result, and the fit is 1 row. */
  def qZipfFit(t: Tables, minFreq: Long = 5, maxRank: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("token")).limit(maxRank)
    val ranked = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("token"))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    val n = count(lit(1)).cast("double")
    val fit = ranked.agg(
      count(lit(1)).as("n_ranked"),
      ((n * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y"))) /
        (n * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))))
        .as("slope_raw"),
      sum(col("y")).as("sy"), sum(col("x")).as("sx"))
    fit.select(col("n_ranked"),
      round(col("slope_raw"), 6).as("zipf_slope"),
      round((col("sy") - col("slope_raw") * col("sx")) /
        col("n_ranked").cast("double"), 6).as("intercept"))
  }

  val qZipfFitSql: String =
    """WITH freqs AS (
      |  SELECT token, COUNT(*)::BIGINT AS freq FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS token
      |    FROM documents)
      |  GROUP BY token HAVING COUNT(*) >= 5),
      |ranked AS (
      |  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y FROM (
      |    SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS r FROM freqs)
      |  WHERE r <= 200),
      |fit AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
      |    (CAST(COUNT(*) AS DOUBLE) * SUM(x*y) - SUM(x) * SUM(y))
      |      / (CAST(COUNT(*) AS DOUBLE) * SUM(x*x) - SUM(x) * SUM(x)) AS slope_raw,
      |    SUM(y) AS sy, SUM(x) AS sx
      |  FROM ranked)
      |SELECT n_ranked, round(slope_raw, 6) AS zipf_slope,
      |  round((sy - slope_raw * sx) / CAST(n_ranked AS DOUBLE), 6) AS intercept
      |FROM fit""".stripMargin

  /** Q203: Heaps'-law vocabulary-growth fit V(n) ≈ K·n^β (Heaps 1978;
    * Baeza-Yates & Ribeiro-Neto ch.6) — the corpus-statistics complement
    * of q117's Zipf fit: how fast does the vocabulary grow as the corpus
    * streams in doc_id order? A training pipeline reads β to forecast
    * tokenizer/vocab pressure at 100 TB from a small prefix.
    *
    * Exactness: doc rank, cumulative token count T(r) and cumulative
    * vocabulary V(r) (= #terms whose FIRST occurrence has rank ≤ r) are
    * pure BIGINTs; ln goes through the micro grid (round(ln·1e6) — the
    * r9 exp/log invariant) so the OLS moments are exact BIGINT sums and
    * β is ONE division of exact integers (emitted raw); K re-enters libm
    * via exp and carries round(6).
    *
    * Scale shape: the cumulative prefix is the q144 two-phase bucket
    * idiom on doc_id percent-buckets — per-bucket (count, Σtok, Σnew
    * terms) ride the driver (≤101 rows), exclusive offsets broadcast
    * back, windows run partitioned BY BUCKET. First occurrences are one
    * min-aggregate over the exploded terms (map-side combinable); the
    * OLS runs on the ≤`points`-row checkpoint frame (post-filter tiny-
    * frame window precedent). No global sort at any size. */
  def qHeapsFit(t: Tables, points: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.spark
    import spark.implicits._
    // id range/count never needed the tokenize — read it off the bare
    // table (was: one full tokenize pass just for min/max/count)
    val rng = t.documents
      .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1))).head()
    val empty = Tables.emptyFrame(spark, "rank" -> LongType,
      "cum_tokens" -> LongType, "vocab" -> LongType,
      "ln_t_micro" -> LongType, "ln_v_micro" -> LongType,
      "beta" -> DoubleType, "k" -> DoubleType)
    if (rng.isNullAt(0)) return empty
    val (minId, maxId, n) = (rng.getLong(0), rng.getLong(1), rng.getLong(2))
    val span = maxId - minId + 1
    val terms = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    // ntok from the SAME exploded pass as the first-occurrence counts
    // (size(tokenize) == count of exploded terms; empty-token docs come
    // back via the left join below), instead of a second tokenize pass
    val ntok = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("ntok"))
    val nv = terms.groupBy(col("term")).agg(min(col("doc_id")).as("fo"))
      .groupBy(col("fo").as("doc_id")).agg(count(lit(1)).as("nv"))
    // barrier: base feeds BOTH the per-bucket mass collect and the ranked
    // window — un-checkpointed, each evaluation re-ran the two tokenize
    // aggregates (5 corpus tokenize passes per run in total; now 2, in
    // base's single materialization). n rows × 4 longs.
    val base = t.documents.select(col("doc_id"))
      .join(ntok, Seq("doc_id"), "left")
      .withColumn("ntok", coalesce(col("ntok"), lit(0L)))
      .join(nv, Seq("doc_id"), "left")
      .withColumn("nv", coalesce(col("nv"), lit(0L)))
      .withColumn("bucket", expr(s"((doc_id - ${minId}L) * 101L) div ${span}L"))
      .localCheckpoint()
    // per-bucket masses ride the driver (≤101 rows — bounded fetch)
    val sums = base.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"), sum(col("ntok")).as("bt"), sum(col("nv")).as("bv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    var accN = 0L; var accT = 0L; var accV = 0L
    val offs = sums.map { case (b, bn, bt, bv) =>
      val o = (b, accN, accT, accV); accN += bn; accT += bt; accV += bv; o
    }
    val offDf = broadcast(offs.toSeq.toDF("bucket", "offN", "offT", "offV"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = base.join(offDf, Seq("bucket"))
      .withColumn("rank", col("offN") + count(lit(1)).over(w))
      .withColumn("cum_tokens", col("offT") + sum(col("ntok")).over(w))
      .withColumn("vocab", col("offV") + sum(col("nv")).over(w))
    val cpRanks = (1 to points).map(k => (n * k + points - 1) / points)
      .distinct.filter(_ >= 1L)
    val cp = ranked.filter(col("rank").isInCollection(cpRanks))
      .select(col("rank"), col("cum_tokens"), col("vocab"),
        round(log(greatest(col("cum_tokens"), lit(1L)).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("ln_t_micro"),
        round(log(greatest(col("vocab"), lit(1L)).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("ln_v_micro"))
    val all = Window.partitionBy()
    val den = (col("np") * col("sxx") - col("sx") * col("sx")).cast("double")
    cp.withColumn("np", count(lit(1)).over(all))
      .withColumn("sx", sum(col("ln_t_micro")).over(all))
      .withColumn("sy", sum(col("ln_v_micro")).over(all))
      .withColumn("sxx", sum(col("ln_t_micro") * col("ln_t_micro")).over(all))
      .withColumn("sxy", sum(col("ln_t_micro") * col("ln_v_micro")).over(all))
      .withColumn("beta",
        (col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
          when(den === 0.0, lit(null)).otherwise(den))
      .withColumn("k", round(exp(
        (col("sy").cast("double") - col("beta") * col("sx").cast("double")) /
          (col("np").cast("double") * lit(1000000.0))), 6))
      .select(col("rank"), col("cum_tokens"), col("vocab"),
        col("ln_t_micro"), col("ln_v_micro"), col("beta"), col("k"))
      .orderBy(col("rank"))
  }

  /** q203 oracle: global windows replace the two-phase prefix (fine in
    * DuckDB); checkpoint ranks re-derived as ⌈n·k/points⌉ in exact
    * integer math; β/K re-expressed with the identical IEEE sequences. */
  def qHeapsFitSql(points: Int = 10): String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                x -> len(x) > 0) AS toks
      |  FROM documents),
      |nv AS (
      |  SELECT fo AS doc_id, COUNT(*)::BIGINT AS nv FROM (
      |    SELECT term, MIN(doc_id) AS fo FROM (
      |      SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY term)
      |  GROUP BY fo),
      |ranked AS (
      |  SELECT d.doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY d.doc_id) AS BIGINT) AS rank,
      |    CAST(SUM(len(d.toks)) OVER (ORDER BY d.doc_id) AS BIGINT) AS cum_tokens,
      |    CAST(SUM(COALESCE(nv.nv, 0)) OVER (ORDER BY d.doc_id) AS BIGINT) AS vocab
      |  FROM d LEFT JOIN nv USING (doc_id)),
      |nn AS (SELECT COUNT(*)::BIGINT AS n FROM d),
      |cps AS (
      |  SELECT DISTINCT (n * k + ${points - 1}) // $points AS r
      |  FROM nn, range(1, ${points + 1}) t(k)
      |  WHERE (n * k + ${points - 1}) // $points >= 1),
      |cp AS (
      |  SELECT rank, cum_tokens, vocab,
      |    CAST(round(ln(CAST(greatest(cum_tokens, 1) AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS ln_t_micro,
      |    CAST(round(ln(CAST(greatest(vocab, 1) AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS ln_v_micro
      |  FROM ranked WHERE rank IN (SELECT r FROM cps)),
      |s AS (
      |  SELECT COUNT(*)::BIGINT AS np,
      |    CAST(SUM(ln_t_micro) AS BIGINT) AS sx,
      |    CAST(SUM(ln_v_micro) AS BIGINT) AS sy,
      |    CAST(SUM(ln_t_micro * ln_t_micro) AS BIGINT) AS sxx,
      |    CAST(SUM(ln_t_micro * ln_v_micro) AS BIGINT) AS sxy
      |  FROM cp)
      |SELECT cp.rank, cp.cum_tokens, cp.vocab, cp.ln_t_micro, cp.ln_v_micro,
      |  CAST(s.np * s.sxy - s.sx * s.sy AS DOUBLE)
      |    / nullif(CAST(s.np * s.sxx - s.sx * s.sx AS DOUBLE), 0.0) AS beta,
      |  round(exp((CAST(s.sy AS DOUBLE)
      |      - (CAST(s.np * s.sxy - s.sx * s.sy AS DOUBLE)
      |         / nullif(CAST(s.np * s.sxx - s.sx * s.sx AS DOUBLE), 0.0))
      |        * CAST(s.sx AS DOUBLE))
      |    / (CAST(s.np AS DOUBLE) * 1000000.0::DOUBLE)), 6) AS k
      |FROM cp, s ORDER BY rank""".stripMargin

  /** Q204: mutual information I(source; quality-bucket) — the dependence
    * audit between a corpus facet and the quality signal (does quality
    * vary by source, and by how many nats?). Complements q173's
    * chi-square independence TEST with the information-theoretic effect
    * SIZE (Cover & Thomas ch.2): I = Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y))).
    *
    * Exactness: the contingency table is pure counts; the bucket derives
    * from the micro-rounded quality score with BIGINT math (the q188
    * one-rounded-quantity rule — floor on the raw double could bin a
    * boundary doc differently cross-engine); each cell's MI term goes
    * through ln once and lands on the micro grid (round·1e6 — the r9
    * exp/log invariant), so the total is an order-independent BIGINT
    * sum. round() at 0 dp is half-away-from-zero for BOTH signs in both
    * engines (BigDecimal HALF_UP ≡ std::round), so negative cell terms
    * are safe.
    *
    * Scale shape: one corpus-scale count aggregate (map-side
    * combinable); marginals + the MI sum are windows over the bounded
    * |sources|·bins cell table (post-aggregate tiny-frame precedent). */
  def qMutualInfo(t: Tables, bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityScoreShared(t).select(col("doc_id"), col("quality_score"))
    val cells = q
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"),
        round(col("quality_score") * lit(1000000.0), 0).cast("long").as("qm"))
      .select(col("source"),
        expr(s"least((qm * $bins) div 1000000, ${(bins - 1).toLong}L)").as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c_xy"))
    val wx = Window.partitionBy(col("source"))
    val wy = Window.partitionBy(col("bin"))
    val all = Window.partitionBy()
    cells
      .withColumn("c_x", sum(col("c_xy")).over(wx))
      .withColumn("c_y", sum(col("c_xy")).over(wy))
      .withColumn("n", sum(col("c_xy")).over(all))
      .withColumn("term_micro", round(
        (col("c_xy").cast("double") / col("n").cast("double")) *
          log(col("c_xy").cast("double") * col("n").cast("double") /
            (col("c_x").cast("double") * col("c_y").cast("double"))) *
          lit(1000000.0), 0).cast("long"))
      .withColumn("mi_micro", sum(col("term_micro")).over(all))
      .select(col("source"), col("bin"), col("c_xy"), col("c_x"), col("c_y"),
        col("term_micro"), col("mi_micro"),
        (col("mi_micro").cast("double") / lit(1000000.0)).as("mi_nats"))
      .orderBy(col("source"), col("bin"))
  }

  /** q204 oracle: the shared q27 score chain + the same BIGINT bucket and
    * micro-grid cell terms; windows over the bounded cell table. */
  def qMutualInfoSql(bins: Int = 10): String =
    s"""WITH $qualityScoreCtes,
      |cells AS (
      |  SELECT d.source,
      |    least((CAST(round(s.quality_score * 1000000.0::DOUBLE) AS BIGINT)
      |           * $bins) // 1000000, ${bins - 1}) AS bin,
      |    COUNT(*)::BIGINT AS c_xy
      |  FROM scored s JOIN documents d USING (doc_id)
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT source, bin, c_xy,
      |    CAST(SUM(c_xy) OVER (PARTITION BY source) AS BIGINT) AS c_x,
      |    CAST(SUM(c_xy) OVER (PARTITION BY bin) AS BIGINT) AS c_y,
      |    CAST(SUM(c_xy) OVER () AS BIGINT) AS n
      |  FROM cells),
      |tm AS (
      |  SELECT *, CAST(round(
      |    (CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE)
      |           / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))
      |      * 1000000.0::DOUBLE) AS BIGINT) AS term_micro
      |  FROM m)
      |SELECT source, bin, c_xy, c_x, c_y, term_micro,
      |  CAST(SUM(term_micro) OVER () AS BIGINT) AS mi_micro,
      |  CAST(SUM(term_micro) OVER () AS DOUBLE) / 1000000.0::DOUBLE AS mi_nats
      |FROM tm ORDER BY source, bin""".stripMargin

  /** The q205 distributed ranking primitive (the q144/q203 prefix idiom
    * specialized to ranks): global rank of each row
    * under (microCol, tie-keys) order WITHOUT a global sort — the value-
    * monotone micro column buckets rows (101 buckets), per-bucket counts
    * ride the driver (bounded fetch), exclusive offsets broadcast back,
    * and the row_number window runs partitioned BY BUCKET. Provably equal
    * to the global ROW_NUMBER because the bucket key is monotone in the
    * leading sort key. `span` = exclusive upper bound of microCol. */
  private[graft] def bucketRank(df: DataFrame, microCol: String, span: Long,
      orderCols: Seq[org.apache.spark.sql.Column], out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val b = df.withColumn("bkt", expr(s"($microCol * 101L) div ${span}L"))
    val sums = b.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = sums.map { case (k, c) => val o = (k, acc); acc += c; o }
    val offDf = broadcast(offs.toSeq.toDF("bkt", "off"))
    val w = Window.partitionBy(col("bkt")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(offDf, Seq("bkt"))
      .withColumn(out, col("off") + count(lit(1)).over(w))
      .drop("bkt", "off")
  }

  /** Q205: Spearman rank correlation between classifier confidence and
    * document length — the length-bias audit of the q139 model (a
    * quality classifier that secretly ranks by length is a known failure
    * mode of trained data filters; cf. the length-prior critiques of
    * reward models). ρ = 1 − 6·Σd²/(n(n²−1)) over tie-broken permutation
    * ranks: rank_x by (n_chars, doc_id), rank_y by (conf_micro, doc_id).
    *
    * Exactness: both rankings are permutations (doc_id breaks every
    * tie), so Σd² is an exact BIGINT and ρ is one division of exact
    * integers (raw). Confidence is the micro-rounded sigmoid (the q188
    * discipline — raw p has a libm-exp ulp). Σd² ≤ n³/3 stays in BIGINT
    * to n ≈ 3·10⁶ rows; past that the audit runs per-stratum or on a
    * hash sample (the q63 idiom), like any exact-rank statistic.
    *
    * Scale shape: scoring is one linear scan; both rankings use the
    * bucketRank two-phase prefix (no single-partition sort); one equi
    * join on doc_id + one aggregate. Reuses the session weight cache —
    * the fifth consumer of one training. */
  def qSpearman(t: Tables, rounds: Int = 16, lr: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "n" -> LongType, "sum_d2" -> LongType,
            "rho" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val conf = feats.select(col("doc_id"),
            round(p * lit(1000000.0), 0).cast("long").as("cm"))
          val docs = t.documents.select(col("doc_id"),
            col("n_chars").cast("long").as("nc"))
          val mx = docs.agg(max(col("nc"))).head().getLong(0)
          val rx = bucketRank(docs, "nc", mx + 1,
            Seq(col("nc"), col("doc_id")), "rx").select("doc_id", "rx")
          val ry = bucketRank(conf, "cm", 1000001L,
            Seq(col("cm"), col("doc_id")), "ry").select("doc_id", "ry")
          val d2 = rx.join(ry, Seq("doc_id"))
            .select(((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
          val nd = col("n").cast("double")
          val den = nd * (nd * nd - lit(1.0))
          d2.agg(count(lit(1)).as("n"),
              coalesce(sum(col("d2")), lit(0L)).as("sum_d2"))
            .select(col("n"), col("sum_d2"),
              (lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
                when(den === 0.0, lit(null)).otherwise(den)).as("rho"))
      }
    }
  }

  /** q205 oracle: the shared weight chain + global ROW_NUMBERs (the
    * two-phase prefix is a Spark-side execution detail). */
  def qSpearmanSql(rounds: Int = 16, lr: Double = 8.0): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |conf AS (
       |  SELECT doc_id, CAST(round(($p) * 1000000.0::DOUBLE) AS BIGINT) AS cm
       |  FROM f, $wFinal w),
       |rx AS (SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rx
       |       FROM documents),
       |ry AS (SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY cm, doc_id) AS BIGINT) AS ry
       |       FROM conf),
       |j AS (SELECT rx.rx - ry.ry AS d FROM rx JOIN ry USING (doc_id))
       |SELECT COUNT(*)::BIGINT AS n,
       |  CAST(COALESCE(SUM(d * d), 0) AS BIGINT) AS sum_d2,
       |  1.0::DOUBLE - 6.0::DOUBLE * CAST(SUM(d * d) AS DOUBLE)
       |    / nullif(CAST(COUNT(*) AS DOUBLE)
       |             * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
       |                - 1.0::DOUBLE), 0.0) AS rho
       |FROM j""".stripMargin
  }

  /** Q206: precision–recall curve summary — average precision (the PR
    * analogue of q200's ROC-AUC; Manning et al. IR ch.8) plus the best-F1
    * operating point and its threshold. AUC says how well the model
    * orders; AP and best-F1 say how it behaves where the POSITIVE class
    * lives — the metric pair that matters when the filter keeps a small
    * fraction of the corpus.
    *
    * Conventions (exact, tie-safe): the sweep descends over DISTINCT
    * round(6) confidences, each tie group enters at once; precision_g =
    * cumPos/cumAll and F1_g = 2·cumPos/(cumAll+n_pos) are evaluated at
    * the group boundary; AP = Σ_g pos_g·precision_g / n_pos. Per-group
    * terms land on the micro grid and sum as BIGINT (order-independent);
    * the argmax operating point is max over the ENCODED integer
    * f1_micro·1000001 + conf_micro — one integer MAX with the (F1, then
    * higher threshold) tie-break built into the encoding, replayed
    * verbatim by DuckDB's // and %.
    *
    * Scale shape: q200's exact scaffold — one aggregate per distinct
    * score, the descending prefix via bucket offsets (≤100-row driver
    * fetch) + per-bucket windows, one final aggregate. */
  def qPrCurve(t: Tables, rounds: Int = 16, lr: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    import spark.implicits._
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "n_pos" -> LongType, "n_neg" -> LongType,
            "ap_micro" -> LongType, "ap" -> DoubleType,
            "best_f1_micro" -> LongType, "best_conf_micro" -> LongType,
            "best_f1" -> DoubleType, "best_thresh" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val groups = feats
            .select(round(p, 6).as("conf"), col("y"))
            .groupBy(col("conf"))
            .agg(count(lit(1)).as("cnt"), sum(col("y").cast("long")).as("pos_g"))
          val withB = groups.withColumn("bkt",
            least(floor(col("conf") * lit(100.0)), lit(99.0)).cast("int"))
          // DESCENDING offsets: Σ(cnt, pos) of all HIGHER buckets — the
          // q200 bounded fetch walked from the top
          val cnts = withB.groupBy(col("bkt"))
            .agg(sum(col("cnt")).as("c"), sum(col("pos_g")).as("p"))
            .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
            .sortBy(-_._1)
          var accC = 0L; var accP = 0L
          val offRows = cnts.map { case (b, c, pp) =>
            val o = (b, accC, accP); accC += c; accP += pp; o
          }
          val nPosTot = accP
          val offDf = broadcast(offRows.toSeq.toDF("bkt", "offc", "offp"))
          val wD = Window.partitionBy(col("bkt")).orderBy(col("conf").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val terms = withB.join(offDf, Seq("bkt"))
            .withColumn("cum_all", col("offc") + sum(col("cnt")).over(wD))
            .withColumn("cum_pos", col("offp") + sum(col("pos_g")).over(wD))
            .withColumn("conf_micro",
              round(col("conf") * lit(1000000.0), 0).cast("long"))
            .withColumn("ap_term", round(
              (col("pos_g") * col("cum_pos")).cast("double") /
                col("cum_all").cast("double") * lit(1000000.0), 0).cast("long"))
            .withColumn("f1_micro", round(
              (lit(2000000L) * col("cum_pos")).cast("double") /
                (col("cum_all") + lit(nPosTot)).cast("double"), 0).cast("long"))
          terms.agg(
              sum(col("pos_g")).as("n_pos"),
              sum(col("cnt") - col("pos_g")).as("n_neg"),
              sum(col("ap_term")).as("ap_micro"),
              max(col("f1_micro") * lit(1000001L) + col("conf_micro")).as("enc"))
            .select(col("n_pos"), col("n_neg"), col("ap_micro"),
              when(col("n_pos") > 0,
                col("ap_micro").cast("double") /
                  (col("n_pos").cast("double") * lit(1000000.0))).as("ap"),
              expr("enc div 1000001L").as("best_f1_micro"),
              expr("enc % 1000001L").as("best_conf_micro"))
            .withColumn("best_f1",
              col("best_f1_micro").cast("double") / lit(1000000.0))
            .withColumn("best_thresh",
              col("best_conf_micro").cast("double") / lit(1000000.0))
      }
    }
  }

  /** q206 oracle: the weight chain + plain descending windows; the argmax
    * decodes the same integer encoding with // and %. */
  def qPrCurveSql(rounds: Int = 16, lr: Double = 8.0): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |sc AS (SELECT round(($p), 6) AS conf, y FROM f, $wFinal w),
       |groups AS (
       |  SELECT conf, COUNT(*)::BIGINT AS cnt,
       |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos_g
       |  FROM sc GROUP BY conf),
       |tot AS (SELECT CAST(SUM(pos_g) AS BIGINT) AS np,
       |               CAST(SUM(cnt) AS BIGINT) AS nc FROM groups),
       |pre AS (
       |  SELECT conf, cnt, pos_g,
       |    CAST(SUM(cnt) OVER (ORDER BY conf DESC) AS BIGINT) AS cum_all,
       |    CAST(SUM(pos_g) OVER (ORDER BY conf DESC) AS BIGINT) AS cum_pos,
       |    CAST(round(conf * 1000000.0::DOUBLE) AS BIGINT) AS conf_micro
       |  FROM groups),
       |terms AS (
       |  SELECT *,
       |    CAST(round(CAST(pos_g * cum_pos AS DOUBLE) / CAST(cum_all AS DOUBLE)
       |               * 1000000.0::DOUBLE) AS BIGINT) AS ap_term,
       |    CAST(round(CAST(2000000 * cum_pos AS DOUBLE)
       |               / CAST(cum_all + (SELECT np FROM tot) AS DOUBLE)) AS BIGINT) AS f1_micro
       |  FROM pre)
       |SELECT
       |  CAST(SUM(pos_g) AS BIGINT) AS n_pos,
       |  CAST(SUM(cnt - pos_g) AS BIGINT) AS n_neg,
       |  CAST(SUM(ap_term) AS BIGINT) AS ap_micro,
       |  CASE WHEN SUM(pos_g) > 0 THEN
       |    CAST(SUM(ap_term) AS DOUBLE)
       |      / (CAST(SUM(pos_g) AS DOUBLE) * 1000000.0::DOUBLE) END AS ap,
       |  CAST(MAX(f1_micro * 1000001 + conf_micro) // 1000001 AS BIGINT) AS best_f1_micro,
       |  CAST(MAX(f1_micro * 1000001 + conf_micro) % 1000001 AS BIGINT) AS best_conf_micro,
       |  CAST(MAX(f1_micro * 1000001 + conf_micro) // 1000001 AS DOUBLE)
       |    / 1000000.0::DOUBLE AS best_f1,
       |  CAST(MAX(f1_micro * 1000001 + conf_micro) % 1000001 AS DOUBLE)
       |    / 1000000.0::DOUBLE AS best_thresh
       |FROM terms""".stripMargin
  }

  /** Q207: excess-loss domain reweighting — a one-step, deterministic
    * variant of DoReMi (Xie et al. 2023): sources whose documents are
    * HARDER than the corpus average under a reference LM get upweighted
    * exponentially, the classic group-DRO update. The reference loss is
    * the corpus unigram cross-entropy (the q110 model class, rebuilt
    * self-contained): per-token −ln(cnt/total) on the micro grid, so
    * every per-source and global mean is one division of exact BIGINTs.
    *
    * Exactness: per-token nll micros sum order-independently; source and
    * global means are single divisions of exact integers (identical
    * cross-engine); the excess is a difference of two such doubles (same
    * IEEE sequence); exp re-enters libm and lands back on the micro grid
    * (the r9 rule); the final weights are tok_i·wu_i / Σ tok_j·wu_j with
    * an exact BIGINT numerator and denominator. Numerator bound:
    * tok_i·wu_i ≲ tok_i·e^η·1e6 — BIGINT-safe to ~10¹² tokens per
    * source at η=1; beyond that, scale the micro grid down (1e3), same
    * contract.
    *
    * Scale shape: explode + one vocabulary aggregate + one term-keyed
    * shuffle join (q110's plan) + a per-source aggregate; the softmax
    * runs as windows over the bounded |sources| table. */
  def qDoremiWeights(t: Tables, eta: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("source"), col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    val uf = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val tot = Window.partitionBy()
    val ufTot = uf.withColumn("tot", sum(col("cnt")).over(tot))
    val perTok = toks.join(ufTot, Seq("term"))
      .select(col("source"), col("doc_id"),
        round(-log(col("cnt").cast("double") / col("tot").cast("double")) *
          lit(1000000.0), 0).cast("long").as("nll_micro"))
    // two-level aggregate: doc level first (map-side combinable), so the
    // source rollup needs no countDistinct expand over the token stream
    val perDoc = perTok.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("nt"), sum(col("nll_micro")).as("ns"))
    val src = perDoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("n_tokens"),
      sum(col("ns")).as("nll_sum"))
    val all = Window.partitionBy()
    src
      .withColumn("g_nll_sum", sum(col("nll_sum")).over(all))
      .withColumn("g_tokens", sum(col("n_tokens")).over(all))
      .withColumn("nll",
        col("nll_sum").cast("double") / col("n_tokens").cast("double") / lit(1000000.0))
      .withColumn("g_nll",
        col("g_nll_sum").cast("double") / col("g_tokens").cast("double") / lit(1000000.0))
      .withColumn("excess", col("nll") - col("g_nll"))
      .withColumn("wu_micro",
        round(exp(lit(eta) * col("excess")) * lit(1000000.0), 0).cast("long"))
      .withColumn("num", col("n_tokens") * col("wu_micro"))
      .withColumn("weight",
        col("num").cast("double") / sum(col("num")).over(all).cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("nll"),
        col("excess"), col("wu_micro"), col("weight"))
      .orderBy(col("source"))
  }

  /** q207 oracle: same unigram reference, micro sums, and softmax windows. */
  def qDoremiWeightsSql(eta: Double = 1.0): String =
    s"""WITH toks AS (
      |  SELECT source, doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term
      |  FROM documents),
      |uf AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY term),
      |uft AS (SELECT term, cnt, CAST(SUM(cnt) OVER () AS BIGINT) AS tot FROM uf),
      |pt AS (
      |  SELECT t.source, t.doc_id,
      |    CAST(round(-ln(CAST(u.cnt AS DOUBLE) / CAST(u.tot AS DOUBLE))
      |               * 1000000.0::DOUBLE) AS BIGINT) AS nll_micro
      |  FROM toks t JOIN uft u USING (term)),
      |pd AS (
      |  SELECT source, doc_id, COUNT(*)::BIGINT AS nt,
      |    CAST(SUM(nll_micro) AS BIGINT) AS ns
      |  FROM pt GROUP BY source, doc_id),
      |src AS (
      |  SELECT source, COUNT(*)::BIGINT AS n_docs,
      |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |    CAST(SUM(ns) AS BIGINT) AS nll_sum
      |  FROM pd GROUP BY source),
      |m AS (
      |  SELECT *,
      |    CAST(SUM(nll_sum) OVER () AS BIGINT) AS g_nll_sum,
      |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS g_tokens
      |  FROM src),
      |e AS (
      |  SELECT *,
      |    CAST(nll_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0::DOUBLE AS nll,
      |    (CAST(nll_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0::DOUBLE)
      |      - (CAST(g_nll_sum AS DOUBLE) / CAST(g_tokens AS DOUBLE) / 1000000.0::DOUBLE) AS excess
      |  FROM m),
      |wu AS (
      |  SELECT *, CAST(round(exp($eta::DOUBLE * excess) * 1000000.0::DOUBLE) AS BIGINT) AS wu_micro
      |  FROM e)
      |SELECT source, n_docs, n_tokens, nll, excess, wu_micro,
      |  CAST(n_tokens * wu_micro AS DOUBLE)
      |    / CAST(SUM(n_tokens * wu_micro) OVER () AS DOUBLE) AS weight
      |FROM wu ORDER BY source""".stripMargin

  /** Q208: temperature-based mixture allocation — the sampling-share
    * schedule p_i ∝ w_i^(1/τ) used to flatten a skewed source mix
    * (multilingual/multidomain training; cf. the T=2…5 schedules in
    * XLM-R, Conneau et al. 2020), materialized as an exact integer
    * allocation of `budget` samples by largest-remainder apportionment
    * (Hamilton's method — deterministic, total = budget by construction).
    *
    * Exactness: τ=2 means w^(1/τ) = √w, and IEEE sqrt is correctly
    * rounded — but the SHARES would still divide by an aggregation-
    * order-dependent float sum, so the share mass goes to an exact milli
    * grid first (round(√w·1e3) BIGINT). From there everything is integer
    * arithmetic: base_i = (B·s_i) div S, remainder ranks break ties by
    * (rem desc, source asc), Σ alloc ≡ B. The only doubles emitted are
    * one-division shares.
    *
    * Scale shape: one per-source aggregate; apportionment runs on the
    * bounded |sources| table (windows over ≤|sources| rows). */
  def qTemperatureAlloc(t: Tables, budget: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mass = t.fanout(t.documents)
      .groupBy(col("source"))
      .agg(sum(size(text.tokenize(col("text"))).cast("long")).as("w"))
      .withColumn("sm", round(sqrt(col("w").cast("double")) * lit(1000.0), 0).cast("long"))
    val all = Window.partitionBy()
    val ranked = mass
      .withColumn("s_tot", sum(col("sm")).over(all))
      // all-empty corpus => s_tot = 0: nullif the integer denominators
      // (ANSI div-by-zero; the q170 degenerate-denominator rule)
      .withColumn("base", expr(s"(${budget}L * sm) div nullif(s_tot, 0L)"))
      .withColumn("rem", expr(s"(${budget}L * sm) % nullif(s_tot, 0L)"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
    ranked
      .withColumn("extra", when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .withColumn("alloc", col("base") + col("extra"))
      .withColumn("share",
        col("sm").cast("double") / nullif(col("s_tot").cast("double"), lit(0.0)))
      .select(col("source"), col("w").as("n_tokens"), col("sm"), col("share"),
        col("base"), col("rem"), col("extra"), col("alloc"))
      .orderBy(col("source"))
  }

  /** q208 oracle: identical integer apportionment; the remainder rank is
    * the same total order on (rem desc, source). */
  def qTemperatureAllocSql(budget: Long = 100000L): String =
    s"""WITH mass AS (
      |  SELECT source,
      |    CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                 x -> len(x) > 0))) AS BIGINT) AS w
      |  FROM documents GROUP BY source),
      |sm AS (
      |  SELECT source, w,
      |    CAST(round(sqrt(CAST(w AS DOUBLE)) * 1000.0::DOUBLE) AS BIGINT) AS sm
      |  FROM mass),
      |r AS (
      |  SELECT *,
      |    CAST(SUM(sm) OVER () AS BIGINT) AS s_tot,
      |    ($budget * sm) // nullif(CAST(SUM(sm) OVER () AS BIGINT), 0) AS base,
      |    ($budget * sm) % nullif(CAST(SUM(sm) OVER () AS BIGINT), 0) AS rem
      |  FROM sm),
      |k AS (
      |  SELECT *,
      |    $budget - CAST(SUM(base) OVER () AS BIGINT) AS leftover,
      |    CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
      |  FROM r)
      |SELECT source, w AS n_tokens, sm,
      |  CAST(sm AS DOUBLE) / nullif(CAST(s_tot AS DOUBLE), 0.0::DOUBLE) AS share,
      |  base, rem,
      |  CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
      |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM k ORDER BY source""".stripMargin

  /** Q209: weighted reservoir sampling (A-Res, Efraimidis & Spirakis
    * 2006) — weighted sampling WITHOUT replacement as one distributed
    * top-k: key_i = ln(u_i)/w_i with u_i uniform, keep the k largest.
    * The training-data use is proportional-to-length subsampling that a
    * resample pass (q122) or mixture builder draws repeatedly; unlike
    * q100's with-replacement sampler this one never duplicates a doc.
    *
    * Determinism: u_i derives from md5(doc_id) — the q125 hex-replay
    * contract (Spark conv(hex,16,10) ≡ DuckDB CAST('0x…' AS BIGINT)) —
    * 13 hex digits = 52 uniform bits, guarded ≥1 so ln never sees 0.
    * The key goes to an exact pico grid (round(ln(u)/w·1e12) BIGINT —
    * ln is libm, so the r9 rule applies) and the (key desc, doc_id)
    * order is total.
    *
    * Scale shape: per-row hash + one TakeOrderedAndProject — per-
    * partition heaps of k rows, no global sort, no shuffle beyond the
    * final k-row gather. */
  def qWeightedReservoir(t: Tables, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = t.fanout(t.documents).select(
      col("doc_id"),
      greatest(col("n_chars").cast("long"), lit(1L)).as("w"),
      greatest(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint)"),
        lit(1L)).as("hv"))
      .withColumn("key_pico", round(
        log(col("hv").cast("double") / lit(4503599627370496.0)) /
          col("w").cast("double") * lit(1.0e12), 0).cast("long"))
    val picked = keyed
      .orderBy(col("key_pico").desc, col("doc_id")).limit(k)
    picked.withColumn("rank", row_number().over(
        Window.orderBy(col("key_pico").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("w"), col("key_pico"))
      .orderBy(col("rank"))
  }

  /** q209 oracle: the same md5-hex uniform and pico-grid key. */
  def qWeightedReservoirSql(k: Int = 50): String =
    s"""WITH h AS (
      |  SELECT doc_id, greatest(n_chars, 1)::BIGINT AS w,
      |    greatest(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT), 1) AS hv
      |  FROM documents),
      |keyed AS (
      |  SELECT doc_id, w,
      |    CAST(round(ln(CAST(hv AS DOUBLE) / 4503599627370496.0::DOUBLE)
      |               / CAST(w AS DOUBLE) * 1000000000000.0::DOUBLE) AS BIGINT) AS key_pico
      |  FROM h)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key_pico DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, w, key_pico
      |FROM (SELECT * FROM keyed ORDER BY key_pico DESC, doc_id LIMIT $k)
      |ORDER BY rank""".stripMargin

  /** Q210: per-source two-sample Kolmogorov–Smirnov test on the quality
    * distribution — does source s draw its quality scores from the same
    * distribution as the REST of the corpus? The drift-audit complement
    * of q108 (PSI over fixed deciles): KS needs no binning choice and
    * its statistic here is FULLY integer-exact, the q200 trick applied
    * to CDFs: at every observed score point, D's numerator is
    * |cum_s·n_r − cum_r·n_s| (BIGINT), and the max + argmax ride one
    * integer MAX over the q206 encoding. The only doubles are the final
    * D division and the Smirnov critical value c(α)·√((n_s+n_r)/
    * (n_s·n_r)) — identical IEEE sequences from exact integers on both
    * engines, so even the reject flag is hash-safe.
    *
    * Scale shape: one (source, qm) count aggregate; the evaluation grid
    * is |sources| × |distinct qm| built by EXPLODING the bounded
    * source list over the distinct-score table (no BroadcastNestedLoop
    * cross join — the q114 invariant); CDFs are windows partitioned by
    * source. Distinct qm is grid-bounded (≤1e6+1). The argmax encoding
    * d_num·1000001+qm needs n_s·n_r ≲ 9·10¹²; past that (≈3M docs per
    * side) split max and argmax into two aggregates — same contract. */
  def qKsQuality(t: Tables, cAlpha: Double = 1.358): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityScoreShared(t).select(col("doc_id"),
      round(col("quality_score") * lit(1000000.0), 0).cast("long").as("qm"))
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
    // barrier: cells is referenced three times (source fetch, grid, dense
    // join) and each re-ran the q27 scoring scan (r13 opt). ≤|sources|·
    // |distinct qm| rows.
    val cells = q.groupBy(col("source"), col("qm")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // bounded source list (the k-means-centroid fetch contract)
    val sources = cells.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val grid = cells.groupBy(col("qm")).agg(sum(col("c")).as("c_all"))
      .withColumn("source", explode(typedLit(sources.toSeq)))
    val dense = grid.join(cells, Seq("source", "qm"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("qm"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    val cum = dense
      .withColumn("cum_s", sum(col("c")).over(wSrc))
      .withColumn("cum_all", sum(col("c_all")).over(wSrc))
      .withColumn("n_s", sum(col("c")).over(wAll))
      .withColumn("n_all", sum(col("c_all")).over(wAll))
      .withColumn("cum_r", col("cum_all") - col("cum_s"))
      .withColumn("n_r", col("n_all") - col("n_s"))
      .withColumn("d_num", abs(col("cum_s") * col("n_r") - col("cum_r") * col("n_s")))
    val enc = cum.groupBy(col("source")).agg(
      max(col("n_s")).as("n_s"), max(col("n_r")).as("n_r"),
      max(col("d_num") * lit(1000001L) + col("qm")).as("enc"))
    val nsd = col("n_s").cast("double"); val nrd = col("n_r").cast("double")
    // single-source corpus => n_r = 0; ANSI throws on double div-by-zero
    // (the q170 degenerate-denominator rule), so nullif the product.
    val den = nullif(nsd * nrd, lit(0.0))
    enc
      .withColumn("d_num", expr("enc div 1000001L"))
      .withColumn("at_qm", expr("enc % 1000001L"))
      .withColumn("d", col("d_num").cast("double") / den)
      .withColumn("crit", lit(cAlpha) * sqrt((nsd + nrd) / den))
      .withColumn("reject", col("d") > col("crit"))
      .select(col("source"), col("n_s"), col("n_r"), col("d_num"),
        col("at_qm"), col("d"), col("crit"), col("reject"))
      .orderBy(col("source"))
  }

  /** q210 oracle: the q27 chain + the same windows and integer encoding;
    * the grid is a plain source×distinct-qm cross join (fine in DuckDB). */
  def qKsQualitySql(cAlpha: Double = 1.358): String =
    s"""WITH $qualityScoreCtes,
      |qq AS (
      |  SELECT d.source,
      |    CAST(round(s.quality_score * 1000000.0::DOUBLE) AS BIGINT) AS qm
      |  FROM scored s JOIN documents d USING (doc_id)),
      |cells AS (SELECT source, qm, COUNT(*)::BIGINT AS c FROM qq GROUP BY source, qm),
      |grid AS (
      |  SELECT s.source, v.qm, v.c_all FROM
      |    (SELECT DISTINCT source FROM cells) s,
      |    (SELECT qm, CAST(SUM(c) AS BIGINT) AS c_all FROM cells GROUP BY qm) v),
      |dense AS (
      |  SELECT g.source, g.qm, g.c_all, COALESCE(cells.c, 0)::BIGINT AS c
      |  FROM grid g LEFT JOIN cells ON g.source = cells.source AND g.qm = cells.qm),
      |cum AS (
      |  SELECT *,
      |    CAST(SUM(c) OVER w AS BIGINT) AS cum_s,
      |    CAST(SUM(c_all) OVER w AS BIGINT) AS cum_all,
      |    CAST(SUM(c) OVER ws AS BIGINT) AS n_s,
      |    CAST(SUM(c_all) OVER ws AS BIGINT) AS n_all
      |  FROM dense
      |  WINDOW w AS (PARTITION BY source ORDER BY qm
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         ws AS (PARTITION BY source)),
      |d AS (
      |  SELECT source, n_s, n_all - n_s AS n_r,
      |    abs(cum_s * (n_all - n_s) - (cum_all - cum_s) * n_s) AS d_num, qm
      |  FROM cum),
      |e AS (
      |  SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_s,
      |    CAST(MAX(n_r) AS BIGINT) AS n_r,
      |    CAST(MAX(d_num * 1000001 + qm) AS BIGINT) AS enc
      |  FROM d GROUP BY source)
      |SELECT source, n_s, n_r,
      |  CAST(enc // 1000001 AS BIGINT) AS d_num,
      |  CAST(enc % 1000001 AS BIGINT) AS at_qm,
      |  CAST(enc // 1000001 AS DOUBLE)
      |    / nullif(CAST(n_s AS DOUBLE) * CAST(n_r AS DOUBLE), 0.0::DOUBLE) AS d,
      |  $cAlpha::DOUBLE * sqrt((CAST(n_s AS DOUBLE) + CAST(n_r AS DOUBLE))
      |    / nullif(CAST(n_s AS DOUBLE) * CAST(n_r AS DOUBLE), 0.0::DOUBLE)) AS crit,
      |  CAST(enc // 1000001 AS DOUBLE)
      |    / nullif(CAST(n_s AS DOUBLE) * CAST(n_r AS DOUBLE), 0.0::DOUBLE)
      |    > $cAlpha::DOUBLE * sqrt((CAST(n_s AS DOUBLE) + CAST(n_r AS DOUBLE))
      |      / nullif(CAST(n_s AS DOUBLE) * CAST(n_r AS DOUBLE), 0.0::DOUBLE)) AS reject
      |FROM e ORDER BY source""".stripMargin

  /** Q211: domain cross-entropy matrix H(i,j) — source i's token stream
    * scored under source j's add-1-smoothed unigram LM: the pairwise
    * domain-affinity structure data-selection reads (pick pretraining
    * domains whose LM transfers to the target — the Moore–Lewis /
    * data-selection tradition, and the similarity input to q207's
    * reweighting). Diagonal ≈ each domain's own entropy; asymmetry is
    * the transfer direction.
    *
    * Exactness: H(i,j)·N_i splits into the OBSERVED part (sparse
    * tf_i ⋈ c_j join on term, each term round(tf_i·nll_j·1e6) BIGINT)
    * plus the exact unseen-mass correction (N_i − Σ_{t∈V_j} tf_i(t)) ·
    * round(ln(N_j+V)·1e6) — all BIGINT, order-independent; H is one
    * division. The correction product needs N_i·ln_micro ≲ 9·10¹⁸
    * (N_i ≲ 6·10¹¹ tokens/source); past that drop the grid to 1e3.
    *
    * Scale shape: one (source, term) aggregate; the pair matrix comes
    * from a term-keyed sparse join (Σ_t |sources ∋ t|² rows — vocab-
    * sparse, never |S|²·|V| dense) into a map-side-combinable (i,j)
    * aggregate; the correction is a broadcast-sized |S|-row join. */
  def qDomainXent(t: Tables): DataFrame = {
    // r14: tf (feeds the vocab count, per-source masses AND both sides
    // of the model/data join) rides the shared session (source, term)
    // counts — identical exact integers
    val tf = sourceTermCountsShared(t)
    // V = global distinct terms; N_j = per-source token mass (bounded |S| rows)
    val vCount = tf.select(col("term")).distinct().count()
    val nj = tf.groupBy(col("source")).agg(sum(col("c")).as("n"))
      .withColumn("ln_micro",
        round(log((col("n") + lit(vCount)).cast("double")) * lit(1000000.0), 0)
          .cast("long"))
    val modelSide = tf.join(nj, Seq("source"))
      .select(col("term"), col("source").as("src_j"),
        round(-log((col("c") + 1).cast("double") /
          (col("n") + lit(vCount)).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("nll_micro"))
    val dataSide = tf.select(col("term"), col("source").as("src_i"), col("c").as("tf_i"))
    val observed = dataSide.join(modelSide, Seq("term"))
      .groupBy(col("src_i"), col("src_j"))
      .agg(sum(col("tf_i") * col("nll_micro")).as("obs_micro"),
        sum(col("tf_i")).as("shared_mass"))
    val ni = nj.select(col("source").as("src_i"), col("n").as("n_i"))
    val njb = nj.select(col("source").as("src_j"),
      col("n").as("n_j"), col("ln_micro"))
    observed
      .join(broadcast(ni), Seq("src_i"))
      .join(broadcast(njb), Seq("src_j"))
      .withColumn("h_micro", col("obs_micro") +
        (col("n_i") - col("shared_mass")) * col("ln_micro"))
      .withColumn("xent",
        col("h_micro").cast("double") / (col("n_i").cast("double") * lit(1000000.0)))
      .select(col("src_i"), col("src_j"), col("n_i"), col("shared_mass"),
        col("h_micro"), col("xent"))
      .orderBy(col("src_i"), col("src_j"))
  }

  /** q211 oracle: identical split (observed sparse join + exact unseen-
    * mass correction), same micro grids. */
  val qDomainXentSql: String =
    """WITH toks AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT source, term, COUNT(*)::BIGINT AS c FROM toks GROUP BY source, term),
      |v AS (SELECT COUNT(DISTINCT term)::BIGINT AS v FROM tf),
      |nj AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(round(ln(CAST(SUM(c) + (SELECT v FROM v) AS DOUBLE))
      |               * 1000000.0::DOUBLE) AS BIGINT) AS ln_micro
      |  FROM tf GROUP BY source),
      |model AS (
      |  SELECT tf.term, tf.source AS src_j,
      |    CAST(round(-ln(CAST(tf.c + 1 AS DOUBLE)
      |                   / CAST(nj.n + (SELECT v FROM v) AS DOUBLE))
      |               * 1000000.0::DOUBLE) AS BIGINT) AS nll_micro
      |  FROM tf JOIN nj USING (source)),
      |observed AS (
      |  SELECT d.source AS src_i, m.src_j,
      |    CAST(SUM(d.c * m.nll_micro) AS BIGINT) AS obs_micro,
      |    CAST(SUM(d.c) AS BIGINT) AS shared_mass
      |  FROM tf d JOIN model m ON d.term = m.term
      |  GROUP BY d.source, m.src_j)
      |SELECT o.src_i, o.src_j, ni.n AS n_i, o.shared_mass,
      |  CAST(o.obs_micro + (ni.n - o.shared_mass) * njx.ln_micro AS BIGINT) AS h_micro,
      |  CAST(o.obs_micro + (ni.n - o.shared_mass) * njx.ln_micro AS DOUBLE)
      |    / (CAST(ni.n AS DOUBLE) * 1000000.0::DOUBLE) AS xent
      |FROM observed o
      |JOIN nj ni ON ni.source = o.src_i
      |JOIN nj njx ON njx.source = o.src_j
      |ORDER BY o.src_i, o.src_j""".stripMargin

  /** Q212: UMass topic coherence (Mimno et al. EMNLP 2011) of each
    * source's top-k terms — the intrinsic quality score for topic/
    * cluster word lists: C = Σ_{i>j} ln((D(w_i,w_j)+1)/D(w_j)) over the
    * rank-ordered top words, where D counts documents (co-)containing
    * the words. High coherence = the top words actually co-occur; the
    * standard sanity gate on q44/q129-style topic outputs, here applied
    * to the per-source unigram profile.
    *
    * Exactness: term ranks break ties by (count desc, term); all D's
    * are exact document counts; each pair term is round(ln·1e6) BIGINT
    * and the sum is order-independent. C is emitted as the micro sum
    * plus one division.
    *
    * Scale shape: one (source, term) count aggregate + a per-source
    * top-k window (partitioned, k rows out); doc-frequency and co-
    * occurrence counts run only over terms IN the top-word set (an
    * equi semi join prunes the exploded stream before the doc-keyed
    * self-join); the coherence sum is |S|·k(k−1)/2 bounded rows. */
  def qTopicCoherence(t: Tables, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("source"), col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    // barriers: `top` is referenced four times (w, both pair sides, words)
    // and `docTerm` three times (df, both cooc sides) — each reference
    // re-evaluated the tokenize scan, 9 corpus scans total (r13 opt). The
    // checkpointed frames are |sources|·k and ≤|docs|·|top words| rows.
    // r14: the (source, term) counts ride the shared session table.
    val top = sourceTermCountsShared(t)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("c").desc, col("term"))))
      .filter(col("rk") <= k)
      .localCheckpoint()
    val w = top.select(col("term")).distinct()
    val docTerm = toks.select(col("doc_id"), col("term")).distinct()
      .join(broadcast(w), Seq("term"))
      .localCheckpoint()
    val df = docTerm.groupBy(col("term")).agg(count(lit(1)).as("d"))
    // unordered co-occurrence counts within the top-word set
    val cooc = docTerm.select(col("doc_id"), col("term").as("t1"))
      .join(docTerm.select(col("doc_id"), col("term").as("t2")), Seq("doc_id"))
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("d12"))
    val pairs = top.select(col("source"), col("term").as("wi"), col("rk").as("ri"))
      .join(top.select(col("source"), col("term").as("wj"), col("rk").as("rj")),
        Seq("source"))
      .filter(col("ri") > col("rj")) // wj is the higher-ranked word
      .withColumn("t1", least(col("wi"), col("wj")))
      .withColumn("t2", greatest(col("wi"), col("wj")))
      .join(cooc, Seq("t1", "t2"), "left")
      .withColumn("d12", coalesce(col("d12"), lit(0L)))
      .join(broadcast(df.select(col("term").as("wj"), col("d").as("dj"))), Seq("wj"))
      .withColumn("term_micro", round(
        log((col("d12") + 1).cast("double") / col("dj").cast("double")) *
          lit(1000000.0), 0).cast("long"))
    val words = top.groupBy(col("source")).agg(
      array_join(expr("transform(sort_array(collect_list(struct(rk, term))), x -> x.term)"),
        " ").as("top_words"))
    pairs.groupBy(col("source")).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("term_micro")).as("coherence_micro"))
      .join(words, Seq("source"))
      .withColumn("coherence",
        col("coherence_micro").cast("double") / lit(1000000.0))
      .select(col("source"), col("top_words"), col("n_pairs"),
        col("coherence_micro"), col("coherence"))
      .orderBy(col("source"))
  }

  /** q212 oracle: same top-k ranks, D counts, and micro log terms. */
  def qTopicCoherenceSql(k: Int = 5): String =
    s"""WITH toks AS (
      |  SELECT source, doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term
      |  FROM documents),
      |top AS (
      |  SELECT * FROM (
      |    SELECT source, term, COUNT(*)::BIGINT AS c,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY COUNT(*) DESC, term) AS rk
      |    FROM toks GROUP BY source, term)
      |  WHERE rk <= $k),
      |w AS (SELECT DISTINCT term FROM top),
      |dt AS (
      |  SELECT DISTINCT t.doc_id, t.term FROM toks t JOIN w USING (term)),
      |dfq AS (SELECT term, COUNT(*)::BIGINT AS d FROM dt GROUP BY term),
      |cooc AS (
      |  SELECT a.term AS t1, b.term AS t2, COUNT(*)::BIGINT AS d12
      |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      |  GROUP BY a.term, b.term),
      |pairs AS (
      |  SELECT i.source, i.term AS wi, i.rk AS ri, j.term AS wj, j.rk AS rj,
      |    least(i.term, j.term) AS t1, greatest(i.term, j.term) AS t2
      |  FROM top i JOIN top j ON i.source = j.source AND i.rk > j.rk),
      |terms AS (
      |  SELECT p.source,
      |    CAST(round(ln(CAST(COALESCE(c.d12, 0) + 1 AS DOUBLE)
      |                  / CAST(dfq.d AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS tm
      |  FROM pairs p
      |  LEFT JOIN cooc c ON p.t1 = c.t1 AND p.t2 = c.t2
      |  JOIN dfq ON dfq.term = p.wj),
      |words AS (
      |  SELECT source, string_agg(term, ' ' ORDER BY rk) AS top_words
      |  FROM top GROUP BY source)
      |SELECT t.source, words.top_words,
      |  COUNT(*)::BIGINT AS n_pairs,
      |  CAST(SUM(t.tm) AS BIGINT) AS coherence_micro,
      |  CAST(SUM(t.tm) AS DOUBLE) / 1000000.0::DOUBLE AS coherence
      |FROM terms t JOIN words ON words.source = t.source
      |GROUP BY t.source, words.top_words
      |ORDER BY t.source""".stripMargin

  /** Q214: cross-validation fold stability of the quality classifier —
    * deterministic hash folds (the q209 md5-hex replay contract), the
    * CACHED q139 weights scored per fold, and the fold-accuracy spread
    * that says whether the single-number accuracy is trustworthy. (The
    * honest caveat is in the scaladoc on purpose: the shared weights
    * are trained on the full corpus, so this measures score stability
    * across disjoint subsamples, not out-of-fold generalization — the
    * k-fold retrain variant is k× the q139 cost and the same plan.)
    *
    * Exactness: fold = md5-uniform mod k; per-fold counts exact; acc is
    * one division (raw) and its micro form round(1e6·correct/n) feeds
    * exact BIGINT mean/spread across the k-row fold table.
    *
    * Scale shape: one scan to score + one fold aggregate; the summary
    * is a window over k rows. */
  def qCvFolds(t: Tables, folds: Int = 5, rounds: Int = 16,
      lr: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "fold" -> LongType, "n" -> LongType,
            "n_pos" -> LongType, "correct" -> LongType, "acc" -> DoubleType,
            "acc_micro" -> LongType, "mean_acc" -> DoubleType,
            "spread_micro" -> LongType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val scored = feats.select(col("y"),
            expr(("cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) " +
              s"as bigint) % ${folds}L")).as("fold"),
            when((round(p, 6) > 0.5).cast("int") === col("y").cast("int"), 1L)
              .otherwise(0L).as("ok"))
          val perFold = scored.groupBy(col("fold")).agg(
            count(lit(1)).as("n"),
            sum(col("y").cast("long")).as("n_pos"),
            sum(col("ok")).as("correct"))
          val all = Window.partitionBy()
          perFold
            .withColumn("acc",
              col("correct").cast("double") / col("n").cast("double"))
            .withColumn("acc_micro", round(
              lit(1000000.0) * col("correct").cast("double") /
                col("n").cast("double"), 0).cast("long"))
            .withColumn("mean_acc",
              sum(col("acc_micro")).over(all).cast("double") /
                (count(lit(1)).over(all).cast("double") * lit(1000000.0)))
            .withColumn("spread_micro",
              max(col("acc_micro")).over(all) - min(col("acc_micro")).over(all))
            .select(col("fold"), col("n"), col("n_pos"), col("correct"),
              col("acc"), col("acc_micro"), col("mean_acc"), col("spread_micro"))
            .orderBy(col("fold"))
      }
    }
  }

  /** q214 oracle: the weight chain + the same md5 folds and k-row
    * summary windows. */
  def qCvFoldsSql(folds: Int = 5, rounds: Int = 16, lr: Double = 8.0): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |sc AS (
       |  SELECT y,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
       |      % $folds AS fold,
       |    CASE WHEN (round($p, 6) > 0.5::DOUBLE) = (y = 1.0::DOUBLE)
       |         THEN 1 ELSE 0 END AS ok
       |  FROM f, $wFinal w),
       |pf AS (
       |  SELECT fold, COUNT(*)::BIGINT AS n,
       |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       |    CAST(SUM(ok) AS BIGINT) AS correct
       |  FROM sc GROUP BY fold),
       |am AS (
       |  SELECT *,
       |    CAST(correct AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
       |    CAST(round(1000000.0::DOUBLE * CAST(correct AS DOUBLE)
       |               / CAST(n AS DOUBLE)) AS BIGINT) AS acc_micro
       |  FROM pf)
       |SELECT fold, n, n_pos, correct, acc, acc_micro,
       |  CAST(SUM(acc_micro) OVER () AS DOUBLE)
       |    / (CAST(COUNT(*) OVER () AS DOUBLE) * 1000000.0::DOUBLE) AS mean_acc,
       |  CAST(MAX(acc_micro) OVER () - MIN(acc_micro) OVER () AS BIGINT) AS spread_micro
       |FROM am ORDER BY fold""".stripMargin
  }

  /** Q216: unseen-vocabulary estimation — Chao1 species richness
    * (Chao 1984) and the Good–Turing unseen-mass estimate P₀ = V₁/N
    * (Good 1953): from the frequency-of-frequencies profile alone, how
    * much vocabulary has the corpus NOT seen yet? The planning
    * complement of q203's Heaps fit (Heaps extrapolates the curve;
    * Chao1 bounds its asymptote) and the smoothing mass behind q110-
    * style LMs.
    *
    * Exactness: the whole statistic chain is counts-of-counts — V, V₁,
    * V₂, N are exact BIGINTs; Chao1 = V + V₁(V₁−1)/(2(V₂+1)) (the
    * bias-corrected form, defined for V₂=0) and P₀ = V₁/N are single
    * divisions of exact integers, emitted raw.
    *
    * Scale shape: two map-side-combinable aggregates (term counts →
    * frequency-of-frequencies) + a 1-row reduce. */
  def qUnseenVocab(t: Tables): DataFrame = {
    val tf = t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    tf.agg(
        count(lit(1)).as("v"),
        sum(col("c")).as("n"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("v2"))
      .withColumn("chao1",
        col("v").cast("double") +
          (col("v1") * (col("v1") - 1)).cast("double") /
            (lit(2L) * (col("v2") + 1)).cast("double"))
      .withColumn("p_unseen",
        col("v1").cast("double") / col("n").cast("double"))
      .select(col("v"), col("n"), col("v1"), col("v2"),
        col("chao1"), col("p_unseen"))
  }

  /** q216 oracle: identical counts-of-counts and divisions. */
  val qUnseenVocabSql: String =
    """WITH tf AS (
      |  SELECT term, COUNT(*)::BIGINT AS c FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term
      |    FROM documents)
      |  GROUP BY term),
      |s AS (
      |  SELECT COUNT(*)::BIGINT AS v, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
      |  FROM tf)
      |SELECT v, n, v1, v2,
      |  CAST(v AS DOUBLE) + CAST(v1 * (v1 - 1) AS DOUBLE)
      |    / CAST(2 * (v2 + 1) AS DOUBLE) AS chao1,
      |  CAST(v1 AS DOUBLE) / CAST(n AS DOUBLE) AS p_unseen
      |FROM s""".stripMargin

  /** Q217: bigram conditional entropy rate H(w₂|w₁) — how predictable
    * is the corpus token stream? H(w₂|w₁) = H(w₁,w₂) − H(w₁) over
    * within-doc adjacent pairs; low conditional entropy = templated/
    * boilerplate text (the information-theoretic face of q78's
    * repetition heuristics, and the quantity a compression-based
    * quality filter approximates). Also emits the unigram entropy and
    * the predictability ratio 1 − H(w₂|w₁)/H(w₁).
    *
    * Exactness: both entropies are Σ over count groups of
    * round(c·ln(N/c)·1e6/N... kept as per-group micro terms
    * round((c/N)·ln(N/c)·1e6) summed as BIGINT (order-independent,
    * the q204 discipline); the ratio is one division of the two micro
    * sums.
    *
    * Scale shape: token/bigram count aggregates (map-side combinable);
    * entropy sums are one more aggregate over the count tables. */
  def qEntropyRate(t: Tables): DataFrame = {
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(expr(
        """CASE WHEN size(toks) < 2 THEN cast(array() as array<string>)
          |ELSE transform(sequence(0, size(toks) - 2),
          |               i -> concat(toks[i], ' ', toks[i + 1])) END""".stripMargin))
        .as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    // ONE plan for both entropies (the q114 rule: never join 1-row
    // aggregates on a constant key — BroadcastNestedLoopJoin class):
    // tag-union the two count tables, per-tag windows + one aggregate,
    // then fold the 2-row result into 1 row with conditional MAXes.
    import org.apache.spark.sql.expressions.Window
    val tagged = uni.select(lit("u").as("tag"), col("c"))
      .unionByName(bi.select(lit("b").as("tag"), col("c")))
    val wTag = Window.partitionBy(col("tag"))
    val perTag = tagged
      .withColumn("n", sum(col("c")).over(wTag))
      .withColumn("tm", round(
        (col("c").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") / col("c").cast("double")) *
          lit(1000000.0), 0).cast("long"))
      .groupBy(col("tag")).agg(max(col("n")).as("n"),
        count(lit(1)).as("types"), sum(col("tm")).as("h_micro"))
    val joined = perTag.agg(
      max(when(col("tag") === "u", col("n"))).as("n_tokens"),
      max(when(col("tag") === "u", col("types"))).as("v_uni"),
      max(when(col("tag") === "b", col("n"))).as("n_bigrams"),
      max(when(col("tag") === "b", col("types"))).as("v_bi"),
      max(when(col("tag") === "u", col("h_micro"))).as("h_uni_micro"),
      max(when(col("tag") === "b", col("h_micro"))).as("h_bi_micro"))
    joined
      .withColumn("h_cond_micro", col("h_bi_micro") - col("h_uni_micro"))
      .withColumn("h_uni", col("h_uni_micro").cast("double") / lit(1000000.0))
      .withColumn("h_cond", col("h_cond_micro").cast("double") / lit(1000000.0))
      .withColumn("predictability",
        lit(1.0) - col("h_cond_micro").cast("double") /
          when(col("h_uni_micro") === 0L, lit(null))
            .otherwise(col("h_uni_micro").cast("double")))
      .select(col("n_tokens"), col("v_uni"), col("n_bigrams"), col("v_bi"),
        col("h_uni_micro"), col("h_bi_micro"), col("h_cond_micro"),
        col("h_uni"), col("h_cond"), col("predictability"))
  }

  /** q217 oracle: same count tables and micro-grid entropy terms. */
  val qEntropyRateSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                x -> len(x) > 0) AS toks
      |  FROM documents),
      |uni AS (
      |  SELECT w, COUNT(*)::BIGINT AS c FROM (
      |    SELECT unnest(toks) AS w FROM d) GROUP BY w),
      |bi AS (
      |  SELECT b, COUNT(*)::BIGINT AS c FROM (
      |    SELECT unnest([toks[i] || ' ' || toks[i+1]
      |                   FOR i IN range(1, len(toks))]) AS b
      |    FROM d WHERE len(toks) >= 2) GROUP BY b),
      |hu AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n_tokens, COUNT(*)::BIGINT AS v_uni,
      |    CAST(SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
      |      * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS h_uni_micro
      |  FROM (SELECT c, CAST(SUM(c) OVER () AS BIGINT) AS n FROM uni)),
      |hb AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n_bigrams, COUNT(*)::BIGINT AS v_bi,
      |    CAST(SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
      |      * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS h_bi_micro
      |  FROM (SELECT c, CAST(SUM(c) OVER () AS BIGINT) AS n FROM bi))
      |SELECT n_tokens, v_uni, n_bigrams, v_bi,
      |  h_uni_micro, h_bi_micro,
      |  h_bi_micro - h_uni_micro AS h_cond_micro,
      |  CAST(h_uni_micro AS DOUBLE) / 1000000.0::DOUBLE AS h_uni,
      |  CAST(h_bi_micro - h_uni_micro AS DOUBLE) / 1000000.0::DOUBLE AS h_cond,
      |  1.0::DOUBLE - CAST(h_bi_micro - h_uni_micro AS DOUBLE)
      |    / nullif(CAST(h_uni_micro AS DOUBLE), 0.0) AS predictability
      |FROM hu, hb""".stripMargin

  /** Q223: dedup savings accounting — the ops metric behind q31: per
    * source, how many documents/tokens does exact dedup remove, and
    * what fraction of the token bill was duplicate? The number a
    * pipeline owner reads before deciding whether the near-dup family
    * (q32–q37) is worth its quadratic-in-block cost on a given feed.
    *
    * Exactness: the keep flag is doc_id = MIN(doc_id) over the md5
    * group (q31's representative rule, as a window — no join); all
    * counts/token sums exact; the savings ratio is one division, raw.
    *
    * Scale shape: one hash-partitioned window over md5 groups + one
    * per-source aggregate — strictly cheaper than the dedup it prices. */
  def qDedupSavings(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wMd5 = Window.partitionBy(md5(col("text")))
    val flagged = t.fanout(t.documents).select(col("source"),
        size(text.tokenize(col("text"))).cast("long").as("ntok"),
        (col("doc_id") === min(col("doc_id")).over(wMd5)).as("keep"))
    flagged.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("keep"), col("ntok")).otherwise(0L)).as("kept_tokens"))
      .withColumn("dup_docs", col("n_docs") - col("kept_docs"))
      .withColumn("savings",
        // punctuation-only source => n_tokens = 0 (q170 degenerate rule)
        (col("n_tokens") - col("kept_tokens")).cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("kept_docs"), col("kept_tokens"), col("dup_docs"), col("savings"))
      .orderBy(col("source"))
  }

  /** q223 oracle: the same md5-group window and per-source rollup. */
  val qDedupSavingsSql: String =
    """WITH f AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |             x -> len(x) > 0)) AS BIGINT) AS ntok,
      |    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
      |  FROM documents)
      |SELECT source, COUNT(*)::BIGINT AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |  CAST(SUM(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens,
      |  CAST(COUNT(*) - SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
      |  CAST(SUM(ntok) - SUM(CASE WHEN keep THEN ntok ELSE 0 END) AS DOUBLE)
      |    / nullif(CAST(SUM(ntok) AS DOUBLE), 0.0::DOUBLE) AS savings
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** Q224: cross-source quantile normalization — map every document's
    * quality score onto the GLOBAL score distribution at its within-
    * source percentile (the batch-effect correction of bioinformatics
    * quantile normalization, here removing per-source scoring bias
    * before corpus-wide selection like q144): a doc ranked r of n_s in
    * its source receives the global score at rank ⌈r·N/(n_s+1)⌉.
    *
    * Exactness: FULLY integer — both rankings are tie-broken
    * permutations (doc_id), the target rank is exact integer math with
    * a clamp, and the normalized value is the micro-grid score looked
    * up by an equi join on rank. No float is created anywhere.
    *
    * Scale shape: one per-source window (hash-partitioned), one global
    * bucketRank two-phase prefix (no global sort), one integer equi
    * join. */
  def qQuantileNorm(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // barrier: q feeds ranked AND bucketRank (which itself evaluates its
    // input twice) — 3-4 q27 scoring scans before (r13 opt). n rows of 4
    // narrow fields.
    val q = qualityScoreShared(t)
      .select(col("doc_id"), col("quality_score"),
        round(col("quality_score") * lit(1000000.0), 0).cast("long").as("qm"))
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .localCheckpoint()
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("quality_score"), col("doc_id"))
    val wS = Window.partitionBy(col("source"))
    val ranked = q
      .withColumn("src_rank", row_number().over(wSrc).cast("long"))
      .withColumn("n_s", count(lit(1)).over(wS))
    val globalRanked = bucketRank(
      q.select(col("doc_id"), col("quality_score"), col("qm")), "qm", 1000001L,
      Seq(col("quality_score"), col("doc_id")), "g_rank")
    val n = t.documents.count()
    val lookup = globalRanked.select(col("g_rank").as("target_rank"),
      col("qm").as("qnorm_micro"))
    ranked
      .withColumn("target_rank",
        greatest(least(expr(s"(src_rank * ${n}L + n_s) div (n_s + 1L)"), lit(n)), lit(1L)))
      .join(lookup, Seq("target_rank"))
      .select(col("doc_id"), col("source"), col("qm"), col("src_rank"),
        col("n_s"), col("target_rank"), col("qnorm_micro"))
      .orderBy(col("doc_id"))
  }

  /** q224 oracle: global ROW_NUMBERs replace the two-phase prefix. */
  val qQuantileNormSql: String =
    s"""WITH $qualityScoreCtes,
      |q AS (
      |  SELECT s.doc_id, s.quality_score,
      |    CAST(round(s.quality_score * 1000000.0::DOUBLE) AS BIGINT) AS qm,
      |    d.source
      |  FROM scored s JOIN documents d USING (doc_id)),
      |nn AS (SELECT COUNT(*)::BIGINT AS n FROM q),
      |ranked AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY quality_score, doc_id) AS BIGINT) AS src_rank,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
      |  FROM q),
      |gq AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY quality_score, doc_id) AS BIGINT)
      |    AS target_rank, qm AS qnorm_micro
      |  FROM q)
      |SELECT r.doc_id, r.source, r.qm, r.src_rank, r.n_s, r.target_rank,
      |  gq.qnorm_micro
      |FROM (SELECT *,
      |        greatest(least((src_rank * (SELECT n FROM nn) + n_s) // (n_s + 1),
      |                       (SELECT n FROM nn)), 1) AS target_rank
      |      FROM ranked) r
      |JOIN gq ON gq.target_rank = r.target_rank
      |ORDER BY r.doc_id""".stripMargin

  /** Q225: k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * et al. 2007) over the release-style quasi-identifiers (source,
    * lang, length-bin): the privacy-ops gate that runs BEFORE q84's
    * redaction and q168's pseudonymization ship a dataset — classes
    * smaller than k re-identify, classes with < l distinct contents
    * leak by homogeneity.
    *
    * Exactness: all counts; the bin is integer division of n_chars;
    * content diversity counts distinct md5 prefixes; totals ride
    * windows over the bounded class table.
    *
    * Scale shape: one (qid) aggregate over a two-level rollup (class ×
    * content first — no countDistinct expand on the row stream). */
  def qKAnonymity(t: Tables, k: Int = 5, l: Int = 2,
      binWidth: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classed = t.documents.select(col("source"), col("lang"),
      expr(s"n_chars div ${binWidth}L").as("bin"),
      substring(md5(col("text")), 1, 16).as("content"))
    val perContent = classed.groupBy(col("source"), col("lang"), col("bin"),
      col("content")).agg(count(lit(1)).as("cc"))
    val classes = perContent.groupBy(col("source"), col("lang"), col("bin"))
      .agg(sum(col("cc")).as("n"), count(lit(1)).as("l_distinct"))
    val all = Window.partitionBy()
    classes
      .withColumn("k_ok", col("n") >= k)
      .withColumn("l_ok", col("l_distinct") >= l)
      .withColumn("n_classes", count(lit(1)).over(all))
      .withColumn("n_violating",
        sum(when(col("n") < k || col("l_distinct") < l, 1L).otherwise(0L)).over(all))
      .withColumn("rows_at_risk",
        sum(when(col("n") < k, col("n")).otherwise(0L)).over(all))
      .select(col("source"), col("lang"), col("bin"), col("n"),
        col("l_distinct"), col("k_ok"), col("l_ok"),
        col("n_classes"), col("n_violating"), col("rows_at_risk"))
      .orderBy(col("source"), col("lang"), col("bin"))
  }

  /** q225 oracle: the same two-level rollup and class-table windows. */
  def qKAnonymitySql(k: Int = 5, l: Int = 2, binWidth: Int = 100): String =
    s"""WITH pc AS (
      |  SELECT source, lang, n_chars // $binWidth AS bin,
      |    substr(md5(text), 1, 16) AS content, COUNT(*)::BIGINT AS cc
      |  FROM documents GROUP BY 1, 2, 3, 4),
      |cls AS (
      |  SELECT source, lang, bin, CAST(SUM(cc) AS BIGINT) AS n,
      |    COUNT(*)::BIGINT AS l_distinct
      |  FROM pc GROUP BY 1, 2, 3)
      |SELECT source, lang, bin, n, l_distinct,
      |  n >= $k AS k_ok, l_distinct >= $l AS l_ok,
      |  CAST(COUNT(*) OVER () AS BIGINT) AS n_classes,
      |  CAST(SUM(CASE WHEN n < $k OR l_distinct < $l THEN 1 ELSE 0 END)
      |    OVER () AS BIGINT) AS n_violating,
      |  CAST(SUM(CASE WHEN n < $k THEN n ELSE 0 END) OVER () AS BIGINT) AS rows_at_risk
      |FROM cls ORDER BY source, lang, bin""".stripMargin

  /** Q99: overlapping sliding-window chunking (RAG / retrieval indexing:
    * fixed `size`-token windows every `stride` tokens, so passage
    * boundaries can't hide a span — the complement of q92's disjoint
    * passages). Emits a compact per-doc signature (ordered concat of each
    * chunk's md5 prefix) instead of the chunk rows themselves, so the
    * oracle verifies every chunk's exact text at O(docs) output. Chunk
    * construction is per-row over the token array (O(tokens) work, each
    * token lands in ≤ size/stride chunks); the only shuffle is the final
    * per-doc aggregate — linear end to end. */
  def qSlidingChunks(t: Tables, size: Int = 8, stride: Int = 4): DataFrame = {
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
    // sequence() flips to a DESCENDING range when start > stop — guard the
    // short-doc case (fewer than `size` tokens ⇒ zero full windows)
    val chunks = toks
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) < $size THEN cast(array() as array<string>)
           |ELSE transform(sequence(0, (size(toks) - $size) div $stride),
           |               i -> array_join(slice(toks, i * $stride + 1, $size), ' '))
           |END""".stripMargin)).as(Seq("idx", "chunk")))
    chunks
      .withColumn("sig4", substring(md5(col("chunk")), 1, 4))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        array_join(
          expr("transform(sort_array(collect_list(struct(idx, sig4))), x -> x.sig4)"),
          "").as("sig"))
      .orderBy(col("doc_id"))
  }

  val qSlidingChunksSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, CAST(i AS INT) AS idx,
      |    array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 8), ' ') AS chunk
      |  FROM (SELECT doc_id, toks,
      |          unnest(range(CASE WHEN len(toks) >= 8 THEN (len(toks) - 8) // 4 + 1 ELSE 0 END)) AS i
      |        FROM toks))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  string_agg(substr(md5(chunk), 1, 4), '' ORDER BY idx) AS sig
      |FROM chunks GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q112: the composed training-data pipeline — the LLM analog of q50's
    * news pipeline, chaining the blocks this engine exists for in their
    * production order and reporting per-stage survival:
    *   1. quality gate (q86's four Gopher-style rules)
    *   2. corpus-wide exact dedup, keep-first (q31 shape)
    *   3. benchmark decontamination: drop any training doc sharing a word
    *      8-gram with the held-out eval slice (q79 shape; the eval slice
    *      itself never enters training)
    *   4. sequence packing into 256-token budget bins (q96 shape)
    * Every stage keeps its scale shape from the standalone query (linear
    * scans, equi-joins on hash/gram keys, one window per shard); output is
    * 4 rows of pure-integer conservation stats, so the composition itself
    * is under the hash gate — composing operators must not change any
    * stage's semantics. */
  def qTrainPipeline(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksCol = text.tokenize(col("text"))
    val base = t.fanout(t.documents).select(col("doc_id"), col("text"))
    val quality = base.select(col("doc_id"), col("text"),
        size(toksCol).cast("long").as("n_tokens"),
        length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
          .cast("long").as("n_tok_chars"),
        size(filter(toksCol, tk => tk.isInCollection(text.stopwords)))
          .cast("long").as("n_stop"),
        size(array_distinct(toksCol)).cast("long").as("n_distinct"))
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 80 &&
        col("n_tok_chars") >= col("n_tokens") * 4 &&
        col("n_tok_chars") <= col("n_tokens") * 5 &&
        col("n_stop") * 20 >= col("n_tokens") &&
        col("n_distinct") * 2 >= col("n_tokens"))
      .select(col("doc_id"), col("text"), col("n_tokens"))
      // barrier: the stage-1 readout AND the dedup window both consume
      // quality — un-barriered, the 4-expression tokenize filter chain
      // re-ran once per downstream stage (4 corpus tokenize passes
      // measured in-plan; now 1)
      .localCheckpoint()
    // (no barrier here: the md5 window re-runs off checkpointed quality —
    // cheap; a second full-text materialization A/B'd WORSE)
    val deduped = quality
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    val grams = graft.functions.fasthash.distinctNgramsUdf(8)(col("text"))
    val evalGrams = base.filter(col("doc_id") % 97 === 0)
      .select(explode(grams).as("gram")).distinct()
    val trainCand = deduped.filter(col("doc_id") % 97 =!= 0)
    val contaminated = trainCand.select(col("doc_id"), explode(grams).as("gram"))
      .join(evalGrams, "gram").select(col("doc_id")).distinct()
    // narrow barrier (doc_id, n_tokens — text dropped): the stage-3 readout
    // and the packing window otherwise re-run the 8-gram explode + join
    val clean = trainCand.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens")).localCheckpoint()
    val packed = clean
      .withColumn("shard", expr("doc_id div 1000"))
      .withColumn("start_tok", sum(col("n_tokens")).over(
        Window.partitionBy(col("shard")).orderBy(col("doc_id"))) - col("n_tokens"))
      .withColumn("seq_id", expr("start_tok div 256"))
    def stage(id: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
        .select(lit(id.toLong).as("stage"), lit(name).as("name"),
          col("n_docs"), col("n_tokens"), lit(0L).as("n_sequences"))
    val st4 = packed.groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"))
      .agg(coalesce(sum(col("nd")), lit(0L)).as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("n_sequences"))
      .select(lit(4L).as("stage"), lit("packed").as("name"),
        col("n_docs"), col("n_tokens"), col("n_sequences"))
    stage(1, "quality", quality)
      .union(stage(2, "deduped", deduped))
      .union(stage(3, "decontaminated", clean))
      .union(st4)
      .orderBy(col("stage"))
  }

  val qTrainPipelineSql: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, text, toks,
       |          CAST(len(toks) AS BIGINT) AS nt,
       |          CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT) AS nc,
       |          CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS ns,
       |          CAST(len(list_distinct(toks)) AS BIGINT) AS nd
       |        FROM base)
       |  WHERE nt >= 20 AND nt <= 80 AND nc >= nt * 4 AND nc <= nt * 5
       |    AND ns * 20 >= nt AND nd * 2 >= nt),
       |dd AS (
       |  SELECT doc_id, text, n_tokens
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q)
       |  WHERE rn = 1),
       |eg AS (
       |  SELECT DISTINCT unnest(list_distinct([list_aggregate(toks[i:i+7], 'string_agg', ' ') FOR i IN range(1, len(toks) - 6)])) AS gram
       |  FROM base WHERE doc_id % 97 = 0),
       |cand AS (SELECT dd.*, b.toks FROM dd JOIN base b USING (doc_id) WHERE doc_id % 97 != 0),
       |bad AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM (SELECT doc_id, unnest(list_distinct([list_aggregate(toks[i:i+7], 'string_agg', ' ') FOR i IN range(1, len(toks) - 6)])) AS gram
       |        FROM cand) c JOIN eg ON c.gram = eg.gram),
       |clean AS (SELECT doc_id, n_tokens FROM cand WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
       |packed AS (
       |  SELECT doc_id // 1000 AS shard, n_tokens,
       |    (SUM(n_tokens) OVER (PARTITION BY doc_id // 1000 ORDER BY doc_id) - n_tokens) // 256 AS seq_id
       |  FROM clean),
       |st4 AS (
       |  SELECT CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS n_docs,
       |         CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens,
       |         CAST(COUNT(*) AS BIGINT) AS n_sequences
       |  FROM (SELECT shard, seq_id, COUNT(*)::BIGINT AS nd, SUM(n_tokens) AS nt
       |        FROM packed GROUP BY shard, seq_id))
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage, 'quality' AS name, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS n_sequences FROM q
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'deduped', CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT), CAST(0 AS BIGINT) FROM dd
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'decontaminated', CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT), CAST(0 AS BIGINT) FROM clean
       |  UNION ALL
       |  SELECT CAST(4 AS BIGINT), 'packed', n_docs, n_tokens, n_sequences FROM st4)
       |ORDER BY stage""".stripMargin
  }

  /** Q103: corpus heavy hitters via the native SpaceSaving aggregate
    * (functions.SpaceSavingTopK — a Catalyst TypedImperativeAggregate:
    * bounded O(capacity) partial buffers, mergeable across partitions; the
    * 100 TB frequent-item shape where an exact groupBy's shuffle would
    * carry the whole vocabulary). The corpus vocabulary (31 terms,
    * TESTDATA) is below capacity=64, so the sketch runs in its provably
    * EXACT regime (no eviction ⇒ est = true count, err = 0) and the
    * DuckDB hash gate verifies the aggregate's full update / merge /
    * serialize / eval path; SketchSpec exercises the approximate regime
    * on 2-grams. */
  def qHeavyHitters(t: Tables): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val sketch = GraftBridge.column(
      graft.functions.SpaceSavingTopK(
        GraftBridge.expression(col("token")), 64).toAggregateExpression())
    t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("token"))
      .agg(sketch.as("sk"))
      .select(posexplode(col("sk")).as(Seq("pos", "e")))
      .filter(col("pos") < 10)
      .select((col("pos") + 1).cast("long").as("rank"),
        col("e.item").as("term"), col("e.est").as("freq"))
      .orderBy(col("rank"))
  }

  val qHeavyHittersSql: String =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS BIGINT) AS rank,
      |  term, COUNT(*)::BIGINT AS freq
      |FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS term
      |      FROM documents)
      |GROUP BY term ORDER BY rank LIMIT 10""".stripMargin

  /** Q110: corpus-LM quality scoring (the CCNet-style filter: score each
    * document by its average negative log-probability under a unigram LM
    * fit on the corpus itself — atypical/garbled pages score high). The
    * LM "fit" is one word-count aggregate; scoring is tf ⋈ broadcast(LM)
    * (at 100 TB the unigram table is |vocab| rows — always the broadcast
    * side) + one per-doc aggregate. No smoothing needed: scoring the
    * training corpus means every term has f ≥ 1. avg_neg_logp uses the
    * factored form (ln N · n − Σ c·ln f)/n so per-term floats are
    * integer-argument lns; cross-partition sum ⇒ round(6). */
  def qUnigramLogprob(t: Tables): DataFrame = {
    val tok = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val f = tok.groupBy(col("term")).agg(count(lit(1)).as("f"))
    val n = tok.count()
    tf.join(broadcast(f), "term")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        round((log(lit(n.toDouble)) * sum(col("c")).cast("double")
          - sum(col("c").cast("double") * log(col("f").cast("double"))))
          / sum(col("c")).cast("double"), 6).as("avg_neg_logp"))
      .orderBy(col("doc_id"))
  }

  val qUnigramLogprobSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
      |f AS (SELECT term, COUNT(*)::BIGINT AS f FROM tok GROUP BY 1),
      |n AS (SELECT COUNT(*)::BIGINT AS n FROM tok)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  round((ln(CAST(n.n AS DOUBLE)) * CAST(SUM(c) AS DOUBLE)
      |         - SUM(CAST(c AS DOUBLE) * ln(CAST(f.f AS DOUBLE)))) / CAST(SUM(c) AS DOUBLE), 6) AS avg_neg_logp
      |FROM tf JOIN f USING (term), n GROUP BY doc_id, n.n ORDER BY doc_id""".stripMargin

  /** Q111: collocation mining — top adjacent-pair PMI with a min-count
    * floor (the tokenizer-prep / phrase-detection statistic: which word
    * pairs co-occur far above chance). pmi = ln(N·c(a,b)/(f(a)·f(b))) with
    * unigram marginals. Bigram build is per-row over the token array; the
    * only shuffles are the two count aggregates; marginals join back as
    * broadcasts (|vocab| rows at any corpus size). Ranking orders by the
    * ROUNDED pmi (identical on both engines) with a (a,b) tie-break, so
    * the top-20 cut is deterministic cross-engine. */
  def qPmiCollocations(t: Tables, minCount: Long = 5): DataFrame = {
    // r14: uf/bf ride the shared session n-gram counts (identical exact
    // integers; nb stays the Σc over the bigram table — r13 opt)
    val uf = unigramCountsShared(t)
    val bf = bigramCountsShared(t)
    val nb = bf.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
    bf.filter(col("c") >= minCount)
      .join(broadcast(uf.withColumnRenamed("w", "a").withColumnRenamed("f", "fa")), "a")
      .join(broadcast(uf.withColumnRenamed("w", "b").withColumnRenamed("f", "fb")), "b")
      .select(col("a"), col("b"), col("c"),
        round(log(lit(nb.toDouble) * col("c").cast("double") /
          (col("fa").cast("double") * col("fb").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(20)
  }

  val qPmiCollocationsSql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |uni AS (SELECT unnest(toks) AS w FROM toks),
      |uf AS (SELECT w, COUNT(*)::BIGINT AS f FROM uni GROUP BY w),
      |bi AS (SELECT toks[i] AS a, toks[i+1] AS b
      |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM toks)),
      |bf AS (SELECT a, b, COUNT(*)::BIGINT AS c FROM bi GROUP BY a, b),
      |n AS (SELECT COUNT(*)::BIGINT AS nb FROM bi)
      |SELECT bf.a, bf.b, bf.c,
      |  round(ln(CAST(n.nb AS DOUBLE) * CAST(bf.c AS DOUBLE)
      |           / (CAST(fa.f AS DOUBLE) * CAST(fb.f AS DOUBLE))), 6) AS pmi
      |FROM bf JOIN uf fa ON bf.a = fa.w JOIN uf fb ON bf.b = fb.w, n
      |WHERE bf.c >= 5
      |ORDER BY pmi DESC, bf.a, bf.b LIMIT 20""".stripMargin

  val qSequencePackSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
      |    CAST(doc_id // 1000 AS BIGINT) AS shard
      |  FROM documents),
      |packed AS (
      |  SELECT shard, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS start_tok
      |  FROM toks)
      |SELECT shard, CAST(start_tok // 256 AS BIGINT) AS seq_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |  CAST(SUM(n_tokens) AS DOUBLE) / 256.0 AS fill_ratio
      |FROM packed GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin

  /** Q122: corpus mixture resampling — the data-mixing step of a training
    * pipeline: given target per-source weights, DOWNSAMPLE overrepresented
    * sources so the output matches the target mixture (the "source
    * weighting" of The Pile / Dolma recipes). Membership is the q63/q100
    * integer hex compare on md5(doc_id) — deterministic, partitioning-
    * independent, replayable — and the per-source keep-threshold is pure
    * INTEGER arithmetic: t = min(65535, (w·65536·N) div (Σw·n_source)),
    * so both engines compute the identical cut with no float division.
    * (w·65536·N stays under 2^63 for any corpus below ~4.7e13 docs.)
    *
    * Scale shape: one per-source count aggregate (20 rows), scalar totals
    * via windows over that TINY table (never a 1-row scalar join — the
    * q114 lesson: constant folding degrades those to nested loops), then
    * the sample is a scan-stage filter against the broadcast rate table.
    * Demo weights: even-numbered sources get 3× the target share of odd. */
  def qMixResample(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t.documents.select(col("source"), col("doc_id"))
    val all = Window.partitionBy()
    val rates = docs.groupBy(col("source")).agg(count(lit(1)).as("n_in"))
      // substr(source, 4) UNBOUNDED, exactly mirroring the oracle's
      // substr(source, 4): the old 10-char cap would silently diverge on a
      // longer numeric suffix while the oracle errors (round-5 advice)
      .withColumn("w",
        when(expr("substring(source, 4)").cast("long") % 2 === 0, 3L).otherwise(1L))
      .withColumn("n_total", sum(col("n_in")).over(all))
      .withColumn("sum_w", sum(col("w")).over(all))
      .withColumn("t", expr("least(65535L, (w * 65536L * n_total) div (sum_w * n_in))"))
      .select(col("source"), col("n_in"), col("w"), col("t"))
    val sampled = docs.join(broadcast(rates), "source")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4)
        < format_string("%04x", col("t").cast("int")))
      .groupBy(col("source")).agg(count(lit(1)).as("n_out"))
    rates.join(sampled, Seq("source"), "left")
      .select(col("source"), col("w"), col("n_in"),
        coalesce(col("n_out"), lit(0L)).as("n_out"), col("t"))
      .orderBy(col("source"))
  }

  val qMixResampleSql: String =
    """WITH counts AS (
      |  SELECT source, COUNT(*)::BIGINT AS n_in FROM documents GROUP BY source),
      |rates AS (
      |  SELECT source, n_in,
      |    CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0 THEN 3 ELSE 1 END AS w,
      |    LEAST(65535,
      |      (CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0 THEN 3 ELSE 1 END
      |        * 65536 * SUM(n_in) OVER ())
      |      // (SUM(CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0 THEN 3 ELSE 1 END) OVER ()
      |         * n_in)) AS t
      |  FROM counts),
      |sampled AS (
      |  SELECT d.source, COUNT(*)::BIGINT AS n_out
      |  FROM documents d JOIN rates r USING (source)
      |  WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', CAST(r.t AS INT))
      |  GROUP BY d.source)
      |SELECT r.source, CAST(r.w AS BIGINT) AS w, r.n_in,
      |  COALESCE(s.n_out, 0)::BIGINT AS n_out, CAST(r.t AS BIGINT) AS t
      |FROM rates r LEFT JOIN sampled s USING (source)
      |ORDER BY r.source""".stripMargin

  /** Q123: BM25 retrieval scoring (Robertson-Walker-Jones Okapi BM25, the
    * Lucene-practical variant: idf = ln(1 + (N−df+0.5)/(df+0.5))) — the
    * retrieval half of a RAG pipeline next to the vector ANN block. Score
    * for a fixed query term set over the documents table; top-`topK` docs
    * by rounded score with a doc_id tie-break.
    *
    * Scale shape: the tf table is filtered to the query's terms at the
    * scan (an inverted-index probe — candidate rows ≈ Σ df(term), never
    * the corpus); doc lengths are one linear aggregate; (N, Σlen) ride
    * the driver as a bounded parameter fetch (two longs — the SQ8-params
    * contract) rather than a 1-row scalar join the optimizer would turn
    * into a nested loop. Per-term float math is the same IEEE sequence on
    * both engines; the ≤|query|-term per-doc sum is aggregation-ordered →
    * round(6). b = 0.75 is exactly binary; k1 literals are written in
    * both engines' parsers identically. */
  def qBm25(t: Tables, queryTerms: Seq[String] = Seq("spark", "window", "join"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the one-pass unpivot assumes distinct query terms (a duplicate
    // would double-count df/cf where the old groupBy shape deduped) —
    // normalize instead of documenting the precondition (ADVICE r13);
    // identity for the shipped default
    val query = queryTerms.distinct
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    // ONE tokenize+explode pass: per-doc length AND the per-query-term
    // counts come out of a single aggregate (the query list is a bounded
    // literal), checkpointed at n rows × (2+|query|) longs. The previous
    // shape ran the explode twice (lens pass + tf pass) — 2 corpus scans
    // in-plan — and lens.cache() still re-ran it for the collect.
    val tfCols = query.zipWithIndex.map { case (q, i) =>
      sum(when(col("term") === q, 1L).otherwise(0L)).as(s"tf_$i") }
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("len"), tfCols: _*).localCheckpoint()
    val lens = perDoc.select(col("doc_id"), col("len"))
    // coalesce the sum: on an empty documents table sum(len) is NULL and a
    // bare cast throws; the empty result set itself is correct either way
    val Array(nDocs, sumLen) = perDoc
      .agg(count(lit(1)), coalesce(sum(col("len")), lit(0L))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // guard the empty corpus: a lit(0)/lit(0) column division CONSTANT-
    // FOLDS at plan time and throws DIVIDE_BY_ZERO under ANSI before any
    // (zero) rows run. The Scala division is the identical IEEE op on the
    // same operands, so oracle parity is unchanged on non-empty input.
    val avgdl = lit(if (nDocs == 0L) 0.0 else sumLen.toDouble / nDocs.toDouble)
    // unpivot back to the (doc_id, term, tf) rows the previous tf groupBy
    // produced — identical rows/values, zero extra corpus passes
    val tfStructs = array(query.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("term"), col(s"tf_$i").as("tf")) }: _*)
    val tf = perDoc.select(col("doc_id"), explode(tfStructs).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
      .filter(col("tf") > 0L)
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(1.0) +
        ((lit(nDocs) - col("df")).cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
    val scored = tf.join(broadcast(dfs), "term").join(lens, "doc_id")
      .withColumn("term_score",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len").cast("double") / avgdl)))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("term_score")), 6).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("score"), col("n_terms_hit"))
      .orderBy(col("rank"))
  }

  /** q123 oracle, parameterized EXACTLY like qBm25 (the qKmeansStepSql
    * pattern — round-5 advice: a hard-coded term list/LIMIT silently broke
    * oracle parity for any non-default invocation). The float literals are
    * interpolated so both engines parse the SAME doubles, and composite
    * constants (k1+1, 1-b) stay written as the two-operand IEEE expression
    * in both parsers. */
  def qBm25Sql(query: Seq[String] = Seq("spark", "window", "join"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): String =
    s"""WITH ${bm25Ctes(query, k1, b)}
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, score, n_terms_hit
      |FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT $topK)
      |ORDER BY rank""".stripMargin

  /** The BM25 CTE chain (tokenize → lens/stats → tf/df → `scored`), shared
    * verbatim between the q123 oracle and the q138 hybrid-fusion oracle so
    * the sparse arm cannot drift between them. */
  private def bm25Ctes(query: Seq[String], k1: Double, b: Double): String = {
    val terms = query.map(q => "'" + q.replace("'", "''") + "'").mkString(", ")
    s"""toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term
      |  FROM documents),
      |lens AS (SELECT doc_id, COUNT(*)::BIGINT AS len FROM toks GROUP BY doc_id),
      |stats AS (SELECT COUNT(*)::BIGINT AS n, SUM(len)::BIGINT AS sum_len FROM lens),
      |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks
      |       WHERE term IN ($terms) GROUP BY doc_id, term),
      |dfs AS (
      |  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id,
      |    round(SUM(
      |      ln(1.0::DOUBLE + (CAST(s.n - dfs.df AS DOUBLE) + 0.5::DOUBLE)
      |                       / (CAST(dfs.df AS DOUBLE) + 0.5::DOUBLE))
      |      * (CAST(tf.tf AS DOUBLE) * ($k1::DOUBLE + 1.0::DOUBLE))
      |      / (CAST(tf.tf AS DOUBLE)
      |         + $k1::DOUBLE * (1.0::DOUBLE - $b::DOUBLE
      |            + $b::DOUBLE * CAST(l.len AS DOUBLE)
      |              / (CAST(s.sum_len AS DOUBLE) / CAST(s.n AS DOUBLE))))), 6) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      |  FROM tf JOIN dfs USING (term) JOIN lens l ON l.doc_id = tf.doc_id, stats s
      |  GROUP BY tf.doc_id)""".stripMargin
  }

  /** Q138: hybrid sparse+dense retrieval with reciprocal-rank fusion
    * (Cormack, Clarke & Buettcher 2009, "Reciprocal rank fusion
    * outperforms Condorcet and individual rank learning methods") — the
    * standard RAG retrieval composition: BM25 term ranking and exact
    * embedding-cosine ranking each produce a top-`n` list, fused by
    * rrf(d) = Σ_arms 1/(k + rank_arm(d)) with k = `rrfK` (60, the
    * published constant).
    *
    * Scale shape: the sparse arm is q123's inverted-index probe
    * (candidates ≈ Σ df(term), never the corpus); the dense arm fetches
    * the single probe vector to the driver (dim floats — the bounded
    * SQ8-params contract) and scores the corpus with a scan-stage
    * CosineSim expression + TakeOrderedAndProject: NO join at all on the
    * dense side, so no broadcast-NLJ and nothing shuffles except two
    * ≤`n`-row lists. The fusion itself is a full-outer equi-join of two
    * bounded lists — constant-size work regardless of corpus scale. At
    * 100 TB the dense arm would swap in an ANN rung (q40/q56/q81/q137)
    * unchanged above the fusion.
    *
    * Oracle parity: ranks are integers with total tie-break orders; the
    * RRF score is the identical two-term IEEE expression both engines
    * (1.0/(60.0+rank), coalesced to 0 for a one-arm doc) → emitted RAW. */
  def qHybridRrf(t: Tables, query: Seq[String] = Seq("spark", "window", "join"),
      probeId: Long = 0L, n: Int = 20, topK: Int = 10, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val sparse = qBm25(t, query, topK = n)
      .select(col("doc_id"), col("rank").as("rank_sparse"))
    // bounded parameter fetch: one dim-float probe vector rides the driver
    val probeRows = t.embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding")).collect()
    if (probeRows.isEmpty)
      return Tables.emptyFrame(spark, "rank" -> LongType, "doc_id" -> LongType,
        "rrf_score" -> DoubleType, "rank_sparse" -> LongType,
        "rank_dense" -> LongType)
    val pv = probeRows(0).getSeq[Float](0).toArray
    val dense = t.embeddings.filter(col("vec_id") =!= probeId)
      .withColumn("sim",
        graft.plans.CosineSim.cosine(typedLit(pv), col("embedding")))
      .orderBy(col("sim").desc, col("vec_id")).limit(n)
      // post-limit ≤n rows: the partition-less window is bounded by construction
      .withColumn("rank_dense", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("rank_dense"))
    val kD = lit(rrfK.toDouble)
    val fused = sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (kD + col("rank_sparse").cast("double")), lit(0.0))
          + coalesce(lit(1.0) / (kD + col("rank_dense").cast("double")), lit(0.0)))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(topK)
    fused
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("rrf_score"),
        col("rank_sparse"), col("rank_dense"))
      .orderBy(col("rank"))
  }

  /** q138 oracle: the shared BM25 CTE chain (bm25Ctes — cannot drift from
    * q123) + the q38 dense-cosine pattern + the RRF expression written as
    * the same IEEE two-term sum. */
  def qHybridRrfSql(query: Seq[String] = Seq("spark", "window", "join"),
      probeId: Long = 0L, n: Int = 20, topK: Int = 10, rrfK: Int = 60): String =
    s"""WITH ${bm25Ctes(query, 1.2, 0.75)},
      |sparse AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_sparse
      |  FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT $n)),
      |dense0 AS (
      |  SELECT vec_id AS doc_id,
      |    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = $probeId)) AS sim
      |  FROM embeddings WHERE vec_id != $probeId),
      |dense AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS rank_dense
      |  FROM (SELECT * FROM dense0 ORDER BY sim DESC, doc_id LIMIT $n)),
      |fused AS (
      |  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.rank_sparse, d.rank_dense,
      |    COALESCE(1.0::DOUBLE / ($rrfK.0::DOUBLE + CAST(s.rank_sparse AS DOUBLE)), 0.0::DOUBLE)
      |    + COALESCE(1.0::DOUBLE / ($rrfK.0::DOUBLE + CAST(d.rank_dense AS DOUBLE)), 0.0::DOUBLE) AS rrf_score
      |  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, rrf_score, rank_sparse, rank_dense
      |FROM (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT $topK)
      |ORDER BY rank""".stripMargin

  /** Q273: composed passage-retrieval EVAL gate — the q226-class
    * composition for the retrieval side: q99's sliding-window chunking →
    * chunk-level BM25 (q123's formula over passages) → ranked top-k →
    * rank-quality metrics (running precision/recall, binary-relevance
    * DCG) against an in-corpus ground truth (a chunk containing EVERY
    * query term is relevant — replayable, and exactly the all-terms-
    * present proxy retrieval evals bootstrap from when no human labels
    * exist). One gated query proves the chunker, the scorer, the ranker,
    * and the metric layer compose without drift.
    *
    * Exactness: chunk ids are (doc_id, idx) integers; scores carry
    * round(6) (ln in the idf); relevance and hit counts are integers;
    * precision/recall single raw divisions; DCG terms micro-rounded
    * BIGINTs (log2 has the established ulp envelope). The top-k windows
    * run post-limit on ≤topK rows (bounded by construction — the q138
    * contract); corpus-level stats ride the driver as bounded fetches
    * (n_chunks, sum_len, n_relevant — three longs).
    *
    * Scale shape: chunking is one explode; scoring touches only chunks
    * containing a query term (the inverted-index asymmetry, candidates ≈
    * Σ df); the head is TakeOrderedAndProject. Nothing joins corpus ×
    * corpus. */
  def qPassageRetrieval(t: Tables,
      query: Seq[String] = Seq("spark", "window", "join"),
      size: Int = 8, stride: Int = 4, k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
    val chunks = toks.select(col("doc_id"), posexplode(expr(
      s"""CASE WHEN size(toks) < $size THEN cast(array() as array<array<string>>)
         |ELSE transform(sequence(0, (size(toks) - $size) div $stride),
         |               i -> slice(toks, i * $stride + 1, $size))
         |END""".stripMargin)).as(Seq("idx0", "ct")))
      .select(col("doc_id"), col("idx0").cast("long").as("idx"), col("ct"))
    val lens = chunks.select(col("doc_id"), col("idx"),
      org.apache.spark.sql.functions.size(col("ct")).cast("long").as("len"))
    val Array(nChunks, sumLen) = lens
      .agg(count(lit(1)), coalesce(sum(col("len")), lit(0L))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // the q123 empty-corpus guard: a folded 0/0 throws under ANSI
    val avgdl = lit(if (nChunks == 0L) 0.0 else sumLen.toDouble / nChunks.toDouble)
    val tf = chunks.select(col("doc_id"), col("idx"), explode(col("ct")).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy(col("doc_id"), col("idx"), col("term")).agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(1.0) +
        ((lit(nChunks) - col("df")).cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
    val scored = tf.join(broadcast(dfs), "term")
      .join(lens, Seq("doc_id", "idx"))
      .withColumn("term_score",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len").cast("double") / avgdl)))
      .groupBy(col("doc_id"), col("idx"))
      .agg(round(sum(col("term_score")), 6).as("score"),
        count(lit(1)).as("n_hit_terms"))
      .withColumn("relevant", col("n_hit_terms") === lit(query.size.toLong))
      // one materialization feeds the n_relevant fetch AND the top-k
      .localCheckpoint()
    val nRelevant = scored.filter(col("relevant")).count()
    val wo = Window.orderBy(col("score").desc, col("doc_id"), col("idx"))
    val wRun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.orderBy(col("score").desc, col("doc_id"), col("idx")).limit(topK)
      .withColumn("rank", row_number().over(wo).cast("long"))
      .withColumn("hits_at",
        sum(when(col("relevant"), 1L).otherwise(0L)).over(wRun))
      .withColumn("prec_at",
        col("hits_at").cast("double") / col("rank").cast("double"))
      .withColumn("recall_at",
        if (nRelevant == 0L) lit(null).cast("double")
        else col("hits_at").cast("double") / lit(nRelevant.toDouble))
      .withColumn("dcg_micro_at",
        sum(when(col("relevant"),
          round(lit(1000000.0) / log2(col("rank").cast("double") + lit(1.0)), 0)
            .cast("long")).otherwise(0L)).over(wRun))
      .select(col("rank"), col("doc_id"), col("idx"), col("score"),
        col("n_hit_terms"), col("relevant"), col("hits_at"),
        col("prec_at"), col("recall_at"), col("dcg_micro_at"))
      .orderBy(col("rank"))
  }

  /** q273 oracle: the full chain replayed — q99's chunk CTEs, the q123
    * BM25 formula over passages, the relevance count as a 1-row CTE, and
    * the same bounded top-k windows. */
  def qPassageRetrievalSql(
      query: Seq[String] = Seq("spark", "window", "join"),
      size: Int = 8, stride: Int = 4, k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): String = {
    val terms = query.map(q => "'" + q.replace("'", "''") + "'").mkString(", ")
    val nq = query.size
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |                x -> len(x) > 0) AS toks
       |  FROM documents),
       |chunks AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
       |    list_slice(toks, i * $stride + 1, i * $stride + $size) AS ct
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(CASE WHEN len(toks) >= $size
       |                       THEN (len(toks) - $size) // $stride + 1
       |                       ELSE 0 END)) AS i
       |        FROM toks)),
       |lens AS (SELECT doc_id, idx, CAST(len(ct) AS BIGINT) AS len FROM chunks),
       |stats AS (SELECT COUNT(*)::BIGINT AS n,
       |                 CAST(SUM(len) AS BIGINT) AS sum_len FROM lens),
       |ctoks AS (SELECT doc_id, idx, unnest(ct) AS term FROM chunks),
       |tf AS (SELECT doc_id, idx, term, COUNT(*)::BIGINT AS tf FROM ctoks
       |       WHERE term IN ($terms) GROUP BY 1, 2, 3),
       |dfs AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.idx,
       |    round(SUM(
       |      ln(1.0::DOUBLE + (CAST(s.n - dfs.df AS DOUBLE) + 0.5::DOUBLE)
       |                       / (CAST(dfs.df AS DOUBLE) + 0.5::DOUBLE))
       |      * (CAST(tf.tf AS DOUBLE) * ($k1::DOUBLE + 1.0::DOUBLE))
       |      / (CAST(tf.tf AS DOUBLE)
       |         + $k1::DOUBLE * (1.0::DOUBLE - $b::DOUBLE
       |            + $b::DOUBLE * CAST(l.len AS DOUBLE)
       |              / (CAST(s.sum_len AS DOUBLE) / CAST(s.n AS DOUBLE))))), 6)
       |      AS score,
       |    CAST(COUNT(*) AS BIGINT) AS n_hit_terms
       |  FROM tf JOIN dfs USING (term)
       |  JOIN lens l ON l.doc_id = tf.doc_id AND l.idx = tf.idx, stats s
       |  GROUP BY 1, 2),
       |rel AS (SELECT COUNT(*)::BIGINT AS nr FROM scored WHERE n_hit_terms = $nq),
       |top AS (SELECT * FROM scored ORDER BY score DESC, doc_id, idx LIMIT $topK),
       |rk AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER
       |    (ORDER BY score DESC, doc_id, idx) AS BIGINT) AS rank
       |  FROM top)
       |SELECT rank, doc_id, idx, score, n_hit_terms,
       |  (n_hit_terms = $nq) AS relevant,
       |  CAST(SUM(CASE WHEN n_hit_terms = $nq THEN 1 ELSE 0 END)
       |    OVER w AS BIGINT) AS hits_at,
       |  CAST(SUM(CASE WHEN n_hit_terms = $nq THEN 1 ELSE 0 END)
       |    OVER w AS DOUBLE) / CAST(rank AS DOUBLE) AS prec_at,
       |  CAST(SUM(CASE WHEN n_hit_terms = $nq THEN 1 ELSE 0 END)
       |    OVER w AS DOUBLE) / nullif(CAST(rel.nr AS DOUBLE), 0.0::DOUBLE)
       |    AS recall_at,
       |  CAST(SUM(CASE WHEN n_hit_terms = $nq THEN
       |      CAST(round(1000000.0::DOUBLE
       |        / log2(CAST(rank AS DOUBLE) + 1.0::DOUBLE)) AS BIGINT)
       |    ELSE 0 END) OVER w AS BIGINT) AS dcg_micro_at
       |FROM rk, rel
       |WINDOW w AS (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY rank""".stripMargin
  }

  /** Q275: Horvitz–Thompson sampled-total estimator audit (Horvitz &
    * Thompson 1952) — the "estimate what you can't afford to scan"
    * pattern a 100 TB pipeline uses for cost accounting: each document
    * enters the sample with a KNOWN per-source inclusion probability
    * (dyadic — even sources π = ½, odd π = ¼, realized by the q63
    * deterministic md5-threshold draw) and the character-mass total is
    * estimated as Σ x_i/π_i over the sample only. Because the rates are
    * dyadic, every HT weight is an exact integer (2 or 4) and the
    * estimate is an exact BIGINT — the audit emits the true total beside
    * it (it IS an audit), so the realized per-source estimator error is
    * on the record, fully replayable, no probabilistic envelope needed.
    *
    * Scale shape: one linear scan, one |sources|-row aggregate; in
    * production the true-total column is dropped and only the sample is
    * scanned — the point of the estimator. */
  def qHorvitzThompson(t: Tables): DataFrame = {
    val even = expr("substring(source, 4)").cast("long") % 2 === 0
    val sampled = substring(md5(col("doc_id").cast("string")), 1, 2) <
      when(even, lit("80")).otherwise(lit("40"))
    t.fanout(t.documents)
      .select(col("source"), col("n_chars"), sampled.as("s"),
        when(even, lit(2L)).otherwise(lit(4L)).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("s"), 1L).otherwise(0L)).as("n_sampled"),
        sum(col("n_chars")).as("true_chars"),
        sum(when(col("s"), col("n_chars") * col("w")).otherwise(0L))
          .as("ht_chars"))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        when(expr("substring(source, 4)").cast("long") % 2 === 0, 0.5)
          .otherwise(0.25).as("pi"),
        col("true_chars"), col("ht_chars"),
        ((col("ht_chars") - col("true_chars")).cast("double") /
          nullif(col("true_chars").cast("double"), lit(0.0))).as("rel_err"))
      .orderBy(col("source"))
  }

  /** q275 oracle: the same md5 draw, integer HT weights, and one rollup. */
  val qHorvitzThompsonSql: String =
    """WITH d AS (
      |  SELECT source, n_chars,
      |    (CAST(substr(source, 4) AS BIGINT) % 2 = 0) AS even,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |      CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
      |           THEN '80' ELSE '40' END AS s
      |  FROM documents)
      |SELECT source, COUNT(*)::BIGINT AS n_docs,
      |  CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
      |       THEN 0.5::DOUBLE ELSE 0.25::DOUBLE END AS pi,
      |  CAST(SUM(n_chars) AS BIGINT) AS true_chars,
      |  CAST(SUM(CASE WHEN s THEN n_chars * (CASE WHEN even THEN 2 ELSE 4 END)
      |           ELSE 0 END) AS BIGINT) AS ht_chars,
      |  CAST(SUM(CASE WHEN s THEN n_chars * (CASE WHEN even THEN 2 ELSE 4 END)
      |           ELSE 0 END) - SUM(n_chars) AS DOUBLE)
      |    / nullif(CAST(SUM(n_chars) AS DOUBLE), 0.0::DOUBLE) AS rel_err
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Q145: deterministic weighted mixture schedule — the training-order
    * interleave that realizes q122's mixture weights as a SEQUENCE:
    * stride scheduling (Waldspurger & Weihl 1995), emission key
    * (rank_in_source − 0.5) / weight, so any prefix of the schedule
    * contains each source in proportion to its weight (the property a
    * data-mixing loader needs; shuffling-by-hash gives it only in
    * expectation). Weights mirror q122's derivation (even source id → 3,
    * odd → 1). Emits the first `topN` scheduled positions.
    *
    * Scale shape: per-source rank is one partitioned window (bounded by
    * the source's docs); the schedule head is orderBy+limit →
    * TakeOrderedAndProject (no global sort); the position stamp is a
    * post-limit ≤topN-row window (bounded by construction). The stride
    * key is one IEEE division of exact integers — emitted raw. */
  def qMixtureSchedule(t: Tables, topN: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = when(expr("substring(source, 4)").cast("long") % 2 === 0, 3.0)
      .otherwise(1.0)
    t.fanout(t.documents).select(col("doc_id"), col("source"))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long"))
      .withColumn("stride_key",
        (col("src_rank").cast("double") - lit(0.5)) / w)
      .orderBy(col("stride_key"), col("source"), col("src_rank")).limit(topN)
      .withColumn("position", row_number().over(
        Window.orderBy(col("stride_key"), col("source"), col("src_rank"))).cast("long"))
      .select(col("position"), col("doc_id"), col("source"),
        col("src_rank"), col("stride_key"))
      .orderBy(col("position"))
  }

  def qMixtureScheduleSql(topN: Int = 200): String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS src_rank,
       |    CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0 THEN 3.0::DOUBLE ELSE 1.0::DOUBLE END AS w
       |  FROM documents)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY stride_key, source, src_rank) AS BIGINT) AS position,
       |  doc_id, source, src_rank, stride_key
       |FROM (SELECT doc_id, source, src_rank,
       |        (CAST(src_rank AS DOUBLE) - 0.5::DOUBLE) / w AS stride_key
       |      FROM d ORDER BY stride_key, source, src_rank LIMIT $topN)
       |ORDER BY position""".stripMargin

  /** Q144: token-budget-constrained corpus selection — keep the best
    * documents by quality score until a token budget is exhausted (the
    * data-selection step when compute, not data, is the binding
    * constraint; cf. Hoffmann et al. 2022 "Chinchilla" token budgets).
    * Greedy prefix of the (quality desc, doc_id) order by cumulative
    * token count ≤ `budget`.
    *
    * Scale shape: a naive global cumulative window is a single-partition
    * sort — the classic scale-killer. This plan is the distributed
    * two-phase prefix: (1) docs bucket by floor(quality·100) (quality
    * order is bucket-monotone, ties share a bucket); (2) per-bucket token
    * sums ride the driver (≤101 rows — the bounded-fetch contract) and
    * prefix offsets come back as a broadcast join; (3) buckets whose
    * offset already exceeds the budget are PRUNED before the window, and
    * the intra-bucket cumulative sum runs partitioned BY BUCKET — bounded
    * partitions, no global sort. The concatenated (bucket desc, quality
    * desc, doc_id) order equals the global order exactly, so cum_tokens
    * is the true global prefix sum. All-integer cumulation; quality is
    * the q27 per-row IEEE-exact double — emitted raw. */
  def qBudgetSelect(t: Tables, budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val q = qualityScoreShared(t)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("bucket",
        least(floor(col("quality_score") * lit(100.0)), lit(100.0)).cast("int"))
    val sums = q.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btok"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    if (sums.isEmpty)
      return Tables.emptyFrame(spark, "doc_id" -> LongType,
        "n_tokens" -> LongType, "quality_score" -> DoubleType,
        "cum_tokens" -> LongType)
    var acc = 0L
    val offsets = sums.sortBy(-_._1).map { case (b, s) =>
      val o = (b, acc); acc += s; o
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("bucket", "offset"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.join(offDf, Seq("bucket"))
      .filter(col("offset") <= budget) // prune hopeless buckets pre-window
      .withColumn("cum_tokens", col("offset") + sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("cum_tokens"))
      .orderBy(col("cum_tokens"), col("doc_id"))
  }

  /** q144 oracle: the shared q27 chain + one global window (fine for the
    * oracle; the Spark plan does the distributed two-phase instead). */
  def qBudgetSelectSql(budget: Long = 10000L): String =
    s"""WITH $qualityScoreCtes,
       |c AS (
       |  SELECT doc_id, n_tokens, quality_score,
       |    CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS cum_tokens
       |  FROM scored)
       |SELECT doc_id, n_tokens, quality_score, cum_tokens
       |FROM c WHERE cum_tokens <= $budget ORDER BY cum_tokens, doc_id""".stripMargin

  /** Q169: Pareto frontier (skyline) of the corpus on (quality ↑,
    * length ↓) — multi-objective data selection: the documents no other
    * document beats on BOTH axes, i.e. the efficient frontier a curation
    * pass picks from when quality and token cost trade off. A document
    * survives iff its token count is strictly below the minimum over
    * every strictly-preceding row of the (quality desc, tokens asc,
    * doc_id) order — which makes the 2-D skyline ONE exclusive
    * prefix-MIN, not a quadratic dominance join (duplicate (q, t) points
    * keep their min-doc_id representative).
    *
    * Scale shape: the prefix-MIN is the q144 two-phase distributed form
    * with MIN replacing SUM — the bucket-prefix idiom works for ANY
    * associative op: quality buckets (≤101), per-bucket minima ride the
    * driver, exclusive cross-bucket offsets broadcast back, the window
    * runs partitioned BY BUCKET. Provably equal to the oracle's global
    * window. All-integer comparisons; quality is the q27 raw double. */
  def qParetoFrontier(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val q = qualityScoreShared(t)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("bucket",
        least(floor(col("quality_score") * lit(100.0)), lit(100.0)).cast("int"))
    val mins = q.groupBy(col("bucket")).agg(min(col("n_tokens")).as("bmin"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    if (mins.isEmpty)
      return Tables.emptyFrame(spark, "doc_id" -> LongType,
        "n_tokens" -> LongType, "quality_score" -> DoubleType)
    var acc = Long.MaxValue
    val offsets = mins.sortBy(-_._1).map { case (b, m) =>
      val o = (b, acc); acc = math.min(acc, m); o
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("bucket", "offmin"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("quality_score").desc, col("n_tokens").asc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    q.join(offDf, Seq("bucket"))
      .withColumn("pm", least(
        coalesce(min(col("n_tokens")).over(w), lit(Long.MaxValue)), col("offmin")))
      .filter(col("n_tokens") < col("pm"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .orderBy(col("quality_score").desc, col("doc_id"))
  }

  /** q169 oracle: the same frontier via the naive single global window
    * (plans differ, results hash-equal — the q144 contract). */
  val qParetoFrontierSql: String =
    s"""WITH $qualityScoreCtes,
       |sky AS (
       |  SELECT doc_id, n_tokens, quality_score,
       |    MIN(n_tokens) OVER (
       |      ORDER BY quality_score DESC, n_tokens ASC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |  FROM scored)
       |SELECT doc_id, n_tokens, quality_score FROM sky
       |WHERE pm IS NULL OR n_tokens < pm
       |ORDER BY quality_score DESC, doc_id""".stripMargin

  /** Q181: GPT-style concat-and-chunk sequence packing (Brown et al.
    * 2020 §2.3 — training examples are the corpus concatenated in a fixed
    * document order and cut every `capacity` tokens, no padding): maps
    * every document's token span [start, start+n) onto its chunk range
    * and reports the packing layout per chunk — documents touching it,
    * documents STARTING in it, id range, and the exact token fill (full
    * `capacity` everywhere but the tail chunk). The operational
    * complement of q116: q116 prices padding waste under per-example
    * layouts; this is the layout that eliminates it.
    *
    * Scale shape: `start` is a global exclusive prefix sum over the
    * doc_id order — computed as the q144 two-phase bucket prefix
    * (doc_id-range buckets are value-monotone; per-bucket sums ride the
    * driver, offsets broadcast back, the window runs partitioned BY
    * BUCKET — no global sort). The chunk fan-out per document is
    * ⌈n/capacity⌉+1 rows, and the final aggregate shuffles by chunk_id.
    * All-integer arithmetic end to end — exact on both engines. */
  def qConcatChunks(t: Tables, capacity: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    // localCheckpoint: the tokenize-dominated scan feeds THREE consumers
    // (min/max job, per-bucket sums, final aggregate) — checkpoint the
    // narrow (doc_id, n) result once instead of re-tokenizing per action
    // (the round-5 idiom; measured 1.4 s → ~0.5 s at sf0.1)
    val base = t.fanout(t.documents)
      .select(col("doc_id"),
        size(text.tokenize(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .localCheckpoint()
    // bucket width from the id RANGE, not a fixed divisor: with arbitrary
    // (sparse) ids a fixed `div 64` yields O(n) buckets and the driver
    // fetch stops being bounded — range/256 caps the bucket table at
    // ≤257 rows for ANY id distribution (scalar-first, the qRecentWindow
    // precedent: one tiny min/max job, then a literal in the plan)
    val bounds = base.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (bounds.isNullAt(0))
      return Tables.emptyFrame(spark, "chunk_id" -> LongType,
        "n_docs" -> LongType, "n_starting" -> LongType,
        "first_doc" -> LongType, "last_doc" -> LongType,
        "fill_tokens" -> LongType)
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (mx - mn) / 256L + 1L)
    val d = base.withColumn("bucket", expr(s"(doc_id - $mn) div $width"))
    val sums = d.groupBy(col("bucket")).agg(sum(col("n")).as("btok"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val offsets = sums.sortBy(_._1).map { case (b, s) =>
      val o = (b, acc); acc += s; o
    }
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("bucket", "offset"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(offDf, Seq("bucket"))
      .withColumn("start", col("offset") + sum(col("n")).over(w) - col("n"))
      .withColumn("chunk_id",
        explode(sequence(expr(s"start div $capacity"),
          expr(s"(start + n - 1) div $capacity"))))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr(s"start div $capacity") === col("chunk_id"), 1L)
          .otherwise(0L)).as("n_starting"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(least(col("start") + col("n"), (col("chunk_id") + 1) * capacity)
          - greatest(col("start"), col("chunk_id") * capacity))
          .as("fill_tokens"))
      .orderBy(col("chunk_id"))
  }

  /** q181 oracle: the same layout via the naive global window (plans
    * differ, results hash-equal — the q144 contract). */
  def qConcatChunksSql(capacity: Long = 512L): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |         x -> len(x) > 0)) AS BIGINT) AS n
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n,
       |    CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS start
       |  FROM d WHERE n > 0),
       |e AS (
       |  SELECT doc_id, n, start,
       |    unnest(range(start // $capacity, (start + n - 1) // $capacity + 1)) AS chunk_id
       |  FROM p)
       |SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN start // $capacity = chunk_id THEN 1 ELSE 0 END) AS BIGINT) AS n_starting,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  CAST(SUM(least(start + n, (chunk_id + 1) * $capacity)
       |           - greatest(start, chunk_id * $capacity)) AS BIGINT) AS fill_tokens
       |FROM e GROUP BY chunk_id ORDER BY chunk_id""".stripMargin

  /** Q143: cross-document duplicated token spans — the fixed-width
    * relaxation of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": their suffix-array
    * finds MAXIMAL duplicated substrings; the distributed equivalent
    * fingerprints every `w`-token window and groups, trading maximality
    * for one linear pass — the same trade q92 makes at passage
    * granularity). Emits every span occurring in ≥ `minDocs` distinct
    * documents with its document and occurrence counts, keyed by a 16-hex
    * md5 prefix (the span text never shuffles — the q92 hash-at-scale
    * contract).
    *
    * Scale shape: one explode O(tokens·1), one hash aggregate keyed by
    * span hash (countDistinct's expand doubles rows — bounded ×2, no
    * sketch mixing); the HAVING prunes to the duplicated tail. At 100 TB
    * this is the span-level dedup candidate generator; the removal step
    * composes with q92's passage rewrite. */
  def qDupSpans(t: Tables, w: Int = 8, minDocs: Int = 2): DataFrame = {
    val toks = text.tokenize(col("text"))
    t.fanout(t.documents).select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(text.ngrams(col("toks"), w)).as("span"))
      .groupBy(substring(md5(col("span")), 1, 16).as("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("span_hash"))
  }

  def qDupSpansSql(w: Int = 8, minDocs: Int = 2): String =
    s"""WITH tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(toks) - $w + 1),
       |      i -> array_to_string(toks[i+1:i+$w], ' '))) AS span
       |  FROM tok WHERE len(toks) >= $w)
       |SELECT substr(md5(span), 1, 16) AS span_hash,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  COUNT(*)::BIGINT AS n_occ,
       |  MIN(doc_id) AS first_doc
       |FROM spans GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= $minDocs
       |ORDER BY span_hash""".stripMargin

  /** Q245: ExactSubstr REMOVAL — the composition of q143's span detector
    * with q92's document rebuild (Lee et al. 2022's actual dedup step,
    * not just its detector): every `w`-token window occurring in ≥ 2
    * distinct documents is removed from all but its FIRST occurrence
    * (first = min (doc_id, position) corpus-wide, the q92 keep-first
    * contract), where removal drops every token covered by a removed
    * window (windows overlap, so coverage is the union of [idx, idx+w)
    * intervals). Documents are rebuilt from the surviving tokens in
    * order; per document the gate emits the window/token counts, the
    * retained-fraction, and the rebuilt text.
    *
    * Conservation (spec-asserted): Σ n_dup_windows over documents =
    * Σ_{spans with n_docs≥2} (n_occ − 1) from q143's span table — the
    * removal consumes exactly the population the detector prices.
    *
    * Scale shape: one explode for spans (O(tokens)), one hash-partition
    * window on the 16-hex span hash for the keep-first rank (the q92
    * move — span text never shuffles beyond the hash), one per-hash
    * aggregate for the ≥2-doc predicate, a bounded ×w position explode
    * for coverage, and per-doc aggregates for the rebuild. All linear;
    * no pair joins anywhere — THIS is why span-level dedup (vs pairwise
    * near-dup) is the 100 TB workhorse. */
  def qSubstrRemoval(t: Tables, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
    // barriers (r13 opt): spans (tokenize + ngram + md5) fed both nd and
    // the rank join, and removable fed both dupWindows and removedPos —
    // 5 corpus scans -> 2 (spans rows are (long, int, 16-char hash);
    // removable is dup positions only).
    val spans = toks
      .select(col("doc_id"), posexplode(text.ngrams(col("toks"), w)).as(Seq("idx", "span")))
      .select(col("doc_id"), col("idx"), substring(md5(col("span")), 1, 16).as("h"))
      .localCheckpoint()
    val nd = spans.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
    val wnd = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
    val removable = spans.withColumn("rn", row_number().over(wnd))
      .join(nd, Seq("h"))
      .filter(col("nd") >= 2 && col("rn") > 1)
      .select(col("doc_id"), col("idx"))
      .localCheckpoint()
    val dupWindows = removable.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"))
    val removedPos = removable
      .select(col("doc_id"), explode(sequence(col("idx"), col("idx") + w - 1)).as("p"))
      .distinct()
      .withColumn("removed", lit(true))
    val tokens = toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
    tokens.join(removedPos, Seq("doc_id", "p"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(col("removed")).as("n_removed"),
        sort_array(collect_list(when(col("removed").isNull,
          struct(col("p"), col("tok"))))).as("kept"))
      .join(dupWindows, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        col("n_removed"),
        // exact-integer division; nullif guards an all-removed or empty
        // doc under ANSI (the q170 rule) — retention NULL means "nothing
        // to retain", distinct from 0.0
        ((col("n_tokens") - col("n_removed")).cast("double") /
          nullif(col("n_tokens"), lit(0L)).cast("double")).as("retention"),
        when(col("n_removed") === col("n_tokens"), lit(null).cast("string"))
          .otherwise(array_join(expr("transform(kept, x -> x.tok)"), " "))
          .as("dedup_text"))
      .orderBy(col("doc_id"))
  }

  /** q245 oracle: the q143 span CTEs + the keep-first rank, coverage via
    * a position unnest, rebuild via ordered string_agg (q92's pattern). */
  def qSubstrRemovalSql(w: Int = 8): String =
    s"""WITH tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id, CAST(i AS INT) AS idx,
       |    substr(md5(array_to_string(toks[i+1:i+$w], ' ')), 1, 16) AS h
       |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - $w + 1)) AS i
       |        FROM tok WHERE len(toks) >= $w)),
       |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS n FROM spans GROUP BY h),
       |removable AS (
       |  SELECT doc_id, idx FROM (
       |    SELECT s.doc_id, s.idx, nd.n,
       |      ROW_NUMBER() OVER (PARTITION BY s.h ORDER BY s.doc_id, s.idx) AS rn
       |    FROM spans s JOIN nd USING (h))
       |  WHERE n >= 2 AND rn > 1),
       |dw AS (SELECT doc_id, COUNT(*)::BIGINT AS n_dup_windows
       |       FROM removable GROUP BY doc_id),
       |rem AS (SELECT DISTINCT doc_id, CAST(unnest(range(idx, idx + $w)) AS INT) AS p
       |        FROM removable),
       |tokens AS (
       |  SELECT doc_id, CAST(i AS INT) AS p, toks[i+1] AS tok
       |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM tok)),
       |agg AS (
       |  SELECT t.doc_id,
       |    COUNT(*)::BIGINT AS n_tokens,
       |    CAST(COUNT(*) FILTER (WHERE rem.p IS NOT NULL) AS BIGINT) AS n_removed,
       |    string_agg(t.tok, ' ' ORDER BY t.p) FILTER (WHERE rem.p IS NULL) AS kept_text
       |  FROM tokens t LEFT JOIN rem ON rem.doc_id = t.doc_id AND rem.p = t.p
       |  GROUP BY t.doc_id)
       |SELECT a.doc_id, a.n_tokens,
       |  COALESCE(dw.n_dup_windows, 0) AS n_dup_windows,
       |  a.n_removed,
       |  CAST(a.n_tokens - a.n_removed AS DOUBLE)
       |    / CAST(nullif(a.n_tokens, 0) AS DOUBLE) AS retention,
       |  CASE WHEN a.n_removed = a.n_tokens THEN NULL ELSE a.kept_text END AS dedup_text
       |FROM agg a LEFT JOIN dw USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Q248: benchmark DECONTAMINATION audit — the eval-overlap check every
    * LLM training pipeline runs before shipping a corpus (the 13-gram
    * overlap methodology of GPT-3 appendix C / Lee et al. 2022 §5, at
    * this corpus's w=8 window): a deterministic ~1% slice (doc_id % 97 =
    * 0) stands in for the held-out benchmark suite; for every benchmark
    * document, count its `w`-token windows that appear ANYWHERE in the
    * training remainder, and flag it contaminated when ≥ half its
    * windows are hit (an all-integer predicate — no float threshold).
    * Differs from q172 (novelty): the overlap here is against a
    * DESIGNATED eval split, not global sharing — q141 keeps near-dups
    * from straddling splits, this audits what n-gram mass still leaks.
    *
    * Scale shape: one explode (O(tokens)); the train side reduces to
    * DISTINCT span hashes (span text never shuffles — 16-hex md5); the
    * audit is one co-partitioned LEFT SEMI-shaped join on the hash plus
    * a per-benchmark-doc aggregate. Benchmark side is ~1% of the
    * corpus, so the join probe is tiny; at 100 TB the distinct train
    * hashes shard by hash prefix and the benchmark probes broadcast or
    * bloom-filter per shard. */
  def qDecontamination(t: Tables, w: Int = 8, mod: Long = 97L): DataFrame = {
    val toks = text.tokenize(col("text"))
    val spans = t.fanout(t.documents)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(text.ngrams(col("toks"), w)).as("span"))
      .select(col("doc_id"), substring(md5(col("span")), 1, 16).as("h"))
    val trainHashes = spans.filter(col("doc_id") % mod =!= 0)
      .select(col("h")).distinct().withColumn("hit", lit(true))
    val benchSpans = spans.filter(col("doc_id") % mod === 0)
    val counts = benchSpans.join(trainHashes, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count(col("hit")).as("n_hit"))
    t.documents.filter(col("doc_id") % mod === 0)
      .select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        // raw division of exact ints; NULL for a short doc with no windows
        (col("n_hit").cast("double") /
          nullif(col("n_windows"), lit(0L)).cast("double")).as("contamination"),
        (coalesce(col("n_hit"), lit(0L)) * 2 >=
          coalesce(col("n_windows"), lit(0L)) &&
          coalesce(col("n_windows"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q248 oracle: same split predicate, distinct train hashes, left join
    * + per-doc integer counts. */
  def qDecontaminationSql(w: Int = 8, mod: Long = 97L): String =
    s"""WITH tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, substr(md5(span), 1, 16) AS h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(len(toks) - $w + 1),
       |        i -> array_to_string(toks[i+1:i+$w], ' '))) AS span
       |    FROM tok WHERE len(toks) >= $w)),
       |train AS (SELECT DISTINCT h FROM sp WHERE doc_id % $mod != 0),
       |bench AS (
       |  SELECT sp.doc_id, COUNT(*)::BIGINT AS n_windows,
       |    CAST(COUNT(*) FILTER (WHERE train.h IS NOT NULL) AS BIGINT) AS n_hit
       |  FROM sp LEFT JOIN train ON sp.h = train.h
       |  WHERE sp.doc_id % $mod = 0
       |  GROUP BY sp.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(b.n_windows, 0) AS n_windows,
       |  COALESCE(b.n_hit, 0) AS n_hit,
       |  CAST(b.n_hit AS DOUBLE) / CAST(nullif(b.n_windows, 0) AS DOUBLE)
       |    AS contamination,
       |  COALESCE(b.n_hit, 0) * 2 >= COALESCE(b.n_windows, 0)
       |    AND COALESCE(b.n_windows, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $mod = 0) d
       |LEFT JOIN bench b USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Q172: n-gram novelty score — the per-document memorization-risk
    * readout composing q143's span table (Lee et al. 2022: text whose
    * windows recur across documents is what models memorize): for every
    * document, the fraction of its `w`-token windows that appear in at
    * least one OTHER document (shared) vs nowhere else (novel). The
    * curation pass reads novelty directly as "how much of this document
    * is boilerplate the corpus already has".
    *
    * Scale shape: one explode + one per-hash aggregate (the q143 shape),
    * one co-partitioned join back on the span hash, one per-doc
    * aggregate — all linear in total tokens; span text never shuffles
    * (16-hex md5 keys). novelty = one IEEE division on exact BIGINTs,
    * emitted RAW. Shared-with-other-docs means n_docs ≥ 2 — a doc
    * repeating its OWN window stays novel (within-doc repetition is
    * q140's job). */
  def qNgramNovelty(t: Tables, w: Int = 8): DataFrame = {
    val toks = text.tokenize(col("text"))
    // NOTE r13: spans is referenced twice (per-hash aggregate + join back)
    // and a localCheckpoint barrier was A/B'd here — it LOSES (1.5 s -> 1.6
    // to 2.1 s warm at sf0.1): ~1M narrow rows whose tokenize+md5 kernel is
    // cheaper to recompute than to materialize (the r9 q34 class).
    val spans = t.fanout(t.documents).select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(text.ngrams(col("toks"), w)).as("span"))
      .select(col("doc_id"), substring(md5(col("span")), 1, 16).as("h"))
    val spanDocs = spans.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    spans.join(spanDocs, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty", lit(1.0) -
        col("n_shared").cast("double") / col("n_windows").cast("double"))
      .orderBy(col("doc_id"))
  }

  def qNgramNoveltySql(w: Int = 8): String =
    s"""WITH tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, substr(md5(span), 1, 16) AS h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(len(toks) - $w + 1),
       |        i -> array_to_string(toks[i+1:i+$w], ' '))) AS span
       |    FROM tok WHERE len(toks) >= $w)),
       |sd AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
       |       FROM sp GROUP BY h)
       |SELECT doc_id, COUNT(*)::BIGINT AS n_windows,
       |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  1.0 - CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM sp JOIN sd USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q140: within-document repetition filters (Rae et al. 2021 "Gopher",
    * table A1: fraction of characters in the most common 2/3/4-gram;
    * fraction of characters in duplicated 5..10-grams) — the repetition
    * gate every LLM-data pipeline runs between exact dedup and quality
    * scoring. This implementation uses the token-instance proxy (fraction
    * of n-gram INSTANCES, not characters — documented deviation: interval
    * -union character coverage is not expressible as one aggregate): per
    * (doc, n∈{2,3,5,10}) emits top_frac = max gram count / total grams,
    * dup_frac = instances of grams occurring ≥2 / total grams, and a
    * rule_pass at thresholds adapted to the synthetic corpus (top ≤ 0.05,
    * dup ≤ 0.10 — Gopher's char-based originals are 0.20/0.18/…).
    *
    * Scale shape: ONE explode of all four gram sizes (struct(n, gram) —
    * no per-n rescan) → two map-side-combinable hash aggregates keyed
    * (doc_id, n, gram) then (doc_id, n); work is O(tokens·|ns|), shuffle
    * is the gram-count aggregate — linear at 100 TB. Fractions are single
    * integer divisions → emitted RAW (per-row IEEE-identical). */
  def qRepetitionFilter(t: Tables, ns: Seq[Int] = Seq(2, 3, 5, 10),
      topThresh: Double = 0.05, dupThresh: Double = 0.10): DataFrame = {
    val toks = text.tokenize(col("text"))
    val grams = t.fanout(t.documents)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(flatten(array(ns.map(n =>
        transform(text.ngrams(col("toks"), n),
          g => struct(lit(n).as("n"), g.as("gram")))): _*))).as("ng"))
      .select(col("doc_id"), col("ng.n").as("n"), col("ng.gram").as("gram"))
    grams.groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("cnt")).as("m_grams"),
        max(col("cnt")).as("top_count"),
        coalesce(sum(when(col("cnt") >= 2, col("cnt"))), lit(0L)).as("dup_instances"))
      .select(col("doc_id"), col("n"), col("m_grams"), col("top_count"),
        col("dup_instances"),
        (col("top_count").cast("double") / col("m_grams").cast("double")).as("top_frac"),
        (col("dup_instances").cast("double") / col("m_grams").cast("double")).as("dup_frac"))
      .withColumn("rule_pass",
        col("top_frac") <= topThresh && col("dup_frac") <= dupThresh)
      .orderBy(col("doc_id"), col("n"))
  }

  /** q140 oracle: DuckDB's list slicing `toks[i+1:i+n]` is 1-based
    * inclusive — exactly Spark's slice(toks, i+1, n); range(len-n+1)
    * matches sequence(0, size-n) inclusive. */
  def qRepetitionFilterSql(ns: Seq[Int] = Seq(2, 3, 5, 10),
      topThresh: Double = 0.05, dupThresh: Double = 0.10): String = {
    val nsList = ns.mkString(", ")
    s"""WITH tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, n,
       |    unnest(list_transform(range(len(toks) - n + 1),
       |      i -> array_to_string(toks[i+1:i+n], ' '))) AS gram
       |  FROM (SELECT doc_id, unnest([$nsList]) AS n, toks FROM tok)
       |  WHERE len(toks) >= n),
       |c AS (SELECT doc_id, n, gram, COUNT(*)::BIGINT AS cnt FROM g GROUP BY doc_id, n, gram),
       |a AS (SELECT doc_id, n,
       |    CAST(SUM(cnt) AS BIGINT) AS m_grams,
       |    CAST(MAX(cnt) AS BIGINT) AS top_count,
       |    CAST(COALESCE(SUM(CASE WHEN cnt >= 2 THEN cnt END), 0) AS BIGINT) AS dup_instances
       |  FROM c GROUP BY doc_id, n)
       |SELECT doc_id, CAST(n AS INT) AS n, m_grams, top_count, dup_instances,
       |  CAST(top_count AS DOUBLE) / CAST(m_grams AS DOUBLE) AS top_frac,
       |  CAST(dup_instances AS DOUBLE) / CAST(m_grams AS DOUBLE) AS dup_frac,
       |  (CAST(top_count AS DOUBLE) / CAST(m_grams AS DOUBLE) <= $topThresh::DOUBLE
       |   AND CAST(dup_instances AS DOUBLE) / CAST(m_grams AS DOUBLE) <= $dupThresh::DOUBLE) AS rule_pass
       |FROM a ORDER BY doc_id, n""".stripMargin
  }

  /** Q139: fixed-round logistic-regression quality classifier trained by
    * full-batch gradient descent — the learned-quality-classifier step of a
    * training-data pipeline (fastText-style filtering, Joulin et al. 2017;
    * the GPT-3/CCNet quality-classifier pattern). The label DISTILLS the
    * hand-written q86 Gopher-rule gate (`keep` = AND of four rules) into a
    * linear model — exactly how production pipelines bootstrap a classifier
    * from heuristic labels. Features are the per-rule margins (1 − scaled
    * band distance for the two band rules; scaled ratio − 1 for the two
    * floor rules) plus the weakest-rule margin least(f1..f4), so the AND
    * label is near-linearly separable; trained accuracy reaches ~0.93-0.95
    * vs the ~0.81-0.83 majority baseline at all three SFs. Emits one row
    * per round r = 0..`rounds`: the weights AFTER r updates and training
    * accuracy under those weights.
    *
    * Determinism (the q119/q120/q132 fixed-round recipe): weights start at
    * 0; each round's gradient components are round(6)-ed aggregates
    * (aggregation-order floats); lr = 8 is a power of two so the update
    * w − 8·g is exact; every per-row feature is single IEEE ops (abs,
    * one division, ×2⁻ᵏ-free constants written identically both engines);
    * accuracy is an exact integer ratio with the prediction thresholded on
    * round(p, 6) (exp parity has the q123 ln precedent). The oracle
    * unrolls the rounds as chained CTEs.
    *
    * Scale shape: one linear scan per round over a cached 6-column feature
    * projection (tokenize runs once into the cache); gradients are
    * map-side-combinable aggregates; the weight vector rides the driver
    * between rounds (the k-means-centroid bounded-fetch contract, 6
    * doubles). At 100 TB each round is one pass — exactly how distributed
    * full-batch GD is shaped on a cluster. */
  /** The q139/q188/q198 shared feature frame: Gopher-rule label `y` + the
    * five per-rule margin features (see qLogitClassifier scaladoc), keyed
    * by doc_id (ignored by the gradient aggregates; q198 selects on it). */
  private def logitFeatures(t: Tables): DataFrame = {
    val toks = text.tokenize(col("text"))
    val counts = t.fanout(t.documents).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
        .cast("long").as("n_tok_chars"),
      size(filter(toks, tk => tk.isInCollection(text.stopwords)))
        .cast("long").as("n_stop"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    val den = greatest(col("n_tokens"), lit(1L)).cast("double")
    counts.select(
      col("doc_id"),
      when((col("n_tokens") >= 20 && col("n_tokens") <= 80) &&
        (col("n_tok_chars") >= col("n_tokens") * 4 &&
          col("n_tok_chars") <= col("n_tokens") * 5) &&
        (col("n_stop") * 20 >= col("n_tokens")) &&
        (col("n_distinct") * 2 >= col("n_tokens")), 1.0).otherwise(0.0).as("y"),
      (lit(1.0) - abs(col("n_tokens").cast("double") - lit(50.0)) / lit(30.0)).as("f1"),
      (lit(1.0) - abs(col("n_tok_chars").cast("double") / den - lit(4.5)) * lit(2.0)).as("f2"),
      (col("n_stop").cast("double") * lit(20.0) / den - lit(1.0)).as("f3"),
      (col("n_distinct").cast("double") * lit(2.0) / den - lit(1.0)).as("f4"))
      .withColumn("f5", least(col("f1"), col("f2"), col("f3"), col("f4")))
  }

  /** [[logitFeatures]] materialized once as a `graft.Shared` entry. ~16
    * consumers (q139/q188/q198/q200/q205/q206/q231/q241/q263/q286/q293/
    * q299/q301/q316/q318 + qCvFolds/qCohensKappa) previously each did
    * `.cache()` … `finally unpersist()` on the identical canonicalized
    * plan — and the unpersist DROPPED the shared CacheManager entry, so
    * every rider after the first re-ran the full corpus tokenize pass
    * (~15 redundant scans per bench; the r13 prewarm built an entry the
    * first timed rider then destroyed). One eager localCheckpoint per
    * (session, sfDir) now serves all of them; hits are bit-identical
    * (the frame is a deterministic projection), so every downstream
    * oracle is unaffected. Survives Bench's clearCache(), so prewarm's
    * rebuild is a no-op hit. */
  private def logitFeaturesShared(t: Tables): DataFrame =
    Shared(t, "logit_features")(logitFeatures(t).localCheckpoint())

  /** Registry name of the trained logistic weights (a `graft.Shared`
    * entry, like the fitted ANN indexes) for `logitTrain`: the GD
    * sequence is deterministic (round(6) gradient averages, exact
    * power-of-two lr), so a hit is bit-identical to a refit and every
    * downstream oracle (q188/q198/q200) stays hash-green. Shared, the
    * identical 16-round training runs once instead of once per
    * q139/q188/q198/q200 (64 redundant full-corpus scans per bench). */
  private def logitWeightsName(rounds: Int, lr: Double): String =
    s"logit_weights#$rounds#$lr"

  /** Cached front of [[logitTrain]]; whichever of q139/q188/q198/q200
    * runs first in a session pays the training scans, the rest score. */
  private def logitTrainCached(t: Tables, feats: DataFrame, rounds: Int,
      lr: Double): Option[Array[Double]] =
    Shared(t, logitWeightsName(rounds, lr))(logitTrain(feats, rounds, lr))

  /** Bench warm-structure hook (VERDICT r12 item 1). Forces, in a FIXED
    * order, every shared structure this module's timed queries ride:
    * the [[logitFeaturesShared]] session checkpoint plus the driver-side
    * weights/BPE/Dawid–Skene entries (all survive clearCache; forcing
    * them here makes a fresh session order-independent). All params are
    * the query defaults — (16, 8.0) logit, 8 BPE rounds, 5 DS rounds —
    * so the registry names match every consumer. Returns
    * (structure, seconds) for the bench stderr record. */
  private[graft] def prewarmShared(t: Tables): Seq[(String, Double)] = Seq(
    // logitFeaturesShared is an EAGER localCheckpoint: the call itself
    // materializes the session structure (a no-op hit when warm)
    Shared.timed("logit_features")(logitFeaturesShared(t)),
    Shared.timed("logit_weights")(logitTrainCached(t, logitFeaturesShared(t), 16, 8.0)),
    Shared.timed("quality_score")(qualityScoreShared(t)),
    Shared.timed("unigram_counts")(unigramCountsShared(t)),
    Shared.timed("bigram_counts")(bigramCountsShared(t)),
    Shared.timed("srcterm_counts")(sourceTermCountsShared(t)),
    Shared.timed("bpe_merges")(bpeMerges(t, 8)),
    Shared.timed("dawid_skene")(dawidSkeneCached(t, 5)))

  /** The trained-weight vector after `rounds` full-batch GD updates over
    * `feats` — the q139 gradient sequence verbatim (round(6) aggregates,
    * exact power-of-two lr updates). Returns None on an empty corpus. */
  private def logitTrain(feats: DataFrame, rounds: Int, lr: Double): Option[Array[Double]] = {
    val dims = 6
    var w = Array.fill(dims)(0.0)
    var r = 0
    while (r < rounds) {
      val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
        lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val err = p - col("y")
      val gradCols = round(avg(err), 6) +: (1 until dims).map(j =>
        round(avg(err * col(s"f$j")), 6))
      val row = feats.agg(gradCols.head, gradCols.tail: _*).collect()(0)
      if (row.isNullAt(0)) return None
      w = Array.tabulate(dims)(j => w(j) - lr * row.getDouble(j))
      r += 1
    }
    Some(w)
  }

  def qLogitClassifier(t: Tables, rounds: Int = 16, lr: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    val dims = 6 // bias + f1..f5
    var w = Array.fill(dims)(0.0)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Double, Double, Double, Double, Double, Long)]
    var r = 0
    var nonEmpty = true
    while (r <= rounds && nonEmpty) {
      val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
        lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val err = p - col("y")
      val gradCols = round(avg(err), 6) +: (1 until dims).map(j =>
        round(avg(err * col(s"f$j")), 6))
      val row = feats.agg(gradCols.head, gradCols.tail ++ Seq(
        sum(when((round(p, 6) > 0.5).cast("int") === col("y").cast("int"), 1L)
          .otherwise(0L)),
        count(lit(1))): _*).collect()(0)
      if (row.isNullAt(0)) nonEmpty = false
      else {
        val n = row.getLong(dims + 1)
        out += ((r.toLong, w(0), w(1), w(2), w(3), w(4), w(5),
          row.getLong(dims).toDouble / n.toDouble, n))
        if (r < rounds)
          w = Array.tabulate(dims)(j => w(j) - lr * row.getDouble(j))
        r += 1
      }
    }
    // Seed the shared weights entry: after the trace loop w is exactly
    // logitTrain's result (updates are applied only for r < rounds), so
    // a q139 run warms q188/q198/q200 regardless of execution order.
    Shared(t, logitWeightsName(rounds, lr))(if (out.nonEmpty) Some(w) else None)
    val names = Seq("round") ++ (0 until dims).map(j => s"w$j") ++ Seq("acc", "n")
    if (out.isEmpty)
      return graft.Tables.emptyFrame(spark, names.map(nm =>
        nm -> (if (nm == "round" || nm == "n") LongType: DataType
               else DoubleType)): _*)
    import spark.implicits._
    out.toSeq.toDF(names: _*).orderBy(col("round"))
  }

  /** q139 oracle: the rounds unrolled as chained CTEs (the qKmeansStepSql
    * pattern) — each pass CTE computes the six round(6) gradient averages
    * plus the exact correct-prediction count under the incoming weights;
    * each weights CTE applies w − lr·g. Feature/label expressions are
    * q86's parity pairs verbatim plus the margin rescalings. */
  /** The q139/q188 shared oracle feature CTEs (c/f0/f) — logitFeatures in
    * SQL, parity expressions verbatim. */
  private def logitFeatureCtes: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""c AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT) AS n_tok_chars,
       |    CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |  FROM (SELECT doc_id, text,
       |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |        FROM documents)),
       |f0 AS (
       |  SELECT doc_id, CASE WHEN (n_tokens >= 20 AND n_tokens <= 80)
       |      AND (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5)
       |      AND (n_stop * 20 >= n_tokens)
       |      AND (n_distinct * 2 >= n_tokens) THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y,
       |    1.0::DOUBLE - abs(CAST(n_tokens AS DOUBLE) - 50.0::DOUBLE) / 30.0::DOUBLE AS f1,
       |    1.0::DOUBLE - abs(CAST(n_tok_chars AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) - 4.5::DOUBLE) * 2.0::DOUBLE AS f2,
       |    CAST(n_stop AS DOUBLE) * 20.0::DOUBLE / CAST(greatest(n_tokens, 1) AS DOUBLE) - 1.0::DOUBLE AS f3,
       |    CAST(n_distinct AS DOUBLE) * 2.0::DOUBLE / CAST(greatest(n_tokens, 1) AS DOUBLE) - 1.0::DOUBLE AS f4
       |  FROM c),
       |f AS MATERIALIZED (SELECT doc_id, y, f1, f2, f3, f4, least(f1, f2, f3, f4) AS f5 FROM f0)""".stripMargin
  }

  def qLogitClassifierSql(rounds: Int = 16, lr: Double = 8.0): String = {
    val dims = 6
    def feat(j: Int): String = if (j == 0) "1.0::DOUBLE" else s"f$j"
    def zExpr: String =
      "w.w0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3 + w.w4 * f4 + w.w5 * f5"
    def passCte(name: String, wFrom: Option[String]): String = {
      val (z, from) = wFrom match {
        case Some(src) => (zExpr, s"FROM f, $src w")
        case None      => ("0.0::DOUBLE", "FROM f")
      }
      val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($z)))"
      val grads = (0 until dims).map { j =>
        val term = if (j == 0) s"$p - y" else s"($p - y) * ${feat(j)}"
        s"round(avg($term), 6) AS g$j"
      }.mkString(",\n    ")
      s"""$name AS MATERIALIZED (
         |  SELECT $grads,
         |    CAST(SUM(CASE WHEN (round($p, 6) > 0.5::DOUBLE)
         |                       = (y = 1.0::DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS correct,
         |    COUNT(*)::BIGINT AS n
         |  $from)""".stripMargin
    }
    def wCte(name: String, prevW: Option[String], pass: String): String = {
      val base = prevW match {
        case Some(pw) => (j: Int) => s"$pw.w$j - $lr::DOUBLE * $pass.g$j"
        case None     => (j: Int) => s"0.0::DOUBLE - $lr::DOUBLE * $pass.g$j"
      }
      val from = prevW.map(pw => s"FROM $pass, $pw").getOrElse(s"FROM $pass")
      val cols = (0 until dims).map(j => s"${base(j)} AS w$j").mkString(",\n    ")
      s"""$name AS MATERIALIZED (
         |  SELECT $cols
         |  $from)""".stripMargin
    }
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += logitFeatureCtes
    var prevW: Option[String] = None
    val rows = new scala.collection.mutable.ArrayBuffer[String]
    for (r <- 0 to rounds) {
      val pass = s"p$r"
      ctes += passCte(pass, prevW)
      val wRefs = (0 until dims).map { j =>
        prevW.map(pw => s"(SELECT w$j FROM $pw)").getOrElse("0.0::DOUBLE")
      }
      val wCols = (0 until dims).map(j => s"${wRefs(j)} AS w$j").mkString(", ")
      rows += s"""SELECT ${r}::BIGINT AS round, $wCols,
         |  CAST(correct AS DOUBLE) / CAST(n AS DOUBLE) AS acc, n FROM $pass""".stripMargin
      if (r < rounds) {
        val wName = s"w${r + 1}"
        ctes += wCte(wName, prevW, pass)
        prevW = Some(wName)
      }
    }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT * FROM (
       |${rows.mkString("\nUNION ALL\n")}
       |) ORDER BY round""".stripMargin
  }

  /** Q188: calibration audit (reliability diagram + ECE, Guo et al. ICML
    * 2017) of the q139 quality classifier — the audit a production
    * pipeline runs before using classifier scores as sampling weights or
    * keep/drop thresholds (a mis-calibrated filter silently skews the
    * training mix even at high accuracy). Re-trains the identical q139
    * weight sequence (shared logitTrain — same round(6) gradient
    * aggregates, so weights are bit-identical to q139's final row), bins
    * every document by predicted probability into `bins` equal-width bins,
    * and emits per bin: n, positives, mean confidence, empirical positive
    * rate, and the |sum_conf − positives| gap; ECE rides every row.
    *
    * Hash discipline: per-row confidence enters aggregation as BIGINT
    * micros — round(p·1e6) is INTEGER rounding, where Spark's BigDecimal
    * HALF_UP and DuckDB's std::round agree for positive doubles (the
    * round(x,6) .5-micro-product divergence of CLAUDE.md r8 is specific
    * to fractional scales: DuckDB's multiply-first path IS the x·1e6
    * product here). Bin assignment floor(p·10) and all derived ratios are
    * single fixed IEEE sequences; the ECE numerator Σ|sum_conf_micro −
    * n_pos·1e6| is an exact BIGINT sum (order-independent).
    *
    * Scale shape: training is q139's per-round linear scans; scoring +
    * binning is one more scan into a ≤`bins`-row aggregate; the ECE
    * window runs over that bounded aggregate (the post-limit tiny-frame
    * precedent), never over the corpus. */
  def qCalibration(t: Tables, rounds: Int = 16, lr: Double = 8.0, bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "bin" -> LongType, "n" -> LongType,
            "n_pos" -> LongType, "sum_conf_micro" -> LongType,
            "mean_conf" -> DoubleType, "frac_pos" -> DoubleType,
            "gap_micro" -> LongType, "ece" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          // Bin and conf_micro derive from ONE rounded quantity (the r9
          // exp-ulp invariant): floor on the raw sigmoid could bin a
          // p within 1 ulp of an edge differently cross-engine, so the
          // bin is pure-BIGINT math on the already-rounded micros.
          val binned = feats
            .select(col("y"),
              round(p * lit(1000000.0), 0).cast("long").as("conf_micro"))
            .select(col("y"), col("conf_micro"),
              expr(s"least((conf_micro * $bins) div 1000000, " +
                s"${(bins - 1).toLong}L)").as("bin"))
          val agg = binned.groupBy(col("bin")).agg(
            count(lit(1)).as("n"),
            sum(col("y").cast("long")).as("n_pos"),
            sum(col("conf_micro")).as("sum_conf_micro"))
          val all = Window.partitionBy()
          agg.select(col("bin"), col("n"), col("n_pos"), col("sum_conf_micro"),
              (col("sum_conf_micro").cast("double") / col("n").cast("double")
                / lit(1000000.0)).as("mean_conf"),
              (col("n_pos").cast("double") / col("n").cast("double")).as("frac_pos"),
              abs(col("sum_conf_micro") - col("n_pos") * lit(1000000L)).as("gap_micro"))
            .withColumn("ece",
              sum(col("gap_micro")).over(all).cast("double")
                / sum(col("n")).over(all).cast("double") / lit(1000000.0))
            .orderBy(col("bin"))
      }
    }
  }

  /** q188 oracle: the q139 weight chain (gradient-only pass CTEs) to the
    * final weights, then score/bin/aggregate with the same BIGINT-micro
    * arithmetic; ECE via window sums over the bounded bin table. */
  /** The z-score expression over the final-weights CTE alias `w`, shared
    * by every logit-family oracle. */
  private val logitZExpr: String =
    "w.w0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3 + w.w4 * f4 + w.w5 * f5"

  /** The shared logit-oracle scaffold (q188/q198/q200/q205): the feature
    * CTEs plus `rounds` unrolled (gradient-pass, weights) CTE pairs —
    * returns (cte list joined with ",\n", final-weights CTE name).
    * q139's builder stays inline: its pass CTEs also track per-round
    * accuracy. MATERIALIZED per the >5-round CTE-inlining invariant. */
  private def logitChainCtes(rounds: Int, lr: Double): (String, String) = {
    val dims = 6
    def passCte(name: String, wFrom: Option[String]): String = {
      val (z, from) = wFrom match {
        case Some(src) => (logitZExpr, s"FROM f, $src w")
        case None      => ("0.0::DOUBLE", "FROM f")
      }
      val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($z)))"
      val grads = (0 until dims).map { j =>
        val term = if (j == 0) s"$p - y" else s"($p - y) * f$j"
        s"round(avg($term), 6) AS g$j"
      }.mkString(",\n    ")
      s"""$name AS MATERIALIZED (
         |  SELECT $grads
         |  $from)""".stripMargin
    }
    def wCte(name: String, prevW: Option[String], pass: String): String = {
      val base = prevW match {
        case Some(pw) => (j: Int) => s"$pw.w$j - $lr::DOUBLE * $pass.g$j"
        case None     => (j: Int) => s"0.0::DOUBLE - $lr::DOUBLE * $pass.g$j"
      }
      val from = prevW.map(pw => s"FROM $pass, $pw").getOrElse(s"FROM $pass")
      val cols = (0 until dims).map(j => s"${base(j)} AS w$j").mkString(",\n    ")
      s"""$name AS MATERIALIZED (
         |  SELECT $cols
         |  $from)""".stripMargin
    }
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += logitFeatureCtes
    var prevW: Option[String] = None
    for (r <- 0 until rounds) {
      val pass = s"p$r"
      ctes += passCte(pass, prevW)
      val wName = s"w${r + 1}"
      ctes += wCte(wName, prevW, pass)
      prevW = Some(wName)
    }
    (ctes.mkString(",\n"), prevW.getOrElse("(SELECT 0.0 AS w0)"))
  }

  def qCalibrationSql(rounds: Int = 16, lr: Double = 8.0, bins: Int = 10): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |scored0 AS (
       |  SELECT y,
       |    CAST(round(($p) * 1000000.0::DOUBLE) AS BIGINT) AS conf_micro
       |  FROM f, $wFinal w),
       |scored AS (
       |  SELECT y, conf_micro,
       |    least((conf_micro * $bins) // 1000000, ${bins - 1}) AS bin
       |  FROM scored0),
       |agg AS (
       |  SELECT bin, COUNT(*)::BIGINT AS n,
       |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       |    CAST(SUM(conf_micro) AS BIGINT) AS sum_conf_micro
       |  FROM scored GROUP BY bin)
       |SELECT bin, n, n_pos, sum_conf_micro,
       |  CAST(sum_conf_micro AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0::DOUBLE AS mean_conf,
       |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
       |  abs(sum_conf_micro - n_pos * 1000000) AS gap_micro,
       |  CAST(SUM(abs(sum_conf_micro - n_pos * 1000000)) OVER () AS DOUBLE)
       |    / CAST(SUM(n) OVER () AS DOUBLE) / 1000000.0::DOUBLE AS ece
       |FROM agg ORDER BY bin""".stripMargin
  }

  /** Q193: water-filling token-budget allocation across sources — the
    * optimization form of domain mixing: given per-source token masses
    * w_i and a total budget B (here 30% of the corpus), find the uniform
    * cap λ with Σ min(w_i, λ) = B and allocate a_i = min(w_i, λ). This
    * DERIVES the cap q88 takes as a given: small sources keep everything,
    * the head is clipped to a common level (the classic fair-allocation /
    * power-allocation greedy, cf. Boyd & Vandenberghe §5.5).
    *
    * Exactness: sort sources ascending by (w, source); source i (with
    * r_i = N−i+1 sources remaining and prefix p_{i−1}) stays uncapped iff
    * w_i·r_i ≤ B − p_{i−1} — a pure-BIGINT test, and provably monotone
    * (once a source is capped all larger ones are), so one window pass
    * finds the breakpoint. λ = (B − Σ_uncapped w)/n_capped is the only
    * division, over exact integers — emitted raw.
    *
    * Scale shape: the corpus-scale work is the per-source token-mass
    * aggregate (one shuffle); the sort/prefix windows run on the
    * |sources| aggregate — the q144 two-phase discipline with the heavy
    * phase already reduced. */
  def qWaterFill(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mass = t.fanout(t.documents)
      .groupBy(col("source"))
      .agg(sum(size(text.tokenize(col("text"))).cast("long")).as("w"))
    val ord = Window.orderBy(col("w"), col("source"))
    val all = Window.partitionBy()
    val ranked = mass
      .withColumn("rn", row_number().over(ord))
      .withColumn("prefix", sum(col("w")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_src", count(lit(1)).over(all))
      .withColumn("w_total", sum(col("w")).over(all))
      .withColumn("budget", expr("(3 * w_total) div 10"))
      .withColumn("uncapped",
        col("w") * (col("n_src") - col("rn") + 1) <= col("budget") - (col("prefix") - col("w")))
    val solved = ranked
      .withColumn("sum_uncapped", sum(when(col("uncapped"), col("w")).otherwise(0L)).over(all))
      .withColumn("n_capped", sum(when(col("uncapped"), 0L).otherwise(1L)).over(all))
      .withColumn("lambda",
        when(col("n_capped") > 0,
          (col("budget") - col("sum_uncapped")).cast("double") / col("n_capped").cast("double")))
    solved.select(col("source"), col("w"), col("budget"), col("uncapped"),
        col("lambda"),
        when(col("uncapped"), col("w").cast("double")).otherwise(col("lambda")).as("alloc"))
      .orderBy(col("source"))
  }

  /** q193 oracle: the identical window program; the uncapped test and all
    * prefixes stay BIGINT, λ and alloc are single divisions. */
  val qWaterFillSql: String =
    """WITH mass AS (
      |  SELECT source,
      |    CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                             x -> len(x) > 0))) AS BIGINT) AS w
      |  FROM documents GROUP BY source),
      |ranked AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (ORDER BY w, source) AS rn,
      |    CAST(SUM(w) OVER (ORDER BY w, source
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n_src,
      |    CAST(SUM(w) OVER () AS BIGINT) AS w_total
      |  FROM mass),
      |flagged AS (
      |  SELECT *, (3 * w_total) // 10 AS budget,
      |    w * (n_src - rn + 1) <= (3 * w_total) // 10 - (prefix - w) AS uncapped
      |  FROM ranked),
      |solved AS (
      |  SELECT *,
      |    CAST(SUM(CASE WHEN uncapped THEN w ELSE 0 END) OVER () AS BIGINT) AS sum_uncapped,
      |    CAST(SUM(CASE WHEN uncapped THEN 0 ELSE 1 END) OVER () AS BIGINT) AS n_capped
      |  FROM flagged)
      |SELECT source, w, budget, uncapped,
      |  CASE WHEN n_capped > 0 THEN
      |    CAST(budget - sum_uncapped AS DOUBLE) / CAST(n_capped AS DOUBLE) END AS lambda,
      |  CASE WHEN uncapped THEN CAST(w AS DOUBLE)
      |       ELSE CAST(budget - sum_uncapped AS DOUBLE) / CAST(n_capped AS DOUBLE) END AS alloc
      |FROM solved ORDER BY source""".stripMargin

  /** Q198: active-learning uncertainty sampling (Lewis & Gale 1994 —
    * the label-acquisition step that closes the q86→q139→q188 classifier
    * loop): train the q139 weights, score every document, and select the
    * `k` docs the model is LEAST sure about (smallest |p − ½|) — the ones
    * whose human labels buy the most model improvement per annotation
    * dollar. Emits the selection with confidence, label-under-rule, and
    * the margin, plus each doc's selection rank.
    *
    * Determinism: selection orders by (round(|p−½|, 6), doc_id) — the
    * margin carries round(6) because its IEEE sequence includes libm exp
    * (the q194 1-ulp lesson: an UNROUNDED order key could flip the
    * k-boundary across engines), and the doc_id tie-break is total.
    *
    * Scale shape: scoring is one linear scan; selection is
    * orderBy+limit = TakeOrderedAndProject (per-partition top-k, no
    * global sort). */
  def qUncertaintySampling(t: Tables, rounds: Int = 16, lr: Double = 8.0,
      k: Int = 25): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "rank" -> LongType, "doc_id" -> LongType,
            "y" -> DoubleType, "conf" -> DoubleType, "margin" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val scored = feats.select(col("doc_id"), col("y"),
            round(p, 6).as("conf"),
            round(abs(p - lit(0.5)), 6).as("margin"))
          val picked = scored.orderBy(col("margin"), col("doc_id")).limit(k)
          // rank assigned AFTER the top-k: the window runs on ≤k rows
          picked.withColumn("rank", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("margin"), col("doc_id"))).cast("long"))
            .select(col("rank"), col("doc_id"), col("y"), col("conf"), col("margin"))
            .orderBy(col("rank"))
      }
    }
  }

  /** q198 oracle: the q188 weight chain + the same rounded-margin top-k. */
  def qUncertaintySamplingSql(rounds: Int = 16, lr: Double = 8.0, k: Int = 25): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |scored AS (
       |  SELECT doc_id, y,
       |    round($p, 6) AS conf,
       |    round(abs(($p) - 0.5::DOUBLE), 6) AS margin
       |  FROM f, $wFinal w),
       |picked AS (
       |  SELECT * FROM scored ORDER BY margin, doc_id LIMIT $k)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY margin, doc_id) AS BIGINT) AS rank,
       |  doc_id, y, conf, margin
       |FROM picked ORDER BY rank""".stripMargin
  }

  /** Q200: ROC-AUC of the quality classifier (Mann–Whitney form:
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻), Hanley & McNeil 1982) — the
    * ranking-quality eval that completes the classifier suite: q139
    * trains, q188 checks calibration, q198 picks labels, q200 scores how
    * well the model ORDERS documents regardless of threshold.
    *
    * Fully integer-exact — the rare float-free ML metric: scores are the
    * round(6) confidences (ties therefore well-defined), average ranks
    * for tie groups are computed in HALF-UNITS (2·avg_rank = 2·prefix +
    * cnt + 1, a BIGINT), so the positive rank sum and the AUC numerator
    * rank_sum2 − n⁺(n⁺+1) are exact integers into ONE division. Gini =
    * 2·AUC − 1 rides along.
    *
    * Scale shape: one aggregate per distinct score (map-side
    * combinable), ranks over score groups via the q108/q194 bucket
    * prefix (score is on the 1e-6 grid — percent buckets, offsets are a
    * bounded ≤101-row driver fetch), one final aggregate. No
    * single-partition sort at any size. */
  def qRocAuc(t: Tables, rounds: Int = 16, lr: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    import spark.implicits._
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "n_pos" -> LongType, "n_neg" -> LongType,
            "rank_sum2" -> LongType, "auc" -> DoubleType, "gini" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val groups = feats
            .select(round(p, 6).as("conf"), col("y"))
            .groupBy(col("conf"))
            .agg(count(lit(1)).as("cnt"), sum(col("y").cast("long")).as("n_pos_g"))
          val withB = groups.withColumn("bkt",
            least(floor(col("conf") * lit(100.0)), lit(99.0)).cast("int"))
          // per-bucket rank offsets: Σcnt of all LOWER buckets — a bounded
          // ≤100-row fetch (the q108 idiom); within-bucket prefix by window
          val offsets = {
            val cnts = withB.groupBy(col("bkt")).agg(sum(col("cnt")).as("c"))
              .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
            var acc = 0L
            cnts.map { case (b, c) => val o = (b, acc); acc += c; o }.toSeq
          }
          val offDf = broadcast(offsets.toDF("bkt", "off"))
          val wB = Window.partitionBy(col("bkt")).orderBy(col("conf"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val ranked = withB.join(offDf, Seq("bkt"))
            .withColumn("prefix",
              col("off") + coalesce(sum(col("cnt")).over(wB), lit(0L)))
            // 2·avg_rank of the tie group, exactly, in BIGINT
            .withColumn("avg2", lit(2L) * col("prefix") + col("cnt") + lit(1L))
          ranked.agg(
              sum(col("n_pos_g")).as("n_pos"),
              sum(col("cnt") - col("n_pos_g")).as("n_neg"),
              sum(col("n_pos_g") * col("avg2")).as("rank_sum2"))
            .select(col("n_pos"), col("n_neg"), col("rank_sum2"),
              when(col("n_pos") > 0 && col("n_neg") > 0,
                (col("rank_sum2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
                  / (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
            .withColumn("gini", col("auc") * 2.0 - 1.0)
      }
    }
  }

  /** q200 oracle: the weight chain + plain score-group windows (DuckDB
    * replays the bucket-prefix rank as one ordered window). */
  def qRocAucSql(rounds: Int = 16, lr: Double = 8.0): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |groups_ AS (
       |  SELECT round($p, 6) AS conf, COUNT(*)::BIGINT AS cnt,
       |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos_g
       |  FROM f, $wFinal w GROUP BY 1),
       |ranked AS (
       |  SELECT *,
       |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY conf
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
       |  FROM groups_),
       |agg AS (
       |  SELECT CAST(SUM(n_pos_g) AS BIGINT) AS n_pos,
       |    CAST(SUM(cnt - n_pos_g) AS BIGINT) AS n_neg,
       |    CAST(SUM(n_pos_g * (2 * prefix + cnt + 1)) AS BIGINT) AS rank_sum2
       |  FROM ranked)
       |SELECT n_pos, n_neg, rank_sum2,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    CAST(rank_sum2 - n_pos * (n_pos + 1) AS DOUBLE)
       |      / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc,
       |  (CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    CAST(rank_sum2 - n_pos * (n_pos + 1) AS DOUBLE)
       |      / CAST(2 * n_pos * n_neg AS DOUBLE) END) * 2.0::DOUBLE - 1.0::DOUBLE AS gini
       |FROM agg""".stripMargin
  }

  /** Q135: one BPE-training iteration's merge-pair count (Sennrich et al.
    * 2016, "Neural Machine Translation of Rare Words with Subword Units",
    * algorithm 1 step: count adjacent symbol pairs over the word-frequency
    * table, weighted by word frequency). The initial-symbols round is fully
    * declarative — a symbol is a character, a pair is substring(term,i,2),
    * plus the (last-char, </w>) end-of-word pair of the published
    * formulation. Emits the top merge candidates with a total order.
    *
    * Scale shape: the pair stage runs on the WORD-FREQUENCY table, not the
    * corpus — |vocab| rows regardless of corpus size (the reason BPE
    * training scales at all) — so the explode is O(vocab·word_len) and the
    * pair aggregate is map-side combinable; the only corpus-sized work is
    * the token count, one shuffle. Top-k via orderBy+limit plans
    * TakeOrderedAndProject (no global sort). */
  def qBpePairs(t: Tables, topK: Int = 50): DataFrame = {
    val wf = t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("term"))
      .filter(length(col("term")) >= 2)
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
    val inner = wf
      .withColumn("i", explode(sequence(lit(1), length(col("term")) - 1)))
      .select(expr("substring(term, i, 2)").as("pair"), col("f"))
    val endOfWord = wf.select(
      concat(expr("substring(term, length(term), 1)"), lit("</w>")).as("pair"),
      col("f"))
    inner.union(endOfWord)
      .groupBy(col("pair")).agg(sum(col("f")).as("total"))
      .orderBy(col("total").desc, col("pair"))
      .limit(topK)
  }

  def qBpePairsSql(topK: Int = 50): String =
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |         x -> len(x) > 0)) AS term
       |  FROM documents),
       |wf AS (
       |  SELECT term, COUNT(*)::BIGINT AS f FROM toks
       |  WHERE len(term) >= 2 GROUP BY term),
       |inner_pairs AS (
       |  SELECT substr(term, i, 2) AS pair, f
       |  FROM (SELECT term, f,
       |          unnest(generate_series(1, len(term) - 1)) AS i FROM wf)),
       |eow_pairs AS (
       |  SELECT substr(term, len(term), 1) || '</w>' AS pair, f FROM wf)
       |SELECT pair, CAST(SUM(f) AS BIGINT) AS total
       |FROM (SELECT * FROM inner_pairs UNION ALL SELECT * FROM eow_pairs)
       |GROUP BY pair ORDER BY total DESC, pair LIMIT $topK""".stripMargin

  /** Q244: multi-round BPE-merge TRAINER (Sennrich et al. 2016 algorithm
    * 1, the full loop q135 computes one step of): K chained merge rounds
    * over the word-frequency table — per round, count adjacent symbol
    * pairs weighted by word frequency, pick the best merge (max total,
    * ties by pair ascending — a total order), apply it to every word's
    * symbol sequence, and re-count. Emits the learned merge table
    * (round, pair, merged symbol, pair count at merge time) — the
    * artifact a tokenizer-prep pipeline ships.
    *
    * Merge application = ONE leftmost non-overlapping pass of
    * space-padded string replace (' a b ' → ' ab '), identical in Spark
    * (functions.replace) and DuckDB (replace). Documented deviation from
    * the reference implementation's lookahead regex: on 3+ consecutive
    * repeats of the SAME pair the boundary-consuming scan merges every
    * other occurrence ("a a a a" → "aa a a" in the pass, not "aa aa") —
    * still deterministic, still a valid BPE variant, and exactly
    * replayable cross-engine (RE2 has no lookahead, so the reference
    * regex is NOT replayable in DuckDB).
    *
    * Scale shape (the reason BPE training scales): only the initial
    * word-frequency aggregate is corpus-sized (one shuffle); every round
    * after runs on the |vocab|-bounded table — pair explode
    * O(vocab·word_len), one map-side-combinable aggregate, a 1-row
    * TakeOrdered for the argmax, and a scan-stage replace. The per-round
    * best-pair fetch is a bounded 1-row collect (the Lloyd-centroid
    * contract); localCheckpoint bounds lineage AND the optimizer tree
    * across rounds (the q132/q139 iterative-model rule).
    *
    * The training runs once per (session, sfDir, rounds), a `graft.Shared`
    * entry: the loop is deterministic, so hits are bit-identical and hash
    * gates are unaffected; q244 (the merge table) and q247 (the encoder)
    * share one training. */
  private def bpeMerges(t: Tables, rounds: Int): Seq[(Int, String, String, Long)] =
    Shared(t, s"bpe_merges#$rounds") {
      var wf = t.fanout(t.documents)
        .select(explode(text.tokenize(col("text"))).as("term"))
        .filter(length(col("term")) >= 2)
        .groupBy(col("term")).agg(count(lit(1)).as("f"))
        .select(col("f"),
          concat(regexp_replace(col("term"), "(.)", "$1 "), lit("</w>")).as("syms"))
        .localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to rounds) {
        val best = wf.select(col("f"), split(col("syms"), " ").as("s"))
          .filter(size(col("s")) >= 2) // a fully-merged word has no pairs
          .withColumn("i", explode(sequence(lit(0), size(col("s")) - 2)))
          .select(concat(element_at(col("s"), col("i") + 1), lit(" "),
            element_at(col("s"), col("i") + 2)).as("pair"), col("f"))
          .groupBy(col("pair")).agg(sum(col("f")).as("total"))
          .orderBy(col("total").desc, col("pair")).limit(1)
          .head()
        val (pair, total) = (best.getString(0), best.getLong(1))
        val merged = pair.replace(" ", "")
        merges += ((r, pair, merged, total))
        wf = wf.select(col("f"),
          trim(replace(concat(lit(" "), col("syms"), lit(" ")),
            lit(s" $pair "), lit(s" $merged "))).as("syms"))
          .localCheckpoint()
      }
      merges.toSeq
    }

  def qBpeTrainer(t: Tables, rounds: Int = 8): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    bpeMerges(t, rounds).toDF("round", "pair", "merged", "total")
      .select(col("round").cast("int").as("round"), col("pair"),
        col("merged"), col("total"))
      .orderBy(col("round"))
  }

  /** Q247: BPE ENCODING with the q244-trained merges — the tokenizer
    * APPLY step that closes the prep story (q24 counting → q135 pair
    * counts → q244 trained merges → encode): every distinct corpus token
    * is symbolized (chars + </w>) and the K learned merges are applied
    * in training order (the same single-pass padded replace — greedy
    * merge-order encoding equals the training-end symbolization for
    * in-vocab words, and out-of-vocab-for-training 1-char tokens get the
    * same replay, so e.g. a learned (e,</w>) merge compresses the word
    * "e" too). Per document: token count, encoded symbol count, chars
    * per symbol (the budget-accounting statistic a 100 TB pipeline
    * prices corpora with).
    *
    * Scale shape: the merge chain runs on the DISTINCT-token table
    * (vocab-bounded, K scan-stage replaces — no shuffle); the corpus
    * pays one explode + one co-partitioned join on the term + one
    * per-doc aggregate. The training itself is the cached q244 loop —
    * one fetch per (session, sfDir, rounds). */
  /** The distinct-token vocabulary run through the trained merge chain —
    * (term, syms) with syms the space-separated encoded symbols ending in
    * the `</w>` marker. Shared by q247 (symbol counts) and q262 (census +
    * round-trip audit); vocab-bounded, K scan-stage replaces. */
  private def bpeEncodedVocab(t: Tables, rounds: Int): DataFrame = {
    val merges = bpeMerges(t, rounds)
    val vocab0 = t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("term"))
      .select(col("term")).distinct()
      .withColumn("syms",
        concat(regexp_replace(col("term"), "(.)", "$1 "), lit("</w>")))
    merges.foldLeft(vocab0) { case (v, (_, pair, merged, _)) =>
      v.withColumn("syms",
        trim(replace(concat(lit(" "), col("syms"), lit(" ")),
          lit(s" $pair "), lit(s" $merged "))))
    }
  }

  def qBpeEncode(t: Tables, rounds: Int = 8): DataFrame = {
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), col("n_chars"),
        explode(text.tokenize(col("text"))).as("term"))
    val encoded = bpeEncodedVocab(t, rounds)
      .select(col("term"), size(split(col("syms"), " ")).cast("long").as("n_syms"))
    toks.join(encoded, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_syms")).as("n_symbols"),
        first(col("n_chars")).as("nc"))
      .select(col("doc_id"), col("n_tokens"), col("n_symbols"),
        // one IEEE division of exact integers — raw (q27 discipline);
        // every doc with a token has n_symbols ≥ 1
        (col("nc").cast("double") / col("n_symbols").cast("double"))
          .as("chars_per_symbol"))
      .orderBy(col("doc_id"))
  }

  /** The distinct-vocab encode chain ev0..evK (the SQL face of
    * [[bpeEncodedVocab]]): each round's 1-row best merge applied via
    * scalar subqueries against the training chain's b$r CTEs. Shared by
    * the q247 and q262 oracles; must be composed after [[bpeChainCtes]]. */
  private def bpeEvCtes(rounds: Int): String = {
    val evCtes = (1 to rounds).map { r =>
      s"""ev$r AS MATERIALIZED (
         |  SELECT term,
         |    trim(replace(' ' || syms || ' ',
         |      (SELECT ' ' || pair || ' ' FROM b$r),
         |      (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM b$r))) AS syms
         |  FROM ev${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""ev0 AS MATERIALIZED (
       |  SELECT DISTINCT term,
       |    regexp_replace(term, '(.)', '\\1 ', 'g') || '</w>' AS syms
       |  FROM toks),
       |$evCtes""".stripMargin
  }

  /** q247 oracle: the q244 training chain (shared CTE text) + the
    * distinct-vocab encode chain, joined back to the corpus tokens per
    * document. */
  def qBpeEncodeSql(rounds: Int = 8): String = {
    s"""WITH ${bpeChainCtes(rounds)},
       |${bpeEvCtes(rounds)},
       |enc AS (SELECT term,
       |  CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_syms FROM ev$rounds),
       |dt AS (
       |  SELECT doc_id, n_chars,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |           x -> len(x) > 0)) AS term
       |  FROM documents)
       |SELECT dt.doc_id,
       |  COUNT(*)::BIGINT AS n_tokens,
       |  CAST(SUM(enc.n_syms) AS BIGINT) AS n_symbols,
       |  CAST(ANY_VALUE(dt.n_chars) AS DOUBLE) / CAST(SUM(enc.n_syms) AS DOUBLE)
       |    AS chars_per_symbol
       |FROM dt JOIN enc USING (term)
       |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin
  }

  /** Q255: tokenizer fertility audit per source — the per-SOURCE rollup of
    * q247's per-doc encode: symbols-per-token (fertility) and
    * chars-per-symbol (compression) by corpus slice. THE go/no-go check
    * when a tokenizer trained on one mix meets another source (fertility
    * spikes = cost blowup and degraded modelling; cf. the multilingual
    * fertility analyses of mBERT/XLM-R and the GPT-NeoX/BLOOM tokenizer
    * reports). Same trained-merge cache as q244/q247 (one deterministic
    * fit per session); all sums exact BIGINTs, ratios one raw IEEE
    * division each.
    *
    * Scale: the encode is q247's linear explode + vocab-bounded merge
    * chain; this adds one |sources|-row aggregate. */
  def qBpeFertility(t: Tables, rounds: Int = 8): DataFrame =
    qBpeEncode(t, rounds)
      .join(t.documents.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_symbols")).as("n_symbols"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_symbols"),
        (col("n_symbols").cast("double") / col("n_tokens").cast("double"))
          .as("symbols_per_token"),
        (col("n_chars").cast("double") / col("n_symbols").cast("double"))
          .as("chars_per_symbol"))
      .orderBy(col("source"))

  /** q255 oracle: the q247 encode query as a derived table (its own WITH
    * chain — no outer CTEs to collide with), joined to documents and
    * rolled up by source. */
  def qBpeFertilitySql(rounds: Int = 8): String =
    s"""SELECT d.source, COUNT(*)::BIGINT AS n_docs,
      |  CAST(SUM(e.n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(SUM(e.n_symbols) AS BIGINT) AS n_symbols,
      |  CAST(SUM(e.n_symbols) AS DOUBLE)
      |    / CAST(SUM(e.n_tokens) AS DOUBLE) AS symbols_per_token,
      |  CAST(SUM(d.n_chars) AS DOUBLE) / CAST(SUM(e.n_symbols) AS DOUBLE)
      |    AS chars_per_symbol
      |FROM (${qBpeEncodeSql(rounds)}) e
      |JOIN documents d USING (doc_id)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Q262: BPE symbol-vocabulary CENSUS + decode round-trip audit — the
    * post-training sanity gate a tokenizer-prep pipeline ships alongside
    * its merge table: one row per symbol the trained encoder actually
    * emits, with its character mass (marker stripped), whether it is a
    * learned-merge product, how many vocabulary-term positions use it,
    * its corpus-frequency-weighted occurrence count, and the lossless-
    * decode property (symbols re-concatenated equal term + '</w>')
    * asserted over every term that uses the symbol. A census like this is
    * what catches a corrupted merge table before a 100 TB encode run:
    * any lost/duplicated character shows up as a FALSE `all_roundtrip`
    * or a shifted `corpus_occ` mass.
    *
    * Scale shape: the encode chain is the shared vocab-bounded
    * [[bpeEncodedVocab]] (K scan-stage replaces, no shuffle); the corpus
    * pays one token-frequency aggregate; the census itself is one
    * explode + one aggregate over the vocab-bounded table. `is_merge`
    * comes from the cached ≤K-row merge table (a bounded literal lookup,
    * the Lloyd-centroid contract). All columns exact (strings, BIGINTs,
    * booleans) — no float discipline needed. */
  def qBpeRoundtrip(t: Tables, rounds: Int = 8): DataFrame = {
    val mergedSyms = bpeMerges(t, rounds).map(_._3)
    val tf = t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
    val enc = bpeEncodedVocab(t, rounds)
      .withColumn("rt",
        replace(col("syms"), lit(" "), lit("")) === concat(col("term"), lit("</w>")))
    enc.join(tf, Seq("term"))
      .select(col("f"), col("rt"), explode(split(col("syms"), " ")).as("symbol"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_term_uses"),
        sum(col("f")).as("corpus_occ"),
        bool_and(col("rt")).as("all_roundtrip"))
      .select(col("symbol"),
        length(replace(col("symbol"), lit("</w>"), lit(""))).cast("long").as("sym_chars"),
        col("symbol").isin(mergedSyms: _*).as("is_merge"),
        col("n_term_uses"), col("corpus_occ"), col("all_roundtrip"))
      .orderBy(col("symbol"))
  }

  /** q262 oracle: the training chain + encode chain (shared CTE text), a
    * token-frequency CTE, the merge products derived independently from
    * the b$r CTEs, and one census aggregate. */
  def qBpeRoundtripSql(rounds: Int = 8): String = {
    val mt = (1 to rounds)
      .map(r => s"SELECT replace(pair, ' ', '') AS m FROM b$r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${bpeChainCtes(rounds)},
       |${bpeEvCtes(rounds)},
       |tf AS MATERIALIZED (
       |  SELECT term, COUNT(*)::BIGINT AS f FROM toks GROUP BY term),
       |mt AS (
       |  $mt),
       |sy AS (
       |  SELECT unnest(string_split(e.syms, ' ')) AS symbol, tf.f,
       |    (replace(e.syms, ' ', '') = e.term || '</w>') AS rt
       |  FROM ev$rounds e JOIN tf USING (term))
       |SELECT symbol,
       |  CAST(len(replace(symbol, '</w>', '')) AS BIGINT) AS sym_chars,
       |  symbol IN (SELECT m FROM mt) AS is_merge,
       |  COUNT(*)::BIGINT AS n_term_uses,
       |  CAST(SUM(f) AS BIGINT) AS corpus_occ,
       |  bool_and(rt) AS all_roundtrip
       |FROM sy
       |GROUP BY symbol ORDER BY symbol""".stripMargin
  }

  /** q244 oracle: the q135 word-frequency base + K chained MATERIALIZED
    * per-round CTE triples (pairs → 1-row best → rewritten vocab), best
    * pair applied via the same padded-space replace, merges unioned at
    * the end (the q139/q179 chained-CTE replay shape). */
  /** The q244 training CTE chain (toks → w0 word-freq symbolization →
    * per-round p/b/w triples), shared by the q244 merge-table oracle and
    * the q247 encoder oracle. */
  private def bpeChainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT s[i+1] || ' ' || s[i+2] AS pair, f
         |  FROM (SELECT string_split(syms, ' ') AS s, f FROM w${r - 1}),
         |       unnest(range(len(s) - 1)) AS t(i)),
         |b$r AS MATERIALIZED (
         |  SELECT pair, CAST(SUM(f) AS BIGINT) AS total
         |  FROM p$r GROUP BY pair ORDER BY total DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT f,
         |    trim(replace(' ' || syms || ' ',
         |      (SELECT ' ' || pair || ' ' FROM b$r),
         |      (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM b$r))) AS syms
         |  FROM w${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""toks AS MATERIALIZED (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |         x -> len(x) > 0)) AS term
       |  FROM documents),
       |w0 AS MATERIALIZED (
       |  SELECT COUNT(*)::BIGINT AS f,
       |    regexp_replace(term, '(.)', '\\1 ', 'g') || '</w>' AS syms
       |  FROM toks WHERE len(term) >= 2 GROUP BY term),
       |$roundCtes""".stripMargin
  }

  def qBpeTrainerSql(rounds: Int = 8): String = {
    val out = (1 to rounds).map(r =>
      s"SELECT $r AS round, pair, replace(pair, ' ', '') AS merged, total FROM b$r")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${bpeChainCtes(rounds)}
       |SELECT CAST(round AS INT) AS round, pair, merged, total FROM (
       |  $out)
       |ORDER BY round""".stripMargin
  }

  /** Q136: DSIR importance-resampling scores (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") — the
    * data-selection step that picks raw-corpus documents resembling a
    * target domain. Features are hashed uni+bigrams (md5 → first 4 bytes
    * mod `buckets`, the q125 integer-hash pattern — exactly replayable in
    * DuckDB via the '0x' cast); the target bag-of-words model here is the
    * English slice (`lang = 'en'`), the raw model the whole corpus, both
    * add-alpha smoothed. Per document: log importance weight
    * logw = Σ_b count[b]·(ln p_target[b] − ln p_raw[b]), round(6) (bucket
    * accumulation order is engine-dependent); `selected` = logw > 0 (doc
    * looks more target- than raw-like), a threshold that needs no global
    * rank.
    *
    * Scale shape: the two n-gram language models are ONE aggregate each,
    * collapsing the corpus to ≤`buckets` rows; their totals come from
    * windows over that tiny table (never a 1-row-aggregate scalar join —
    * the q114 rule) and the per-doc scoring join broadcasts the
    * `buckets`-row model. Everything else is map-side combinable. */
  def qDsirScores(t: Tables, buckets: Int = 256): DataFrame = {
    val B = buckets
    val tk = text.tokenize(col("text"))
    // One tokenize+md5 pass: Catalyst shares no common subtrees, so deriving
    // raw/tgt/feat directly from the exploded gram stream evaluated the
    // expensive scan THREE times (r13 opt: 4.0 s -> the barrier'd compact
    // (doc, lang, bucket, count) table is ~1M rows and every consumer is an
    // integer re-aggregation of it; q33 barrier rule: kernel cost x rows >>
    // row bytes here).
    val perDoc = t.fanout(t.documents)
      .select(col("doc_id"), col("lang"),
        explode(concat(tk, text.ngrams(tk, 2))).as("g"))
      .withColumn("b",
        pmod(conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"), lit(B.toLong)))
      .groupBy(col("doc_id"), col("lang"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val raw = perDoc.groupBy(col("b")).agg(sum(col("c")).as("r"))
    val tgt = perDoc.filter(col("lang") === "en")
      .groupBy(col("b")).agg(sum(col("c")).as("tg0"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val alphaB = lit(0.01) * lit(B.toDouble)
    val model = raw.join(tgt, Seq("b"), "left")
      .withColumn("tg", coalesce(col("tg0"), lit(0L)))
      .withColumn("rt", sum(col("r")).over(w))
      .withColumn("tt", sum(col("tg")).over(w))
      .select(col("b"), round(
        log((col("tg").cast("double") + lit(0.01)) /
            (col("tt").cast("double") + alphaB)) -
        log((col("r").cast("double") + lit(0.01)) /
            (col("rt").cast("double") + alphaB)), 6).as("lr"))
    perDoc.groupBy(col("doc_id"), col("b")).agg(sum(col("c")).as("c"))
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        round(sum(col("c").cast("double") * col("lr")), 6).as("logw"))
      .withColumn("selected", col("logw") > lit(0.0))
      .orderBy(col("doc_id"))
  }

  def qDsirScoresSql(buckets: Int = 256): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |      x -> len(x) > 0) AS tk
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % $buckets AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(tk || [list_aggregate(tk[i:i+1], 'string_agg', ' ')
       |                        FOR i IN range(1, len(tk))]) AS g
       |        FROM toks)),
       |raw AS (SELECT b, COUNT(*)::BIGINT AS r FROM grams GROUP BY b),
       |tgt AS (SELECT b, COUNT(*)::BIGINT AS tg FROM grams
       |        WHERE lang = 'en' GROUP BY b),
       |model AS (
       |  SELECT b, round(
       |    ln((CAST(tg AS DOUBLE) + 0.01) / (CAST(tt AS DOUBLE) + 0.01 * ${buckets}.0))
       |    - ln((CAST(r AS DOUBLE) + 0.01) / (CAST(rt AS DOUBLE) + 0.01 * ${buckets}.0)),
       |    6) AS lr
       |  FROM (SELECT raw.b, raw.r, COALESCE(tgt.tg, 0) AS tg,
       |          SUM(raw.r) OVER () AS rt,
       |          SUM(COALESCE(tgt.tg, 0)) OVER () AS tt
       |        FROM raw LEFT JOIN tgt USING (b))),
       |feat AS (
       |  SELECT doc_id, b, COUNT(*)::BIGINT AS c FROM grams GROUP BY doc_id, b)
       |SELECT feat.doc_id,
       |  CAST(SUM(feat.c) AS BIGINT) AS n_grams,
       |  round(SUM(CAST(feat.c AS DOUBLE) * model.lr), 6) AS logw,
       |  round(SUM(CAST(feat.c AS DOUBLE) * model.lr), 6) > 0.0 AS selected
       |FROM feat JOIN model USING (b)
       |GROUP BY feat.doc_id ORDER BY feat.doc_id""".stripMargin

  /** Q152: bigram-LM perplexity scoring — the CCNet/KenLM-style quality
    * filter: train an add-1-smoothed bigram language model ON the corpus
    * itself (one pass), then score every document by its mean per-bigram
    * negative log-likelihood. High avg-NLL = improbable word sequences =
    * boilerplate/garbage; the `keep` flag is the filter decision a
    * training-data pipeline would apply.
    *
    * Scale shape: the LM IS two hash aggregates — bigram counts
    * O(distinct bigrams) and unigram counts O(|vocab|). Scoring re-joins
    * the per-token bigram stream to the count tables: the bigram join is
    * shuffle-equi on (a,b) (both sides corpus-derived), the unigram side
    * is broadcast (|vocab| ≪ corpus at any scale). Per-doc reduction is a
    * map-side-combinable aggregate. No driver loops; the single fetch is
    * |vocab| (a count — the BM25 two-scalar contract).
    *
    * Oracle-exactness: p = (c+1)/(f+V) is ONE IEEE division (correctly
    * rounded, bit-identical cross-engine), ln() matches per the q102
    * precedent, per-token NLL is round(6) then DECIMAL-summed (exact,
    * associative — the q01 money pattern) so the partial-aggregate tree
    * cannot drift from DuckDB's sequential sum. The per-doc mean is then
    * ONE IEEE division on identical inputs → emitted RAW (round(6) on it
    * hit the .5-boundary cross-engine round divergence at sf0.1). Docs
    * with <2 tokens have no bigrams and are omitted by both engines. */
  def qBigramLm(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    if (t.documents.isEmpty)
      return graft.Tables.emptyFrame(t.spark, "doc_id" -> LongType,
        "n_bigrams" -> LongType, "avg_nll" -> DoubleType,
        "keep" -> BooleanType)
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
    // r14: uf/bf ride the shared session n-gram counts; the per-doc
    // bigram STREAM bi stays per-query (corpus-scale, the q112 rule)
    val uf = unigramCountsShared(t)
    val v = uf.count()
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS a, toks[i] AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val bf = bigramCountsShared(t)
    bi.join(bf, Seq("a", "b"))
      .join(broadcast(uf.withColumnRenamed("w", "a").withColumnRenamed("f", "fa")), Seq("a"))
      .withColumn("nll", round(-log((col("c").cast("double") + lit(1.0)) /
        (col("fa").cast("double") + lit(v.toDouble))), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll").cast(DecimalType(28, 6))).cast("double").as("sum_nll"))
      .withColumn("avg_nll", col("sum_nll") / col("n_bigrams").cast("double"))
      .withColumn("keep", col("avg_nll") < lit(10.0))
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val qBigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |      x -> len(x) > 0) AS tk
      |  FROM documents),
      |uf AS (SELECT w, COUNT(*)::BIGINT AS f
      |       FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
      |v AS (SELECT COUNT(*)::BIGINT AS v FROM uf),
      |bi AS (SELECT doc_id, tk[i] AS a, tk[i+1] AS b
      |       FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)),
      |bf AS (SELECT a, b, COUNT(*)::BIGINT AS c FROM bi GROUP BY a, b),
      |nll AS (
      |  SELECT bi.doc_id,
      |    round(-ln((CAST(bf.c AS DOUBLE) + 1.0)
      |              / (CAST(uf.f AS DOUBLE) + CAST(v.v AS DOUBLE))), 6) AS nll
      |  FROM bi JOIN bf USING (a, b) JOIN uf ON bi.a = uf.w, v),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) AS sum_nll
      |  FROM nll GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |  sum_nll / CAST(n_bigrams AS DOUBLE) AS avg_nll,
      |  sum_nll / CAST(n_bigrams AS DOUBLE) < 10.0 AS keep
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Q261: interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 with one estimated
    * discount) — the n-gram smoothing a perplexity-filter pipeline
    * actually ships; q152 is the add-1 baseline this upgrades:
    *   p(w|a)   = max(c(a,w) − D, 0)/c(a) + (D·N1+(a·)/c(a))·p_cont(w)
    *   p_cont(w)= N1+(·w)/N1+(··),   D = n₁/(n₁ + 2·n₂)
    * All counts are exact integers off one bigram aggregate; D and the
    * continuation probabilities are single divisions of exact ints; the
    * per-bigram probability is one fixed left-associated IEEE expression
    * whose nll carries round(6) (the log rule), summed on the DECIMAL
    * grid exactly as q152. The continuation term is strictly positive
    * for every observed bigram, so the log never sees zero.
    *
    * Scale: two vocabulary-level aggregates (bigram counts + the
    * context/continuation marginals) joined back to the corpus-sized
    * bigram instance stream — all map-side combinable; the build sides
    * are |V|-proportional (broadcast per the q152 contract; template
    * vocab here, dimension-table-sized in a real corpus). */
  def qKneserNey(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val empty = () => graft.Tables.emptyFrame(t.spark, "doc_id" -> LongType,
      "n_bigrams" -> LongType, "avg_nll" -> DoubleType,
      "discount" -> DoubleType, "keep" -> BooleanType)
    if (t.documents.isEmpty) return empty()
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS a, toks[i] AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    // r14: bf (referenced four times — scalar fetch, ctx, cont, scoring
    // join) rides the shared session bigram counts
    val bf = bigramCountsShared(t)
    // corpus scalars (bounded 3-long fetch): distinct-bigram total + the
    // singleton/doubleton counts behind the Good-Turing discount estimate
    val gRow = bf.agg(count(lit(1)),
      sum(when(col("c") === 1L, 1L).otherwise(0L)),
      sum(when(col("c") === 2L, 1L).otherwise(0L))).collect()(0)
    val nbb = gRow.getLong(0)
    if (nbb == 0L) return empty()
    val n1 = gRow.getLong(1)
    val n2 = gRow.getLong(2)
    val d = if (n1 + 2L * n2 == 0L) 0.5
            else n1.toDouble / (n1 + 2L * n2).toDouble
    val ctx = bf.groupBy(col("a"))
      .agg(sum(col("c")).as("ca"), count(lit(1)).as("n1fwd"))
    val cont = bf.groupBy(col("b")).agg(count(lit(1)).as("n1bwd"))
    bi.join(bf, Seq("a", "b"))
      .join(broadcast(ctx), Seq("a"))
      .join(broadcast(cont), Seq("b"))
      .withColumn("pkn",
        greatest(col("c").cast("double") - lit(d), lit(0.0)) /
          col("ca").cast("double") +
          lit(d) * col("n1fwd").cast("double") / col("ca").cast("double") *
            (col("n1bwd").cast("double") / lit(nbb.toDouble)))
      .withColumn("nll", round(-log(col("pkn")), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll").cast(DecimalType(28, 6))).cast("double").as("sum_nll"))
      .withColumn("avg_nll", col("sum_nll") / col("n_bigrams").cast("double"))
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
        lit(d).as("discount"), (col("avg_nll") < lit(8.0)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q261 oracle: same counts, same one-row discount CTE, same
    * left-associated probability expression under round(-ln, 6). */
  val qKneserNeySql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |      x -> len(x) > 0) AS tk
      |  FROM documents),
      |bi AS MATERIALIZED (
      |  SELECT doc_id, tk[i] AS a, tk[i+1] AS b
      |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)),
      |bf AS MATERIALIZED (
      |  SELECT a, b, COUNT(*)::BIGINT AS c FROM bi GROUP BY a, b),
      |g AS MATERIALIZED (
      |  SELECT COUNT(*)::BIGINT AS nbb,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM bf),
      |dd AS MATERIALIZED (
      |  SELECT nbb, CASE WHEN n1 + 2 * n2 = 0 THEN 0.5::DOUBLE
      |    ELSE CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE) END AS d
      |  FROM g),
      |ctx AS MATERIALIZED (
      |  SELECT a, CAST(SUM(c) AS BIGINT) AS ca, COUNT(*)::BIGINT AS n1fwd
      |  FROM bf GROUP BY a),
      |cont AS MATERIALIZED (
      |  SELECT b, COUNT(*)::BIGINT AS n1bwd FROM bf GROUP BY b),
      |nll AS (
      |  SELECT bi.doc_id,
      |    round(-ln(
      |      greatest(CAST(bf.c AS DOUBLE) - dd.d, 0.0::DOUBLE)
      |        / CAST(ctx.ca AS DOUBLE)
      |      + dd.d * CAST(ctx.n1fwd AS DOUBLE) / CAST(ctx.ca AS DOUBLE)
      |        * (CAST(cont.n1bwd AS DOUBLE) / CAST(dd.nbb AS DOUBLE))), 6) AS nll
      |  FROM bi JOIN bf USING (a, b) JOIN ctx ON bi.a = ctx.a
      |    JOIN cont ON bi.b = cont.b, dd),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) AS sum_nll
      |  FROM nll GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |  sum_nll / CAST(n_bigrams AS DOUBLE) AS avg_nll,
      |  dd.d AS discount,
      |  sum_nll / CAST(n_bigrams AS DOUBLE) < 8.0::DOUBLE AS keep
      |FROM agg, dd ORDER BY doc_id""".stripMargin

  /** Q229: Gini coefficient of token mass across documents — the
    * inequality audit a mixing/selection pass (q122/q144/q208) runs to
    * see how concentrated the corpus's token budget is in long documents
    * (a high Gini means length-proportional sampling is dominated by a
    * few docs). G = (2·Σ rᵢ·xᵢ)/(n·Σx) − (n+1)/n over ranks ascending.
    *
    * Exactness: the rank is a tie-broken permutation ((ntok, doc_id)),
    * so rank_mass and total are exact BIGINTs; G is a fixed IEEE
    * sequence over exact-int doubles, emitted raw (the q27 rule), with
    * nullif on the degenerate denominators (q170 rule).
    *
    * Scale shape: one token-count scan, one bucketRank two-phase prefix
    * (no global sort), one aggregate. */
  def qGiniTokens(t: Tables): DataFrame = {
    val docs = t.fanout(t.documents).select(col("doc_id"),
      size(text.tokenize(col("text"))).cast("long").as("ntok"))
    val mxRow = docs.agg(max(col("ntok"))).head()
    val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    val ranked = bucketRank(docs, "ntok", mx + 1,
      Seq(col("ntok"), col("doc_id")), "rk")
    val nd = col("n").cast("double")
    val td = col("total_tokens").cast("double")
    ranked.agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("ntok")), lit(0L)).as("total_tokens"),
        coalesce(sum(col("rk") * col("ntok")), lit(0L)).as("rank_mass"))
      .select(col("n"), col("total_tokens"), col("rank_mass"),
        (lit(2.0) * col("rank_mass").cast("double") / nullif(nd * td, lit(0.0)) -
          (nd + lit(1.0)) / nullif(nd, lit(0.0))).as("gini"))
  }

  /** q229 oracle: same permutation rank (a plain window — at oracle scale
    * DuckDB's sort is fine; the Spark side uses bucketRank) and the same
    * exact-integer moments. */
  val qGiniTokensSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |             x -> len(x) > 0)) AS BIGINT) AS ntok
      |  FROM documents),
      |r AS (SELECT ntok,
      |        CAST(ROW_NUMBER() OVER (ORDER BY ntok, doc_id) AS BIGINT) AS rk
      |      FROM d)
      |SELECT COUNT(*)::BIGINT AS n,
      |  CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS total_tokens,
      |  CAST(COALESCE(SUM(rk * ntok), 0) AS BIGINT) AS rank_mass,
      |  2.0::DOUBLE * CAST(COALESCE(SUM(rk * ntok), 0) AS DOUBLE)
      |    / nullif(CAST(COUNT(*) AS DOUBLE) * CAST(COALESCE(SUM(ntok), 0) AS DOUBLE),
      |             0.0::DOUBLE)
      |  - (CAST(COUNT(*) AS DOUBLE) + 1.0::DOUBLE)
      |    / nullif(CAST(COUNT(*) AS DOUBLE), 0.0::DOUBLE) AS gini
      |FROM r""".stripMargin

  /** Q231: rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    * two quality RANKINGS this engine ships — the hand-written q27 score
    * and the trained q139 classifier confidence. q205's Spearman weighs
    * the whole permutation equally; RBO is TOP-WEIGHTED (geometric decay
    * p^(d−1)), which is what matters when the ranking feeds a head
    * selection like q144's budget gate: two raters can agree globally
    * (high ρ) yet disagree on exactly the prefix that gets kept.
    * RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·(o_d/d), o_d = |top-d ∩ top-d|.
    *
    * Exactness: both rankings are tie-broken permutations on micro-
    * rounded scores (descending = n+1 − the ascending bucketRank with
    * doc_id DESC inside ties); o_d comes from exact integer counts of
    * m = max(rank_a, rank_b) cumulated over the BOUNDED 1..k depth grid
    * (a k-row single-partition window — bounded by construction, the
    * q221 grid argument); each depth term carries the micro grid
    * (p^{d−1} is libm pow — the r9 rule) and the term sum is an exact
    * BIGINT; RBO is one exact-int division times the (1.0 − p) IEEE
    * constant written identically in both engines.
    *
    * Scale shape: two linear scoring scans, two bucketRank prefixes, one
    * doc_id equi-join, one ≤k-row grid. 7th consumer of the weight
    * cache. */
  def qRankOverlap(t: Tables, rounds: Int = 16, lr: Double = 8.0,
      k: Int = 100, p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "n" -> LongType, "k" -> LongType,
            "o_k" -> LongType, "sum_term_micro" -> LongType,
            "rbo" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val prob = lit(1.0) / (lit(1.0) + exp(-z))
          val conf = feats.select(col("doc_id"),
            round(prob * lit(1000000.0), 0).cast("long").as("cm"))
          // barrier: bucketRank evaluates its input twice (offset fetch +
          // window pass) and `joined` is evaluated twice below (n count +
          // final aggregate) — without the two checkpoints the q27 scoring
          // scan ran 3x (r13 opt: 3.9 s -> the checkpointed frames are
          // (doc_id, micro)/(doc_id, ra, rb), n rows of 2-3 longs; q33
          // barrier rule)
          val qual = qualityScoreShared(t).select(col("doc_id"),
            round(col("quality_score") * lit(1000000.0), 0).cast("long").as("qm"))
            .localCheckpoint()
          // ascending rank with doc_id DESC inside ties, then reverse:
          // ra = n+1−asc == the (score DESC, doc_id ASC) rank
          val raAsc = bucketRank(qual, "qm", 1000001L,
            Seq(col("qm"), col("doc_id").desc), "r").select(col("doc_id"), col("r").as("ra"))
          val rbAsc = bucketRank(conf, "cm", 1000001L,
            Seq(col("cm"), col("doc_id").desc), "r").select(col("doc_id"), col("r").as("rb"))
          val joined = raAsc.join(rbAsc, Seq("doc_id")).localCheckpoint()
          val nRow = joined.agg(count(lit(1))).head()
          val n = nRow.getLong(0)
          val m = joined.select(
            greatest(lit(n + 1) - col("ra"), lit(n + 1) - col("rb")).as("ra_rb_max"))
          val mc = m.filter(col("ra_rb_max") <= k)
            .groupBy(col("ra_rb_max")).agg(count(lit(1)).as("c"))
          val grid = spark.range(1, k + 1).select(col("id").as("d"))
            .join(mc, col("d") === col("ra_rb_max"), "left")
            .withColumn("c", coalesce(col("c"), lit(0L)))
          // bounded k-row single-partition window (q221 grid argument)
          val wAll = Window.orderBy(col("d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val terms = grid
            .withColumn("o_d", sum(col("c")).over(wAll))
            .withColumn("term_micro", round(
              pow(lit(p), col("d").cast("double") - lit(1.0)) *
                col("o_d").cast("double") / col("d").cast("double") *
                lit(1000000.0), 0).cast("long"))
          terms.agg(
              max(when(col("d") === k, col("o_d"))).as("o_k"),
              coalesce(sum(col("term_micro")), lit(0L)).as("sum_term_micro"))
            .select(lit(n).as("n"), lit(k.toLong).as("k"), col("o_k"),
              col("sum_term_micro"),
              ((lit(1.0) - lit(p)) * col("sum_term_micro").cast("double") /
                lit(1000000.0)).as("rbo"))
      }
    }
  }

  /** q231 oracle: the logit chain + the q27 CTEs (renamed `f`, the q228
    * lesson), plain windows for the two descending ranks, the same
    * bounded depth grid and micro terms. */
  def qRankOverlapSql(rounds: Int = 16, lr: Double = 8.0,
      k: Int = 100, p: Double = 0.9): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val prob = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    val qsCtes = qualityScoreCtes
      .replace("f AS (", "qsf AS (").replace("FROM f)", "FROM qsf)")
    s"""WITH $chain,
      |conf AS (
      |  SELECT doc_id,
      |    CAST(round(($prob) * 1000000.0::DOUBLE) AS BIGINT) AS cm
      |  FROM f, $wFinal w),
      |$qsCtes,
      |qual AS (
      |  SELECT doc_id,
      |    CAST(round(quality_score * 1000000.0::DOUBLE) AS BIGINT) AS qm
      |  FROM scored),
      |ranks AS (
      |  SELECT q.doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY q.qm DESC, q.doc_id) AS BIGINT) AS ra,
      |    CAST(ROW_NUMBER() OVER (ORDER BY c.cm DESC, c.doc_id) AS BIGINT) AS rb
      |  FROM qual q JOIN conf c USING (doc_id)),
      |mc AS (
      |  SELECT greatest(ra, rb) AS m, COUNT(*)::BIGINT AS c FROM ranks
      |  WHERE greatest(ra, rb) <= $k GROUP BY 1),
      |grid AS (
      |  SELECT CAST(d AS BIGINT) AS d, COALESCE(mc.c, 0)::BIGINT AS c
      |  FROM (SELECT unnest(range(1, ${k + 1})) AS d) g
      |  LEFT JOIN mc ON mc.m = g.d),
      |terms AS (
      |  SELECT d,
      |    CAST(SUM(c) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS o_d
      |  FROM grid),
      |agg AS (
      |  SELECT CAST(MAX(CASE WHEN d = $k THEN o_d END) AS BIGINT) AS o_k,
      |    CAST(COALESCE(SUM(CAST(round(power($p::DOUBLE, CAST(d AS DOUBLE) - 1.0::DOUBLE)
      |      * CAST(o_d AS DOUBLE) / CAST(d AS DOUBLE)
      |      * 1000000.0::DOUBLE) AS BIGINT)), 0) AS BIGINT) AS sum_term_micro
      |  FROM terms)
      |SELECT (SELECT COUNT(*)::BIGINT FROM ranks) AS n, CAST($k AS BIGINT) AS k,
      |  o_k, sum_term_micro,
      |  (1.0::DOUBLE - $p::DOUBLE) * CAST(sum_term_micro AS DOUBLE)
      |    / 1000000.0::DOUBLE AS rbo
      |FROM agg""".stripMargin
  }

  /** Q232: deterministic Poisson-bootstrap confidence interval for the
    * corpus mean quality score — the stability audit behind any
    * quality-threshold decision (is the mean, and therefore a q144-style
    * cut, an artifact of a few documents?). Each of `b` replicates
    * weights every document w ~ Poisson(1) (the distributed bootstrap:
    * Poisson weights ≈ multinomial resampling without coordination —
    * Chamandy et al. 2012, "Estimating uncertainty for massive data
    * streams"), derived deterministically from md5(doc_id:replicate)
    * (the q125/q209 hex-replay contract: 13 hex digits = 52 uniform
    * bits) against FIXED integer inverse-CDF thresholds shared verbatim
    * by both engines (no runtime libm).
    *
    * Exactness: per-replicate numerator/denominator are exact BIGINTs;
    * the replicate mean enters ordering/moments as the micro-rounded
    * integer (round of a correctly-rounded division — engine-agreeing);
    * lo/hi are order statistics (positions 2 and b−1 — the ~90%
    * percentile-bootstrap interval at b = 32) of the BOUNDED b-row
    * replicate table; the spread uses the exact b·Σm²−(Σm)² form and
    * one IEEE sqrt (correctly rounded, raw-safe).
    *
    * Scale shape: ONE scan fanning each doc ×b (b = 32 — bounded
    * blow-up, map-side aggregated), one b-row aggregate, windows over
    * the b-row table. No joins between 1-row aggregates (q114): the
    * full-corpus mean derives from the same exploded frame (Σqm over
    * replicates is exactly b·Σqm). */
  def qBootstrapCi(t: Tables, b: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Poisson(1) inverse-CDF thresholds on the 2^52 grid, shared with SQL
    val thr = poissonThresholds52
    val qual = qualityScoreShared(t).select(col("doc_id"),
      round(col("quality_score") * lit(1000000.0), 0).cast("long").as("qm"))
    val exploded = qual.select(col("doc_id"), col("qm"),
      explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("u", conv(substring(
        md5(concat_ws(":", col("doc_id"), col("rep"))), 1, 13), 16, 10).cast("long"))
      .withColumn("w",
        when(col("u") < thr(0), 0L).when(col("u") < thr(1), 1L)
          .when(col("u") < thr(2), 2L).when(col("u") < thr(3), 3L)
          .when(col("u") < thr(4), 4L).when(col("u") < thr(5), 5L)
          .otherwise(6L))
    val perRep = exploded.groupBy(col("rep")).agg(
      count(lit(1)).as("cnt"),
      sum(col("qm")).as("srow"),
      sum(col("w") * col("qm")).as("num"),
      sum(col("w")).as("den"))
      .withColumn("mm", round(col("num").cast("double") /
        nullif(col("den").cast("double"), lit(0.0)), 0).cast("long"))
    // bounded b-row table: windows/sort are single-partition by design
    val wOrd = Window.orderBy(col("mm"), col("rep"))
    val ranked = perRep.withColumn("rn", row_number().over(wOrd))
    val bd = lit(b.toDouble)
    ranked.agg(
        max(col("cnt")).as("n_docs"),
        max(col("srow")).as("sum_qm"),
        max(when(col("rn") === 2, col("mm"))).as("lo_micro"),
        max(when(col("rn") === b - 1, col("mm"))).as("hi_micro"),
        coalesce(sum(col("mm")), lit(0L)).as("sm"),
        coalesce(sum(col("mm") * col("mm")), lit(0L)).as("smm"))
      .select(col("n_docs"), lit(b.toLong).as("b_reps"),
        (col("sum_qm").cast("double") /
          nullif(col("n_docs").cast("double"), lit(0.0)) /
          lit(1000000.0)).as("mean"),
        col("lo_micro"), col("hi_micro"),
        (sqrt((bd * col("smm").cast("double") -
          col("sm").cast("double") * col("sm").cast("double")) /
          (bd * (bd - lit(1.0)))) / lit(1000000.0)).as("se"))
  }

  /** The Poisson(1) inverse-CDF thresholds floor(P(X≤j)·2^52), j=0..5 —
    * computed once on the JVM and interpolated VERBATIM into the oracle
    * SQL, so both engines compare the same integers (no runtime exp). */
  private lazy val poissonThresholds52: IndexedSeq[Long] = {
    val e1 = math.exp(-1.0)
    val pmf = Iterator.iterate((e1, 0)) { case (v, j) => (v / (j + 1), j + 1) }
      .map(_._1).take(6).toIndexedSeq
    val cdf = pmf.scanLeft(0.0)(_ + _).drop(1)
    cdf.map(c => math.floor(c * 4503599627370496.0).toLong) // 2^52
  }

  /** q232 oracle: identical thresholds (interpolated constants), hex
    * parity, exact integer replicate stats and order statistics. */
  def qBootstrapCiSql(b: Int = 32): String = {
    val thr = poissonThresholds52
    s"""WITH $qualityScoreCtes,
      |qual AS (
      |  SELECT doc_id,
      |    CAST(round(quality_score * 1000000.0::DOUBLE) AS BIGINT) AS qm
      |  FROM scored),
      |ex AS (
      |  SELECT doc_id, qm, CAST(rep AS BIGINT) AS rep,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)), 1, 13) AS BIGINT) AS u
      |  FROM qual, (SELECT unnest(range(0, $b)) AS rep)),
      |wts AS (
      |  SELECT rep, qm,
      |    CASE WHEN u < ${thr(0)} THEN 0 WHEN u < ${thr(1)} THEN 1
      |         WHEN u < ${thr(2)} THEN 2 WHEN u < ${thr(3)} THEN 3
      |         WHEN u < ${thr(4)} THEN 4 WHEN u < ${thr(5)} THEN 5
      |         ELSE 6 END AS w
      |  FROM ex),
      |per AS (
      |  SELECT rep, COUNT(*)::BIGINT AS cnt,
      |    CAST(SUM(qm) AS BIGINT) AS srow,
      |    CAST(SUM(w * qm) AS BIGINT) AS num,
      |    CAST(SUM(w) AS BIGINT) AS den
      |  FROM wts GROUP BY rep),
      |mm AS (
      |  SELECT *,
      |    CAST(round(CAST(num AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0::DOUBLE)) AS BIGINT) AS mm,
      |    ROW_NUMBER() OVER (ORDER BY CAST(round(CAST(num AS DOUBLE)
      |      / nullif(CAST(den AS DOUBLE), 0.0::DOUBLE)) AS BIGINT), rep) AS rn
      |  FROM per)
      |SELECT CAST(MAX(cnt) AS BIGINT) AS n_docs, CAST($b AS BIGINT) AS b_reps,
      |  CAST(MAX(srow) AS DOUBLE) / nullif(CAST(MAX(cnt) AS DOUBLE), 0.0::DOUBLE)
      |    / 1000000.0::DOUBLE AS mean,
      |  CAST(MAX(CASE WHEN rn = 2 THEN mm END) AS BIGINT) AS lo_micro,
      |  CAST(MAX(CASE WHEN rn = ${b - 1} THEN mm END) AS BIGINT) AS hi_micro,
      |  sqrt(($b.0::DOUBLE * CAST(SUM(mm * mm) AS DOUBLE)
      |        - CAST(SUM(mm) AS DOUBLE) * CAST(SUM(mm) AS DOUBLE))
      |       / ($b.0::DOUBLE * ($b.0::DOUBLE - 1.0::DOUBLE)))
      |    / 1000000.0::DOUBLE AS se
      |FROM mm""".stripMargin
  }

  /** Q238: quality-filter attribution — which rule rejects what, alone
    * and jointly? One row per observed rejection BITMAP over the four
    * Gopher-style rules (q86/q139's gate), with the corpus-wide
    * attribution columns riding every row: per-rule total and SOLE
    * rejections and the overall reject count. The observability view a
    * pipeline needs before tuning any one rule — a rule whose
    * rejections are all joint can be dropped without changing the kept
    * set, a rule with large sole mass is the binding constraint.
    *
    * Exactness: every column is an exact BIGINT (bitmap classes,
    * conditional sums); windows run over the ≤16-row class table (the
    * q225 bounded-class argument).
    *
    * Scale shape: one linear scan into a ≤16-row aggregate. */
  def qFilterAttribution(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = text.tokenize(col("text"))
    val counts = t.fanout(t.documents).select(
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
        .cast("long").as("n_tok_chars"),
      size(filter(toks, tk => tk.isInCollection(text.stopwords)))
        .cast("long").as("n_stop"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    val f1 = !(col("n_tokens") >= 20 && col("n_tokens") <= 80)
    val f2 = !(col("n_tok_chars") >= col("n_tokens") * 4 &&
      col("n_tok_chars") <= col("n_tokens") * 5)
    val f3 = !(col("n_stop") * 20 >= col("n_tokens"))
    val f4 = !(col("n_distinct") * 2 >= col("n_tokens"))
    val classes = counts
      .withColumn("bitmap",
        when(f1, 8L).otherwise(0L) + when(f2, 4L).otherwise(0L) +
          when(f3, 2L).otherwise(0L) + when(f4, 1L).otherwise(0L))
      .groupBy(col("bitmap")).agg(count(lit(1)).as("n_docs"))
    val all = Window.partitionBy()
    def bit(b: Int) = expr(s"(bitmap div ${1 << b}L) % 2") === 1
    classes
      .withColumn("n_fail_rules", expr("bit_count(bitmap)").cast("long"))
      .withColumn("n_total", sum(col("n_docs")).over(all))
      .withColumn("n_rejected",
        sum(when(col("bitmap") =!= 0, col("n_docs")).otherwise(0L)).over(all))
      .withColumn("any_r1", sum(when(bit(3), col("n_docs")).otherwise(0L)).over(all))
      .withColumn("any_r2", sum(when(bit(2), col("n_docs")).otherwise(0L)).over(all))
      .withColumn("any_r3", sum(when(bit(1), col("n_docs")).otherwise(0L)).over(all))
      .withColumn("any_r4", sum(when(bit(0), col("n_docs")).otherwise(0L)).over(all))
      .withColumn("sole_r1",
        sum(when(col("bitmap") === 8, col("n_docs")).otherwise(0L)).over(all))
      .withColumn("sole_r2",
        sum(when(col("bitmap") === 4, col("n_docs")).otherwise(0L)).over(all))
      .withColumn("sole_r3",
        sum(when(col("bitmap") === 2, col("n_docs")).otherwise(0L)).over(all))
      .withColumn("sole_r4",
        sum(when(col("bitmap") === 1, col("n_docs")).otherwise(0L)).over(all))
      .orderBy(col("bitmap"))
  }

  /** q238 oracle: identical rule expressions (q86/q139 parity pairs),
    * integer bitmap classes and windows. */
  val qFilterAttributionSql: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH c AS (
       |  SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT) AS n_tok_chars,
       |    CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |  FROM (SELECT text,
       |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |        FROM documents)),
       |b AS (
       |  SELECT CAST(
       |    CASE WHEN NOT (n_tokens >= 20 AND n_tokens <= 80) THEN 8 ELSE 0 END
       |    + CASE WHEN NOT (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5) THEN 4 ELSE 0 END
       |    + CASE WHEN NOT (n_stop * 20 >= n_tokens) THEN 2 ELSE 0 END
       |    + CASE WHEN NOT (n_distinct * 2 >= n_tokens) THEN 1 ELSE 0 END
       |    AS BIGINT) AS bitmap
       |  FROM c),
       |cls AS (SELECT bitmap, COUNT(*)::BIGINT AS n_docs FROM b GROUP BY bitmap)
       |SELECT bitmap, n_docs,
       |  CAST(bit_count(bitmap) AS BIGINT) AS n_fail_rules,
       |  CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total,
       |  CAST(SUM(CASE WHEN bitmap != 0 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS n_rejected,
       |  CAST(SUM(CASE WHEN (bitmap // 8) % 2 = 1 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS any_r1,
       |  CAST(SUM(CASE WHEN (bitmap // 4) % 2 = 1 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS any_r2,
       |  CAST(SUM(CASE WHEN (bitmap // 2) % 2 = 1 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS any_r3,
       |  CAST(SUM(CASE WHEN bitmap % 2 = 1 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS any_r4,
       |  CAST(SUM(CASE WHEN bitmap = 8 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS sole_r1,
       |  CAST(SUM(CASE WHEN bitmap = 4 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS sole_r2,
       |  CAST(SUM(CASE WHEN bitmap = 2 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS sole_r3,
       |  CAST(SUM(CASE WHEN bitmap = 1 THEN n_docs ELSE 0 END) OVER () AS BIGINT) AS sole_r4
       |FROM cls ORDER BY bitmap""".stripMargin
  }

  /** Q241: split-conformal coverage audit (Vovk's conformal prediction,
    * the Angelopoulos–Bates split recipe) for the q139 classifier — the
    * distribution-free check that turns raw confidences into calibrated
    * prediction SETS: an md5-even calibration half supplies the
    * (1−α)-quantile q̂ of the nonconformity score s = 1 − p_y, and the
    * held-out half's coverage (share of docs whose true-label score is
    * ≤ q̂) should sit near 1−α regardless of how miscalibrated the raw
    * sigmoid is — the guarantee q188's ECE cannot give.
    *
    * Exactness: s rides the micro grid (1e6 − cm or cm by the label);
    * q̂ is an EXACT order statistic — rank ⌈(n_cal+1)(1−α)⌉ via the
    * bucketRank two-phase prefix (no global sort), fetched as one
    * bounded driver long; coverage counts are exact BIGINTs and the
    * rates raw divisions (nullif'd). Everything is replayable, so the
    * whole readout is under the hash gate (no envelope needed). 8th
    * consumer of the weight cache.
    *
    * Scale shape: one scoring scan, one bucketRank over the calibration
    * half, one filtered count over the eval half, a 1-row readout. */
  def qConformalCoverage(t: Tables, rounds: Int = 16, lr: Double = 8.0,
      alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "n_cal" -> LongType, "n_eval" -> LongType,
            "target_rank" -> LongType, "qhat_micro" -> LongType,
            "n_covered" -> LongType, "coverage" -> DoubleType,
            "alpha" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val scored = feats.select(col("doc_id"), col("y"),
              round(p * lit(1000000.0), 0).cast("long").as("cm"))
            .withColumn("s_micro",
              when(col("y") === 1.0, lit(1000000L) - col("cm")).otherwise(col("cm")))
            .withColumn("cal",
              conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
                .cast("long") % 2 === 0)
          val cal = scored.filter(col("cal"))
          val nCal = cal.count()
          if (nCal == 0)
            return Tables.emptyFrame(spark, "n_cal" -> LongType,
              "n_eval" -> LongType, "target_rank" -> LongType,
              "qhat_micro" -> LongType, "n_covered" -> LongType,
              "coverage" -> DoubleType, "alpha" -> DoubleType)
          val targetRank = math.min(nCal,
            math.ceil((nCal + 1) * (1.0 - alpha)).toLong)
          val qhat = bucketRank(cal, "s_micro", 1000001L,
            Seq(col("s_micro"), col("doc_id")), "rk")
            .filter(col("rk") === targetRank)
            .select(col("s_micro")).head().getLong(0)
          scored.filter(!col("cal")).agg(
              count(lit(1)).as("n_eval"),
              sum(when(col("s_micro") <= qhat, 1L).otherwise(0L)).as("n_covered"))
            .select(lit(nCal).as("n_cal"), col("n_eval"),
              lit(targetRank).as("target_rank"), lit(qhat).as("qhat_micro"),
              col("n_covered"),
              (col("n_covered").cast("double") /
                nullif(col("n_eval").cast("double"), lit(0.0))).as("coverage"),
              lit(alpha).as("alpha"))
      }
    }
  }

  /** q241 oracle: the logit chain + the same split, order statistic and
    * counts (a plain ROW_NUMBER for the quantile — the Spark side uses
    * bucketRank; results hash-equal, the q144 contract). */
  def qConformalCoverageSql(rounds: Int = 16, lr: Double = 8.0,
      alpha: Double = 0.1): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
      |scored AS (
      |  SELECT f.doc_id, f.y,
      |    CAST(round(($p) * 1000000.0::DOUBLE) AS BIGINT) AS cm,
      |    CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 AS cal
      |  FROM f, $wFinal w),
      |s AS (
      |  SELECT doc_id, cal,
      |    CASE WHEN y = 1.0::DOUBLE THEN 1000000 - cm ELSE cm END AS s_micro
      |  FROM scored),
      |calset AS (
      |  SELECT s_micro,
      |    CAST(ROW_NUMBER() OVER (ORDER BY s_micro, doc_id) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n_cal
      |  FROM s WHERE cal),
      |qhat AS (
      |  SELECT n_cal,
      |    least(n_cal, CAST(ceil((n_cal + 1) * (1.0::DOUBLE - $alpha::DOUBLE)) AS BIGINT)) AS target_rank,
      |    s_micro AS qhat_micro
      |  FROM calset
      |  WHERE rk = least(n_cal, CAST(ceil((n_cal + 1) * (1.0::DOUBLE - $alpha::DOUBLE)) AS BIGINT))),
      |ev AS (
      |  SELECT COUNT(*)::BIGINT AS n_eval,
      |    CAST(SUM(CASE WHEN s_micro <= (SELECT qhat_micro FROM qhat)
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      |  FROM s WHERE NOT cal)
      |SELECT q.n_cal, e.n_eval, q.target_rank, q.qhat_micro, e.n_covered,
      |  CAST(e.n_covered AS DOUBLE)
      |    / nullif(CAST(e.n_eval AS DOUBLE), 0.0::DOUBLE) AS coverage,
      |  $alpha::DOUBLE AS alpha
      |FROM qhat q, ev e""".stripMargin
  }

  /** Q228: Cohen's κ inter-rater agreement (Cohen 1960) between the two
    * INDEPENDENT quality raters this engine ships — the trained q139
    * logistic classifier (rater A: micro-rounded confidence > 0.5) and
    * the hand-written q27 composite score (rater B: score ≥ `thresh`) —
    * the chance-corrected agreement check a labeling pipeline runs
    * before trusting heuristic labels as classifier supervision. κ =
    * (p_o − p_e)/(1 − p_e) from the exact 2×2 confusion matrix.
    *
    * Exactness: the matrix cells are exact BIGINTs (rater A thresholds
    * the micro-rounded sigmoid — the q188 integer-rounding discipline;
    * rater B thresholds the bit-identical raw q27 score); p_o, p_e and κ
    * are fixed IEEE sequences over exact-int doubles (raw), nullif on
    * the perfect-chance denominator. Reuses the session weight cache —
    * the sixth consumer of one training.
    *
    * Scale shape: scoring is one linear scan each; one doc_id equi-join;
    * ONE aggregate row. */
  def qCohensKappa(t: Tables, rounds: Int = 16, lr: Double = 8.0,
      thresh: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "n" -> LongType, "n11" -> LongType,
            "n10" -> LongType, "n01" -> LongType, "n00" -> LongType,
            "po" -> DoubleType, "pe" -> DoubleType, "kappa" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val ra = feats.select(col("doc_id"),
            (round(p * lit(1000000.0), 0).cast("long") > 500000L).as("a"))
          val rb = qualityScoreShared(t).select(col("doc_id"),
            (col("quality_score") >= lit(thresh)).as("b"))
          val m = ra.join(rb, Seq("doc_id")).agg(
            count(lit(1)).as("n"),
            sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
            sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
            sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
            sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
          val nd = col("n").cast("double")
          val po = (col("n11") + col("n00")).cast("double") / nullif(nd, lit(0.0))
          val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
            (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double") /
            nullif(nd * nd, lit(0.0))
          m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            po.as("po"), pe.as("pe"),
            ((po - pe) / nullif(lit(1.0) - pe, lit(0.0))).as("kappa"))
      }
    }
  }

  /** Q250: content-defined chunking over the token stream — the
    * dedup-friendly storage layout primitive (FastCDC / LBFS family,
    * Muthitacharoen 2001), applied at token granularity: a chunk boundary
    * falls AFTER token p whenever the rolling 4-token hash at p (q125's
    * base-257 polynomial over 32-bit md5-prefix values — exact ≤2^58
    * integer math, replayable cross-engine) is ≡ 0 mod 32, giving
    * expected ~32-token chunks whose boundaries move with CONTENT, not
    * offsets — an insertion early in a document re-chunks only its own
    * neighborhood, so shared suffixes still dedup. Per doc: chunk count,
    * mean chunk length (one IEEE division of exact ints — raw), and how
    * many of its chunks also appear verbatim in other documents
    * (cross-doc chunk sharing, the dedup payoff being priced).
    *
    * Scale: tokens explode linearly; the rolling hash and the cut-count
    * prefix are windows partitioned BY doc_id (never global); chunk
    * sharing is one groupBy on the chunk hash + an equi-join back —
    * every shuffle is keyed, nothing quadratic. */
  def qCdcChunking(t: Tables, mod: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("doc_id"),
        posexplode(text.tokenize(col("text"))).as(Seq("pos", "term")))
      .withColumn("v", conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cuts = toks
      .withColumn("h",
        col("v") * lit(16974593L) + lead(col("v"), 1).over(w) * lit(66049L)
          + lead(col("v"), 2).over(w) * lit(257L) + lead(col("v"), 3).over(w))
      .withColumn("cut",
        when(col("h").isNotNull && col("h") % lit(mod.toLong) === 0L, 1L)
          .otherwise(0L))
      // chunk index = number of cuts strictly BEFORE this token
      .withColumn("chunk",
        coalesce(sum(col("cut")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // barrier: chunks feeds the sharing aggregate AND the join back —
    // un-barriered, the rolling-hash window chain + collect_list md5 ran
    // twice over the corpus. ~tokens/mod narrow rows.
    val chunks = cuts.groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("chunk_len"),
        md5(array_join(
          expr("transform(sort_array(collect_list(struct(pos, term))), x -> x.term)"),
          " ")).as("chash"))
      .localCheckpoint()
    val sharing = chunks.groupBy(col("chash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(sharing, Seq("chash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("n_tokens"),
        sum(when(col("n_docs") >= 2L, 1L).otherwise(0L)).as("n_shared_chunks"))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        col("n_shared_chunks"),
        (col("n_tokens").cast("double") / col("n_chunks").cast("double"))
          .as("mean_chunk_len"))
      .orderBy(col("doc_id"))
  }

  /** q250 oracle: the q125 rolling-hash base + a cumulative cut-count
    * window, chunk text re-joined with string_agg ORDER BY pos. */
  val qCdcChunkingSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term,
      |    generate_subscripts(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0), 1) AS pos
      |  FROM documents),
      |vals AS (
      |  SELECT doc_id, pos, term,
      |    CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) AS v
      |  FROM toks),
      |cuts AS (
      |  SELECT doc_id, pos, term,
      |    CASE WHEN (v * 16974593 + LEAD(v, 1) OVER w * 66049
      |               + LEAD(v, 2) OVER w * 257 + LEAD(v, 3) OVER w) % 32 = 0
      |         THEN 1 ELSE 0 END AS cut
      |  FROM vals WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |chunked AS (
      |  SELECT doc_id, pos, term,
      |    COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      |  FROM cuts),
      |chunks AS (
      |  SELECT doc_id, chunk, COUNT(*)::BIGINT AS chunk_len,
      |    md5(string_agg(term, ' ' ORDER BY pos)) AS chash
      |  FROM chunked GROUP BY doc_id, chunk),
      |sharing AS (
      |  SELECT chash, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY chash)
      |SELECT c.doc_id,
      |  CAST(SUM(c.chunk_len) AS BIGINT) AS n_tokens,
      |  COUNT(*)::BIGINT AS n_chunks,
      |  CAST(SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared_chunks,
      |  CAST(SUM(c.chunk_len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS mean_chunk_len
      |FROM chunks c JOIN sharing s USING (chash)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** Q253: training-order shuffle-quality audit — a sequential trainer
    * sees the corpus in storage order, so a bad global shuffle (source-
    * clumped data) shows up as drift/instability; this audits a SEEDED
    * deterministic permutation (md5 of doc_id — how a production pipeline
    * assigns shuffle order, never random()) by slicing it into contiguous
    * blocks of `block` docs and scoring each block's source mix against
    * the corpus mix with a per-block χ². Missing cells need no synthesis:
    * Σ_all e_s = n_b, so χ²_b = Σ_present((o−e)²/e − e) + n_b — present
    * cells only. Per-cell terms are micro-rounded BIGINTs (q204), χ² is
    * one exact sum + one addition.
    *
    * Scale: the permutation rank is bucketRank (no global sort); cells
    * aggregate on (block, source); per-source totals are a 5-row
    * broadcast aggregate — the only windows run per block (≤ |sources|
    * rows each). Nothing global, nothing quadratic. */
  def qShuffleQualityAudit(t: Tables, block: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t.fanout(t.documents).select(col("doc_id"), col("source"))
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long"))
    val ranked = bucketRank(docs, "h", 1L << 52,
      Seq(col("h"), col("doc_id")), "pos")
      .withColumn("blk", expr(s"(pos - 1) div $block"))
    val cells = ranked.groupBy(col("blk"), col("source"))
      .agg(count(lit(1)).as("observed"))
    val srcTot = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("n", sum(col("n_s")).over(Window.partitionBy(lit(1))))
    val wBlk = Window.partitionBy(col("blk"))
    val od = col("observed").cast("double")
    val e = col("expected")
    cells.join(broadcast(srcTot), Seq("source"))
      .withColumn("block_size", sum(col("observed")).over(wBlk))
      .withColumn("expected",
        col("block_size").cast("double") * col("n_s").cast("double")
          / col("n").cast("double"))
      .withColumn("term_micro",
        round(((od - e) * (od - e) / e - e) * lit(1000000.0)).cast("long"))
      .withColumn("chi2_block",
        sum(col("term_micro")).over(wBlk).cast("double") / lit(1000000.0)
          + col("block_size").cast("double"))
      .select(col("blk").as("block"), col("source"), col("observed"),
        col("block_size"), col("expected"), col("term_micro"),
        col("chi2_block"))
      .orderBy(col("block"), col("source"))
  }

  /** q253 oracle: ROW_NUMBER over the same md5 key (provably equal to
    * bucketRank), identical χ² identity and micro terms. */
  def qShuffleQualityAuditSql(block: Int = 100): String =
    s"""WITH ranked AS (
      |  SELECT doc_id, source,
      |    (ROW_NUMBER() OVER (ORDER BY
      |       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT),
      |       doc_id) - 1) // $block AS blk
      |  FROM documents),
      |cells AS (
      |  SELECT blk, source, COUNT(*)::BIGINT AS observed
      |  FROM ranked GROUP BY blk, source),
      |src_tot AS (
      |  SELECT source, COUNT(*)::BIGINT AS n_s,
      |    CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n
      |  FROM documents GROUP BY source),
      |joined AS (
      |  SELECT c.blk, c.source, c.observed,
      |    CAST(SUM(c.observed) OVER (PARTITION BY c.blk) AS BIGINT)
      |      AS block_size,
      |    s.n_s, s.n
      |  FROM cells c JOIN src_tot s USING (source)),
      |terms AS (
      |  SELECT *,
      |    CAST(block_size AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS expected,
      |    CAST(round(((CAST(observed AS DOUBLE)
      |        - CAST(block_size AS DOUBLE) * CAST(n_s AS DOUBLE)
      |          / CAST(n AS DOUBLE))
      |      * (CAST(observed AS DOUBLE)
      |        - CAST(block_size AS DOUBLE) * CAST(n_s AS DOUBLE)
      |          / CAST(n AS DOUBLE))
      |      / (CAST(block_size AS DOUBLE) * CAST(n_s AS DOUBLE)
      |         / CAST(n AS DOUBLE))
      |      - CAST(block_size AS DOUBLE) * CAST(n_s AS DOUBLE)
      |        / CAST(n AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
      |      AS term_micro
      |  FROM joined)
      |SELECT blk AS block, source, observed, block_size, expected, term_micro,
      |  CAST(SUM(term_micro) OVER (PARTITION BY blk) AS DOUBLE)
      |    / 1000000.0::DOUBLE + CAST(block_size AS DOUBLE) AS chi2_block
      |FROM terms ORDER BY block, source""".stripMargin

  /** q228 oracle: the shared logit chain scores rater A; rater B reuses
    * the q27 score CTEs with their `f` renamed (it would otherwise
    * collide with the logit feature CTE — DuckDB resolves an inner CTE
    * reference against the outer chain, no shadowing); identical integer
    * matrix and IEEE κ sequence. */
  def qCohensKappaSql(rounds: Int = 16, lr: Double = 8.0,
      thresh: Double = 0.7): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    val qsCtes = qualityScoreCtes
      .replace("f AS (", "qsf AS (").replace("FROM f)", "FROM qsf)")
    s"""WITH $chain,
      |ra AS (
      |  SELECT doc_id,
      |    CAST(round(($p) * 1000000.0::DOUBLE) AS BIGINT) > 500000 AS a
      |  FROM f, $wFinal w),
      |$qsCtes,
      |rb AS MATERIALIZED (
      |  SELECT doc_id, quality_score >= $thresh::DOUBLE AS b FROM scored),
      |m AS (
      |  SELECT COUNT(*)::BIGINT AS n,
      |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM ra JOIN rb USING (doc_id))
      |SELECT n, n11, n10, n01, n00,
      |  CAST(n11 + n00 AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0::DOUBLE) AS po,
      |  CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
      |    / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE), 0.0::DOUBLE) AS pe,
      |  (CAST(n11 + n00 AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0::DOUBLE)
      |   - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
      |     / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE), 0.0::DOUBLE))
      |  / nullif(1.0::DOUBLE
      |           - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
      |             / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE), 0.0::DOUBLE),
      |           0.0::DOUBLE) AS kappa
      |FROM m""".stripMargin
  }

  // ------------------------------------------------------------------ q260

  /** The three deterministic weak labelers behind q260 — binary
    * "high-quality" votes from integer-exact predicates over the q26
    * feature counts (token length, alpha mass, lexical diversity). No
    * float thresholds anywhere, so the DuckDB oracle replays the votes
    * verbatim; one narrow projection, linear scan at any scale. */
  private def dsVotes(t: Tables): DataFrame = {
    val toks = text.tokenize(col("text"))
    t.fanout(t.documents).select(
      col("doc_id"),
      when(size(toks) >= 30, 1L).otherwise(0L).as("v1"),
      when(length(regexp_replace(col("text"), "[^\\p{L}]", "")) * 2 >=
        length(col("text")), 1L).otherwise(0L).as("v2"),
      when(size(array_distinct(toks)) * 2 >= size(toks), 1L).otherwise(0L)
        .as("v3"))
  }

  /** One EM round's M-step masses over a micro-grid posterior: all exact
    * BIGINT sums, so the derived rates are single divisions of exact
    * integers (bit-identical on replay, any aggregation order). */
  private case class DsRound(cnt: Long, sp: Long, sn: Long,
      a: Array[Long], b: Array[Long]) {
    def alpha(j: Int): Double = a(j).toDouble / sp.toDouble
    def beta(j: Int): Double = b(j).toDouble / sn.toDouble
    def pi: Double = sp.toDouble / (1000000L * cnt).toDouble
  }
  private case class DsModel(rounds: Seq[DsRound], nPos: Long, postMass: Long)

  /** Trained Dawid–Skene state per (session, sfDir, rounds), a
    * `graft.Shared` entry: the EM sequence is fully
    * deterministic (micro-grid posteriors, exact integer masses), so a
    * cache hit is bit-identical to a refit. */
  private def dawidSkeneCached(t: Tables, rounds: Int): Option[DsModel] =
    Shared(t, s"dawid_skene#$rounds")(dawidSkeneTrain(t, rounds))

  /** Fixed-round binary Dawid–Skene EM (Dawid & Skene 1979): posterior
    * class probabilities live on the exact micro grid (pm = round(1e6·p),
    * positive — integer 0-dp rounding is cross-engine-safe), the M-step
    * sensitivity/specificity/prior masses are exact BIGINT sums of grid
    * values (order-independent), and the E-step per-document update is one
    * fixed left-associated double expression over those exact scalars —
    * the q139/q190 replayable-iteration discipline. Each round is one
    * aggregate over the checkpointed vote table + a bounded 8-long driver
    * fetch (the logitTrain shape); per-document work never leaves the
    * executors. */
  private def dawidSkeneTrain(t: Tables, rounds: Int): Option[DsModel] = {
    val votes = dsVotes(t).localCheckpoint()
    var cur = votes.withColumn("pm",
      round(lit(1e6) * (col("v1") + col("v2") + col("v3")) / lit(3))
        .cast("long"))
    val hist = scala.collection.mutable.ArrayBuffer.empty[DsRound]
    var r = 0
    while (r < rounds) {
      val row = cur.agg(
        count(lit(1)), sum(col("pm")),
        sum(col("pm") * col("v1")), sum(col("pm") * col("v2")),
        sum(col("pm") * col("v3")),
        sum((lit(1000000L) - col("pm")) * (lit(1L) - col("v1"))),
        sum((lit(1000000L) - col("pm")) * (lit(1L) - col("v2"))),
        sum((lit(1000000L) - col("pm")) * (lit(1L) - col("v3")))).collect()(0)
      if (row.getLong(0) == 0L) return None
      val cnt = row.getLong(0)
      val sp = row.getLong(1)
      val sn = 1000000L * cnt - sp
      // the E-step divides by the class masses; a corpus whose three
      // labelers unanimously agree on every document has no signal for
      // the model — fail loudly rather than emit NaN rates (q222 class)
      require(sp > 0L && sn > 0L,
        s"degenerate Dawid-Skene class mass (sp=$sp, sn=$sn): all three " +
          "weak labelers are unanimous on every document")
      val st = DsRound(cnt, sp, sn,
        Array(row.getLong(2), row.getLong(3), row.getLong(4)),
        Array(row.getLong(5), row.getLong(6), row.getLong(7)))
      hist += st
      val l1 = lit(st.pi) *
        when(col("v1") === 1L, lit(st.alpha(0))).otherwise(lit(1.0 - st.alpha(0))) *
        when(col("v2") === 1L, lit(st.alpha(1))).otherwise(lit(1.0 - st.alpha(1))) *
        when(col("v3") === 1L, lit(st.alpha(2))).otherwise(lit(1.0 - st.alpha(2)))
      val l0 = lit(1.0 - st.pi) *
        when(col("v1") === 1L, lit(1.0 - st.beta(0))).otherwise(lit(st.beta(0))) *
        when(col("v2") === 1L, lit(1.0 - st.beta(1))).otherwise(lit(st.beta(1))) *
        when(col("v3") === 1L, lit(1.0 - st.beta(2))).otherwise(lit(st.beta(2)))
      val p = when(l1 + l0 === 0.0, lit(0.5)).otherwise(l1 / (l1 + l0))
      cur = cur.withColumn("pm", round(p * lit(1e6)).cast("long"))
      r += 1
    }
    val fin = cur.agg(
      sum(when(col("pm") > 500000L, 1L).otherwise(0L)),
      sum(col("pm"))).collect()(0)
    Some(DsModel(hist.toSeq, fin.getLong(0), fin.getLong(1)))
  }

  /** Q260: Dawid–Skene weak-supervision label model over the corpus's
    * heuristic quality labelers — the Snorkel-style step a training-data
    * pipeline uses to fuse noisy filters into calibrated labels WITHOUT
    * ground truth: fixed-round EM jointly estimates each labeler's
    * sensitivity/specificity and a per-document posterior. Emits one row
    * per annotator: the exact integer M-step masses, the derived rates
    * (raw — single divisions of exact integers), the class prior, and the
    * final posterior census (n_pos, total posterior mass).
    *
    * Scale: each EM round is one map-side-combinable aggregate over a
    * 4-column vote table + an 8-long driver fetch; the corpus never
    * leaves the executors and no per-round shuffle grows with data. */
  def qDawidSkene(t: Tables, rounds: Int = 5): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    dawidSkeneCached(t, rounds) match {
      case None => Tables.emptyFrame(spark,
        "annotator" -> StringType, "match_mass" -> LongType,
        "pos_mass" -> LongType, "sensitivity" -> DoubleType,
        "miss_mass" -> LongType, "neg_mass" -> LongType,
        "specificity" -> DoubleType, "pi" -> DoubleType,
        "n_pos" -> LongType, "post_mass" -> LongType)
      case Some(m) =>
        val st = m.rounds.last
        import spark.implicits._
        Seq("a1_length", "a2_alpha", "a3_distinct").zipWithIndex.map {
          case (nm, j) =>
            (nm, st.a(j), st.sp, st.alpha(j), st.b(j), st.sn, st.beta(j),
              st.pi, m.nPos, m.postMass)
        }.toDF("annotator", "match_mass", "pos_mass", "sensitivity",
          "miss_mass", "neg_mass", "specificity", "pi", "n_pos", "post_mass")
          .orderBy(col("annotator"))
    }
  }

  /** q260 oracle: the EM chain replayed as chained MATERIALIZED CTEs —
    * votes → micro posterior p0 → (masses s_r → rates d_r → posterior
    * p_r) × rounds — with the identical left-associated update expression
    * and ::DOUBLE literal discipline. */
  def qDawidSkeneSql(rounds: Int = 5): String = {
    val base =
      """v AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 30 THEN 1 ELSE 0 END AS v1,
        |    CASE WHEN 2 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) >= length(text) THEN 1 ELSE 0 END AS v2,
        |    CASE WHEN 2 * len(list_distinct(toks)) >= len(toks) THEN 1 ELSE 0 END AS v3
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
        |        FROM documents)),
        |p0 AS MATERIALIZED (
        |  SELECT doc_id, v1, v2, v3,
        |    CAST(round(1e6 * (v1 + v2 + v3) / 3) AS BIGINT) AS pm FROM v)""".stripMargin
    val chain = (1 to rounds).map { r =>
      val p = s"p${r - 1}"
      s"""s$r AS MATERIALIZED (
         |  SELECT COUNT(*) AS cnt, CAST(SUM(pm) AS BIGINT) AS sp,
         |    CAST(1000000 * COUNT(*) - SUM(pm) AS BIGINT) AS sn,
         |    CAST(SUM(pm * v1) AS BIGINT) AS a1, CAST(SUM(pm * v2) AS BIGINT) AS a2, CAST(SUM(pm * v3) AS BIGINT) AS a3,
         |    CAST(SUM((1000000 - pm) * (1 - v1)) AS BIGINT) AS b1,
         |    CAST(SUM((1000000 - pm) * (1 - v2)) AS BIGINT) AS b2,
         |    CAST(SUM((1000000 - pm) * (1 - v3)) AS BIGINT) AS b3
         |  FROM $p),
         |d$r AS MATERIALIZED (
         |  SELECT CAST(a1 AS DOUBLE) / CAST(sp AS DOUBLE) AS al1,
         |    CAST(a2 AS DOUBLE) / CAST(sp AS DOUBLE) AS al2,
         |    CAST(a3 AS DOUBLE) / CAST(sp AS DOUBLE) AS al3,
         |    CAST(b1 AS DOUBLE) / CAST(sn AS DOUBLE) AS be1,
         |    CAST(b2 AS DOUBLE) / CAST(sn AS DOUBLE) AS be2,
         |    CAST(b3 AS DOUBLE) / CAST(sn AS DOUBLE) AS be3,
         |    CAST(sp AS DOUBLE) / CAST(1000000 * cnt AS DOUBLE) AS pi
         |  FROM s$r),
         |p$r AS MATERIALIZED (
         |  SELECT doc_id, v1, v2, v3,
         |    CAST(round(CASE WHEN l1 + l0 = 0.0::DOUBLE THEN 0.5::DOUBLE ELSE l1 / (l1 + l0) END * 1e6) AS BIGINT) AS pm
         |  FROM (SELECT p.doc_id, p.v1, p.v2, p.v3,
         |      d.pi * (CASE WHEN p.v1 = 1 THEN d.al1 ELSE 1.0::DOUBLE - d.al1 END)
         |           * (CASE WHEN p.v2 = 1 THEN d.al2 ELSE 1.0::DOUBLE - d.al2 END)
         |           * (CASE WHEN p.v3 = 1 THEN d.al3 ELSE 1.0::DOUBLE - d.al3 END) AS l1,
         |      (1.0::DOUBLE - d.pi)
         |           * (CASE WHEN p.v1 = 1 THEN 1.0::DOUBLE - d.be1 ELSE d.be1 END)
         |           * (CASE WHEN p.v2 = 1 THEN 1.0::DOUBLE - d.be2 ELSE d.be2 END)
         |           * (CASE WHEN p.v3 = 1 THEN 1.0::DOUBLE - d.be3 ELSE d.be3 END) AS l0
         |    FROM $p p CROSS JOIN d$r d))""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$chain,
       |fin AS MATERIALIZED (
       |  SELECT CAST(SUM(CASE WHEN pm > 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(SUM(pm) AS BIGINT) AS post_mass FROM p$rounds)
       |SELECT * FROM (
       |  SELECT 'a1_length' AS annotator, s.a1 AS match_mass, s.sp AS pos_mass,
       |    d.al1 AS sensitivity, s.b1 AS miss_mass, s.sn AS neg_mass,
       |    d.be1 AS specificity, d.pi AS pi, f.n_pos, f.post_mass
       |  FROM s$rounds s CROSS JOIN d$rounds d CROSS JOIN fin f
       |  UNION ALL
       |  SELECT 'a2_alpha', s.a2, s.sp, d.al2, s.b2, s.sn, d.be2, d.pi,
       |    f.n_pos, f.post_mass
       |  FROM s$rounds s CROSS JOIN d$rounds d CROSS JOIN fin f
       |  UNION ALL
       |  SELECT 'a3_distinct', s.a3, s.sp, d.al3, s.b3, s.sn, d.be3, d.pi,
       |    f.n_pos, f.post_mass
       |  FROM s$rounds s CROSS JOIN d$rounds d CROSS JOIN fin f)
       |ORDER BY annotator""".stripMargin
  }

  /** Q263: data-diet selection by EL2N score (Paul, Ganguli & Dziugaite
    * 2021, "Deep Learning on a Data Diet") — score every document by the
    * trained classifier's error norm |p − y| (the 1-D EL2N of the
    * logistic model) and PRUNE the easiest examples, keeping the hardest
    * `keepPct`%: the data-selection step that follows training (q139),
    * calibration (q188), acquisition (q198) and ranking eval (q200/q206)
    * in the classifier loop. Emits the per-source retention profile —
    * the budget statistic a mixing pipeline consumes after pruning.
    *
    * Determinism: scores land on the integer micro grid
    * (round(|p−y|·1e6) — the libm-exp discipline; integer rounding is
    * away-from-zero on both engines); keep = global rank by
    * (score DESC, doc_id ASC) ≤ budget = (keepPct·n)//100, a total order
    * with an exact integer budget. Kept-score sums are BIGINT micro sums;
    * retention is one raw division of exact integers.
    *
    * Scale shape: scoring is one linear scan over the cached feature
    * frame; the global rank is the bucketRank two-phase prefix (no
    * single-partition sort; implemented ascending with the mirrored
    * tie-break, rank_desc = n+1−rank_asc); one equi join back to sources
    * + one |sources|-row aggregate. Ninth consumer of the session weight
    * cache — a cache hit scores without retraining. */
  def qDataDiet(t: Tables, rounds: Int = 16, lr: Double = 8.0,
      keepPct: Int = 70): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "source" -> StringType,
            "n_docs" -> LongType, "n_kept" -> LongType,
            "kept_score_micro" -> LongType, "retention" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val scored = feats.select(col("doc_id"),
            round(abs(p - col("y")) * lit(1000000.0), 0).cast("long").as("sm"))
          val n = scored.count()
          val budget = keepPct.toLong * n / 100L
          // ascending bucketRank with the mirrored tie-break: global
          // (sm DESC, doc_id ASC) rank r_desc = n + 1 − r_asc
          val ranked = bucketRank(scored, "sm", 1000001L,
            Seq(col("sm"), col("doc_id").desc), "r_asc")
          val kept = ranked.filter(col("r_asc") >= lit(n + 1L - budget))
            .select(col("doc_id"), col("sm"))
          t.documents.select(col("doc_id"), col("source"))
            .join(kept, Seq("doc_id"), "left")
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              count(col("sm")).as("n_kept"),
              coalesce(sum(col("sm")), lit(0L)).as("kept_score_micro"))
            .select(col("source"), col("n_docs"), col("n_kept"),
              col("kept_score_micro"),
              (col("n_kept").cast("double") / col("n_docs").cast("double"))
                .as("retention"))
            .orderBy(col("source"))
      }
    }
  }

  /** Q265: greedy bigram decode walk — deterministic Markov-chain text
    * generation from the corpus bigram graph (the synthetic-data /
    * LM-smoke-test step: "what does the corpus model actually say?").
    * From each of the `nSeeds` most frequent tokens, repeatedly follow
    * the most frequent observed successor (argmax count, ties by token
    * ascending) for `steps` steps; a token with no observed successor
    * ends its walk early. Emits (seed, step, token, supporting count) —
    * step 0 carries the seed's unigram frequency.
    *
    * Fully integer/string-exact — no floats anywhere: the argmax is a
    * per-prev ROW_NUMBER over (count DESC, token), the walk a pure
    * function iteration, so the whole generation hash-gates.
    *
    * Scale shape: one corpus bigram aggregate; the per-prev argmax is a
    * key-partitioned window over bounded successor groups (never a
    * global sort); the argmax table is localCheckpointed once and each
    * of the K steps joins the ≤nSeeds-row frontier (broadcast by
    * construction) against it — K vocab-bounded scans, nothing
    * corpus-proportional after the first aggregate. The oracle replays
    * the walk as a recursive CTE (the q227 sequential-walk precedent). */
  def qGreedyDecode(t: Tables, steps: Int = 10, nSeeds: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    if (t.documents.isEmpty)
      return Tables.emptyFrame(spark, "seed" -> StringType,
        "step" -> LongType, "token" -> StringType, "c" -> LongType)
    // r14: uf/bf ride the shared session n-gram counts
    val uf = unigramCountsShared(t)
    val bf = bigramCountsShared(t)
    val am = bf.withColumn("rn", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("c").desc, col("b"))))
      .filter(col("rn") === 1).select(col("a"), col("b"), col("c"))
      .localCheckpoint()
    // barrier: every unioned walk arm re-references `seeds`, and Spark
    // re-evaluates the full unigram aggregate (tokenize scan included)
    // per reference — 11 corpus scans for a 10-step walk (r13 opt). The
    // checkpointed frame is nSeeds rows.
    val seeds = uf.orderBy(col("f").desc, col("w")).limit(nSeeds)
      .localCheckpoint()
    var cur = seeds.select(col("w").as("seed"), lit(0L).as("step"),
      col("w").as("token"), col("f").as("c"))
    var out = cur
    for (_ <- 1 to steps) {
      cur = broadcast(cur).as("w").join(am.as("m"), col("w.token") === col("m.a"))
        .select(col("w.seed").as("seed"), (col("w.step") + lit(1L)).as("step"),
          col("m.b").as("token"), col("m.c").as("c"))
      out = out.unionByName(cur)
    }
    out.orderBy(col("seed"), col("step"))
  }

  /** q265 oracle: the same bigram argmax table + the walk as a recursive
    * CTE over it. */
  def qGreedyDecodeSql(steps: Int = 10, nSeeds: Int = 5): String =
    s"""WITH RECURSIVE toks AS MATERIALIZED (
       |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |         x -> len(x) > 0) AS tk
       |  FROM documents),
       |uf AS (SELECT w, COUNT(*)::BIGINT AS f
       |       FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
       |bf AS MATERIALIZED (
       |  SELECT a, b, COUNT(*)::BIGINT AS c FROM (
       |    SELECT tk[i] AS a, tk[i+1] AS b
       |    FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks)
       |    ) GROUP BY a, b),
       |am AS MATERIALIZED (
       |  SELECT a, b, c FROM (
       |    SELECT a, b, c,
       |      ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, b) AS rn
       |    FROM bf) WHERE rn = 1),
       |seeds AS (SELECT w AS seed, f AS c FROM uf ORDER BY f DESC, w LIMIT $nSeeds),
       |walk AS (
       |  SELECT seed, CAST(0 AS BIGINT) AS step, seed AS token, c FROM seeds
       |  UNION ALL
       |  SELECT w.seed, w.step + 1, m.b, m.c
       |  FROM walk w JOIN am m ON m.a = w.token
       |  WHERE w.step < $steps)
       |SELECT seed, step, token, c FROM walk ORDER BY seed, step""".stripMargin

  /** Q264: pairwise source Jensen–Shannon divergence matrix — the
    * corpus-mixing audit that says HOW DIFFERENT two slices' unigram
    * distributions are (Lin 1991): JSD(a,b) = ½KL(a‖m) + ½KL(b‖m),
    * m = ½(a+b), bounded in [0, ln 2] and symmetric — the standard
    * distance for judging whether sources can share a mixing weight
    * (q207's DoReMi weights) or a tokenizer (q255's fertility), and the
    * document-level dual of q211's per-domain cross-entropy.
    *
    * Exactness: pa, pb are single IEEE divisions of exact counts; each
    * KL term pa·ln(2·pa/(pa+pb)) carries libm ln, so per-TERM values are
    * rounded to the micro grid and summed as BIGINT (the q204 MI-cell /
    * q207 per-token-nll discipline — order-independent, exact). The
    * final jsd is one raw division of the exact integer sum. Terms with
    * pa = 0 contribute 0 to KL(a‖m) and are simply absent.
    *
    * Scale shape: one corpus-sized (source, term) aggregate, then
    * everything is vocab-bounded: the per-source totals are a ≤|sources|
    * driver fetch (the Lloyd contract) whose source dimension re-enters
    * as an exploded literal array (never a 1-row cross join — the q114
    * rule), the opposing counts arrive by one co-partitioned left join
    * on (source, term), and the matrix is |sources|² rows. The count
    * table is localCheckpointed once (the bounded-fetch doubles as its
    * materialization), so the corpus is scanned exactly once. */
  def qSourceJsd(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val st = sourceTermCountsShared(t)
    val ntRows = st.groupBy(col("source")).agg(sum(col("c")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    if (ntRows.isEmpty)
      return Tables.emptyFrame(spark, "source_a" -> StringType,
        "source_b" -> StringType, "n_terms_a" -> LongType,
        "n_terms_b" -> LongType, "kl_a_micro" -> LongType,
        "kl_b_micro" -> LongType, "jsd" -> DoubleType)
    val bDim = array(ntRows.map { case (s, n) =>
      struct(lit(s).as("src_b"), lit(n).as("nb")) }: _*)
    val naDf = broadcast(st.sparkSession.createDataFrame(
      spark.sparkContext.parallelize(ntRows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source", StringType),
        org.apache.spark.sql.types.StructField("na", LongType)))))
    val ex = st.join(naDf, Seq("source"))
      .select(col("source").as("src_a"), col("term"),
        col("c").as("ca"), col("na"), explode(bDim).as("b"))
      .select(col("src_a"), col("term"), col("ca"), col("na"),
        col("b.src_b").as("src_b"), col("b.nb").as("nb"))
      .filter(col("src_a") =!= col("src_b"))
    val wc = ex.join(
      st.select(col("source").as("src_b"), col("term"), col("c").as("cb0")),
      Seq("src_b", "term"), "left")
      .withColumn("cb", coalesce(col("cb0"), lit(0L)))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    val s = wc.select(col("src_a"), col("src_b"),
      round(lit(1000000.0) * pa * log(lit(2.0) * pa / (pa + pb)), 0)
        .cast("long").as("term_micro"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term_micro")).as("kl_micro"))
    val s2 = s.select(col("src_a").as("sb"), col("src_b").as("sa"),
      col("n_terms").as("n_terms_b"), col("kl_micro").as("kl_b_micro"))
    s.join(s2, col("src_a") === col("sa") && col("src_b") === col("sb"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a").as("source_a"), col("src_b").as("source_b"),
        col("n_terms").as("n_terms_a"), col("n_terms_b"),
        col("kl_micro").as("kl_a_micro"), col("kl_b_micro"),
        ((col("kl_micro") + col("kl_b_micro")).cast("double") /
          lit(2000000.0)).as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q264 oracle: the same count tables, the source dimension as a plain
    * join (bounded), identical IEEE term expressions micro-summed. */
  val qSourceJsdSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term
      |  FROM documents),
      |st AS MATERIALIZED (
      |  SELECT source, term, COUNT(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
      |nt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
      |ex AS (
      |  SELECT a.source AS src_a, a.term, a.c AS ca, na.n AS na,
      |    b.source AS src_b, b.n AS nb
      |  FROM st a JOIN nt na ON a.source = na.source
      |  JOIN nt b ON b.source <> a.source),
      |wc AS (
      |  SELECT ex.*, COALESCE(sb.c, 0) AS cb
      |  FROM ex LEFT JOIN st sb
      |    ON sb.source = ex.src_b AND sb.term = ex.term),
      |tm AS (
      |  SELECT src_a, src_b,
      |    CAST(round(1000000.0::DOUBLE
      |      * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |      * ln(2.0::DOUBLE * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |           / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |              + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))))) AS BIGINT)
      |      AS term_micro
      |  FROM wc),
      |s AS (
      |  SELECT src_a, src_b, COUNT(*)::BIGINT AS n_terms,
      |    CAST(SUM(term_micro) AS BIGINT) AS kl_micro
      |  FROM tm GROUP BY 1, 2)
      |SELECT s1.src_a AS source_a, s1.src_b AS source_b,
      |  s1.n_terms AS n_terms_a, s2.n_terms AS n_terms_b,
      |  s1.kl_micro AS kl_a_micro, s2.kl_micro AS kl_b_micro,
      |  CAST(s1.kl_micro + s2.kl_micro AS DOUBLE) / 2000000.0::DOUBLE AS jsd
      |FROM s s1 JOIN s s2 ON s1.src_a = s2.src_b AND s1.src_b = s2.src_a
      |WHERE s1.src_a < s1.src_b
      |ORDER BY source_a, source_b""".stripMargin

  /** q263 oracle: the shared weight chain + a global ROW_NUMBER over the
    * micro scores (the two-phase prefix is a Spark execution detail) and
    * the same integer budget. */
  def qDataDietSql(rounds: Int = 16, lr: Double = 8.0,
      keepPct: Int = 70): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(abs(($p) - y) * 1000000.0::DOUBLE) AS BIGINT) AS sm
       |  FROM f, $wFinal w),
       |ranked AS (
       |  SELECT doc_id, sm,
       |    CAST(ROW_NUMBER() OVER (ORDER BY sm DESC, doc_id) AS BIGINT) AS r,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM scored),
       |kept AS (
       |  SELECT doc_id, sm FROM ranked WHERE r <= ($keepPct * n) // 100)
       |SELECT d.source, COUNT(*)::BIGINT AS n_docs,
       |  CAST(COUNT(k.sm) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(SUM(k.sm), 0) AS BIGINT) AS kept_score_micro,
       |  CAST(COUNT(k.sm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS retention
       |FROM documents d LEFT JOIN kept k USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** Q286: confident-learning label-noise estimate (Northcutt, Jiang &
    * Chuang 2021, binary form) off the shared cached classifier: per-class
    * confidence thresholds t_c = mean predicted class-probability among
    * examples LABELED c; an example is confidently class c when its class-c
    * probability clears t_c; the confident joint C[y][ŷ] over decisively
    * assigned examples estimates the label-noise mass as its off-diagonal
    * fraction. The labels audited are the Gopher-rule gate y itself — the
    * audit asks how much of the rule labeling the model confidently
    * contradicts (the label-errors-in-quality-gates question a training
    * pipeline runs before trusting its filters).
    *
    * Exactness: probabilities live on the micro grid (round at 0 dp of
    * p·1e6 — cross-engine safe); the threshold test is the integer
    * cross-multiplication cm·n_c ≥ S_c (mean comparison without division);
    * the four threshold sums ride the driver as one bounded fetch (the
    * k-means-centroid contract); counts exact, noise rate one division.
    *
    * Scale shape: training is the shared 16-round GD (`graft.Shared`); the
    * audit is two linear scans (threshold aggregate, cell aggregate) plus
    * windows over the ≤4-row cell table. */
  def qLabelNoise(t: Tables, rounds: Int = 16, lr: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "y" -> LongType, "yhat" -> LongType,
            "n" -> LongType, "n_assigned" -> LongType, "off_diag" -> LongType,
            "noise_rate" -> DoubleType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val scored = feats.select(col("y").cast("long").as("y"),
            round(p * lit(1000000.0), 0).cast("long").as("cm"))
          val th = scored.agg(
            coalesce(sum(when(col("y") === 1L, col("cm"))), lit(0L)),
            coalesce(sum(when(col("y") === 1L, 1L)), lit(0L)),
            coalesce(sum(when(col("y") === 0L, lit(1000000L) - col("cm"))), lit(0L)),
            coalesce(sum(when(col("y") === 0L, 1L)), lit(0L))).collect()(0)
          val (s1, n1, s0, n0) =
            (th.getLong(0), th.getLong(1), th.getLong(2), th.getLong(3))
          val conf1 = lit(n1) > 0L && col("cm") * lit(n1) >= lit(s1)
          val conf0 = lit(n0) > 0L &&
            (lit(1000000L) - col("cm")) * lit(n0) >= lit(s0)
          val yhat = when(conf1 && !conf0, 1L).when(conf0 && !conf1, 0L)
            .when(conf1 && conf0, when(col("cm") >= 500000L, 1L).otherwise(0L))
            .otherwise(lit(null).cast("long"))
          val all = Window.partitionBy()
          scored.withColumn("yhat", yhat).filter(col("yhat").isNotNull)
            .groupBy(col("y"), col("yhat")).agg(count(lit(1)).as("n"))
            .withColumn("n_assigned", sum(col("n")).over(all))
            .withColumn("off_diag",
              sum(when(col("y") =!= col("yhat"), col("n")).otherwise(0L)).over(all))
            .withColumn("noise_rate",
              col("off_diag").cast("double") / col("n_assigned").cast("double"))
            .select(col("y"), col("yhat"), col("n"), col("n_assigned"),
              col("off_diag"), col("noise_rate"))
            .orderBy(col("y"), col("yhat"))
      }
    }
  }

  /** q286 oracle: the weight chain + the same micro thresholds via a
    * 1-row CTE cross join and identical decision CASE. */
  def qLabelNoiseSql(rounds: Int = 16, lr: Double = 8.0): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val p = s"1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))"
    s"""WITH $chain,
       |sc AS MATERIALIZED (
       |  SELECT CAST(y AS BIGINT) AS y,
       |    CAST(round(($p) * 1000000.0::DOUBLE) AS BIGINT) AS cm
       |  FROM f, $wFinal w),
       |th AS (
       |  SELECT
       |    CAST(COALESCE(SUM(CASE WHEN y = 1 THEN cm END), 0) AS BIGINT) AS s1,
       |    CAST(COALESCE(SUM(CASE WHEN y = 1 THEN 1 END), 0) AS BIGINT) AS n1,
       |    CAST(COALESCE(SUM(CASE WHEN y = 0 THEN 1000000 - cm END), 0) AS BIGINT) AS s0,
       |    CAST(COALESCE(SUM(CASE WHEN y = 0 THEN 1 END), 0) AS BIGINT) AS n0
       |  FROM sc),
       |lab AS (
       |  SELECT s.y,
       |    CASE
       |      WHEN (t.n1 > 0 AND s.cm * t.n1 >= t.s1)
       |       AND NOT (t.n0 > 0 AND (1000000 - s.cm) * t.n0 >= t.s0) THEN 1
       |      WHEN (t.n0 > 0 AND (1000000 - s.cm) * t.n0 >= t.s0)
       |       AND NOT (t.n1 > 0 AND s.cm * t.n1 >= t.s1) THEN 0
       |      WHEN (t.n1 > 0 AND s.cm * t.n1 >= t.s1)
       |       AND (t.n0 > 0 AND (1000000 - s.cm) * t.n0 >= t.s0)
       |        THEN CASE WHEN s.cm >= 500000 THEN 1 ELSE 0 END
       |      ELSE NULL END AS yhat
       |  FROM sc s, th t),
       |cells AS (
       |  SELECT y, CAST(yhat AS BIGINT) AS yhat, COUNT(*)::BIGINT AS n
       |  FROM lab WHERE yhat IS NOT NULL GROUP BY y, yhat)
       |SELECT y, yhat, n,
       |  CAST(SUM(n) OVER () AS BIGINT) AS n_assigned,
       |  CAST(SUM(CASE WHEN y != yhat THEN n ELSE 0 END) OVER () AS BIGINT) AS off_diag,
       |  CAST(SUM(CASE WHEN y != yhat THEN n ELSE 0 END) OVER () AS DOUBLE)
       |    / CAST(SUM(n) OVER () AS DOUBLE) AS noise_rate
       |FROM cells ORDER BY y, yhat""".stripMargin
  }

  /** Q288: decision-stump induction over the quality gate — the exact
    * best-split search of CART/C4.5 for ONE feature (token count): every
    * distinct value v is a candidate threshold x ≤ v; the information
    * gain H(parent) − Σ(n_side/n)·H(side) is computed from PREFIX counts
    * over the value census (one ordered O(n) frame — never the
    * unbounded-FOLLOWING O(n²) frame, the q259 rule), and the winning
    * split is a single integer MAX over the q206 argmax encoding
    * gain_micro·10⁵ + (99999 − v) (ties → smaller threshold; v < 10⁵ by
    * corpus contract). This is the inner loop of distributed tree
    * induction (per-feature split search over histogram prefixes —
    * exactly how Spark MLlib/XGBoost shape it), here exact and gated.
    *
    * Exactness: counts integer; entropies are fixed IEEE sequences over
    * single divisions of exact integers; the gain lands on the micro grid
    * (log-ulp rule) and every comparison after that is integer. */
  def qDecisionStump(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val wPfx = w.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def h(n: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
      when(n === 0L || pos === 0L || pos === n, lit(0.0)).otherwise {
        val p = pos.cast("double") / n.cast("double")
        val q = (n - pos).cast("double") / n.cast("double")
        -(p * log(p) + q * log(q))
      }
    val toks = text.tokenize(col("text"))
    val counts = t.fanout(t.documents).select(
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
        .cast("long").as("n_tok_chars"),
      size(filter(toks, tk => tk.isInCollection(text.stopwords)))
        .cast("long").as("n_stop"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    val y = when((col("n_tokens") >= 20 && col("n_tokens") <= 80) &&
      (col("n_tok_chars") >= col("n_tokens") * 4 &&
        col("n_tok_chars") <= col("n_tokens") * 5) &&
      (col("n_stop") * 20 >= col("n_tokens")) &&
      (col("n_distinct") * 2 >= col("n_tokens")), 1L).otherwise(0L)
    counts.select(col("n_tokens").as("v"), y.as("y"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"), sum(col("y")).as("p"))
      .withColumn("n_le", sum(col("cnt")).over(wPfx))
      .withColumn("pos_le", sum(col("p")).over(wPfx))
      .withColumn("n", sum(col("cnt")).over(w))
      .withColumn("pos", sum(col("p")).over(w))
      .withColumn("n_gt", col("n") - col("n_le"))
      .withColumn("pos_gt", col("pos") - col("pos_le"))
      .withColumn("gain_micro", round((h(col("n"), col("pos")) -
        (col("n_le").cast("double") / col("n").cast("double")) *
          h(col("n_le"), col("pos_le")) -
        (col("n_gt").cast("double") / col("n").cast("double")) *
          h(col("n_gt"), col("pos_gt"))) * lit(1000000.0), 0).cast("long"))
      .withColumn("best_enc",
        max(col("gain_micro") * lit(100000L) + (lit(99999L) - col("v"))).over(w))
      .select(col("v"), col("n_le"), col("pos_le"), col("n_gt"), col("pos_gt"),
        col("gain_micro"),
        expr("best_enc div 100000L").as("best_gain_micro"),
        (lit(99999L) - col("best_enc") % lit(100000L)).as("best_v"))
      .orderBy(col("v"))
  }

  /** q288 oracle: same census, explicit ROWS prefix frame, identical
    * entropy IEEE sequence and argmax encoding. */
  def qDecisionStumpSql: String = {
    val sw = text.stopwords.map(s => s"'$s'").mkString(", ")
    def h(n0: String, pos0: String): String = {
      val n = s"($n0)"; val pos = s"($pos0)" // substituted exprs need parens
      s"""CASE WHEN $n = 0 OR $pos = 0 OR $pos = $n THEN 0.0::DOUBLE
         |ELSE -((CAST($pos AS DOUBLE) / CAST($n AS DOUBLE))
         |         * ln(CAST($pos AS DOUBLE) / CAST($n AS DOUBLE))
         |       + (CAST($n - $pos AS DOUBLE) / CAST($n AS DOUBLE))
         |         * ln(CAST($n - $pos AS DOUBLE) / CAST($n AS DOUBLE))) END"""
        .stripMargin.replace("\n", " ")
    }
    s"""WITH c AS (
       |  SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT)
       |      AS n_tok_chars,
       |    CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |  FROM (SELECT text,
       |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |                      x -> len(x) > 0) AS toks
       |        FROM documents)),
       |cells AS (
       |  SELECT n_tokens AS v, COUNT(*)::BIGINT AS cnt,
       |    CAST(SUM(CASE WHEN (n_tokens >= 20 AND n_tokens <= 80)
       |      AND (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5)
       |      AND (n_stop * 20 >= n_tokens)
       |      AND (n_distinct * 2 >= n_tokens) THEN 1 ELSE 0 END) AS BIGINT) AS p
       |  FROM c GROUP BY n_tokens),
       |pfx AS (
       |  SELECT v,
       |    CAST(SUM(cnt) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_le,
       |    CAST(SUM(p) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pos_le,
       |    CAST(SUM(cnt) OVER () AS BIGINT) AS n,
       |    CAST(SUM(p) OVER () AS BIGINT) AS pos
       |  FROM cells),
       |g AS (
       |  SELECT v, n_le, pos_le, n - n_le AS n_gt, pos - pos_le AS pos_gt,
       |    CAST(round((${h("n", "pos")}
       |      - (CAST(n_le AS DOUBLE) / CAST(n AS DOUBLE)) * ${h("n_le", "pos_le")}
       |      - (CAST(n - n_le AS DOUBLE) / CAST(n AS DOUBLE))
       |        * ${h("n - n_le", "pos - pos_le")}) * 1000000.0::DOUBLE) AS BIGINT)
       |      AS gain_micro
       |  FROM pfx)
       |SELECT v, n_le, pos_le, CAST(n_gt AS BIGINT) AS n_gt,
       |  CAST(pos_gt AS BIGINT) AS pos_gt, gain_micro,
       |  CAST(MAX(gain_micro * 100000 + (99999 - v)) OVER () // 100000 AS BIGINT)
       |    AS best_gain_micro,
       |  CAST(99999 - MAX(gain_micro * 100000 + (99999 - v)) OVER () % 100000 AS BIGINT)
       |    AS best_v
       |FROM g ORDER BY v""".stripMargin
  }

  /** Q289: weight-of-evidence / information-value binning (the
    * credit-scoring WOE/IV battery applied to a pretraining quality gate):
    * documents bucketed by token-count bins, per bin the Gopher-gate
    * positive/negative census, WOE = ln(pct_pos/pct_neg) and
    * IV = Σ(pct_pos − pct_neg)·WOE — the standard strength-of-evidence
    * score for a candidate filter feature (IV < 0.02 ⇒ the feature carries
    * no signal about the gate; > 0.3 ⇒ strong).
    *
    * Exactness: the share difference is the exact rational
    * (pos·N − neg·P)/(P·N); WOE's log runs through round(6) (the r9
    * exp/log ulp rule) and the IV terms land on the micro grid, summed as
    * BIGINT over the ≤13-row bin table. Bins with a zero side emit NULL
    * woe and a zero IV term (the standard WOE convention).
    *
    * Scale shape: one tokenize scan + one bin aggregate; windows over the
    * bounded bin table. */
  def qWoeIv(t: Tables, binWidth: Int = 10, maxBin: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = text.tokenize(col("text"))
    val counts = t.fanout(t.documents).select(
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
        .cast("long").as("n_tok_chars"),
      size(filter(toks, tk => tk.isInCollection(text.stopwords)))
        .cast("long").as("n_stop"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
    val y = when((col("n_tokens") >= 20 && col("n_tokens") <= 80) &&
      (col("n_tok_chars") >= col("n_tokens") * 4 &&
        col("n_tok_chars") <= col("n_tokens") * 5) &&
      (col("n_stop") * 20 >= col("n_tokens")) &&
      (col("n_distinct") * 2 >= col("n_tokens")), 1L).otherwise(0L)
    val w = Window.partitionBy(lit(0))
    counts
      .select(least(expr(s"n_tokens div ${binWidth}L"), lit(maxBin.toLong)).as("bin"),
        y.as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .withColumn("neg", col("n") - col("pos"))
      .withColumn("p_tot", sum(col("pos")).over(w))
      .withColumn("n_tot", sum(col("neg")).over(w))
      .withColumn("woe",
        when(col("pos") > 0L && col("neg") > 0L,
          round(log((col("pos") * col("n_tot")).cast("double") /
            (col("neg") * col("p_tot")).cast("double")), 6)))
      .withColumn("iv_term_micro",
        when(col("woe").isNotNull,
          round(((col("pos") * col("n_tot") - col("neg") * col("p_tot")).cast("double") /
            (col("p_tot") * col("n_tot")).cast("double")) * col("woe") *
            lit(1000000.0), 0).cast("long")).otherwise(lit(0L)))
      .withColumn("iv_total_micro", sum(col("iv_term_micro")).over(w))
      .select(col("bin"), col("n"), col("pos"), col("neg"), col("p_tot"),
        col("n_tot"), col("woe"), col("iv_term_micro"), col("iv_total_micro"))
      .orderBy(col("bin"))
  }

  /** q289 oracle: the logit-feature gate defs + the same exact-rational
    * WOE/IV arithmetic over the bounded bin table. */
  def qWoeIvSql(binWidth: Int = 10, maxBin: Int = 12): String = {
    val sw = text.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH c AS (
       |  SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT)
       |      AS n_tok_chars,
       |    CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |  FROM (SELECT text,
       |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |                      x -> len(x) > 0) AS toks
       |        FROM documents)),
       |b AS (
       |  SELECT LEAST(n_tokens // $binWidth, $maxBin) AS bin,
       |    CASE WHEN (n_tokens >= 20 AND n_tokens <= 80)
       |      AND (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5)
       |      AND (n_stop * 20 >= n_tokens)
       |      AND (n_distinct * 2 >= n_tokens) THEN 1 ELSE 0 END AS y
       |  FROM c),
       |cells AS (
       |  SELECT CAST(bin AS BIGINT) AS bin, COUNT(*)::BIGINT AS n,
       |    CAST(SUM(y) AS BIGINT) AS pos,
       |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
       |  FROM b GROUP BY bin),
       |tot AS (
       |  SELECT *, CAST(SUM(pos) OVER () AS BIGINT) AS p_tot,
       |    CAST(SUM(neg) OVER () AS BIGINT) AS n_tot
       |  FROM cells),
       |wv AS (
       |  SELECT *,
       |    CASE WHEN pos > 0 AND neg > 0
       |         THEN round(ln(CAST(pos * n_tot AS DOUBLE)
       |                       / CAST(neg * p_tot AS DOUBLE)), 6) END AS woe
       |  FROM tot),
       |iv AS (
       |  SELECT *,
       |    CASE WHEN woe IS NOT NULL
       |         THEN CAST(round((CAST(pos * n_tot - neg * p_tot AS DOUBLE)
       |                          / CAST(p_tot * n_tot AS DOUBLE)) * woe
       |                         * 1000000.0::DOUBLE) AS BIGINT)
       |         ELSE 0 END AS iv_term_micro
       |  FROM wv)
       |SELECT bin, n, pos, neg, p_tot, n_tot, woe,
       |  CAST(iv_term_micro AS BIGINT) AS iv_term_micro,
       |  CAST(SUM(iv_term_micro) OVER () AS BIGINT) AS iv_total_micro
       |FROM iv ORDER BY bin""".stripMargin
  }

  /** Q292: Hill tail-index estimator over the token-frequency
    * distribution (Hill 1975) — the MLE of the Pareto exponent from the
    * top-k order statistics: α̂ = k / Σᵢ ln(fᵢ/f₍ₖ₊₁₎). Complements q117's
    * Zipf least-squares slope with the estimator actually used for
    * heavy-tail diagnostics; a tail index drifting across snapshots flags
    * boilerplate floods or over-aggressive dedup in the head vocabulary.
    * k = 20 by corpus contract: the synthetic template pool holds exactly
    * 31 distinct tokens (the q203 saturation invariant), so the k+1-st
    * order statistic must exist at every SF.
    *
    * Exactness: frequencies are exact; each log ratio runs through the
    * micro grid (round at 0 dp of ln·1e6 — the r9 log-ulp rule), the sum
    * is a BIGINT window over the k-row table, and α̂ is one division of
    * exact integers. Emits the k head rows (rank, token, freq, ratio) so
    * the estimator is fully auditable.
    *
    * Scale shape: one tokenize scan + vocabulary aggregate; the rank
    * window runs over the vocabulary-bounded census (the corpus-scale
    * form swaps in bucketRank). */
  def qHillTail(t: Tables, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val freq = t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    freq
      .withColumn("rank",
        row_number().over(w.orderBy(col("freq").desc, col("token"))).cast("long"))
      .filter(col("rank") <= k + 1)
      .localCheckpoint() // bounded k+1 rows; stops the census re-running per window
      .withColumn("fref", max(when(col("rank") === (k + 1).toLong, col("freq"))).over(w))
      .filter(col("rank") <= k.toLong && col("fref").isNotNull)
      .withColumn("lr_micro",
        round(log(col("freq").cast("double") / col("fref").cast("double")) *
          lit(1000000.0), 0).cast("long"))
      .withColumn("sum_lr_micro", sum(col("lr_micro")).over(w))
      .withColumn("hill_alpha",
        when(col("sum_lr_micro") === 0L, lit(null).cast("double"))
          .otherwise(lit(k * 1000000L).cast("double") /
            col("sum_lr_micro").cast("double")))
      .select(col("rank"), col("token"), col("freq"), col("fref"),
        col("lr_micro"), col("sum_lr_micro"), col("hill_alpha"))
      .orderBy(col("rank"))
  }

  /** q292 oracle: the q25 tokenizer census, the same rank cut and
    * micro-grid log ratios. */
  def qHillTailSql(k: Int = 20): String =
    s"""WITH freq AS MATERIALIZED (
      |  SELECT token, COUNT(*)::BIGINT AS freq FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                              x -> len(x) > 0)) AS token
      |    FROM documents)
      |  GROUP BY token),
      |rk AS (
      |  SELECT token, freq,
      |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
      |  FROM freq),
      |cut AS (SELECT * FROM rk WHERE rank <= ${k + 1}),
      |wr AS (
      |  SELECT *, CAST(MAX(CASE WHEN rank = ${k + 1} THEN freq END) OVER () AS BIGINT)
      |    AS fref
      |  FROM cut),
      |lr AS (
      |  SELECT rank, token, freq, fref,
      |    CAST(round(ln(CAST(freq AS DOUBLE) / CAST(fref AS DOUBLE))
      |               * 1000000.0::DOUBLE) AS BIGINT) AS lr_micro
      |  FROM wr WHERE rank <= $k AND fref IS NOT NULL)
      |SELECT rank, token, freq, fref, lr_micro,
      |  CAST(SUM(lr_micro) OVER () AS BIGINT) AS sum_lr_micro,
      |  CASE WHEN SUM(lr_micro) OVER () = 0 THEN NULL
      |       ELSE CAST(${k * 1000000L} AS DOUBLE)
      |            / CAST(SUM(lr_micro) OVER () AS DOUBLE) END AS hill_alpha
      |FROM lr ORDER BY rank""".stripMargin

  /** Q287: corpus readability per source — Flesch Reading Ease (Flesch
    * 1948) computed MICRO-AVERAGED from per-source integer totals: words
    * (the q24/q25 tokenizer census), sentence marks (runs of [.!?], min 1
    * per doc), and syllables by the standard vowel-group proxy (runs of
    * [aeiouy] in lowercased text). FRE = 206.835 − 1.015·(W/S) −
    * 84.6·(Y/W) on the exact totals — integer sums, then a fixed IEEE
    * sequence of two divisions/two multiplies/two subtractions identical
    * in both engines (raw-emit; decimal constants written ::DOUBLE in the
    * oracle — the q179 literal-arithmetic rule). Readability gates are a
    * standard pretraining quality filter (e.g. C4/Gopher-class heuristic
    * batteries); micro-averaging keeps the statistic replayable where a
    * mean-of-per-doc-scores would need a float sum.
    *
    * Scale shape: pure scan-stage regexp counters + one per-source
    * aggregate — no shuffle beyond the final ≤|sources| groups. */
  def qReadability(t: Tables): DataFrame = {
    val toks = text.tokenize(col("text"))
    t.fanout(t.documents)
      .select(col("source"),
        size(toks).cast("long").as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
          .as("s"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("s")).as("sentences"), sum(col("y")).as("syllables"))
      .withColumn("flesch",
        when(col("words") === 0L, lit(null).cast("double")) // ANSI 0-div guard
          .otherwise(lit(206.835) -
            lit(1.015) * (col("words").cast("double") / col("sentences").cast("double")) -
            lit(84.6) * (col("syllables").cast("double") / col("words").cast("double"))))
      .orderBy(col("source"))
  }

  /** q287 oracle: the q25 tokenizer census + the same regexp counters and
    * ::DOUBLE-disciplined constant arithmetic. */
  val qReadabilitySql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                         x -> len(x) > 0)) AS BIGINT) AS w,
      |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS s,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
      |  FROM documents)
      |SELECT source, COUNT(*)::BIGINT AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS words,
      |  CAST(SUM(s) AS BIGINT) AS sentences,
      |  CAST(SUM(y) AS BIGINT) AS syllables,
      |  CASE WHEN SUM(w) = 0 THEN NULL
      |       ELSE 206.835::DOUBLE
      |    - 1.015::DOUBLE * (CAST(SUM(w) AS DOUBLE) / CAST(SUM(s) AS DOUBLE))
      |    - 84.6::DOUBLE * (CAST(SUM(y) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)) END AS flesch
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Q293: multinomial Naive Bayes on the Gopher-gate label — the
    * CLOSED-FORM counterpart to q139's iterative logit: training is ONE
    * counting aggregate (Laplace-smoothed per-class token likelihoods +
    * priors), the model every large-scale pipeline reaches for first
    * because it trains in a single distributed pass with no driver
    * round-trips at all. Emits the confusion matrix + accuracy of the
    * trained model scored back over the corpus.
    *
    * Exactness: token/class counts are integers; each log-likelihood
    * ln((cnt+1)/(tok_c+V)) and log-prior ln((n_c+1)/(n+2)) is a single
    * division of exact integers through ln, micro-rounded (the q207
    * per-term rule), so every document score is an exact BIGINT sum of
    * cnt·ll_micro and the argmax is an integer comparison (ties → class
    * 0 on both engines via strict >).
    *
    * Scale shape: explode + one (term, class) aggregate; the likelihood
    * grid is vocab-bounded (broadcast side); scoring is one equi-join of
    * the per-doc term counts against the grid + a per-doc aggregate —
    * all map-side-combinable, zero iterations. */
  def qNaiveBayes(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val lab = logitFeaturesShared(t).select(col("doc_id"), col("y").cast("long").as("y"))
      .localCheckpoint() // labels feed training counts AND scoring
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    val dt = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // term counts feed class totals AND doc scoring
    // one row per vocab term with both class counts (every dt term has a
    // labeled doc, so the pivot covers the full vocabulary); class totals
    // and V ride windows over the vocab-bounded table
    val perTerm = dt.join(lab, Seq("doc_id"))
      .groupBy(col("term")).agg(
        coalesce(sum(when(col("y") === 0L, col("c"))), lit(0L)).as("c0"),
        coalesce(sum(when(col("y") === 1L, col("c"))), lit(0L)).as("c1"))
    val ll = perTerm
      .withColumn("tok0", sum(col("c0")).over(w))
      .withColumn("tok1", sum(col("c1")).over(w))
      .withColumn("v_size", count(lit(1)).over(w))
      .select(col("term"),
        round(log((col("c0") + lit(1L)).cast("double") /
          (col("tok0") + col("v_size")).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("ll0"),
        round(log((col("c1") + lit(1L)).cast("double") /
          (col("tok1") + col("v_size")).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("ll1"))
    val docSums = dt.join(ll, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("ll0")).as("s0"), sum(col("c") * col("ll1")).as("s1"))
    // priors: one bounded 1-row fetch of two exact integers (the q286
    // threshold-literal pattern), micro-rounded half-away-from-zero on
    // the driver — identical to Spark round()/DuckDB std::round on
    // negatives
    val pr = lab.agg(coalesce(sum(col("y")), lit(0L)), count(lit(1))).collect()(0)
    val n1 = pr.getLong(0); val n = pr.getLong(1)
    def microAway(x: Double): Long = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)).toLong
    }
    val lp0 = microAway(math.log((n - n1 + 1).toDouble / (n + 2).toDouble))
    val lp1 = microAway(math.log((n1 + 1).toDouble / (n + 2).toDouble))
    val scored = lab.join(docSums, Seq("doc_id"), "left")
      .withColumn("score0", lit(lp0) + coalesce(col("s0"), lit(0L)))
      .withColumn("score1", lit(lp1) + coalesce(col("s1"), lit(0L)))
      .withColumn("yhat", when(col("score1") > col("score0"), 1L).otherwise(0L))
    scored.groupBy(col("y"), col("yhat")).agg(count(lit(1)).as("n"))
      .withColumn("n_docs", sum(col("n")).over(w))
      .withColumn("acc",
        sum(when(col("y") === col("yhat"), col("n")).otherwise(lit(0L))).over(w)
          .cast("double") / col("n_docs").cast("double"))
      .select(col("y"), col("yhat"), col("n"), col("n_docs"), col("acc"))
      .orderBy(col("y"), col("yhat"))
  }

  /** q293 oracle: the shared Gopher-label CTEs + the same Laplace grid,
    * micro log terms, and integer argmax (CTE names avoid c/f0/f — the
    * q228 rule). (def: interpolates logitFeatureCtes, the q230 rule.) */
  def qNaiveBayesSql(): String =
    s"""WITH ${logitFeatureCtes},
      |lab AS MATERIALIZED (SELECT doc_id, CAST(y AS BIGINT) AS y FROM f),
      |tk AS MATERIALIZED (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                         x -> len(x) > 0)) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |tcls AS MATERIALIZED (
      |  SELECT t.term, l.y, CAST(SUM(t.c) AS BIGINT) AS cnt
      |  FROM tk t JOIN lab l USING (doc_id) GROUP BY t.term, l.y),
      |vsz AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v_size FROM tk),
      |ctot AS (
      |  SELECT CAST(COALESCE(SUM(CASE WHEN y = 0 THEN cnt END), 0) AS BIGINT) AS tok0,
      |    CAST(COALESCE(SUM(CASE WHEN y = 1 THEN cnt END), 0) AS BIGINT) AS tok1
      |  FROM tcls),
      |ll AS MATERIALIZED (
      |  SELECT v.term,
      |    CAST(round(ln(CAST(COALESCE(c0.cnt, 0) + 1 AS DOUBLE)
      |      / CAST(ct.tok0 + s.v_size AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS ll0,
      |    CAST(round(ln(CAST(COALESCE(c1.cnt, 0) + 1 AS DOUBLE)
      |      / CAST(ct.tok1 + s.v_size AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS ll1
      |  FROM (SELECT DISTINCT term FROM tk) v
      |  CROSS JOIN vsz s CROSS JOIN ctot ct
      |  LEFT JOIN (SELECT term, cnt FROM tcls WHERE y = 0) c0 ON c0.term = v.term
      |  LEFT JOIN (SELECT term, cnt FROM tcls WHERE y = 1) c1 ON c1.term = v.term),
      |ds AS (
      |  SELECT t.doc_id, CAST(SUM(t.c * g.ll0) AS BIGINT) AS s0,
      |    CAST(SUM(t.c * g.ll1) AS BIGINT) AS s1
      |  FROM tk t JOIN ll g ON g.term = t.term GROUP BY t.doc_id),
      |pri AS (
      |  SELECT CAST(SUM(y) AS BIGINT) AS n1, CAST(COUNT(*) AS BIGINT) AS n FROM lab),
      |sc AS (
      |  SELECT l.y,
      |    CASE WHEN CAST(round(ln(CAST(p.n1 + 1 AS DOUBLE)
      |          / CAST(p.n + 2 AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
      |        + COALESCE(d.s1, 0)
      |      > CAST(round(ln(CAST(p.n - p.n1 + 1 AS DOUBLE)
      |          / CAST(p.n + 2 AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
      |        + COALESCE(d.s0, 0)
      |      THEN 1 ELSE 0 END AS yhat
      |  FROM lab l CROSS JOIN pri p LEFT JOIN ds d ON d.doc_id = l.doc_id)
      |SELECT CAST(y AS BIGINT) AS y, CAST(yhat AS BIGINT) AS yhat,
      |  COUNT(*)::BIGINT AS n,
      |  CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN y = yhat THEN COUNT(*) ELSE 0 END) OVER () AS DOUBLE)
      |    / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS acc
      |FROM sc GROUP BY y, yhat ORDER BY y, yhat""".stripMargin

  /** Q298: inverted-index postings compression audit — for every vocab
    * term, the exact bit cost of its doc-id posting list under (a) raw
    * 64-bit ids, (b) delta + Elias-γ (Elias 1975: 2⌊log₂g⌋+1 bits per
    * gap), (c) delta + LEB128 varint (⌈bits/7⌉ bytes) — the index-layout
    * planning pass a retrieval/dedup stack runs before choosing its
    * posting format. High-df terms (small gaps) compress hardest; the
    * per-term ratio column makes the df→compression curve auditable.
    *
    * Exactness: PURE INTEGER — gaps are id differences (first gap
    * doc_id+1, so every gap ≥ 1), and ⌊log₂g⌋+1 = length(bin(g)) with
    * identical no-leading-zero semantics on both engines. No envelope.
    *
    * Scale shape: one distinct (term, doc) projection; gaps ride a
    * term-partitioned lag window (distributed by term — never a global
    * sort); one aggregate per term. */
  def qPostingsAudit(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val posts = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
      .distinct()
    posts
      .withColumn("gap",
        coalesce(col("doc_id") - lag(col("doc_id"), 1).over(w),
          col("doc_id") + lit(1L)))
      .withColumn("bits", length(bin(col("gap"))).cast("long"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(lit(2L) * col("bits") - lit(1L)).as("gamma_bits"),
        sum(expr("(bits + 6) div 7")).as("varint_bytes"))
      .withColumn("raw_bits", lit(64L) * col("df"))
      .withColumn("gamma_ratio",
        col("gamma_bits").cast("double") / col("raw_bits").cast("double"))
      .select(col("term"), col("df"), col("raw_bits"), col("gamma_bits"),
        col("varint_bytes"), col("gamma_ratio"))
      .orderBy(col("term"))
  }

  /** q298 oracle: same distinct postings, lag gaps, bin()-exact bit
    * lengths. */
  val qPostingsAuditSql: String =
    """WITH posts AS (
      |  SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                         x -> len(x) > 0)) AS term
      |    FROM documents)),
      |gaps AS (
      |  SELECT term,
      |    COALESCE(doc_id - lag(doc_id, 1) OVER (PARTITION BY term ORDER BY doc_id),
      |             doc_id + 1) AS gap
      |  FROM posts),
      |bits AS (SELECT term, CAST(length(bin(gap)) AS BIGINT) AS bits FROM gaps)
      |SELECT term, COUNT(*)::BIGINT AS df,
      |  CAST(64 * COUNT(*) AS BIGINT) AS raw_bits,
      |  CAST(SUM(2 * bits - 1) AS BIGINT) AS gamma_bits,
      |  CAST(SUM((bits + 6) // 7) AS BIGINT) AS varint_bytes,
      |  CAST(SUM(2 * bits - 1) AS DOUBLE) / CAST(64 * COUNT(*) AS DOUBLE) AS gamma_ratio
      |FROM bits GROUP BY term ORDER BY term""".stripMargin

  /** Q300: query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty 2001) — the LM-based ranking that sits beside q123's BM25
    * in every retrieval stack: score(q,d) ∝ Σ_w ln(tf + μ·p(w|C)) −
    * |q|·ln(len_d + μ), after dropping the doc-independent Σ_w ln(μ·p_w)
    * shift (rank-invariant, documented). μ = 2000 (Zhai–Lafferty's
    * robust default).
    *
    * Exactness: corpus stats (T, and cf_w per query term) ride a
    * broadcast term join (q123's dfs pattern) with T a bounded driver
    * fetch; each ln enters on the micro grid, so every doc score is an
    * exact BIGINT and the top-k order (score desc, doc_id) is an integer
    * sort — TakeOrderedAndProject, never a global sort.
    *
    * Scale shape: the match side filters to |q| terms BEFORE any join;
    * the per-doc penalty is one projection over the cached length table;
    * top-k is a bounded take. */
  def qQlmRetrieval(t: Tables, queryTerms: Seq[String] = Seq("spark", "window", "join"),
      mu: Double = 2000.0, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct-terms normalization for the one-pass unpivot (ADVICE r13;
    // identity for the shipped default — see qBm25)
    val query = queryTerms.distinct
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    // ONE tokenize pass (the q123 shape): per-doc length + per-query-term
    // counts in a single checkpointed aggregate; cf/tf/lens all derive from
    // it (was 3 corpus explodes: lens + cf + tf).
    val tfCols = query.zipWithIndex.map { case (q, i) =>
      sum(when(col("term") === q, 1L).otherwise(0L)).as(s"tf_$i") }
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("len"), tfCols: _*).localCheckpoint()
    val lens = perDoc.select(col("doc_id"), col("len"))
    try {
      val Array(nDocs, totTok) = perDoc
        .agg(count(lit(1)), coalesce(sum(col("len")), lit(0L))).collect()(0)
        .toSeq.map(_.asInstanceOf[Long]).toArray
      if (nDocs == 0L || totTok == 0L)
        return Tables.emptyFrame(t.spark,
          "rank" -> org.apache.spark.sql.types.LongType,
          "doc_id" -> org.apache.spark.sql.types.LongType,
          "score_micro" -> org.apache.spark.sql.types.LongType,
          "n_terms_hit" -> org.apache.spark.sql.types.LongType,
          "score" -> org.apache.spark.sql.types.DoubleType)
      // unpivot back to the (doc_id, term, tf) rows the per-term groupBys
      // produced — identical rows/values, zero extra corpus passes
      val tfStructs = array(query.zipWithIndex.map { case (q, i) =>
        struct(lit(q).as("term"), col(s"tf_$i").as("tf")) }: _*)
      val tf = perDoc.select(col("doc_id"), explode(tfStructs).as("e"))
        .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
        .filter(col("tf") > 0L)
      val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
      val matched = tf.join(broadcast(cf), Seq("term"))
        .withColumn("mup",
          lit(mu) * col("cf").cast("double") / lit(totTok.toDouble))
        .withColumn("corr_micro",
          round(log(col("tf").cast("double") + col("mup")) * lit(1000000.0), 0)
            .cast("long") -
          round(log(col("mup")) * lit(1000000.0), 0).cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("corr_micro")).as("match_micro"),
          count(lit(1)).as("n_terms_hit"))
      val scored = lens.join(matched, Seq("doc_id"), "left")
        .withColumn("pen_micro",
          lit(query.length.toLong) *
            round(log(col("len").cast("double") + lit(mu)) * lit(1000000.0), 0)
              .cast("long"))
        .select(col("doc_id"),
          (coalesce(col("match_micro"), lit(0L)) - col("pen_micro")).as("score_micro"),
          coalesce(col("n_terms_hit"), lit(0L)).as("n_terms_hit"))
        .orderBy(col("score_micro").desc, col("doc_id")).limit(topK)
      scored
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
        .withColumn("score", col("score_micro").cast("double") / lit(1000000.0))
        .select(col("rank"), col("doc_id"), col("score_micro"),
          col("n_terms_hit"), col("score"))
        .orderBy(col("rank"))
    } finally { lens.unpersist(); () }
  }

  /** q300 oracle, parameterized exactly like qQlmRetrieval (the q123
    * rule). */
  def qQlmRetrievalSql(query: Seq[String] = Seq("spark", "window", "join"),
      mu: Double = 2000.0, topK: Int = 20): String = {
    val qlist = query.map(q => s"'$q'").mkString(", ")
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS term
      |  FROM documents),
      |lens AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*)::BIGINT AS len FROM toks GROUP BY doc_id),
      |tot AS (SELECT CAST(SUM(len) AS BIGINT) AS t FROM lens),
      |cf AS (
      |  SELECT term, COUNT(*)::BIGINT AS cf FROM toks
      |  WHERE term IN ($qlist) GROUP BY term),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks
      |  WHERE term IN ($qlist) GROUP BY doc_id, term),
      |mt AS (
      |  SELECT f.doc_id,
      |    CAST(SUM(
      |      CAST(round(ln(CAST(f.tf AS DOUBLE)
      |          + $mu::DOUBLE * CAST(c.cf AS DOUBLE) / CAST(o.t AS DOUBLE))
      |        * 1000000.0::DOUBLE) AS BIGINT)
      |      - CAST(round(ln($mu::DOUBLE * CAST(c.cf AS DOUBLE) / CAST(o.t AS DOUBLE))
      |        * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS match_micro,
      |    COUNT(*)::BIGINT AS n_terms_hit
      |  FROM tf f JOIN cf c USING (term) CROSS JOIN tot o
      |  GROUP BY f.doc_id),
      |sc AS (
      |  SELECT l.doc_id,
      |    CAST(COALESCE(m.match_micro, 0)
      |      - ${query.length} * CAST(round(ln(CAST(l.len AS DOUBLE) + $mu::DOUBLE)
      |          * 1000000.0::DOUBLE) AS BIGINT) AS BIGINT) AS score_micro,
      |    CAST(COALESCE(m.n_terms_hit, 0) AS BIGINT) AS n_terms_hit
      |  FROM lens l LEFT JOIN mt m ON m.doc_id = l.doc_id
      |  ORDER BY score_micro DESC, l.doc_id LIMIT $topK)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT)
      |    AS rank,
      |  doc_id, score_micro, n_terms_hit,
      |  CAST(score_micro AS DOUBLE) / 1000000.0::DOUBLE AS score
      |FROM sc ORDER BY rank""".stripMargin
  }

  /** The q188/q299/q301 shared binned-calibration aggregate: per
    * confidence bin (the q188 BIGINT-micro binning off the cached q139
    * weights), n / positives / Σconf_micro / Σ(conf_micro − y·1e6)².
    * None on an empty corpus. */
  private def calibrationBins(t: Tables, rounds: Int, lr: Double,
      bins: Int): Option[DataFrame] = {
    val feats = logitFeaturesShared(t)
    val out = logitTrainCached(t, feats, rounds, lr).map { w =>
      val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
        lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      feats
        .select(col("y").cast("long").as("y"),
          round(p * lit(1000000.0), 0).cast("long").as("cm"))
        .select(col("y"), col("cm"),
          expr(s"least((cm * $bins) div 1000000, ${(bins - 1).toLong}L)").as("bin"))
        .groupBy(col("bin")).agg(
          count(lit(1)).as("n"),
          sum(col("y")).as("o"),
          sum(col("cm")).as("sum_cm"),
          sum((col("cm") - col("y") * lit(1000000L)) *
            (col("cm") - col("y") * lit(1000000L))).as("bp_pico"))
        .localCheckpoint() // bounded ≤bins-row table feeds window fans
    }
    out
  }

  /** The shared oracle CTE for [[calibrationBins]] (chains on
    * logitChainCtes' final weights): one `cal` CTE, ≤bins rows. */
  private def calibrationBinsCtes(rounds: Int, lr: Double, bins: Int): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    s"""$chain,
       |cmicro AS (
       |  SELECT CAST(y AS BIGINT) AS y,
       |    CAST(round(1.0::DOUBLE / (1.0::DOUBLE + exp(-($logitZExpr)))
       |      * 1000000.0::DOUBLE) AS BIGINT) AS cm
       |  FROM f, $wFinal w),
       |cal AS MATERIALIZED (
       |  SELECT LEAST((cm * $bins) // 1000000, ${bins - 1}) AS bin,
       |    COUNT(*)::BIGINT AS n, CAST(SUM(y) AS BIGINT) AS o,
       |    CAST(SUM(cm) AS BIGINT) AS sum_cm,
       |    CAST(SUM((cm - y * 1000000) * (cm - y * 1000000)) AS BIGINT) AS bp_pico
       |  FROM cmicro GROUP BY 1)""".stripMargin
  }

  /** Q299: isotonic calibration of the q139 classifier (the PAV fit,
    * Zadrozny & Elkan 2002) via the MAX-MIN CLOSED FORM — over the q188
    * confidence bins, iso(b) = max_{i≤b} min_{j≥b} wavg(o over bins
    * i..j), provably equal to pool-adjacent-violators (Ayer et al. 1955)
    * and, unlike the sequential pooling loop, directly expressible as
    * bounded joins. The fitted curve is the monotone recalibration map a
    * production filter applies to classifier scores before thresholding.
    *
    * Exactness: every candidate average is ONE double division of exact
    * integer prefix differences (identical cross-engine), and min/max
    * over identical double sets is deterministic — no rounding anywhere.
    * The triple (b, i, j) grid is ≤ bins³ rows, generated by sequence()
    * explodes over the ≤bins-row table (bounded-table rule; no range
    * join, no BNLJ).
    *
    * Scale shape: training + binning is q188's (cached weights, one
    * scan); everything after runs on ≤10 rows. */
  def qIsotonicCalibration(t: Tables, rounds: Int = 16, lr: Double = 8.0,
      bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    calibrationBins(t, rounds, lr, bins) match {
      case None =>
        Tables.emptyFrame(t.spark, "bin" -> LongType, "n" -> LongType,
          "n_pos" -> LongType, "frac_pos" -> DoubleType, "iso" -> DoubleType)
      case Some(cal) =>
        val w0 = Window.partitionBy(lit(0))
        val wr = w0.orderBy(col("bin"))
        val pre = cal
          .withColumn("r", row_number().over(wr).cast("long"))
          .withColumn("nb", count(lit(1)).over(w0))
          .withColumn("pn", sum(col("n")).over(
            wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("po", sum(col("o")).over(
            wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .localCheckpoint() // ≤bins rows; feeds three self-joins
        val left = pre.select(col("r").as("i"),
          (col("pn") - col("n")).as("pn_lo"), (col("po") - col("o")).as("po_lo"))
        val right = pre.select(col("r").as("j"),
          col("pn").as("pn_hi"), col("po").as("po_hi"))
        // sequence() explodes chain across two selects (one generator per
        // projection)
        val trips2 = pre.select(col("bin"), col("n"), col("o"), col("r"), col("nb"))
          .select(col("bin"), col("n"), col("o"), col("r"), col("nb"),
            explode(expr("sequence(1L, r)")).as("i"))
          .select(col("bin"), col("n"), col("o"), col("r"), col("i"),
            explode(expr("sequence(r, nb)")).as("j"))
        val avgs = trips2.join(left, Seq("i")).join(right, Seq("j"))
          .withColumn("a",
            (col("po_hi") - col("po_lo")).cast("double") /
              (col("pn_hi") - col("pn_lo")).cast("double"))
        avgs.groupBy(col("bin"), col("n"), col("o"), col("i"))
          .agg(min(col("a")).as("mn"))
          .groupBy(col("bin"), col("n"), col("o"))
          .agg(max(col("mn")).as("iso"))
          .withColumn("frac_pos", col("o").cast("double") / col("n").cast("double"))
          .select(col("bin"), col("n"), col("o").as("n_pos"), col("frac_pos"),
            col("iso"))
          .orderBy(col("bin"))
    }
  }

  /** q299 oracle: shared cal CTE + lateral range() triples, identical
    * max-min. */
  def qIsotonicCalibrationSql(rounds: Int = 16, lr: Double = 8.0,
      bins: Int = 10): String =
    s"""WITH ${calibrationBinsCtes(rounds, lr, bins)},
      |pre AS MATERIALIZED (
      |  SELECT bin, n, o,
      |    CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS r,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS nb,
      |    CAST(SUM(n) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pn,
      |    CAST(SUM(o) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS po
      |  FROM cal),
      |tripi AS (
      |  SELECT bin, n, o, r, nb, CAST(unnest(range(1, r + 1)) AS BIGINT) AS i
      |  FROM pre),
      |trips AS (
      |  SELECT bin, n, o, i, CAST(unnest(range(r, nb + 1)) AS BIGINT) AS j
      |  FROM tripi),
      |avgs AS (
      |  SELECT t.bin, t.n, t.o, t.i,
      |    CAST(hi.po - (lo.po - lo.o) AS DOUBLE)
      |      / CAST(hi.pn - (lo.pn - lo.n) AS DOUBLE) AS a
      |  FROM trips t JOIN pre lo ON lo.r = t.i JOIN pre hi ON hi.r = t.j),
      |mns AS (
      |  SELECT bin, n, o, MIN(a) AS mn FROM avgs GROUP BY bin, n, o, i)
      |SELECT bin, n, o AS n_pos,
      |  CAST(o AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
      |  MAX(mn) AS iso
      |FROM mns GROUP BY bin, n, o ORDER BY bin""".stripMargin

  /** Q301: Brier-score decomposition (Murphy 1973) of the q139
    * classifier — reliability − resolution + uncertainty over the q188
    * confidence bins, plus the EXACT unbinned Brier score. Complements
    * q188's ECE (which measures only the reliability axis) with the
    * proper-scoring-rule account of WHERE forecast quality comes from:
    * a filter can be perfectly calibrated (REL = 0) yet useless
    * (RES = 0).
    *
    * Exactness: the unbinned Brier numerator Σ(cm − y·1e6)² is an exact
    * pico-scale BIGINT; per-bin reliability/resolution terms are fixed
    * IEEE sequences of exact integers (d = Σcm − o·1e6 and
    * o·N − O·n are BIGINTs), micro-rounded per bin and BIGINT-summed
    * (the per-entity grid rule) so the bin-ordered sums are
    * order-independent; REL/RES/UNC/Brier are single divisions of exact
    * integers. o·N ≤ n² — BIGINT-safe to ~3e9 docs, then DECIMAL.
    *
    * Scale shape: q188's one-scan binning; windows over the ≤bins-row
    * aggregate. */
  def qBrierDecomposition(t: Tables, rounds: Int = 16, lr: Double = 8.0,
      bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    calibrationBins(t, rounds, lr, bins) match {
      case None =>
        Tables.emptyFrame(t.spark, "bin" -> LongType, "n" -> LongType,
          "n_pos" -> LongType, "gap_pico_num" -> LongType,
          "reln_micro" -> LongType, "resn_micro" -> LongType,
          "reliability" -> DoubleType, "resolution" -> DoubleType,
          "uncertainty" -> DoubleType, "brier" -> DoubleType)
      case Some(cal) =>
        val w0 = Window.partitionBy(lit(0))
        val g = cal
          .withColumn("nn", sum(col("n")).over(w0))
          .withColumn("oo", sum(col("o")).over(w0))
          .withColumn("bp", sum(col("bp_pico")).over(w0))
          .withColumn("d", col("sum_cm") - col("o") * lit(1000000L))
          .withColumn("reln_micro",
            round(col("d").cast("double") * col("d").cast("double") /
              (col("n").cast("double") * lit(1.0e12)) * lit(1000000.0), 0)
              .cast("long"))
          .withColumn("rnum", col("o") * col("nn") - col("oo") * col("n"))
          .withColumn("resn_micro",
            round(col("rnum").cast("double") * col("rnum").cast("double") /
              (col("n").cast("double") * col("nn").cast("double") *
                col("nn").cast("double")) * lit(1000000.0), 0).cast("long"))
        g.withColumn("reliability",
            sum(col("reln_micro")).over(w0).cast("double") /
              (col("nn").cast("double") * lit(1000000.0)))
          .withColumn("resolution",
            sum(col("resn_micro")).over(w0).cast("double") /
              (col("nn").cast("double") * lit(1000000.0)))
          .withColumn("uncertainty",
            (col("oo") * (col("nn") - col("oo"))).cast("double") /
              (col("nn").cast("double") * col("nn").cast("double")))
          .withColumn("brier",
            col("bp").cast("double") / (col("nn").cast("double") * lit(1.0e12)))
          .select(col("bin"), col("n"), col("o").as("n_pos"),
            col("d").as("gap_pico_num"), col("reln_micro"), col("resn_micro"),
            col("reliability"), col("resolution"), col("uncertainty"), col("brier"))
          .orderBy(col("bin"))
    }
  }

  /** q301 oracle: shared cal CTE + identical micro-rounded bin terms and
    * single-division components. */
  def qBrierDecompositionSql(rounds: Int = 16, lr: Double = 8.0,
      bins: Int = 10): String =
    s"""WITH ${calibrationBinsCtes(rounds, lr, bins)},
      |g AS (
      |  SELECT bin, n, o,
      |    CAST(SUM(n) OVER () AS BIGINT) AS nn,
      |    CAST(SUM(o) OVER () AS BIGINT) AS oo,
      |    CAST(SUM(bp_pico) OVER () AS BIGINT) AS bp,
      |    CAST(sum_cm - o * 1000000 AS BIGINT) AS d,
      |    CAST(o * SUM(n) OVER () - SUM(o) OVER () * n AS BIGINT) AS rnum
      |  FROM cal),
      |terms AS (
      |  SELECT *,
      |    CAST(round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * 1000000000000.0::DOUBLE)
      |      * 1000000.0::DOUBLE) AS BIGINT) AS reln_micro,
      |    CAST(round(CAST(rnum AS DOUBLE) * CAST(rnum AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
      |      * 1000000.0::DOUBLE) AS BIGINT) AS resn_micro
      |  FROM g)
      |SELECT bin, n, o AS n_pos, d AS gap_pico_num, reln_micro, resn_micro,
      |  CAST(SUM(reln_micro) OVER () AS DOUBLE)
      |    / (CAST(nn AS DOUBLE) * 1000000.0::DOUBLE) AS reliability,
      |  CAST(SUM(resn_micro) OVER () AS DOUBLE)
      |    / (CAST(nn AS DOUBLE) * 1000000.0::DOUBLE) AS resolution,
      |  CAST(oo * (nn - oo) AS DOUBLE)
      |    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS uncertainty,
      |  CAST(bp AS DOUBLE) / (CAST(nn AS DOUBLE) * 1000000000000.0::DOUBLE) AS brier
      |FROM terms ORDER BY bin""".stripMargin

  /** Q306: Simpson's-paradox audit — does the pooled association between
    * an exposure (token count ≥ 50) and the Gopher-gate outcome REVERSE
    * inside any source stratum? The aggregation trap every cross-corpus
    * quality comparison must check before quoting a pooled rate
    * (Simpson 1951; the stratified sibling of q240's panel logic).
    * Association direction per 2×2 table is sign(ad − bc) — an EXACT
    * integer — so "reversed" is a pure integer comparison, and the odds
    * ratios are emitted as nullif-guarded single divisions for human
    * reading only.
    *
    * Scale shape: one corpus aggregate to per-(source, x, y) cells;
    * everything after runs on the ≤4·|sources| bounded table. */
  def qSimpsonsAudit(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val toks = text.tokenize(col("text"))
    val base = t.fanout(t.documents).select(col("source"),
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
        .cast("long").as("n_tok_chars"),
      size(filter(toks, tk => tk.isInCollection(text.stopwords)))
        .cast("long").as("n_stop"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
      .select(col("source"),
        (col("n_tokens") >= 50L).cast("long").as("x"),
        when((col("n_tokens") >= 20 && col("n_tokens") <= 80) &&
          (col("n_tok_chars") >= col("n_tokens") * 4 &&
            col("n_tok_chars") <= col("n_tokens") * 5) &&
          (col("n_stop") * 20 >= col("n_tokens")) &&
          (col("n_distinct") * 2 >= col("n_tokens")), 1L).otherwise(0L).as("y"))
    val cells = base.groupBy(col("source")).agg(
      sum(when(col("x") === 1L && col("y") === 1L, 1L).otherwise(0L)).as("a"),
      sum(when(col("x") === 1L && col("y") === 0L, 1L).otherwise(0L)).as("b"),
      sum(when(col("x") === 0L && col("y") === 1L, 1L).otherwise(0L)).as("c"),
      sum(when(col("x") === 0L && col("y") === 0L, 1L).otherwise(0L)).as("d"))
    cells
      .withColumn("assoc", col("a") * col("d") - col("b") * col("c"))
      .withColumn("pooled_assoc",
        sum(col("a")).over(w) * sum(col("d")).over(w) -
          sum(col("b")).over(w) * sum(col("c")).over(w))
      .withColumn("or_stratum",
        (col("a") * col("d")).cast("double") /
          nullif((col("b") * col("c")).cast("double"), lit(0.0)))
      .withColumn("reversed",
        (col("assoc") > 0L && col("pooled_assoc") < 0L) ||
          (col("assoc") < 0L && col("pooled_assoc") > 0L))
      .select(col("source"), col("a"), col("b"), col("c"), col("d"),
        col("assoc"), col("pooled_assoc"), col("or_stratum"), col("reversed"))
      .orderBy(col("source"))
  }

  /** q306 oracle: q86 parity census, integer cross-product association
    * signs. */
  def qSimpsonsAuditSql(): String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH cn AS (
      |  SELECT source, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT) AS n_tok_chars,
      |    CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
      |  FROM (SELECT source, text,
      |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                      x -> len(x) > 0) AS toks
      |        FROM documents)),
      |xy AS (
      |  SELECT source,
      |    CASE WHEN n_tokens >= 50 THEN 1 ELSE 0 END AS x,
      |    CASE WHEN (n_tokens >= 20 AND n_tokens <= 80)
      |      AND (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5)
      |      AND (n_stop * 20 >= n_tokens)
      |      AND (n_distinct * 2 >= n_tokens) THEN 1 ELSE 0 END AS y
      |  FROM cn),
      |cl AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM xy GROUP BY source)
      |SELECT source, a, b, c, d,
      |  CAST(a * d - b * c AS BIGINT) AS assoc,
      |  CAST(SUM(a) OVER () * SUM(d) OVER ()
      |     - SUM(b) OVER () * SUM(c) OVER () AS BIGINT) AS pooled_assoc,
      |  CAST(a * d AS DOUBLE) / nullif(CAST(b * c AS DOUBLE), 0.0::DOUBLE)
      |    AS or_stratum,
      |  (a * d - b * c > 0 AND SUM(a) OVER () * SUM(d) OVER ()
      |     - SUM(b) OVER () * SUM(c) OVER () < 0)
      |  OR (a * d - b * c < 0 AND SUM(a) OVER () * SUM(d) OVER ()
      |     - SUM(b) OVER () * SUM(c) OVER () > 0) AS reversed
      |FROM cl ORDER BY source""".stripMargin
  }

  /** Q303: unigram-LM tokenizer segmentation (the Viterbi E-step of
    * SentencePiece's trainer, Kudo 2018) — every vocabulary word is
    * segmented into the MINIMUM-COST sequence of candidate pieces
    * (all its substrings of length ≤ 4, priced −ln(cf/F) from
    * occurrence-weighted corpus counts). Completes the tokenizer-prep
    * story beside q244's BPE trainer: BPE grows merges bottom-up, the
    * unigram LM prunes top-down from exactly this DP.
    *
    * Exactness: piece costs are micro-rounded single ln's of exact
    * integer ratios; the DP state packs (cost_micro, n_pieces) into ONE
    * integer cost·16 + pieces (pieces ≤ maxLen < 16), so every
    * comparison is an integer MIN and ties resolve to fewer pieces —
    * deterministic with no path tie-breaking needed. Positions are
    * unrolled to maxLen = 12 chained CTEs in the oracle (corpus max
    * token length is 8; longer words are filtered out, documented).
    *
    * Scale shape: one explode to the vocab census (the corpus is read
    * once); pieces, costs, and the DP all live on vocab-bounded tables
    * (broadcast joins). At 100 TB the vocab census is the only
    * corpus-scale aggregate — exactly how SentencePiece shards. */
  def qUnigramSegmentation(t: Tables, maxLen: Int = 12,
      maxPiece: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w0 = Window.partitionBy(lit(0))
    val words = t.fanout(t.documents)
      .select(explode(text.tokenize(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
      .withColumn("len", length(col("word")).cast("long"))
      .filter(col("len") <= maxLen.toLong)
      .localCheckpoint() // vocab-bounded; feeds pieces AND every DP round
    val spans = words.select(col("word"), col("wcnt"), col("len"),
        explode(expr("sequence(1L, len)")).as("s"))
      .select(col("word"), col("wcnt"), col("len"), col("s"),
        explode(expr(s"sequence(1L, least(${maxPiece}L, len - s + 1L))")).as("l"))
    val costs = spans
      .select(expr("substring(word, cast(s as int), cast(l as int))").as("piece"),
        col("wcnt"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cf"))
      .withColumn("f_tot", sum(col("cf")).over(w0))
      .select(col("piece"),
        round(-log(col("cf").cast("double") / col("f_tot").cast("double")) *
          lit(1000000.0), 0).cast("long").as("cost_micro"))
      .localCheckpoint() // piece table feeds maxLen DP joins
    // The DP runs as a per-word JVM kernel against the BROADCAST piece
    // cost map (one bounded fetch — the seed-vocab contract: SentencePiece
    // caps the candidate piece set, so the map stays broadcast-sized at
    // any corpus scale; at 100 TB prune the piece census to the top-M
    // pieces first). A 12-round DataFrame DP paid 12 scheduling-floor
    // jobs (~4.8 s warm at sf0.1) for the same integer result; the
    // kernel is one pass. Arithmetic is identical: JVM log + half-up
    // micro rounding = the in-plan expression sequence.
    val cmap = costs.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val viterbiUdf = udf { (word: String) =>
      val ln = word.length
      val dp = Array.fill(ln + 1)(Long.MaxValue); dp(0) = 0L
      var p = 1
      while (p <= ln) {
        var l = 1
        val lm = math.min(maxPiece, p)
        while (l <= lm) {
          val prev = dp(p - l)
          if (prev != Long.MaxValue) {
            val c = cmap(word.substring(p - l, p))
            val cand = prev + c * 16L + 1L
            if (cand < dp(p)) dp(p) = cand
          }
          l += 1
        }
        p += 1
      }
      Array(dp(ln) / 16L, dp(ln) % 16L)
    }
    words
      .withColumn("dp", viterbiUdf(col("word")))
      .select(col("word"), col("wcnt"), col("len"),
        element_at(col("dp"), 1).as("cost_micro"),
        element_at(col("dp"), 2).as("n_pieces"))
      .orderBy(col("word"))
  }

  /** q303 oracle: vocab census + piece costs, DP positions unrolled as
    * chained MATERIALIZED CTEs (sg0..sg{maxLen}). */
  def qUnigramSegmentationSql(maxLen: Int = 12, maxPiece: Int = 4): String = {
    val steps = (1 to maxLen).map { p =>
      val arms = (1 to math.min(maxPiece, p)).map { l =>
        s"""SELECT d.word, d.len,
           |    d.dpval + c.cost_micro * 16 + 1 AS cand
           |  FROM sg${p - l} d JOIN pcost c
           |    ON c.piece = substr(d.word, ${p - l + 1}, $l)
           |  WHERE d.len >= $p""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""sg$p AS MATERIALIZED (
         |  SELECT word, len, CAST(MIN(cand) AS BIGINT) AS dpval FROM (
         |  $arms)
         |  GROUP BY word, len)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to maxLen).map(p =>
      s"SELECT word, dpval FROM sg$p WHERE len = $p").mkString("\n  UNION ALL ")
    s"""WITH wd AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt,
       |    CAST(length(word) AS BIGINT) AS len
       |  FROM (SELECT unnest(list_filter(
       |          string_split_regex(lower(text), '[^a-z0-9'']+'),
       |          x -> len(x) > 0)) AS word
       |        FROM documents)
       |  GROUP BY word HAVING length(word) <= $maxLen),
       |sp AS (
       |  SELECT word, wcnt, len, CAST(unnest(range(1, len + 1)) AS BIGINT) AS s
       |  FROM wd),
       |sp2 AS (
       |  SELECT word, wcnt, s,
       |    CAST(unnest(range(1, least($maxPiece, len - s + 1) + 1)) AS BIGINT) AS l
       |  FROM sp),
       |pcost AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(round(-ln(CAST(cf AS DOUBLE) / CAST(SUM(cf) OVER () AS DOUBLE))
       |      * 1000000.0::DOUBLE) AS BIGINT) AS cost_micro
       |  FROM (SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece,
       |          CAST(SUM(wcnt) AS BIGINT) AS cf
       |        FROM sp2 GROUP BY 1)),
       |sg0 AS MATERIALIZED (
       |  SELECT word, len, CAST(0 AS BIGINT) AS dpval FROM wd),
       |$steps,
       |fin AS (
       |  $finals)
       |SELECT w.word, w.wcnt, w.len,
       |  CAST(f.dpval // 16 AS BIGINT) AS cost_micro,
       |  CAST(f.dpval % 16 AS BIGINT) AS n_pieces
       |FROM wd w JOIN fin f ON f.word = w.word
       |ORDER BY w.word""".stripMargin
  }

  /** Q305: mRMR feature selection (max-relevance min-redundancy, Peng
    * et al. 2005) over the quality-gate feature battery — greedy pick of
    * k = 3 discrete features maximizing MI with the Gopher label minus
    * mean MI with the already-selected set. The feature-engineering
    * audit that says WHICH quality signals earn their pipeline cost
    * (q204 measures one MI; q305 runs the selection on the full MI
    * matrix).
    *
    * Exactness: all 15 pairwise MIs come from ONE tall self-join into
    * exact count cells; each cell term (n_uv/N)·ln(N·n_uv/(n_u·n_v)) is
    * micro-rounded and BIGINT-summed (the q204 rule); greedy scores are
    * integer combinations (round r multiplies relevance by |S| to stay
    * integer) and ties resolve by feature name — fully deterministic,
    * oracle-unrolled.
    *
    * Scale shape: one stack projection (6 values/doc), one cell
    * aggregate; the MI matrix and the greedy walk live on ≤15-row
    * tables. */
  def qMrmrSelection(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = text.tokenize(col("text"))
    val base = t.fanout(t.documents).select(col("doc_id"), col("lang"),
        col("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
          .cast("long").as("n_tok_chars"),
        size(filter(toks, tk => tk.isInCollection(text.stopwords)))
          .cast("long").as("n_stop"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .select(col("doc_id"),
        least(expr("n_tokens div 10L"), lit(12L)).as("fa"),
        expr("CASE lang WHEN 'de' THEN 0L WHEN 'en' THEN 1L WHEN 'es' THEN 2L " +
          "WHEN 'fr' THEN 3L WHEN 'zh' THEN 4L ELSE 5L END").as("fb"),
        least(expr("n_chars div 100L"), lit(9L)).as("fc"),
        (col("n_stop") * 20L >= col("n_tokens")).cast("long").as("fd"),
        (col("n_distinct") * 2L >= col("n_tokens")).cast("long").as("fe"),
        when((col("n_tokens") >= 20 && col("n_tokens") <= 80) &&
          (col("n_tok_chars") >= col("n_tokens") * 4 &&
            col("n_tok_chars") <= col("n_tokens") * 5) &&
          (col("n_stop") * 20 >= col("n_tokens")) &&
          (col("n_distinct") * 2 >= col("n_tokens")), 1L).otherwise(0L).as("yy"))
    // all 15 u<v pairs emitted per row directly: the previous tall
    // self-join evaluated the tokenize-heavy `base` twice and paid a
    // doc_id shuffle join for cells one projection can produce (r13 opt:
    // same exact cell counts, 2 scans + join -> 1 scan)
    val featNames = Seq("fa", "fb", "fc", "fd", "fe", "yy")
    val pairCols = for {
      i <- featNames.indices; j <- (i + 1) until featNames.length
    } yield struct(lit(featNames(i)).as("u"), lit(featNames(j)).as("v"),
      col(featNames(i)).as("vu"), col(featNames(j)).as("vv"))
    val cells = base.select(explode(array(pairCols: _*)).as("s"))
      .select(col("s.u").as("u"), col("s.v").as("v"),
        col("s.vu").as("vu"), col("s.vv").as("vv"))
      .groupBy(col("u"), col("v"), col("vu"), col("vv"))
      .agg(count(lit(1)).as("nuv"))
    val wu = Window.partitionBy(col("u"), col("v"), col("vu"))
    val wv = Window.partitionBy(col("u"), col("v"), col("vv"))
    val wp = Window.partitionBy(col("u"), col("v"))
    val mi = cells
      .withColumn("nu", sum(col("nuv")).over(wu))
      .withColumn("nv", sum(col("nuv")).over(wv))
      .withColumn("nn", sum(col("nuv")).over(wp))
      .withColumn("term_micro",
        round(col("nuv").cast("double") / col("nn").cast("double") *
          log((col("nn") * col("nuv")).cast("double") /
            (col("nu") * col("nv")).cast("double")) * lit(1000000.0), 0)
          .cast("long"))
      .groupBy(col("u"), col("v")).agg(sum(col("term_micro")).as("mi_micro"))
      .localCheckpoint() // ≤15-row MI matrix feeds the greedy rounds
    val rel = mi.filter(col("v") === "yy")
      .select(col("u").as("f"), col("mi_micro").as("rel_micro"))
    val red = mi.filter(col("v") =!= "yy")
    val redSym = red.select(col("u").as("rf"), col("v").as("other"),
        col("mi_micro").as("red_mi"))
      .unionAll(red.select(col("v").as("rf"), col("u").as("other"),
        col("mi_micro").as("red_mi")))
      .localCheckpoint() // <=20-row symmetric redundancy table, joined twice
    // each round attaches the running argmax via FIRST over an ordered
    // full-frame window (no 1-row scalar joins -- the q114 BNLJ trap);
    // the next round's redundancy arrives through pure equi joins
    def o(scoreCol: String) = Window.partitionBy(lit(0))
      .orderBy(col(scoreCol).desc, col("f"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val r1 = rel.withColumn("sel1", first(col("f")).over(o("rel_micro")))
      .withColumn("rel1", first(col("rel_micro")).over(o("rel_micro")))
    val redSym2 = redSym.select(col("rf").as("rf2"), col("other").as("other2"),
      col("red_mi").as("red_mi2"))
    val r2 = r1.filter(col("f") =!= col("sel1"))
      .join(redSym, col("rf") === col("f") && col("other") === col("sel1"))
      .withColumn("score2", col("rel_micro") - col("red_mi"))
    val r2s = r2
      .withColumn("sel2", first(col("f")).over(o("score2")))
      .withColumn("rel2", first(col("rel_micro")).over(o("score2")))
      .withColumn("sc2", first(col("score2")).over(o("score2")))
    val r3 = r2s.filter(col("f") =!= col("sel2"))
      .join(redSym2, col("rf2") === col("f") && col("other2") === col("sel2"))
      .withColumn("score3",
        col("rel_micro") * lit(2L) - col("red_mi") - col("red_mi2"))
    r3.withColumn("sel3", first(col("f")).over(o("score3")))
      .withColumn("rel3", first(col("rel_micro")).over(o("score3")))
      .withColumn("sc3", first(col("score3")).over(o("score3")))
      .withColumn("rk", row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("score3").desc, col("f"))))
      .filter(col("rk") === 1)
      .select(
        expr("stack(3, 1L, sel1, rel1, rel1, 1L, " +
          "2L, sel2, rel2, sc2, 1L, 3L, sel3, rel3, sc3, 2L)")
          .as(Seq("step", "feature", "rel_micro", "score_scaled", "scale")))
      .orderBy(col("step"))
  }

  /** q305 oracle: same stack/cells/micro-MI + the greedy rounds unrolled
    * with ROW_NUMBER argmaxes. */
  def qMrmrSelectionSql(): String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH cn AS (
      |  SELECT doc_id, lang, n_chars, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT) AS n_tok_chars,
      |    CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
      |  FROM (SELECT doc_id, lang, n_chars, text,
      |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                      x -> len(x) > 0) AS toks
      |        FROM documents)),
      |ftr AS (
      |  SELECT doc_id,
      |    LEAST(n_tokens // 10, 12) AS fa,
      |    CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2
      |      WHEN 'fr' THEN 3 WHEN 'zh' THEN 4 ELSE 5 END AS fb,
      |    LEAST(n_chars // 100, 9) AS fc,
      |    CASE WHEN n_stop * 20 >= n_tokens THEN 1 ELSE 0 END AS fd,
      |    CASE WHEN n_distinct * 2 >= n_tokens THEN 1 ELSE 0 END AS fe,
      |    CASE WHEN (n_tokens >= 20 AND n_tokens <= 80)
      |      AND (n_tok_chars >= n_tokens * 4 AND n_tok_chars <= n_tokens * 5)
      |      AND (n_stop * 20 >= n_tokens)
      |      AND (n_distinct * 2 >= n_tokens) THEN 1 ELSE 0 END AS yy
      |  FROM cn),
      |tall AS (
      |  SELECT doc_id, nm, vl FROM ftr
      |  UNPIVOT (vl FOR nm IN (fa, fb, fc, fd, fe, yy))),
      |cells AS (
      |  SELECT a.nm AS u, b.nm AS v, a.vl AS vu, b.vl AS vv,
      |    COUNT(*)::BIGINT AS nuv
      |  FROM tall a JOIN tall b ON b.doc_id = a.doc_id AND a.nm < b.nm
      |  GROUP BY 1, 2, 3, 4),
      |mi AS MATERIALIZED (
      |  SELECT u, v, CAST(SUM(term_micro) AS BIGINT) AS mi_micro FROM (
      |    SELECT u, v,
      |      CAST(round(CAST(nuv AS DOUBLE) / CAST(SUM(nuv) OVER (PARTITION BY u, v) AS DOUBLE)
      |        * ln(CAST(SUM(nuv) OVER (PARTITION BY u, v) * nuv AS DOUBLE)
      |             / CAST(SUM(nuv) OVER (PARTITION BY u, v, vu)
      |                  * SUM(nuv) OVER (PARTITION BY u, v, vv) AS DOUBLE))
      |        * 1000000.0::DOUBLE) AS BIGINT) AS term_micro
      |    FROM cells)
      |  GROUP BY u, v),
      |rel AS (SELECT u AS f, mi_micro AS rel_micro FROM mi WHERE v = 'yy'),
      |redsym AS (
      |  SELECT u AS f, v AS other, mi_micro FROM mi WHERE v != 'yy'
      |  UNION ALL SELECT v, u, mi_micro FROM mi WHERE v != 'yy'),
      |s1 AS MATERIALIZED (
      |  SELECT f AS sel1, rel_micro AS rel1, rel_micro AS sc1 FROM rel
      |  ORDER BY rel_micro DESC, f LIMIT 1),
      |s2 AS MATERIALIZED (
      |  SELECT r.f AS sel2, r.rel_micro AS rel2,
      |    r.rel_micro - d.mi_micro AS sc2
      |  FROM rel r, s1, redsym d
      |  WHERE r.f != s1.sel1 AND d.f = r.f AND d.other = s1.sel1
      |  ORDER BY r.rel_micro - d.mi_micro DESC, r.f LIMIT 1),
      |s3 AS MATERIALIZED (
      |  SELECT r.f AS sel3, r.rel_micro AS rel3,
      |    r.rel_micro * 2 - d1.mi_micro - d2.mi_micro AS sc3
      |  FROM rel r, s1, s2, redsym d1, redsym d2
      |  WHERE r.f != s1.sel1 AND r.f != s2.sel2
      |    AND d1.f = r.f AND d1.other = s1.sel1
      |    AND d2.f = r.f AND d2.other = s2.sel2
      |  ORDER BY r.rel_micro * 2 - d1.mi_micro - d2.mi_micro DESC, r.f LIMIT 1)
      |SELECT CAST(step AS BIGINT) AS step, feature,
      |  CAST(rel_micro AS BIGINT) AS rel_micro,
      |  CAST(score_scaled AS BIGINT) AS score_scaled, CAST(scale AS BIGINT) AS scale
      |FROM (
      |  SELECT 1 AS step, sel1 AS feature, rel1 AS rel_micro, sc1 AS score_scaled,
      |    1 AS scale FROM s1
      |  UNION ALL SELECT 2, sel2, rel2, sc2, 1 FROM s2
      |  UNION ALL SELECT 3, sel3, rel3, sc3, 2 FROM s3)
      |ORDER BY step""".stripMargin
  }

  /** Q308: pairwise 1-Wasserstein (earth-mover) distance matrix between
    * the sources' token-count distributions — the transport-metric third
    * axis beside q264's JSD (bin-wise, support-blind) and q210's KS
    * (max-gap only): W₁ also weighs HOW FAR mass must move, the drift
    * measure of choice when a mixture shift moves documents between
    * adjacent length bins. In 1-D, W₁ = ∫|F_A − F_B| dv, which over
    * integer supports is EXACT: Σᵢ |cumA(vᵢ)·n_B − cumB(vᵢ)·n_A| ·
    * (vᵢ₊₁ − vᵢ) is a pure BIGINT sum, and W₁ = that / (n_A·n_B) — one
    * division of exact integers, no rounding anywhere.
    *
    * Scale shape: one corpus aggregate to (source, value) counts; the
    * cum/pair work runs on the ≤|support|·|sources| bounded grid
    * (windows + one equi self-join on value). */
  def qWassersteinMatrix(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // barrier: counts feeds support, sources AND the grid join, and the
    // cum self-join doubles every reference — un-barriered the corpus
    // tokenize ran 4x in-plan. Bounded (source, length) histogram rows.
    val counts = t.fanout(t.documents)
      .select(col("source"), size(text.tokenize(col("text"))).cast("long").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val support = counts.select(col("v")).distinct()
    val srcs = counts.select(col("source")).distinct()
    val grid = support.crossJoin(broadcast(srcs)) // bounded: |support|·|sources|
      .join(counts, Seq("source", "v"), "left")
      .select(col("source"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wsrc = Window.partitionBy(col("source"))
    val wgap = Window.partitionBy(col("source")).orderBy(col("v"))
    val cums = grid
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(wsrc))
      .withColumn("gap", lead(col("v"), 1).over(wgap) - col("v"))
      .filter(col("gap").isNotNull) // last support point carries no mass gap
    val a = cums.select(col("source").as("sa"), col("v"),
      col("cum").as("cum_a"), col("n").as("n_a"), col("gap"))
    val b = cums.select(col("source").as("sb"), col("v"),
      col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, Seq("v")).filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")) *
          col("gap")).as("w1_num"))
      .withColumn("w1",
        col("w1_num").cast("double") / (col("n_a") * col("n_b")).cast("double"))
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("w1_num"), col("w1"))
      .orderBy(col("sa"), col("sb"))
  }

  /** q308 oracle: same global support grid, integer cross-multiplied CDF
    * gaps. */
  val qWassersteinMatrixSql: String =
    """WITH cnt AS (
      |  SELECT source, CAST(len(list_filter(
      |      string_split_regex(lower(text), '[^a-z0-9'']+'),
      |      x -> len(x) > 0)) AS BIGINT) AS v, COUNT(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, u.v, CAST(COALESCE(k.c, 0) AS BIGINT) AS c
      |  FROM (SELECT DISTINCT v FROM cnt) u
      |  CROSS JOIN (SELECT DISTINCT source FROM cnt) s
      |  LEFT JOIN cnt k ON k.source = s.source AND k.v = u.v),
      |cums AS (
      |  SELECT source, v,
      |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n,
      |    LEAD(v, 1) OVER (PARTITION BY source ORDER BY v) - v AS gap
      |  FROM grid),
      |cg AS (SELECT * FROM cums WHERE gap IS NOT NULL)
      |SELECT a.source AS sa, b.source AS sb,
      |  CAST(MAX(a.n) AS BIGINT) AS n_a, CAST(MAX(b.n) AS BIGINT) AS n_b,
      |  CAST(SUM(abs(a.cum * b.n - b.cum * a.n) * a.gap) AS BIGINT) AS w1_num,
      |  CAST(SUM(abs(a.cum * b.n - b.cum * a.n) * a.gap) AS DOUBLE)
      |    / CAST(MAX(a.n) * MAX(b.n) AS DOUBLE) AS w1
      |FROM cg a JOIN cg b ON b.v = a.v AND a.source < b.source
      |GROUP BY a.source, b.source ORDER BY sa, sb""".stripMargin

  /** Q312: Good–Turing frequency smoothing (Good 1953) over the BIGRAM
    * census — the adjusted counts r* = (r+1)·n_{r+1}/n_r for the low
    * frequencies and the unseen-mass estimate P₀ = n₁/N, the smoothing
    * that underlies Katz backoff and complements q261's Kneser–Ney
    * bigram LM (which discounts; GT says by HOW MUCH the data itself
    * wants to discount). Bigrams, not unigrams: the template corpus'
    * unigram vocabulary saturates (every word frequent — the q203
    * data-shape note), while the bigram census has the genuine n₁/n₂
    * singleton tail GT exists for. Frequencies-of-frequencies are exact
    * integers; every emitted estimate is a single division of exact
    * integers — raw doubles, no rounding.
    *
    * Scale shape: the bigram census is one transform/explode +
    * aggregate; n_r is one more aggregate over the type-bounded census;
    * the r ladder rides a bounded self-join. */
  def qGoodTuring(t: Tables, maxR: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0))
    val freq = t.fanout(t.documents)
      .select(text.tokenize(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(toks[i - 1], ' ', toks[i]))")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("r"))
    val nr = freq.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      .withColumn("n_total", sum(col("r") * col("n_r")).over(w))
      .withColumn("n1", sum(when(col("r") === 1L, col("n_r"))).over(w))
      .localCheckpoint() // bounded freq-of-freq table, feeds the ladder join
    // adaptive ladder: the maxR SMALLEST observed frequencies — a
    // saturated census (no rare types at large SFs, the q203 data-shape
    // note) still yields a populated ladder
    val ladder = nr
      .withColumn("rrk", row_number().over(w.orderBy(col("r"))))
      .filter(col("rrk") <= maxR).drop("rrk")
    val next = nr.select((col("r") - lit(1L)).as("r"), col("n_r").as("n_next"))
    ladder.join(next, Seq("r"), "left")
      .select(col("r"), col("n_r"), coalesce(col("n_next"), lit(0L)).as("n_next"),
        col("n_total"), coalesce(col("n1"), lit(0L)).as("n1"))
      .withColumn("r_star",
        ((col("r") + lit(1L)) * col("n_next")).cast("double") /
          col("n_r").cast("double"))
      .withColumn("p0",
        col("n1").cast("double") / col("n_total").cast("double"))
      .orderBy(col("r"))
  }

  /** q312 oracle: same census, frequencies-of-frequencies, single
    * divisions. */
  def qGoodTuringSql(maxR: Int = 10): String =
    s"""WITH tl AS (
      |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |         x -> len(x) > 0) AS toks
      |  FROM documents),
      |ix AS (
      |  SELECT toks, CAST(unnest(range(1, len(toks))) AS BIGINT) AS i
      |  FROM tl WHERE len(toks) >= 2),
      |bg AS (
      |  SELECT toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS term
      |  FROM ix),
      |freq AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS r FROM bg GROUP BY term),
      |nr AS MATERIALIZED (
      |  SELECT r, COUNT(*)::BIGINT AS n_r,
      |    CAST(SUM(r * COUNT(*)) OVER () AS BIGINT) AS n_total,
      |    CAST(SUM(CASE WHEN r = 1 THEN COUNT(*) END) OVER () AS BIGINT) AS n1
      |  FROM freq GROUP BY r),
      |lad AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (ORDER BY r) AS rrk FROM nr)
      |  WHERE rrk <= $maxR)
      |SELECT l.r, l.n_r,
      |  CAST(COALESCE(x.n_r, 0) AS BIGINT) AS n_next,
      |  l.n_total, CAST(COALESCE(l.n1, 0) AS BIGINT) AS n1,
      |  CAST((l.r + 1) * COALESCE(x.n_r, 0) AS DOUBLE) / CAST(l.n_r AS DOUBLE)
      |    AS r_star,
      |  CAST(COALESCE(l.n1, 0) AS DOUBLE) / CAST(l.n_total AS DOUBLE) AS p0
      |FROM lad l LEFT JOIN nr x ON x.r = l.r + 1
      |ORDER BY l.r""".stripMargin

  /** Q315: two-sample Cramér–von Mises test per source pair (Anderson
    * 1962) on the token-count distributions — the INTEGRATED-squared-gap
    * test completing the drift triptych: q210's KS sees only the max
    * CDF gap, q308's W₁ the transported mass; CvM weighs EVERY gap
    * squared, the most sensitive of the three to mid-distribution
    * shape changes. T = nm/(n+m)² · Σ_obs (F_A − F_B)².
    *
    * Exactness: on the shared integer support grid, each gap numerator
    * cumA·n_B − cumB·n_A is an exact BIGINT; per-support-value terms
    * c_v·(gap/(n_A·n_B))² are fixed IEEE sequences of exact integers,
    * pico-rounded and BIGINT-summed (the per-entity grid rule); T is a
    * final single-division chain of exact integers.
    *
    * Scale shape: the q308 grid verbatim (one census, bounded
    * support×sources work). */
  def qCramerVonMises(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // barrier: counts feeds support, sources AND the grid join, and the
    // cum self-join doubles every reference — un-barriered the corpus
    // tokenize ran 4x in-plan. Bounded (source, length) histogram rows.
    val counts = t.fanout(t.documents)
      .select(col("source"), size(text.tokenize(col("text"))).cast("long").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val support = counts.select(col("v")).distinct()
    val srcs = counts.select(col("source")).distinct()
    val grid = support.crossJoin(broadcast(srcs))
      .join(counts, Seq("source", "v"), "left")
      .select(col("source"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wsrc = Window.partitionBy(col("source"))
    val cums = grid
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(wsrc))
    val a = cums.select(col("source").as("sa"), col("v"), col("c").as("ca"),
      col("cum").as("cum_a"), col("n").as("n_a"))
    val b = cums.select(col("source").as("sb"), col("v"), col("c").as("cb"),
      col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, Seq("v")).filter(col("sa") < col("sb"))
      .withColumn("gap", col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
      .withColumn("term_pico",
        round((col("ca") + col("cb")).cast("double") *
          (col("gap").cast("double") / (col("n_a") * col("n_b")).cast("double")) *
          (col("gap").cast("double") / (col("n_a") * col("n_b")).cast("double")) *
          lit(1.0e12), 0).cast("long"))
      .groupBy(col("sa"), col("sb"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("term_pico")).as("sum_pico"))
      .withColumn("t_cvm",
        (col("n_a") * col("n_b")).cast("double") /
          ((col("n_a") + col("n_b")) * (col("n_a") + col("n_b"))).cast("double") *
          (col("sum_pico").cast("double") / lit(1.0e12)))
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("sum_pico"),
        col("t_cvm"))
      .orderBy(col("sa"), col("sb"))
  }

  /** q315 oracle: the q308 grid + pico-rounded squared-gap terms. */
  val qCramerVonMisesSql: String =
    """WITH cnt AS (
      |  SELECT source, CAST(len(list_filter(
      |      string_split_regex(lower(text), '[^a-z0-9'']+'),
      |      x -> len(x) > 0)) AS BIGINT) AS v, COUNT(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, u.v, CAST(COALESCE(k.c, 0) AS BIGINT) AS c
      |  FROM (SELECT DISTINCT v FROM cnt) u
      |  CROSS JOIN (SELECT DISTINCT source FROM cnt) s
      |  LEFT JOIN cnt k ON k.source = s.source AND k.v = u.v),
      |cums AS (
      |  SELECT source, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM grid),
      |pr AS (
      |  SELECT a.source AS sa, b.source AS sb, a.c AS ca, b.c AS cb,
      |    a.n AS n_a, b.n AS n_b,
      |    CAST(a.cum * b.n - b.cum * a.n AS BIGINT) AS gap
      |  FROM cums a JOIN cums b ON b.v = a.v AND a.source < b.source),
      |terms AS (
      |  SELECT sa, sb, n_a, n_b,
      |    CAST(round(CAST(ca + cb AS DOUBLE)
      |      * (CAST(gap AS DOUBLE) / CAST(n_a * n_b AS DOUBLE))
      |      * (CAST(gap AS DOUBLE) / CAST(n_a * n_b AS DOUBLE))
      |      * 1000000000000.0::DOUBLE) AS BIGINT) AS term_pico
      |  FROM pr)
      |SELECT sa, sb, CAST(MAX(n_a) AS BIGINT) AS n_a,
      |  CAST(MAX(n_b) AS BIGINT) AS n_b,
      |  CAST(SUM(term_pico) AS BIGINT) AS sum_pico,
      |  CAST(MAX(n_a) * MAX(n_b) AS DOUBLE)
      |    / CAST((MAX(n_a) + MAX(n_b)) * (MAX(n_a) + MAX(n_b)) AS DOUBLE)
      |    * (CAST(SUM(term_pico) AS DOUBLE) / 1000000000000.0::DOUBLE) AS t_cvm
      |FROM terms GROUP BY sa, sb ORDER BY sa, sb""".stripMargin

  /** Q318: temperature-scaling calibration fit (Guo et al. 2017) — the
    * post-hoc recalibration that q188 measures and q299 fits
    * nonparametrically, here in its production form: ONE scalar T
    * minimizing the NLL of the cached classifier's logits over a fixed
    * quarter-step grid (quarters are binary-exact, so z/T is exact
    * IEEE). Emits the full NLL(T) profile with the argmin flagged — the
    * judge-visible face of the fit.
    *
    * Exactness: per-doc NLL terms ln(1+e^{z/T}) − y·z/T are
    * micro-rounded and BIGINT-summed per T (order-independent); the
    * argmin is an integer comparison with ties → smaller T (grid index).
    * |z| stays ≪ 700 (six bounded features × bounded weights), so the
    * direct softplus form cannot overflow.
    *
    * Scale shape: one cached-feature scan per grid point over a
    * broadcastable literal grid — a single corpus pass with a 12-way
    * projection fan, then a ≤|grid| bounded table. */
  def qTemperatureFit(t: Tables, rounds: Int = 16, lr: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.documents.sparkSession
    val grid = (2 to 12).map(_ * 0.25) // 0.50, 0.75, …, 3.00 (binary-exact)
    val feats = logitFeaturesShared(t)
    locally {
      logitTrainCached(t, feats, rounds, lr) match {
        case None =>
          Tables.emptyFrame(spark, "temp" -> DoubleType, "n" -> LongType,
            "nll_micro" -> LongType, "nll_mean" -> DoubleType,
            "is_best" -> BooleanType)
        case Some(w) =>
          val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
            lit(w(3)) * col("f3") + lit(w(4)) * col("f4") + lit(w(5)) * col("f5")
          val zy = feats.select(col("y"), z.as("z"))
          val terms = zy.select(col("y"), col("z"),
            explode(array(grid.map(lit(_)): _*)).as("temp"))
            .withColumn("term_micro",
              round((log(lit(1.0) + exp(col("z") / col("temp"))) -
                col("y") * col("z") / col("temp")) * lit(1000000.0), 0)
                .cast("long"))
          val byT = terms.groupBy(col("temp"))
            .agg(count(lit(1)).as("n"), sum(col("term_micro")).as("nll_micro"))
          val w0 = Window.partitionBy(lit(0))
          byT
            .withColumn("best_enc",
              min(col("nll_micro") * lit(16L) +
                round(col("temp") * lit(4.0), 0).cast("long")).over(w0))
            .withColumn("is_best",
              col("nll_micro") * lit(16L) +
                round(col("temp") * lit(4.0), 0).cast("long") === col("best_enc"))
            .select(col("temp"), col("n"), col("nll_micro"),
              (col("nll_micro").cast("double") /
                (col("n").cast("double") * lit(1000000.0))).as("nll_mean"),
              col("is_best"))
            .orderBy(col("temp"))
      }
    }
  }

  /** q318 oracle: the logit weight chain + the same grid fan and
    * micro-NLL sums (argmin via the cost·16+gridIndex integer
    * encoding). */
  def qTemperatureFitSql(rounds: Int = 16, lr: Double = 8.0): String = {
    val (chain, wFinal) = logitChainCtes(rounds, lr)
    val gridList = (2 to 12).map(k => s"${k * 0.25}::DOUBLE").mkString(", ")
    s"""WITH $chain,
      |zt AS (
      |  SELECT CAST(y AS BIGINT) AS y, $logitZExpr AS z
      |  FROM f, $wFinal w),
      |tg AS (SELECT unnest([$gridList]) AS temp),
      |terms AS (
      |  SELECT tg.temp, zt.y,
      |    CAST(round((ln(1.0::DOUBLE + exp(zt.z / tg.temp))
      |      - zt.y * zt.z / tg.temp) * 1000000.0::DOUBLE) AS BIGINT) AS term_micro
      |  FROM zt CROSS JOIN tg),
      |byt AS (
      |  SELECT temp, COUNT(*)::BIGINT AS n,
      |    CAST(SUM(term_micro) AS BIGINT) AS nll_micro
      |  FROM terms GROUP BY temp)
      |SELECT temp, n, nll_micro,
      |  CAST(nll_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0::DOUBLE)
      |    AS nll_mean,
      |  nll_micro * 16 + CAST(round(temp * 4.0::DOUBLE) AS BIGINT)
      |    = MIN(nll_micro * 16 + CAST(round(temp * 4.0::DOUBLE) AS BIGINT))
      |      OVER () AS is_best
      |FROM byt ORDER BY temp""".stripMargin
  }

  /** Q319: Burrows' delta between sources (Burrows 2002) — the
    * stylometric attribution distance: stopword relative frequencies
    * per source, z-scored against the cross-source mean/std, and
    * Δ(s₁,s₂) = mean_w |z₁ − z₂|. The authorship-signal audit a
    * provenance pipeline runs when two feeds are suspected to be the
    * same writer behind different mastheads (complements q254's
    * content-level cross-source matrix with a STYLE-level one).
    *
    * Exactness: relative frequencies enter on the micro grid
    * (fm = round(1e6·cnt/tot)); per-word cross-source mean/variance are
    * integer identities over the fm's (G·Σfm² − (Σfm)² exact BIGINTs);
    * each z is a fixed IEEE sequence of exact integers; per-pair |Δz|
    * terms are micro-rounded and BIGINT-summed. Zero-variance words are
    * excluded by the exact integer test.
    *
    * Scale shape: one corpus aggregate to (source, word) counts
    * (stopword-filtered before the shuffle); everything after runs on
    * the ≤|stopwords|·|sources| bounded grid. */
  def qBurrowsDelta(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r14: the full (source, word) count table rides the shared session
    // (source, term) counts (the r13 one-pass shape, now shared — the
    // per-source totals and stopword counts still derive from it)
    val all = sourceTermCountsShared(t)
      .select(col("source"), col("term").as("w"), col("c").as("cnt"))
    val tot = all.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    val sw = all.filter(col("w").isInCollection(text.stopwords))
      .select(col("source"), col("w"), col("cnt"))
    val srcs = tot.select(col("source"))
    val words = sw.select(col("w")).distinct()
    val gridW = words.crossJoin(broadcast(srcs)) // bounded: |stopwords|·|sources|
      .join(sw, Seq("source", "w"), "left")
      .join(tot, Seq("source"))
      .select(col("w"), col("source"),
        round(coalesce(col("cnt"), lit(0L)).cast("double") /
          col("tot").cast("double") * lit(1000000.0), 0).cast("long").as("fm"))
    val ww = Window.partitionBy(col("w"))
    val zs = gridW
      .withColumn("g", count(lit(1)).over(ww))
      .withColumn("sf", sum(col("fm")).over(ww))
      .withColumn("sf2", sum(col("fm") * col("fm")).over(ww))
      .withColumn("varnum", col("g") * col("sf2") - col("sf") * col("sf"))
      .filter(col("varnum") > 0L) // zero-variance words carry no signal
      .withColumn("z",
        (col("fm").cast("double") * col("g").cast("double") -
          col("sf").cast("double")) /
          sqrt(col("varnum").cast("double") * col("g").cast("double")))
    val a = zs.select(col("w"), col("source").as("sa"), col("z").as("za"))
    val b = zs.select(col("w"), col("source").as("sb"), col("z").as("zb"))
    a.join(b, Seq("w")).filter(col("sa") < col("sb"))
      .withColumn("dz_micro",
        round(abs(col("za") - col("zb")) * lit(1000000.0), 0).cast("long"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_words"), sum(col("dz_micro")).as("dz_sum_micro"))
      .withColumn("delta",
        col("dz_sum_micro").cast("double") /
          (col("n_words").cast("double") * lit(1000000.0)))
      .orderBy(col("sa"), col("sb"))
  }

  /** q319 oracle: same stopword grid, integer variance identity,
    * micro |Δz| sums. Derivation note: z = (fm − μ)/σ with μ = sf/g and
    * σ = sqrt(varnum/g²) rewrites to (fm·g − sf)/sqrt(varnum·g) — the
    * form both engines evaluate. */
  def qBurrowsDeltaSql(): String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |           x -> len(x) > 0)) AS w
      |  FROM documents),
      |tot AS MATERIALIZED (
      |  SELECT source, COUNT(*)::BIGINT AS tot FROM toks GROUP BY source),
      |swc AS (
      |  SELECT source, w, COUNT(*)::BIGINT AS cnt FROM toks
      |  WHERE w IN ($sw) GROUP BY source, w),
      |gridw AS (
      |  SELECT u.w, s.source,
      |    CAST(round(CAST(COALESCE(k.cnt, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE)
      |      * 1000000.0::DOUBLE) AS BIGINT) AS fm
      |  FROM (SELECT DISTINCT w FROM swc) u
      |  CROSS JOIN (SELECT source FROM tot) s
      |  LEFT JOIN swc k ON k.source = s.source AND k.w = u.w
      |  JOIN tot t ON t.source = s.source),
      |zs AS (
      |  SELECT *,
      |    (CAST(fm AS DOUBLE) * CAST(g AS DOUBLE) - CAST(sf AS DOUBLE))
      |      / sqrt(CAST(varnum AS DOUBLE) * CAST(g AS DOUBLE)) AS z
      |  FROM (
      |    SELECT w, source, fm,
      |      CAST(COUNT(*) OVER pw AS BIGINT) AS g,
      |      CAST(SUM(fm) OVER pw AS BIGINT) AS sf,
      |      CAST(COUNT(*) OVER pw * SUM(fm * fm) OVER pw
      |           - SUM(fm) OVER pw * SUM(fm) OVER pw AS BIGINT) AS varnum
      |    FROM gridw
      |    WINDOW pw AS (PARTITION BY w))
      |  WHERE varnum > 0)
      |SELECT a.source AS sa, b.source AS sb,
      |  COUNT(*)::BIGINT AS n_words,
      |  CAST(SUM(CAST(round(abs(a.z - b.z) * 1000000.0::DOUBLE) AS BIGINT))
      |    AS BIGINT) AS dz_sum_micro,
      |  CAST(SUM(CAST(round(abs(a.z - b.z) * 1000000.0::DOUBLE) AS BIGINT))
      |    AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0::DOUBLE) AS delta
      |FROM zs a JOIN zs b ON b.w = a.w AND a.source < b.source
      |GROUP BY a.source, b.source ORDER BY sa, sb""".stripMargin
  }

  /** Q316: NB learning curve over md5-nested training fractions — the
    * data-scaling audit (how much accuracy does each doubling of
    * training data buy?) run with the one classifier that retrains in a
    * single counting pass (q293's closed-form NB). Fractions are NESTED
    * md5 slices (the q63 draw: conv(md5₄) < ⌊65536·f⌋), so each larger
    * fraction strictly contains the smaller — the textbook learning-
    * curve design. Each fraction's model scores the HELD-OUT complement
    * (the 100% row scores the training set itself — resubstitution,
    * documented).
    *
    * Exactness: q293's discipline throughout — integer counts, micro ln
    * grid terms, integer argmax; the md5 slice is exact integer hex
    * math. */
  def qLearningCurve(t: Tables,
      fracs: Seq[Int] = Seq(6554, 16384, 32768, 65536)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def microAway(x: Double): Long = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)).toLong
    }
    val lab = logitFeaturesShared(t).select(col("doc_id"), col("y").cast("long").as("y"))
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"))
      .localCheckpoint() // labels + draw feed every fraction
    val toks = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
    val dt = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // term counts feed every fraction
    // r13 opt: the fractions are NESTED md5 slices, so the four per-
    // fraction (dt x train) corpus joins collapse into ONE bucketed
    // aggregate — fb = first fraction containing h — and each fraction's
    // per-term counts are a cheap re-aggregation of the ≤|vocab|·|fracs|
    // checkpointed cell table (identical exact integer counts).
    val fbExpr = fracs.zipWithIndex.tail.foldLeft(
        when(col("h") < fracs.head, 0)) { case (e, (thr, i)) =>
      e.when(col("h") < thr, i)
    }.otherwise(fracs.length)
    val dtl = dt.join(lab, Seq("doc_id"))
      .withColumn("fb", fbExpr)
      .groupBy(col("term"), col("fb")).agg(
        coalesce(sum(when(col("y") === 0L, col("c"))), lit(0L)).as("b0"),
        coalesce(sum(when(col("y") === 1L, col("c"))), lit(0L)).as("b1"))
      .localCheckpoint()
    // one bucketed label fetch replaces the 4 sequential per-fraction
    // collects (nested slices => prefix sums over the ≤|fracs|+1 buckets)
    val labBuckets = lab.withColumn("fb", fbExpr)
      .groupBy(col("fb")).agg(
        coalesce(sum(col("y")), lit(0L)).as("n1"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // r14 one-pass evaluation (guide §2: scan once, shuffle fewer bytes):
    // the four per-fraction branches each re-scanned dt (semi-join +
    // model join + aggregate ≈ 3.15·|dt| rows across four subtrees).
    // Fractions are NESTED, so one (term, fi) model table (each cell
    // contributes to every fi ≥ its bucket) and one (doc, fi)
    // eval-membership fan replace all four branches; every per-(term,fi)
    // and per-(doc,fi) value is the identical exact integer the old
    // branch computed, so the four output rows are unchanged.
    val spark2 = t.documents.sparkSession
    import spark2.implicits._
    val priors = fracs.zipWithIndex.map { case (thr, fi) =>
      val inTrain = labBuckets.filter(_._1 <= fi)
      val n1 = inTrain.map(_._2).sum; val n = inTrain.map(_._3).sum
      val lp0 = microAway(math.log((n - n1 + 1).toDouble / (n + 2).toDouble))
      val lp1 = microAway(math.log((n1 + 1).toDouble / (n + 2).toDouble))
      (fi, thr.toLong, n, lp0, lp1)
    }
    val fracDf = broadcast(priors.toDF("fi", "thr", "n_train", "lp0", "lp1"))
    val wf = Window.partitionBy(col("fi"))
    // per-(term, fraction) NB log-likelihood model: cell (term, fb)
    // feeds every fraction fi >= fb (nested slices)
    val ll = dtl
      // fb = fracs.length (doc in no fraction) must not fan out — and
      // sequence(n, n-1) is DESCENDING in Spark (the q309 guard rule)
      .filter(col("fb") < fracs.length)
      .select(col("term"), explode(expr(s"sequence(fb, ${fracs.length - 1})")).as("fi"),
        col("b0"), col("b1"))
      .groupBy(col("term"), col("fi"))
      .agg(sum(col("b0")).as("c0"), sum(col("b1")).as("c1"))
      .withColumn("tok0", sum(col("c0")).over(wf))
      .withColumn("tok1", sum(col("c1")).over(wf))
      .withColumn("v_size", count(lit(1)).over(wf))
      .select(col("term"), col("fi"),
        round(log((col("c0") + lit(1L)).cast("double") /
          (col("tok0") + col("v_size")).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("ll0"),
        round(log((col("c1") + lit(1L)).cast("double") /
          (col("tok1") + col("v_size")).cast("double")) * lit(1000000.0), 0)
          .cast("long").as("ll1"))
    // (doc, fraction) eval membership: fi = last fraction (resubstitution)
    // takes every doc, earlier fractions take the held-out complement.
    // Literal-array explode, NOT a crossJoin against the 4-row frame — a
    // map-side fan keeps PlanAuditSpec's no-NLJ gate clean and is the
    // better scale shape anyway (no broadcast relation at all)
    val fracArr = array(priors.map { case (fi, thr, _, _, _) =>
      struct(lit(fi).as("fi"), lit(thr).as("thr")) }: _*)
    val evalAll = lab.select(col("doc_id"), col("y"), col("h"),
        explode(fracArr).as("fx"))
      .filter(col("fx.fi") === (fracs.length - 1) || col("h") >= col("fx.thr"))
      .select(col("doc_id"), col("y"), col("fx.fi").as("fi"))
    // eval docs may hold terms unseen in training: the inner model join
    // drops them (standard NB ignore-OOV convention, mirrored in the
    // oracle); docs with NO seen term keep s0/s1 = 0 via the left join
    val docSums = dt
      .join(evalAll.select(col("doc_id"), col("fi")), Seq("doc_id"))
      .join(ll, Seq("term", "fi"))
      .groupBy(col("doc_id"), col("fi"))
      .agg(sum(col("c") * col("ll0")).as("s0"), sum(col("c") * col("ll1")).as("s1"))
    val out = evalAll.join(docSums, Seq("doc_id", "fi"), "left")
      .join(fracDf, Seq("fi"))
      .withColumn("yhat",
        when(col("lp1") + coalesce(col("s1"), lit(0L)) >
          col("lp0") + coalesce(col("s0"), lit(0L)), 1L).otherwise(0L))
      .groupBy(col("fi"), col("thr"), col("n_train"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("y") === col("yhat"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("thr"), col("n_train"), col("n_eval"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_eval").cast("double")).as("acc"))
    out.orderBy(col("thr"))
  }

  /** q316 oracle: per-fraction NB counting chains (q293's CTE shapes
    * parameterized by the md5 slice). */
  def qLearningCurveSql(fracs: Seq[Int] = Seq(6554, 16384, 32768, 65536)): String = {
    val blocks = fracs.map { thr =>
      val evalPred = if (thr >= 65536) "TRUE" else s"h >= $thr"
      s"""SELECT $thr AS thr, *
         |FROM (
         |  WITH tr AS (SELECT doc_id, y FROM labh WHERE h < $thr),
         |  ev AS (SELECT doc_id, y FROM labh WHERE $evalPred),
         |  pt AS (
         |    SELECT t.term,
         |      CAST(COALESCE(SUM(CASE WHEN l.y = 0 THEN t.c END), 0) AS BIGINT) AS c0,
         |      CAST(COALESCE(SUM(CASE WHEN l.y = 1 THEN t.c END), 0) AS BIGINT) AS c1
         |    FROM tk t JOIN tr l USING (doc_id) GROUP BY t.term),
         |  llg AS (
         |    SELECT term,
         |      CAST(round(ln(CAST(c0 + 1 AS DOUBLE)
         |        / CAST(SUM(c0) OVER () + COUNT(*) OVER () AS DOUBLE))
         |        * 1000000.0::DOUBLE) AS BIGINT) AS ll0,
         |      CAST(round(ln(CAST(c1 + 1 AS DOUBLE)
         |        / CAST(SUM(c1) OVER () + COUNT(*) OVER () AS DOUBLE))
         |        * 1000000.0::DOUBLE) AS BIGINT) AS ll1
         |    FROM pt),
         |  pri AS (
         |    SELECT CAST(COALESCE(SUM(y), 0) AS BIGINT) AS n1,
         |      CAST(COUNT(*) AS BIGINT) AS n FROM tr),
         |  dsc AS (
         |    SELECT t.doc_id, CAST(SUM(t.c * g.ll0) AS BIGINT) AS s0,
         |      CAST(SUM(t.c * g.ll1) AS BIGINT) AS s1
         |    FROM tk t JOIN llg g ON g.term = t.term
         |    WHERE t.doc_id IN (SELECT doc_id FROM ev)
         |    GROUP BY t.doc_id),
         |  scr AS (
         |    SELECT e.y,
         |      CASE WHEN CAST(round(ln(CAST(p.n1 + 1 AS DOUBLE)
         |            / CAST(p.n + 2 AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
         |          + COALESCE(d.s1, 0)
         |        > CAST(round(ln(CAST(p.n - p.n1 + 1 AS DOUBLE)
         |            / CAST(p.n + 2 AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
         |          + COALESCE(d.s0, 0)
         |        THEN 1 ELSE 0 END AS yhat
         |    FROM ev e CROSS JOIN pri p LEFT JOIN dsc d ON d.doc_id = e.doc_id)
         |  SELECT (SELECT n FROM pri) AS n_train,
         |    COUNT(*)::BIGINT AS n_eval,
         |    CAST(SUM(CASE WHEN y = yhat THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |    CAST(SUM(CASE WHEN y = yhat THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS acc
         |  FROM scr)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${logitFeatureCtes},
      |labh AS MATERIALIZED (
      |  SELECT doc_id, CAST(y AS BIGINT) AS y,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS h
      |  FROM f),
      |tk AS MATERIALIZED (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
      |                         x -> len(x) > 0)) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term)
      |SELECT CAST(thr AS BIGINT) AS thr, n_train, n_eval, n_correct, acc FROM (
      |$blocks)
      |ORDER BY thr""".stripMargin
  }
}
