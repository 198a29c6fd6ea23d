package graft.ops

import graft.{Shared, Tables}
import graft.functions.text
import org.apache.spark.ml.clustering.{KMeans, LDA}
import org.apache.spark.ml.feature.{CountVectorizer, IDF, Normalizer}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Clustering stack (SURVEY.md §2.9 M1/M2/M5, §2.4 A2/A3/A4).
  *
  * The reference's intent (its clustering code is syntactically broken, see
  * SURVEY §0): TF-IDF over titles with a lower→tokenize→stopword→Porter
  * pipeline (cluster.py:12-18,25-30), k-means with k=⌈n/4⌉, k-means++,
  * max_iter=100 (cluster.py:51-53), and gensim LDA with ⌈n/5⌉ topics
  * (lda.py:43-51). Here: the same dataflow on spark.ml primitives —
  * CountVectorizer/IDF/Normalizer for M1 (distributed two-phase DF
  * aggregate), ml.KMeans (k-means|| init — the distributed k-means++) for
  * M2, ml.LDA (online EM) for M5. Iteration lives inside spark.ml; our
  * plans stay declarative (SURVEY §4 custom-concern 2).
  */
object Clustering {

  /** M1: l2-normalized smooth-IDF TF-IDF with the reference's tokenizer
    * chain. Adds column `tfidf` (ml Vector) + `tokens`. */
  def tfidf(df: DataFrame, textCol: String, vocabSize: Int = 1 << 16): DataFrame = {
    val toks = df.withColumn("tokens",
      text.stemTokens(text.removeStopwords(text.tokenize(col(textCol)))))
    val cv = new CountVectorizer().setInputCol("tokens").setOutputCol("tf")
      .setVocabSize(vocabSize).fit(toks)
    val tf = cv.transform(toks)
    // Spark IDF = log((m+1)/(df+1)) — the reference's smooth_idf=True form.
    val idf = new IDF().setInputCol("tf").setOutputCol("tfidf_raw").fit(tf)
    new Normalizer().setInputCol("tfidf_raw").setOutputCol("tfidf").setP(2.0)
      .transform(idf.transform(tf))
      .drop("tfidf_raw")
  }

  /** TF-IDF surface query (rows-only; spec asserts l2-norm ≈ 1 and
    * vocab coverage): per-doc term count, norm, and dominant term weight. */
  def qTfidf(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    if (t.documents.isEmpty)
      return graft.Tables.emptyFrame(t.spark, "doc_id" -> LongType,
        "n_terms" -> IntegerType, "l2_norm" -> DoubleType,
        "top_weight" -> DoubleType)
    val vec = tfidf(t.fanout(t.documents), "text")
    val stats = udf((v: Vector) => {
      val sv = v.asInstanceOf[SparseVector]
      val norm = math.sqrt(sv.values.map(x => x * x).sum)
      val top = if (sv.values.isEmpty) 0.0 else sv.values.max
      (sv.indices.length, norm, top)
    })
    vec.select(col("doc_id"), stats(col("tfidf")).as("s"))
      .select(col("doc_id"), col("s._1").as("n_terms"),
        round(col("s._2"), 6).as("l2_norm"), round(col("s._3"), 6).as("top_weight"))
      .orderBy(col("doc_id"))
  }

  /** Q102: TF-IDF as a PURE declarative plan, hash-oracled (VERDICT r2
    * noted TF-IDF was spec-only; this puts the math itself under the
    * DuckDB gate). Same idf as spark.ml's IDF — ln((N+1)/(df+1)) — over
    * raw tokens, so ClusteringSpec can assert bit-level parity against
    * the CountVectorizer+IDF pipeline while the oracle replays the exact
    * formula in SQL. Shape: two hash aggregates + one equi-join on term
    * (the inverted-index join; at 100 TB the df side is |vocab| rows —
    * orders smaller than the corpus — and the join stays shuffle-equi,
    * never a cross join). N is a metadata-cheap count; l2_norm/top_score
    * are round(6) (order-dependent float sums), n_terms exact. */
  def qTfidfExact(t: Tables): DataFrame = {
    val n = t.documents.count()
    // barrier: tf feeds the doc-frequency aggregate AND the weight join —
    // un-barriered the tokenize+explode+shuffle ran twice over the corpus.
    // (doc_id, term, c) rows, post-aggregate (already shuffled once).
    val tf = t.fanout(t.documents)
      .select(col("doc_id"), explode(text.tokenize(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .withColumn("w", col("c").cast("double") *
        log((lit(n.toDouble) + 1.0) / (col("df").cast("double") + 1.0)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        round(sqrt(sum(col("w") * col("w"))), 6).as("l2_norm"),
        round(max(col("w")) / sqrt(sum(col("w") * col("w"))), 6).as("top_score"))
      .orderBy(col("doc_id"))
  }

  val qTfidfExactSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest(${text.tokenizeSql("text")}) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |v AS (SELECT tf.doc_id,
      |        CAST(tf.c AS DOUBLE) * ln((CAST(n.n AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) AS w
      |      FROM tf JOIN df USING (term), n)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  round(sqrt(SUM(w * w)), 6) AS l2_norm,
      |  round(MAX(w) / sqrt(SUM(w * w)), 6) AS top_score
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** M2 on the reference's geometry: k-means over TF-IDF text vectors,
    * k=⌈n/4⌉, maxIter 100 (cluster.py:51-53 intent), on a reference-scale
    * slice (the reference clustered ≤ ~100 articles; k=n/4 at corpus scale
    * is degenerate by construction — documented deviation, the corpus-scale
    * path is qKmeansEmbeddings). Emits (doc_id, cluster). */
  def qKmeansDocsRef(t: Tables): DataFrame = {
    val docs = t.documents.filter(col("doc_id") < 200)
    val n = docs.count().toInt
    if (n == 0)
      return graft.Tables.emptyFrame(t.spark,
        "doc_id" -> org.apache.spark.sql.types.LongType,
        "cluster" -> org.apache.spark.sql.types.IntegerType)
    val k = math.max((n + 3) / 4, 2)
    val feats = tfidf(docs, "text").cache()
    val km = new KMeans().setK(k).setMaxIter(100).setSeed(42L)
      .setFeaturesCol("tfidf").setPredictionCol("cluster")
    km.fit(feats).transform(feats)
      .select(col("doc_id"), col("cluster"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-scale k-means over the embedding table (k = label cardinality;
    * KMeansSpec asserts cluster/label purity). k-means|| init, fixed seed.
    * Scale shape: each iteration is one map (assign) + one treeAggregate
    * (centroid update) over the corpus — the canonical distributed k-means;
    * broadcast centroids, no shuffle of the data itself. */
  def qKmeansEmbeddings(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    if (t.embeddings.isEmpty)
      return graft.Tables.emptyFrame(t.spark, "vec_id" -> LongType,
        "cluster" -> IntegerType,
        "label" -> t.embeddings.schema("label").dataType)
    // 30 Lloyd iterations = 30+ scheduled jobs over this input: partition
    // for the data size (2k rows), not the core count — see qLdaTopics
    val feats = t.embeddings.repartition(8)
      .withColumn("features", array_to_vector(col("embedding")))
      .cache()
    val km = new KMeans().setK(10).setMaxIter(30).setSeed(42L)
      .setFeaturesCol("features").setPredictionCol("cluster")
    km.fit(feats).transform(feats)
      .select(col("vec_id"), col("cluster"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** M5: LDA topic assignment — ⌈n/5⌉ topics is the reference's constant
    * (lda.py:43); at corpus scale we pin k=10 (≈ the generator's latent
    * label count) and take argmax of the topic distribution (lda.py:61-62
    * → max_by). Online optimizer: one corpus pass per iteration,
    * mini-batched — the distributed form of gensim's update_every/chunksize
    * streaming. */
  def qLdaTopics(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    if (t.documents.isEmpty)
      return graft.Tables.emptyFrame(t.spark, "doc_id" -> LongType,
        "topic" -> IntegerType)
    // the tokenize chain is cached at full width: it feeds TWO passes
    // (vocab fit + vectorize) and must not be dragged down to the
    // iteration partitioning below (a coalesce(8) here was measured to
    // run tokenization 8-way — the r2 bench regression's root)
    val toks = t.fanout(t.documents).withColumn("tokens",
      text.removeStopwords(text.tokenize(col("text")))).cache()
    // vocab capped to the most frequent 8k terms: LDA cost is O(k·vocab)
    // per update and the synthetic corpus tail adds nothing to topics
    val cv = new CountVectorizer().setInputCol("tokens").setOutputCol("tf")
      .setVocabSize(8192).fit(toks)
    // online LDA passes over the input once per iteration: cache the
    // vectorized corpus or the chain re-runs 10×. ITERATION partitioning
    // tracks DATA size, not core count (32 near-empty tasks per scheduled
    // job is pure overhead for 5k docs) — repartition, not coalesce, so
    // only the tiny sparse vectors shuffle and upstream stays wide.
    val counted = cv.transform(toks).select(col("doc_id"), col("tf"))
      .repartition(8).cache()
    val lda = new LDA().setK(10).setMaxIter(10).setSeed(42L)
      .setFeaturesCol("tf").setOptimizer("online")
    val model = lda.fit(counted)
    toks.unpersist()
    // per-doc inference (the E-step in transform) is the per-row-heavy
    // tail — run it at full width (session parallelism, not a constant),
    // not at the iteration partitioning
    model.transform(t.fanout(counted))
      .withColumn("dist", vector_to_array(col("topicDistribution")))
      .withColumn("topic", expr("array_position(dist, array_max(dist)) - 1").cast("int"))
      .select(col("doc_id"), col("topic"))
      .orderBy(col("doc_id"))
  }

  /** The q119 Lloyd program: centroids start at the first `KmeansK`
    * vec_ids and take `KmeansUpdates` round(6)-mean updates. The shared
    * assignment (`kmeansAssignmentsCached`), its oracle chain
    * (`kmeansCtes`) and every consumer read these two. */
  final val KmeansK = 8
  final val KmeansUpdates = 2

  /** Q119: the reference's k-means loop (cluster.py:51-53 intent) as a
    * DETERMINISTIC, oracle-replayable Lloyd iteration — the hash-gated
    * counterpart of qKmeansEmbeddings (whose k-means|| init and spark.ml
    * internals aren't DuckDB-replayable). Spherical k-means (cosine
    * assignment, per-dim mean update — Dhillon & Modha 2001, "Concept
    * decompositions for large sparse text data using clustering"):
    *
    *  - init: centroids = the embeddings of the first `KmeansK` vec_ids;
    *  - assign: per vector, argmax sequential-double cosine (CosineSimD)
    *    over the broadcast centroids, ties → smaller centroid id;
    *  - update: centroid = per-dimension mean of its members, round(6)
    *    (the mean's accumulation order is engine/partition-dependent in
    *    the low bits — the established round(6) case; rounding makes the
    *    next round's inputs bit-identical cross-engine);
    *  - `updates` update rounds, then one final assignment. Empty
    *    clusters are dropped (deterministic in both engines).
    *
    * Scale shape: exactly distributed Lloyd — per round ONE job: a
    * broadcast of k·dims doubles against a streamed corpus (map-side
    * argmax, no shuffle of the vectors) + a two-phase per-(cid,dim) avg
    * whose exchange carries k·dims partials. Centroids ride the driver
    * between rounds (k·dims doubles — the same bounded parameter fetch
    * spark.ml's KMeans makes each Lloyd round). The DuckDB oracle replays
    * the identical rounds as chained CTEs. */
  def qKmeansStep(t: Tables, updates: Int = KmeansUpdates): DataFrame =
    kmeansAssignments(t, updates)
      .select(col("vec_id"), col("cid").as("cluster"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("vec_id"))

  /** [[kmeansAssignments]] materialized once as a `graft.Shared` entry
    * (like fuzzyLabelsCached / cosinePairs04Cached): FIVE queries ride
    * the identical (KmeansK, KmeansUpdates) Lloyd pipeline — q134 semdedup,
    * q233/q234's contingency, q266 embedding outliers, q277 cluster
    * labels — and each previously re-ran the 2-round fit (3 driver
    * collects + 3 broadcast-assign passes). The rounds are deterministic
    * (round(6) means, first-k init), so a hit is bit-identical and every
    * downstream oracle is unaffected. q119's own bench entry keeps the
    * uncached builder so the fit's true cost stays measured (the
    * fuzzyPairsCached q32 precedent). */
  private[graft] def kmeansAssignmentsCached(t: Tables): DataFrame =
    Shared(t, "kmeans_assign")(
      kmeansAssignments(t, KmeansUpdates).localCheckpoint())

  /** Bench warm-structure hook (VERDICT r12 item 1): forces the shared
    * Lloyd assignment its consumers read, so no timed consumer pays
    * another's fit. */
  private[graft] def prewarmShared(t: Tables): Seq[(String, Double)] =
    Seq(Shared.timed("kmeans_assign")(kmeansAssignmentsCached(t)))

  /** The q119 Lloyd pipeline up to (and including) the final assignment,
    * with the vectors still attached: (vec_id, e, cid, sim). Shared by
    * qKmeansStep and the SemDeDup pipeline (q134), which needs the
    * vectors for its within-cluster pair stage. */
  private[graft] def kmeansAssignments(t: Tables, updates: Int): DataFrame = {
    val emb = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .cache()
    // cache serves the per-round collects inside lloydRounds; unpersist
    // before returning so repeated Verify/Bench invocations don't
    // accumulate cached partitions (ADVICE r11)
    try {
      val init = emb.filter(col("vec_id") < KmeansK).orderBy(col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      lloydRounds(emb, init, updates)
    } finally emb.unpersist()
  }

  /** The q119 Lloyd loop over an ARBITRARY (vec_id, e) frame and initial
    * centroid seq — factored out so the composed news-pipeline gate (q226)
    * can run the identical rounds on the dedup-surviving subset. Same
    * round(6) discipline throughout. */
  private[graft] def lloydRounds(emb: DataFrame,
      init: Seq[(Long, Seq[Double])], updates: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    def assign(cs: Seq[(Long, Seq[Double])]): DataFrame = {
      val cdf = cs.toDF("cid", "c")
      // argmax over round(sim, 6), not the raw cosine: the raw values are
      // sequential-double on the Spark side vs DuckDB's
      // list_cosine_similarity — a near-tie inside float noise would flip
      // the assignment cross-engine and cascade through later rounds
      // (round-5 advice). Same round(6) discipline as the centroid means.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(round(col("sim"), 6).desc, col("cid"))
      emb.crossJoin(broadcast(cdf))
        .withColumn("sim", graft.plans.CosineSim.cosineD(col("e"), col("c")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("e"), col("cid"), col("sim"))
    }
    var centroids: Seq[(Long, Seq[Double])] = init
    for (_ <- 1 to updates) {
      centroids = assign(centroids)
        .select(col("cid"), posexplode(col("e")).as(Seq("d", "v")))
        .groupBy(col("cid"), col("d")).agg(round(avg(col("v")), 6).as("m"))
        .groupBy(col("cid")).agg(collect_list(struct(col("d"), col("m"))).as("dm"))
        .select(col("cid"), expr("transform(array_sort(dm), x -> x.m)").as("c"))
        .orderBy(col("cid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    }
    assign(centroids)
  }

  /** q119 oracle: the same rounds unrolled as CTEs — c0 = first-k init,
    * aN = argmax-cosine assignment, cN = round(6) per-dim means. */
  def qKmeansStepSql: String =
    s"""WITH ${kmeansCtes}
       |SELECT vec_id, cid AS cluster, round(sim, 6) AS sim
       |FROM a$KmeansUpdates ORDER BY vec_id""".stripMargin

  /** The q119 rounds as a reusable WITH-body: emb, c0 (first-k init),
    * then aN/cN assignment/update CTEs — the final assignment is
    * `a<updates>`. Shared with the q134 SemDeDup oracle. */
  private[graft] def kmeansCtes: String =
    kmeansRoundCtes(KmeansUpdates,
      """emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)""".stripMargin,
      s"c0 AS (SELECT vec_id AS cid, e AS c FROM emb WHERE vec_id < $KmeansK)")

  /** The q119 round chain over caller-supplied `emb`/`c0` CTE bodies —
    * shared with the composed news-pipeline gate (q226), whose emb is the
    * dedup-surviving subset and whose init is the k lowest surviving ids.
    * `materialized` adds the DuckDB hint to every round CTE (the r6 >5-CTE
    * chain rule) for callers embedding the rounds in a longer program. */
  private[graft] def kmeansRoundCtes(updates: Int, embCte: String,
      c0Cte: String, materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    def assignCte(a: String, c: String): String =
      s"""$a AS $m(
         |  SELECT vec_id, e, cid, sim FROM (
         |    SELECT emb.vec_id, emb.e, c.cid,
         |      list_cosine_similarity(emb.e, c.c) AS sim,
         |      ROW_NUMBER() OVER (PARTITION BY emb.vec_id
         |        ORDER BY round(list_cosine_similarity(emb.e, c.c), 6) DESC, c.cid) AS rn
         |    FROM emb CROSS JOIN $c c) WHERE rn = 1)""".stripMargin
    def updateCte(c: String, a: String): String =
      s"""$c AS $m(
         |  SELECT cid, list(m ORDER BY d) AS c FROM (
         |    SELECT cid, d, round(AVG(v), 6) AS m FROM (
         |      SELECT cid, unnest(e) AS v, generate_subscripts(e, 1) AS d FROM $a)
         |    GROUP BY cid, d) GROUP BY cid)""".stripMargin
    val rounds = (0 until updates).flatMap { i =>
      Seq(assignCte(s"a$i", s"c$i"), updateCte(s"c${i + 1}", s"a$i"))
    } :+ assignCte(s"a$updates", s"c$updates")
    s"""$embCte,
       |$c0Cte,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Q129: the LDA corpus build under the HASH GATE — gensim's
    * `corpora.Dictionary` + `doc2bow` (reference lda.py:39-41), the A3/M5
    * preprocessing that otherwise lives inside CountVectorizer. Term ids
    * are assigned by token ascending (documented deviation from gensim's
    * first-appearance order — topic math is invariant to vocabulary
    * relabeling, and a total alphabetic order is engine-independent by
    * construction). Each doc's bag-of-words is emitted as the ordered
    * "id:count" join (the q99 compact-signature pattern: the oracle pins
    * every pair's exact content at O(docs) output).
    *
    * Scale shape: one token-count aggregate (map-side combinable), a
    * vocabulary id assignment (dense_rank over the vocab table — |vocab|
    * rows, not corpus; swap for a zipWithIndex-free hash id at 100 TB if
    * even vocab is too big to sort), and a per-doc ordered aggregate. */
  def qBowCorpus(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("doc_id"),
        explode(text.removeStopwords(text.tokenize(col("text")))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val vocab = tf.select(col("term")).distinct()
      .withColumn("tid", (dense_rank().over(Window.orderBy(col("term"))) - 1).cast("long"))
    tf.join(vocab, "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("tid"), col("c")))),
          s => concat(s.getField("tid"), lit(":"), s.getField("c"))), " ").as("bow"))
      .orderBy(col("doc_id"))
  }

  val qBowCorpusSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(${text.tokenizeSql("text")}) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*)::BIGINT AS c FROM toks
      |  WHERE term NOT IN (${text.stopwordsSql}) GROUP BY doc_id, term),
      |vocab AS (
      |  SELECT term, CAST(DENSE_RANK() OVER (ORDER BY term) - 1 AS BIGINT) AS tid
      |  FROM (SELECT DISTINCT term FROM tf))
      |SELECT tf.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(tf.c) AS BIGINT) AS n_tokens,
      |  string_agg(CAST(v.tid AS VARCHAR) || ':' || CAST(tf.c AS VARCHAR), ' '
      |    ORDER BY v.tid) AS bow
      |FROM tf JOIN vocab v USING (term)
      |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin

  /** q132's factor rank and multiplicative-update rounds. */
  final val NmfK = 4
  final val NmfRounds = 2

  /** Q132: a fixed-round NMF topic-model step under the HASH GATE — the
    * deterministic face of the reference's topic modeling (lda.py:43-51
    * intent), completing the q102/q119/q120 program: the last ML operator
    * whose only check was rows-only. Lee & Seung (2001) multiplicative
    * updates for Frobenius NMF, V ≈ W·H over the q129 BoW corpus
    * (doc × term counts, q129's alphabetic term ids):
    *  - init: W = all-ones (docs × k); H_i = count vector of the i-th
    *    smallest doc_id + 1 (dense over the vocab — symmetry broken by
    *    the data itself, the q119 first-k-docs discipline);
    *  - per round: H ← H ∘ WᵀV / (WᵀW·H + ε), then W ← W ∘ V·Hᵀ /
    *    (W·H·Hᵀ + ε), ε = 1e-9, every aggregate round(6) (the established
    *    aggregation-order discipline; the elementwise update on rounded
    *    inputs is then the identical IEEE expression in both engines).
    * Emits the final document-topic matrix W. Docs with no non-stopword
    * token have no V rows and are excluded (documented).
    *
    * Scale shape: the nonzero V entries drive every product — WᵀV and
    * V·Hᵀ are equi-joins on doc/term keys over the sparse counts, WᵀW and
    * H·Hᵀ shuffle only k² partials, and the elementwise updates are
    * per-key joins; nothing materializes a dense docs × vocab matrix. W
    * (docs × k) and H (k × vocab) stay DISTRIBUTED — no driver round-trip
    * — and each round is localCheckpoint'd so the plan (and the
    * optimizer's expression tree) stays O(1) in the round count. The
    * DuckDB oracle replays the identical rounds as chained CTEs. */
  def qNmfStep(t: Tables): DataFrame = {
    val (_, w, _) = nmfFactors(t, NmfK, NmfRounds)
    w.select(col("doc_id"), col("i").as("topic"), col("w").as("weight"))
      .orderBy(col("doc_id"), col("topic"))
  }

  /** (V, W, H) after `rounds` multiplicative updates — V exposed so specs
    * can measure reconstruction error without re-deriving the corpus. */
  private[graft] def nmfFactors(t: Tables, k: Int, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.fanout(t.documents)
      .select(col("doc_id"),
        explode(text.removeStopwords(text.tokenize(col("text")))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val vocab = tf.select(col("term")).distinct()
      .withColumn("tid", (dense_rank().over(Window.orderBy(col("term"))) - 1).cast("long"))
    val v = tf.join(vocab, "term")
      .select(col("doc_id"), col("tid"), col("c").cast("double").as("c"))
      .localCheckpoint()
    val docs = v.select(col("doc_id")).distinct()
    val firstk = docs
      .withColumn("i", (row_number().over(Window.orderBy(col("doc_id"))) - 1).cast("long"))
      .filter(col("i") < k)
    val tids = v.select(col("tid")).distinct()
    val eps = lit(1e-9)
    val is = 0 until k
    // r14: W and H ride WIDE (one row per doc / per tid, k value columns)
    // instead of long (doc, i) / (i, tid) rows. k is a bounded literal, so
    // WᵀW and HHᵀ become k²-column single-pass aggregates fetched to the
    // driver (the q190/q303 bounded-solve class: k² = 16 rounded doubles)
    // instead of corpus-scale self-joins, and the WᵀW·H / W·HHᵀ products
    // become per-row literal expressions instead of join + re-aggregate —
    // each round drops from ~8 shuffles to 2 (one join + one aggregate per
    // factor side). Every aggregate keeps the round(6)-of-identical-addend
    // discipline, so values are unchanged and the oracle's chained-CTE
    // replay is unaffected (re-verified at all three SFs). A topic column
    // is NULL exactly where the long form had no row (absent inner-join
    // partner); the closing wide→long conversion drops NULLs, restoring
    // the old row set.
    // A/B'd: lazy checkpoints and un-checkpointed inits both measured
    // SLOWER (4.0 vs 3.6 s — AQE's toRdd stage resolution pays more
    // driver round-trips than the eager jobs save); eager stands
    var w = docs.select(col("doc_id") +: is.map(i => lit(1.0).as(s"w$i")): _*)
      .localCheckpoint()
    var h = firstk.crossJoin(tids)
      .join(v, Seq("doc_id", "tid"), "left")
      .select(col("i"), col("tid"),
        round(coalesce(col("c"), lit(0.0)) + lit(1.0), 6).as("h"))
      .groupBy(col("tid"))
      .pivot("i", is.map(i => i.toLong: Any))
      .agg(first(col("h")))
      .select(col("tid") +: is.map(i => col(s"$i").as(s"h$i")): _*)
      .localCheckpoint()
    // Σ of present terms, NULL iff all terms absent — the wide image of
    // the long form's inner-join row absence
    def optSum(terms: Seq[Column]): Column =
      if (terms.isEmpty) lit(null).cast("double")
      else terms.reduce((a, b) => coalesce(a + b, a, b))
    // k² bounded driver fetch of a gram matrix round(Σ x_i·x_j, 6);
    // None where the long form produced no (i, j) row
    def gram(df: DataFrame, prefix: String): Array[Array[Option[Double]]] = {
      val exprs = for (i <- is; j <- is)
        yield round(sum(col(s"$prefix$i") * col(s"$prefix$j")), 6)
      val row = df.agg(exprs.head, exprs.tail: _*).head()
      Array.tabulate(k, k)((i, j) =>
        if (row.isNullAt(i * k + j)) None else Some(row.getDouble(i * k + j)))
    }
    for (_ <- 1 to rounds) {
      // wtv_i(tid) = Σ_d w_i·c — ONE join + ONE aggregate for all topics
      val wtv = v.join(w, "doc_id").groupBy(col("tid"))
        .agg(round(sum(col(s"w0") * col("c")), 6).as("wtv0"),
          is.tail.map(i => round(sum(col(s"w$i") * col("c")), 6).as(s"wtv$i")): _*)
      val wtw = gram(w, "w")
      // wtwh_i(tid) = round(Σ_j wtw(i,j)·h_j, 6) as a literal expression
      def wtwh(i: Int): Column = round(optSum(
        is.flatMap(j => wtw(i)(j).map(x => lit(x) * col(s"h$j")))), 6)
      h = h.join(wtv, Seq("tid"))
        .select(col("tid") +: is.map(i =>
          round(col(s"h$i") * col(s"wtv$i") / (wtwh(i) + eps), 6).as(s"h$i")): _*)
        .localCheckpoint()
      val vht = v.join(h, "tid").groupBy(col("doc_id"))
        .agg(round(sum(col("c") * col(s"h0")), 6).as("vht0"),
          is.tail.map(i => round(sum(col("c") * col(s"h$i")), 6).as(s"vht$i")): _*)
      val hht = gram(h, "h")
      // whht_i(d) = round(Σ_j w_j·hht(j,i), 6) (HHᵀ symmetric, as before)
      def whht(i: Int): Column = round(optSum(
        is.flatMap(j => hht(j)(i).map(x => lit(x) * col(s"w$j")))), 6)
      w = w.join(vht, Seq("doc_id"))
        .select(col("doc_id") +: is.map(i =>
          round(col(s"w$i") * col(s"vht$i") / (whht(i) + eps), 6).as(s"w$i")): _*)
        .localCheckpoint()
    }
    // wide → long, dropping NULL topics (the absent rows of the old form)
    val wLong = w.select(col("doc_id"),
        posexplode(array(is.map(i => col(s"w$i")): _*)).as(Seq("pos", "w")))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("i"), col("w"))
    val hLong = h.select(col("tid"),
        posexplode(array(is.map(i => col(s"h$i")): _*)).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
      .select(col("pos").cast("long").as("i"), col("tid"), col("h"))
    (v, wLong, hLong)
  }

  /** q132 oracle: the same rounds unrolled as chained CTEs (the q119
    * pattern); ε and the update expression are written identically. */
  def qNmfStepSql: String = {
    def roundCtes(r: Int, w: String, h: String): String = {
      val p = s"r$r"
      s"""${p}_wtv AS (
         |  SELECT w.i, v.tid, round(SUM(w.w * v.c), 6) AS wtv
         |  FROM $w w JOIN v ON w.doc_id = v.doc_id GROUP BY w.i, v.tid),
         |${p}_wtw AS (
         |  SELECT a.i AS i, b.i AS j, round(SUM(a.w * b.w), 6) AS wtw
         |  FROM $w a JOIN $w b ON a.doc_id = b.doc_id GROUP BY a.i, b.i),
         |${p}_wtwh AS (
         |  SELECT m.i, h.tid, round(SUM(m.wtw * h.h), 6) AS wtwh
         |  FROM ${p}_wtw m JOIN $h h ON m.j = h.i GROUP BY m.i, h.tid),
         |${p}_h AS (
         |  SELECT h.i, h.tid,
         |    round(h.h * n.wtv / (d.wtwh + 1e-9), 6) AS h
         |  FROM $h h JOIN ${p}_wtv n ON n.i = h.i AND n.tid = h.tid
         |  JOIN ${p}_wtwh d ON d.i = h.i AND d.tid = h.tid),
         |${p}_vht AS (
         |  SELECT v.doc_id, h.i, round(SUM(v.c * h.h), 6) AS vht
         |  FROM v JOIN ${p}_h h ON v.tid = h.tid GROUP BY v.doc_id, h.i),
         |${p}_hht AS (
         |  SELECT a.i AS i, b.i AS j, round(SUM(a.h * b.h), 6) AS hht
         |  FROM ${p}_h a JOIN ${p}_h b ON a.tid = b.tid GROUP BY a.i, b.i),
         |${p}_whht AS (
         |  SELECT w.doc_id, m.j AS i, round(SUM(w.w * m.hht), 6) AS whht
         |  FROM $w w JOIN ${p}_hht m ON w.i = m.i GROUP BY w.doc_id, m.j),
         |${p}_w AS (
         |  SELECT w.doc_id, w.i,
         |    round(w.w * n.vht / (d.whht + 1e-9), 6) AS w
         |  FROM $w w JOIN ${p}_vht n ON n.doc_id = w.doc_id AND n.i = w.i
         |  JOIN ${p}_whht d ON d.doc_id = w.doc_id AND d.i = w.i)""".stripMargin
    }
    val chain = (1 to NmfRounds).map { r =>
      val (w, h) = if (r == 1) ("w0", "h0") else (s"r${r - 1}_w", s"r${r - 1}_h")
      roundCtes(r, w, h)
    }.mkString(",\n")
    val last = if (NmfRounds > 0) s"r${NmfRounds}_w" else "w0"
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(${text.tokenizeSql("text")}) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*)::BIGINT AS c FROM toks
       |  WHERE term NOT IN (${text.stopwordsSql}) GROUP BY doc_id, term),
       |vocab AS (
       |  SELECT term, CAST(DENSE_RANK() OVER (ORDER BY term) - 1 AS BIGINT) AS tid
       |  FROM (SELECT DISTINCT term FROM tf)),
       |v AS (
       |  SELECT tf.doc_id, vocab.tid, CAST(tf.c AS DOUBLE) AS c
       |  FROM tf JOIN vocab USING (term)),
       |docs AS (SELECT DISTINCT doc_id FROM v),
       |topics AS (SELECT unnest(range($NmfK)) AS i),
       |firstk AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS i
       |  FROM docs QUALIFY i < $NmfK),
       |w0 AS (SELECT d.doc_id, t.i, 1.0::DOUBLE AS w FROM docs d CROSS JOIN topics t),
       |h0 AS (
       |  SELECT f.i, t.tid, round(COALESCE(v.c, 0.0) + 1.0, 6) AS h
       |  FROM firstk f CROSS JOIN (SELECT DISTINCT tid FROM v) t
       |  LEFT JOIN v ON v.doc_id = f.doc_id AND v.tid = t.tid),
       |$chain
       |SELECT doc_id, i AS topic, w AS weight FROM $last
       |ORDER BY doc_id, topic""".stripMargin
  }

  /** LDA topic keywords: top-10 terms per topic (lda.py:54-56 intent,
    * gensim show_topics ≈ ml describeTopics). */
  def ldaTopicKeywords(t: Tables, k: Int = 10): DataFrame = {
    val toks = t.fanout(t.documents).withColumn("tokens",
      text.removeStopwords(text.tokenize(col("text"))))
    val cv = new CountVectorizer().setInputCol("tokens").setOutputCol("tf")
      .setVocabSize(8192).fit(toks)
    val counted = cv.transform(toks)
    val lda = new LDA().setK(k).setMaxIter(10).setSeed(42L)
      .setFeaturesCol("tf").setOptimizer("online")
    val vocab = cv.vocabulary
    val lookup = udf((idx: Seq[Int]) => idx.map(vocab(_)))
    lda.fit(counted).describeTopics(10)
      .withColumn("keywords", lookup(col("termIndices")))
      .select(col("topic"), col("keywords"))
      .orderBy(col("topic"))
  }

  // ------------------------------------------------- PCA power iteration

  /** The power iteration behind q148/q149: rounds and embedding width. */
  final val PcaRounds = 3
  final val PcaDim = 64

  /** The q148 iteration body, shared with q149: per-round (v, λ) history,
    * empty if the corpus is. */
  private[graft] def pcaPowerRounds(t: Tables): Seq[(Int, Array[Double], Double)] = {
    var v = Array.fill(PcaDim)(0.125)
    val hist = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double], Double)]
    var r = 1
    var nonEmpty = true
    while (r <= PcaRounds && nonEmpty) {
      val dot = (1 to PcaDim).map(j =>
        element_at(col("embedding"), j).cast("double") * lit(v(j - 1)))
        .reduceLeft(_ + _)
      val withDot = t.embeddings.withColumn("dot", dot)
      val aggs = (1 to PcaDim).map(j =>
        round(avg(element_at(col("embedding"), j).cast("double") * col("dot")), 6))
      val row = withDot.agg(aggs.head, aggs.tail: _*).collect()(0)
      if (row.isNullAt(0)) nonEmpty = false
      else {
        val s = Array.tabulate(PcaDim)(j => row.getDouble(j))
        val lambda = (0 until PcaDim).map(j => v(j) * s(j)).reduceLeft(_ + _)
        val norm = math.sqrt(s.map(x => x * x).reduceLeft(_ + _))
        v = s.map(_ / norm)
        hist += ((r, v, lambda))
        r += 1
      }
    }
    hist.toSeq
  }

  /** Q148: top principal direction of the embedding matrix by fixed-round
    * power iteration on the (uncentered) second-moment matrix — the
    * whitening/dimensionality step an embedding pipeline runs before
    * IVF/SemDeDup (ABTT "all-but-the-top", Mu & Viswanath 2018, removes
    * exactly such directions). v₀ = 1/8 per dim (= 1/√64, exactly binary);
    * each round: s = round₆(avg(x·(xᵀv))) per dim (ONE scan, 64 map-side
    * aggregates sharing one dot column), then v' = s/‖s‖ and the Rayleigh
    * quotient λ = Σ vⱼsⱼ ride the driver (64-double bounded fetch, the
    * k-means-centroid contract).
    *
    * Determinism: the per-row dot is a LEFT-TO-RIGHT 64-term product sum
    * written identically in both engines (no rounding needed — same IEEE
    * sequence); only the row-order-dependent avg gets round(6); the norm,
    * division, and λ are exact ops on rounded values. The oracle unrolls
    * rounds as MATERIALIZED CTEs (the q139 lesson).
    *
    * Scale shape: one linear scan per round, 64 combinable aggregates,
    * nothing shuffles but 64 doubles — textbook distributed power
    * iteration at any corpus size. */
  def qPcaPower(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.embeddings.sparkSession
    val out = pcaPowerRounds(t).flatMap { case (r, v, lambda) =>
      (0 until PcaDim).map(j => (r.toLong, j + 1, v(j), lambda))
    }
    if (out.isEmpty)
      return graft.Tables.emptyFrame(spark, "round" -> LongType,
        "dim" -> IntegerType, "v" -> DoubleType, "lambda" -> DoubleType)
    import spark.implicits._
    out.toSeq.toDF("round", "dim", "v", "lambda")
      .orderBy(col("round"), col("dim"))
  }

  /** The q148 CTE core (emb, v0, p1..pR, v1..vR), shared with the q149
    * ABTT oracle. */
  private def pcaCoreCtes: Seq[String] = {
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes += """emb AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)""".stripMargin
    // v0 as a single-row CTE of 64 columns
    ctes += s"""v0 AS (SELECT ${(1 to PcaDim).map(j => s"0.125::DOUBLE AS v$j").mkString(", ")})"""
    for (r <- 1 to PcaRounds) {
      val dotExpr = (1 to PcaDim).map(j => s"e[$j] * w.v$j").mkString(" + ")
      val sCols = (1 to PcaDim).map(j =>
        s"round(avg(e[$j] * dot), 6) AS s$j").mkString(",\n    ")
      ctes += s"""p$r AS MATERIALIZED (
         |  SELECT $sCols
         |  FROM (SELECT e, $dotExpr AS dot FROM emb, v${r - 1} w))""".stripMargin
      val normExpr = (1 to PcaDim).map(j => s"s$j * s$j").mkString(" + ")
      val vCols = (1 to PcaDim).map(j => s"s$j / nrm AS v$j").mkString(", ")
      ctes += s"""v$r AS MATERIALIZED (
         |  SELECT $vCols
         |  FROM (SELECT *, sqrt($normExpr) AS nrm FROM p$r))""".stripMargin
    }
    ctes.toSeq
  }

  /** q148 oracle: per round, a MATERIALIZED pass CTE with the shared dot
    * subquery and 64 round(6) averages, then a normalize CTE with the
    * identical left-to-right norm/λ expressions. */
  def qPcaPowerSql: String = {
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    ctes ++= pcaCoreCtes
    val rows = (1 to PcaRounds).map { r =>
      val lamExpr = (1 to PcaDim).map(j => s"w.v$j * p.s$j").mkString(" + ")
      val vals = (1 to PcaDim).map(j =>
        s"SELECT ${r}::BIGINT AS round, $j AS dim, n.v$j AS v, n.lam AS lambda FROM nrm$r n")
      s"""nrm$r AS (
         |  SELECT n.*, ($lamExpr) AS lam
         |  FROM v$r n, p$r p, v${r - 1} w)""".stripMargin -> vals
    }
    ctes ++= rows.map(_._1)
    val selects = rows.flatMap(_._2)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT * FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) ORDER BY round, dim""".stripMargin
  }

  /** Rows q149 keeps: the largest |projection| on the top component. */
  final val AbttTopK = 20

  /** Q149: all-but-the-top correction stats (Mu & Viswanath 2018) — the
    * post-processing that composes on q148: per embedding, its projection
    * onto the learned top direction and the residual energy after removal;
    * emits the `AbttTopK` most-affected vectors (largest |projection| — the
    * rows ABTT changes most). Per-row math is ALL exact cross-engine: the
    * projection and squared norm are the same left-to-right 64-term
    * sums, resid = norm² − proj² a single subtraction — no rounding
    * anywhere; the direction itself is the q148-verified v.
    *
    * Scale shape: one scan-stage projection + TakeOrdered — the
    * correction at 100 TB is the same scan writing x − proj·v. */
  def qAbttTop(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.embeddings.sparkSession
    val hist = pcaPowerRounds(t)
    if (hist.isEmpty)
      return graft.Tables.emptyFrame(spark, "vec_id" -> LongType,
        "proj" -> DoubleType, "norm_sq" -> DoubleType, "resid_sq" -> DoubleType)
    val v = hist.last._2
    val proj = (1 to PcaDim).map(j =>
      element_at(col("embedding"), j).cast("double") * lit(v(j - 1)))
      .reduceLeft(_ + _)
    val normSq = (1 to PcaDim).map { j =>
      val e = element_at(col("embedding"), j).cast("double"); e * e
    }.reduceLeft(_ + _)
    t.embeddings
      .select(col("vec_id"), proj.as("proj"), normSq.as("norm_sq"))
      .withColumn("resid_sq", col("norm_sq") - col("proj") * col("proj"))
      .orderBy(abs(col("proj")).desc, col("vec_id")).limit(AbttTopK)
      .orderBy(abs(col("proj")).desc, col("vec_id"))
  }

  /** q149 oracle: the shared PCA core chain + the identical projection /
    * norm expressions against v{rounds}. */
  def qAbttTopSql: String = {
    val projExpr = (1 to PcaDim).map(j => s"e[$j] * w.v$j").mkString(" + ")
    val normExpr = (1 to PcaDim).map(j => s"e[$j] * e[$j]").mkString(" + ")
    s"""WITH ${pcaCoreCtes.mkString(",\n")}
       |SELECT vec_id, proj, norm_sq, norm_sq - proj * proj AS resid_sq
       |FROM (SELECT vec_id, ($projExpr) AS proj, ($normExpr) AS norm_sq
       |      FROM emb, v$PcaRounds w)
       |ORDER BY abs(proj) DESC, vec_id LIMIT $AbttTopK""".stripMargin
  }

  /** Q178: embedding drift monitor — per-label centroid shift between
    * the first and second half of the corpus (vec_id order = ingestion
    * order): the embedding-space analog of q108's PSI, the check an
    * ML-ops pipeline runs before refreshing an index or classifier on a
    * new embedding batch ("did the encoder or the data move?"). Each
    * half's centroid is the round(6) per-dim mean (q119 discipline), so
    * the shift cosine is the same IEEE sequential program both engines;
    * emitted raw with the q157 half-counts.
    *
    * Scale shape: one posexplode two-phase avg keyed by (label, half,
    * dim) — shuffle carries labels·2·dims partials; the cosine joins two
    * |labels|-row tables. */
  def qEmbeddingDrift(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.spark
    if (t.embeddings.isEmpty)
      return Tables.emptyFrame(spark, "label" -> IntegerType,
        "n_first" -> LongType, "n_second" -> LongType,
        "drift_cosine" -> DoubleType)
    val st = t.embeddings.agg(min(col("vec_id")), max(col("vec_id"))).collect().head
    val mid = (st.getLong(0) + st.getLong(1)) / 2
    val halves = t.embeddings
      .select(col("label"), (col("vec_id") <= mid).as("first_half"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "v")))
      .groupBy(col("label"), col("first_half"), col("d"))
      .agg(round(avg(col("v")), 6).as("m"), count(lit(1)).as("n"))
      .groupBy(col("label"), col("first_half"))
      .agg(expr("transform(array_sort(collect_list(struct(d, m))), x -> x.m)").as("c"),
        max(col("n")).as("n"))
    val a = halves.filter(col("first_half"))
      .select(col("label"), col("c").as("ca"), col("n").as("n_first"))
    val b = halves.filter(!col("first_half"))
      .select(col("label"), col("c").as("cb"), col("n").as("n_second"))
    a.join(b, Seq("label"))
      .withColumn("drift_cosine", graft.plans.CosineSim.cosineD(col("ca"), col("cb")))
      .select(col("label"), col("n_first"), col("n_second"), col("drift_cosine"))
      .orderBy(col("label"))
  }

  val qEmbeddingDriftSql: String =
    """WITH st AS (
      |  SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS mid FROM embeddings),
      |ex AS (
      |  SELECT label, vec_id <= st.mid AS first_half,
      |    unnest(CAST(embedding AS DOUBLE[])) AS v,
      |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS d
      |  FROM embeddings, st),
      |cd AS (
      |  SELECT label, first_half, d, round(avg(v), 6) AS m,
      |    COUNT(*)::BIGINT AS n
      |  FROM ex GROUP BY 1, 2, 3),
      |cents AS (
      |  SELECT label, first_half, list(m ORDER BY d) AS c, MAX(n) AS n
      |  FROM cd GROUP BY 1, 2)
      |SELECT a.label, a.n AS n_first, b.n AS n_second,
      |  list_cosine_similarity(a.c, b.c) AS drift_cosine
      |FROM cents a JOIN cents b
      |  ON a.label = b.label AND a.first_half AND NOT b.first_half
      |ORDER BY a.label""".stripMargin

  /** Q157: cosine silhouette score per label (Rousseeuw 1987, the
    * centroid/"simplified" silhouette variant spark.ml's evaluator also
    * uses) — the clustering-quality eval a pipeline runs after any
    * grouping step: a(v) = cosine distance to the OWN label centroid,
    * b(v) = distance to the nearest OTHER centroid, s = (b−a)/max(a,b)
    * ∈ [−1, 1]; per-label mean tells which classes are compact vs bleeding
    * into a neighbor. Centroid silhouette is O(n·k), not the O(n²)
    * pairwise original — the only form that survives 100 TB.
    *
    * Determinism: centroids are round(6) per-dim means (the q119
    * discipline) so every downstream per-row value — the sequential-
    * double cosine, a, b, s — is the same IEEE program in both engines;
    * s is round(6) (its inputs are already identical; the rounding just
    * pins the emitted column), per-label mean = DECIMAL sum / count
    * emitted RAW (the q152 lesson).
    *
    * Scale shape: one posexplode two-phase avg (shuffle carries
    * labels·dims partials), one broadcast-k·dims scan for a/b (map-side
    * min per the q119 assignment contract), one O(labels) aggregate. */
  def qSilhouette(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.spark
    if (t.embeddings.isEmpty)
      return Tables.emptyFrame(spark, "label" -> IntegerType,
        "n_vectors" -> LongType, "mean_sil" -> DoubleType)
    val emb = t.embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val cents = emb
      .select(col("label").as("clabel"), posexplode(col("e")).as(Seq("d", "v")))
      .groupBy(col("clabel"), col("d")).agg(round(avg(col("v")), 6).as("m"))
      .groupBy(col("clabel"))
      .agg(collect_list(struct(col("d"), col("m"))).as("dm"))
      .select(col("clabel"), expr("transform(array_sort(dm), x -> x.m)").as("c"))
    emb.crossJoin(broadcast(cents))
      .withColumn("dist", lit(1.0) - graft.plans.CosineSim.cosineD(col("e"), col("c")))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("label") === col("clabel"), col("dist"))).as("a"),
        min(when(col("label") =!= col("clabel"), col("dist"))).as("b"))
      .filter(col("b").isNotNull)
      .withColumn("s", round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("s").cast(DecimalType(28, 6))).cast("double").as("sum_s"))
      .withColumn("mean_sil", col("sum_s") / col("n_vectors").cast("double"))
      .select(col("label"), col("n_vectors"), col("mean_sil"))
      .orderBy(col("label"))
  }

  val qSilhouetteSql: String =
    """WITH emb AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cd AS (
      |  SELECT clabel, idx, round(avg(v), 6) AS m
      |  FROM (SELECT label AS clabel, unnest(e) AS v,
      |          generate_subscripts(e, 1) AS idx FROM emb)
      |  GROUP BY clabel, idx),
      |cents AS (SELECT clabel, list(m ORDER BY idx) AS c FROM cd GROUP BY clabel),
      |ab AS (
      |  SELECT vec_id, label,
      |    min(CASE WHEN label = clabel THEN dist END) AS a,
      |    min(CASE WHEN label <> clabel THEN dist END) AS b
      |  FROM (SELECT emb.vec_id, emb.label, cents.clabel,
      |          1.0 - list_cosine_similarity(emb.e, cents.c) AS dist
      |        FROM emb CROSS JOIN cents)
      |  GROUP BY vec_id, label),
      |s AS (
      |  SELECT label, round((b - a) / greatest(a, b), 6) AS s
      |  FROM ab WHERE b IS NOT NULL)
      |SELECT label, COUNT(*)::BIGINT AS n_vectors,
      |  CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS mean_sil
      |FROM s GROUP BY label ORDER BY label""".stripMargin

  /** Centers q153's greedy k-center traversal picks. */
  final val KcenterK = 8

  /** Q153: greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal) over the embeddings — the diversity-maximizing
    * data-selection pass a training pipeline runs to pick a small cover
    * of the corpus (coreset for active learning / dedup seeding).
    *
    * Deterministic contract (both engines replay it exactly):
    *  - center 1 = smallest vec_id;
    *  - coverage(p) = max over selected centers of round(cosine(p, c), 6)
    *    (round(6) per term BEFORE the max — the q119 argmax discipline, so
    *    a near-tie inside float noise cannot flip the pick cross-engine);
    *  - next center = the point with MINIMUM coverage (farthest from the
    *    selected set), ties → smaller vec_id; k centers total;
    *  - final assignment: each point → its max-coverage center, ties →
    *    earlier-selected center.
    *
    * Scale shape: per selection round ONE job — k·dims doubles broadcast
    * against the streamed corpus, map-side round(6) cosine + max, then a
    * TakeOrdered(1) argmin (no global sort, no shuffle of the vectors).
    * The picked center rides the driver between rounds (dims doubles —
    * the q119 bounded parameter fetch). The recomputed max-over-centers
    * equals the incremental greatest() the DuckDB oracle chains, because
    * every term is rounded before the max. */
  def qKcenter(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val spark = t.spark
    import spark.implicits._
    val emb = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .cache()
    val first = emb.orderBy(col("vec_id")).limit(1).collect().headOption
    if (first.isEmpty)
      return Tables.emptyFrame(spark, "vec_id" -> LongType,
        "center" -> LongType, "center_rank" -> LongType, "sim" -> DoubleType)
    var centers: Seq[(Long, Long, Seq[Double])] =
      Seq((1L, first.get.getLong(0), first.get.getSeq[Double](1)))
    def covered(cs: Seq[(Long, Long, Seq[Double])]): DataFrame = {
      val cdf = cs.toDF("rank", "cid", "c")
      emb.crossJoin(broadcast(cdf))
        .withColumn("s", round(graft.plans.CosineSim.cosineD(col("e"), col("c")), 6))
    }
    for (r <- 2L to KcenterK.toLong) {
      val next = covered(centers)
        .groupBy(col("vec_id"), col("e")).agg(max(col("s")).as("cov"))
        .orderBy(col("cov").asc, col("vec_id").asc).limit(1)
        .collect().head
      centers = centers :+ ((r, next.getLong(0), next.getSeq[Double](1)))
    }
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("s").desc, col("rank").asc)
    covered(centers)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("center"),
        col("rank").as("center_rank"), col("s").as("sim"))
      .orderBy(col("vec_id"))
  }

  /** q153 oracle: the same greedy traversal as chained CTEs — s1 = min
    * vec_id, dN = incremental greatest(round(6) cosine) coverage, sN =
    * argmin-coverage pick. MATERIALIZED per the >5-round CTE invariant. */
  def qKcenterSql: String = {
    val rounds = (2 to KcenterK).map { r =>
      val prev = r - 1
      s"""d$prev AS MATERIALIZED (
         |  SELECT d.vec_id, d.e,
         |    ${if (prev == 1) "round(list_cosine_similarity(d.e, s.c), 6)"
             else "greatest(d.cov, round(list_cosine_similarity(d.e, s.c), 6))"} AS cov
         |  FROM ${if (prev == 1) "emb" else s"d${prev - 1}"} d, s$prev s),
         |s$r AS MATERIALIZED (
         |  SELECT CAST($r AS BIGINT) AS rank, vec_id AS cid, e AS c
         |  FROM d$prev ORDER BY cov ASC, vec_id ASC LIMIT 1)""".stripMargin
    }
    val centerList = (1 to KcenterK).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |s1 AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS rank, vec_id AS cid, e AS c
       |  FROM emb ORDER BY vec_id LIMIT 1),
       |${rounds.mkString(",\n")},
       |centers AS MATERIALIZED ($centerList)
       |SELECT vec_id, cid AS center, rank AS center_rank, s AS sim FROM (
       |  SELECT emb.vec_id, c.cid, c.rank,
       |    round(list_cosine_similarity(emb.e, c.c), 6) AS s,
       |    ROW_NUMBER() OVER (PARTITION BY emb.vec_id
       |      ORDER BY round(list_cosine_similarity(emb.e, c.c), 6) DESC,
       |               c.rank ASC) AS rn
       |  FROM emb CROSS JOIN centers c) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** The q233/q234 shared contingency: the q119 Lloyd assignment joined
    * to the embeddings' ground-truth label — (cid, label, nij) exact
    * counts. */
  private def clusterLabelContingency(t: Tables): DataFrame =
    kmeansAssignmentsCached(t)
      .select(col("vec_id"), col("cid"))
      .join(t.embeddings.select(col("vec_id"), col("label").cast("long").as("label")),
        Seq("vec_id"))
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("nij"))

  /** The same contingency in SQL off the shared kmeans round CTEs:
    * `cont(cid, label, nij)` plus the final-assignment CTE chain. */
  private def contingencyCtes: String =
    s"""${kmeansCtes},
       |cont AS MATERIALIZED (
       |  SELECT a.cid, CAST(e.label AS BIGINT) AS label, COUNT(*)::BIGINT AS nij
       |  FROM a$KmeansUpdates a JOIN embeddings e USING (vec_id)
       |  GROUP BY a.cid, e.label)""".stripMargin

  /** Q233: normalized mutual information between the q119 k-means
    * partition and the embeddings' ground-truth labels — the standard
    * external cluster-quality score (NMI = I(C;L)/√(H(C)·H(L)); Strehl &
    * Ghosh 2002). The eval a clustering pipeline runs before trusting
    * cluster ids as pseudo-labels.
    *
    * Exactness (the q204 MI discipline): every count is exact BIGINT;
    * each p·ln(…) cell/marginal term is micro-rounded and summed as
    * BIGINT (order-independent); NMI is a fixed IEEE sequence over the
    * three exact micro sums with one sqrt (correctly rounded) and a
    * nullif'd denominator.
    *
    * Scale shape: the Lloyd rounds (q119's shape) + ONE contingency
    * aggregate (k·|labels| cells ≪ corpus); the entropy windows run over
    * that bounded cell table. */
  def qClusterNmi(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cont = clusterLabelContingency(t)
    val all = Window.partitionBy()
    val wC = Window.partitionBy(col("cid"))
    val wL = Window.partitionBy(col("label"))
    val withM = cont
      .withColumn("nn", sum(col("nij")).over(all))
      .withColumn("ni", sum(col("nij")).over(wC))
      .withColumn("nj", sum(col("nij")).over(wL))
    val nd = col("nn").cast("double")
    val iTerm = round(col("nij").cast("double") / nd *
      log(nd * col("nij").cast("double") /
        (col("ni").cast("double") * col("nj").cast("double"))) *
      lit(1000000.0), 0).cast("long")
    // marginal entropy terms de-duplicated per cluster / per label via
    // the per-group row_number (each group contributes its term ONCE)
    val wCo = Window.partitionBy(col("cid")).orderBy(col("label"))
    val wLo = Window.partitionBy(col("label")).orderBy(col("cid"))
    val hcTerm = when(row_number().over(wCo) === 1,
      round(-(col("ni").cast("double") / nd) *
        log(col("ni").cast("double") / nd) * lit(1000000.0), 0).cast("long"))
      .otherwise(0L)
    val hlTerm = when(row_number().over(wLo) === 1,
      round(-(col("nj").cast("double") / nd) *
        log(col("nj").cast("double") / nd) * lit(1000000.0), 0).cast("long"))
      .otherwise(0L)
    val agg = withM
      .withColumn("it", iTerm).withColumn("hct", hcTerm).withColumn("hlt", hlTerm)
      .agg(max(col("nn")).as("n"),
        sum(col("it")).as("i_micro"),
        sum(col("hct")).as("hc_micro"),
        sum(col("hlt")).as("hl_micro"))
    agg.select(col("n"), col("i_micro"), col("hc_micro"), col("hl_micro"),
      (col("i_micro").cast("double") /
        nullif(sqrt(col("hc_micro").cast("double") *
          col("hl_micro").cast("double")), lit(0.0))).as("nmi"))
  }

  /** q233 oracle: shared kmeans rounds + contingency, identical micro
    * terms and windows. */
  def qClusterNmiSql: String =
    s"""WITH ${contingencyCtes},
       |m AS (
       |  SELECT *,
       |    CAST(SUM(nij) OVER () AS BIGINT) AS nn,
       |    CAST(SUM(nij) OVER (PARTITION BY cid) AS BIGINT) AS ni,
       |    CAST(SUM(nij) OVER (PARTITION BY label) AS BIGINT) AS nj,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY label) AS rc,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY cid) AS rl
       |  FROM cont),
       |terms AS (
       |  SELECT nn,
       |    CAST(round(CAST(nij AS DOUBLE) / CAST(nn AS DOUBLE)
       |      * ln(CAST(nn AS DOUBLE) * CAST(nij AS DOUBLE)
       |           / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
       |      * 1000000.0::DOUBLE) AS BIGINT) AS it,
       |    CASE WHEN rc = 1 THEN
       |      CAST(round(-(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE))
       |        * ln(CAST(ni AS DOUBLE) / CAST(nn AS DOUBLE))
       |        * 1000000.0::DOUBLE) AS BIGINT) ELSE 0 END AS hct,
       |    CASE WHEN rl = 1 THEN
       |      CAST(round(-(CAST(nj AS DOUBLE) / CAST(nn AS DOUBLE))
       |        * ln(CAST(nj AS DOUBLE) / CAST(nn AS DOUBLE))
       |        * 1000000.0::DOUBLE) AS BIGINT) ELSE 0 END AS hlt
       |  FROM m)
       |SELECT CAST(MAX(nn) AS BIGINT) AS n,
       |  CAST(SUM(it) AS BIGINT) AS i_micro,
       |  CAST(SUM(hct) AS BIGINT) AS hc_micro,
       |  CAST(SUM(hlt) AS BIGINT) AS hl_micro,
       |  CAST(SUM(it) AS DOUBLE)
       |    / nullif(sqrt(CAST(SUM(hct) AS DOUBLE) * CAST(SUM(hlt) AS DOUBLE)),
       |             0.0::DOUBLE) AS nmi
       |FROM terms""".stripMargin

  /** Q234: adjusted Rand index between the same two partitions (Hubert &
    * Arabie 1985) — the pair-counting complement of q233's
    * information-theoretic view; chance-corrected, so a random partition
    * scores ≈ 0 where NMI can stay deceptively positive.
    * ARI = (Σᵢⱼ C(nᵢⱼ,2) − S_a·S_b/C(N,2)) / ((S_a+S_b)/2 − S_a·S_b/C(N,2)).
    *
    * Exactness: sij/sa/sb/n2 are exact BIGINTs (c·(c−1)/2 integer math;
    * S_a·S_b ≲ (N²/2)² — fine in BIGINT to N ≈ 3·10⁶, past which the
    * audit runs per-stratum like any exact pair statistic); ARI is a
    * fixed IEEE sequence over the four exact ints, nullif'd.
    *
    * Scale shape: identical to q233 — the Lloyd rounds plus one bounded
    * cell aggregate; marginal sums are windows over the cell table. */
  def qClusterAri(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cont = clusterLabelContingency(t)
    val wC = Window.partitionBy(col("cid")).orderBy(col("label"))
    val wL = Window.partitionBy(col("label")).orderBy(col("cid"))
    val wCs = Window.partitionBy(col("cid"))
    val wLs = Window.partitionBy(col("label"))
    val withM = cont
      .withColumn("ni", sum(col("nij")).over(wCs))
      .withColumn("nj", sum(col("nij")).over(wLs))
      .withColumn("sat", when(row_number().over(wC) === 1,
        expr("ni * (ni - 1) div 2")).otherwise(0L))
      .withColumn("sbt", when(row_number().over(wL) === 1,
        expr("nj * (nj - 1) div 2")).otherwise(0L))
    val agg = withM.agg(
      sum(col("nij")).as("n"),
      sum(expr("nij * (nij - 1) div 2")).as("sij"),
      sum(col("sat")).as("sa"),
      sum(col("sbt")).as("sb"))
      .withColumn("n2", expr("n * (n - 1) div 2"))
    val exp_ = col("sa").cast("double") * col("sb").cast("double") /
      nullif(col("n2").cast("double"), lit(0.0))
    agg.select(col("n"), col("sij"), col("sa"), col("sb"), col("n2"),
      ((col("sij").cast("double") - exp_) /
        nullif((col("sa") + col("sb")).cast("double") / lit(2.0) - exp_,
          lit(0.0))).as("ari"))
  }

  /** q234 oracle: same cells, integer pair counts and IEEE sequence. */
  def qClusterAriSql: String =
    s"""WITH ${contingencyCtes},
       |m AS (
       |  SELECT *,
       |    CAST(SUM(nij) OVER (PARTITION BY cid) AS BIGINT) AS ni,
       |    CAST(SUM(nij) OVER (PARTITION BY label) AS BIGINT) AS nj,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY label) AS rc,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY cid) AS rl
       |  FROM cont),
       |agg AS (
       |  SELECT CAST(SUM(nij) AS BIGINT) AS n,
       |    CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS sij,
       |    CAST(SUM(CASE WHEN rc = 1 THEN ni * (ni - 1) // 2 ELSE 0 END) AS BIGINT) AS sa,
       |    CAST(SUM(CASE WHEN rl = 1 THEN nj * (nj - 1) // 2 ELSE 0 END) AS BIGINT) AS sb
       |  FROM m)
       |SELECT n, sij, sa, sb, CAST(n * (n - 1) // 2 AS BIGINT) AS n2,
       |  (CAST(sij AS DOUBLE)
       |   - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
       |     / nullif(CAST(n * (n - 1) // 2 AS DOUBLE), 0.0::DOUBLE))
       |  / nullif(CAST(sa + sb AS DOUBLE) / 2.0::DOUBLE
       |           - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
       |             / nullif(CAST(n * (n - 1) // 2 AS DOUBLE), 0.0::DOUBLE),
       |           0.0::DOUBLE) AS ari
       |FROM agg""".stripMargin

  /** q271's picks and its candidate pool (the first `FacilityPool` ids). */
  final val FacilityK = 8
  final val FacilityPool = 64

  /** Q271: facility-location greedy coreset (Nemhauser et al. 1978
    * submodular greedy over F(S) = Σ_x max_{c∈S} sim(x,c) — the standard
    * coverage-maximizing data-selection objective; Gonzalez/q153 is its
    * max-min robustness dual): restricted to a fixed candidate POOL
    * (vec_id < `FacilityPool`, the production shape — pool-seeded
    * coresets keep each greedy round one linear pass), pick `FacilityK`
    * centers, each round
    * taking the candidate with the largest exact marginal coverage gain.
    *
    * FULLY INTEGER greedy — no float discipline beyond the established
    * cosine micro grid: sims enter as round(cos·1e6) BIGINTs, per-round
    * gains are BIGINT sums of clamped deltas (order-independent, exact),
    * the argmax orders by (gain DESC, cid) — a total order — and the
    * cumulative coverage is a driver-side exact integer prefix. Emits
    * (rank, cid, gain_micro, coverage_micro).
    *
    * Scale shape: ONE corpus × pool similarity matrix (broadcast pool,
    * the q38/q153 scan class), localCheckpointed; each of the k rounds
    * is one map-side-combinable aggregate over it plus a 1-row bounded
    * fetch (the Lloyd contract) and an O(corpus) coverage update,
    * checkpointed per round. The oracle replays the rounds as chained
    * MATERIALIZED CTEs (the q153 recipe). */
  def qFacilityLocation(t: Tables): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = t.spark
    import spark.implicits._
    val emb = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val poolRows = emb.filter(col("vec_id") < FacilityPool)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    if (poolRows.isEmpty)
      return Tables.emptyFrame(spark, "rank" -> LongType, "cid" -> LongType,
        "gain_micro" -> LongType, "coverage_micro" -> LongType)
    // r13 opt (the q303 bounded-greedy rule): the previous shape paid 8
    // rounds x (cov join + aggregate + cov-update checkpoint) = ~16 jobs
    // of scheduling floor plus 8 cov barriers. The pool is bounded, so
    // each corpus row can carry its FULL pool-sim vector once
    // (checkpointed), coverage is derivable in-expression as the max over
    // the picked indices of that vector, and every round collapses to ONE
    // map-side-combinable aggregate producing all |pool| gains (exact
    // BIGINT sums, identical values; the argmax tie-break (gain DESC, cid)
    // moves to the driver over the bounded gain row).
    val nP = poolRows.length
    val simCols = poolRows.map { case (_, c) =>
      round(graft.plans.CosineSim.cosineD(col("e"), typedLit(c)) *
        lit(1000000.0), 0).cast("long")
    }
    val mx = t.fanout(emb).select(array(simCols.toIndexedSeq: _*).as("v"))
      .localCheckpoint()
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var coverage = 0L
    var covExpr: org.apache.spark.sql.Column = lit(0L)
    for (r <- 1L to FacilityK.toLong) {
      val gainCols = (0 until nP).map(i =>
        sum(greatest(col("v")(i) - covExpr, lit(0L))).as(s"g$i"))
      val row = mx.agg(gainCols.head, gainCols.tail: _*).collect().head
      val pickedSet = chosen.map(_._2).toSet
      val (gain, cid, idx) = (0 until nP)
        .filter(i => !pickedSet.contains(poolRows(i)._1))
        .map(i => (if (row.isNullAt(i)) 0L else row.getLong(i), poolRows(i)._1, i))
        .minBy { case (g, c, _) => (-g, c) }
      coverage += gain
      chosen += ((r, cid, gain, coverage))
      covExpr = greatest(covExpr, col("v")(idx))
    }
    chosen.toSeq.toDF("rank", "cid", "gain_micro", "coverage_micro")
      .orderBy(col("rank"))
  }

  /** q271 oracle: the corpus × pool micro matrix + k chained MATERIALIZED
    * (gains → pick → coverage) CTE triples, cumulative coverage as a
    * prefix window over the k picks. */
  def qFacilityLocationSql: String = {
    val rounds = (1 to FacilityK).map { r =>
      val notIn =
        if (r == 1) ""
        else "  WHERE m.cid NOT IN (" +
          (1 until r).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ") + ")\n"
      s"""g$r AS MATERIALIZED (
         |  SELECT m.cid, CAST(SUM(greatest(m.sm - c.cov, 0)) AS BIGINT) AS gain
         |  FROM m JOIN c${r - 1} c USING (vec_id)
         |$notIn  GROUP BY m.cid),
         |s$r AS MATERIALIZED (
         |  SELECT CAST($r AS BIGINT) AS rank, cid, gain
         |  FROM g$r ORDER BY gain DESC, cid LIMIT 1),
         |c$r AS MATERIALIZED (
         |  SELECT c.vec_id, greatest(c.cov, m.sm) AS cov
         |  FROM c${r - 1} c JOIN m
         |    ON m.vec_id = c.vec_id AND m.cid = (SELECT cid FROM s$r))""".stripMargin
    }.mkString(",\n")
    val picks = (1 to FacilityK).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |pool AS MATERIALIZED (
       |  SELECT vec_id AS cid, e AS c FROM emb WHERE vec_id < $FacilityPool),
       |m AS MATERIALIZED (
       |  SELECT emb.vec_id, p.cid,
       |    CAST(round(list_cosine_similarity(emb.e, p.c) * 1000000.0::DOUBLE)
       |      AS BIGINT) AS sm
       |  FROM emb, pool p),
       |c0 AS MATERIALIZED (SELECT vec_id, CAST(0 AS BIGINT) AS cov FROM emb),
       |$rounds,
       |picks AS ($picks)
       |SELECT rank, cid, gain AS gain_micro,
       |  CAST(SUM(gain) OVER (ORDER BY rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS coverage_micro
       |FROM picks ORDER BY rank""".stripMargin
  }

  /** Label terms q277 keeps per cluster. */
  final val LabelsTopK = 5

  /** Q277: c-TF-IDF cluster labeling (Grootendorst 2022's BERTopic
    * labeling step) — give every q119 Lloyd cluster its top descriptive
    * terms: W(t,c) = tf(t,c) · ln(1 + A / f(t)), with f(t) the term's
    * corpus frequency and A the average token mass per cluster — the
    * class-based TF-IDF that turns an unlabeled embedding clustering
    * into a human-readable topic table (docs join embeddings on
    * doc_id = vec_id, the q226 linkage).
    *
    * Exactness: tf and f(t) are exact integers; A is one IEEE division
    * of two driver-fetched integers (identical both engines); the ln
    * factor is micro-rounded PER TERM (q204 discipline) so every weight
    * is an exact BIGINT product; per-cluster ranking orders by
    * (weight DESC, term) — total. Top-`LabelsTopK` per cluster.
    *
    * Scale shape: Lloyd is q119's; one (cid, term) aggregate; the ln
    * factor table is vocab-bounded and broadcast; ranking windows
    * partition by cluster over vocab-bounded groups. */
  def qClusterLabels(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = kmeansAssignmentsCached(t)
      .select(col("vec_id").as("doc_id"), col("cid"))
    val ct = t.fanout(t.documents)
      .select(col("doc_id"), explode(graft.functions.text.tokenize(col("text"))).as("term"))
      .join(asg, Seq("doc_id"))
      .groupBy(col("cid"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds the stats fetch, f(t), and the ranking
    val st = ct.agg(countDistinct(col("cid")), sum(col("tf"))).head()
    if (st.isNullAt(1))
      return Tables.emptyFrame(t.spark,
        "cid" -> org.apache.spark.sql.types.LongType,
        "rank" -> org.apache.spark.sql.types.LongType,
        "term" -> org.apache.spark.sql.types.StringType,
        "tf" -> org.apache.spark.sql.types.LongType,
        "f_t" -> org.apache.spark.sql.types.LongType,
        "weight_micro" -> org.apache.spark.sql.types.LongType)
    val a = st.getLong(1).toDouble / st.getLong(0).toDouble
    val ft = ct.groupBy(col("term")).agg(sum(col("tf")).as("f_t"))
      .withColumn("lnf_micro",
        round(log(lit(1.0) + lit(a) / col("f_t").cast("double"))
          * lit(1000000.0), 0).cast("long"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("weight_micro").desc, col("term"))
    ct.join(broadcast(ft), Seq("term"))
      .withColumn("weight_micro", col("tf") * col("lnf_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= LabelsTopK)
      .select(col("cid"), col("rank"), col("term"), col("tf"), col("f_t"),
        col("weight_micro"))
      .orderBy(col("cid"), col("rank"))
  }

  /** q277 oracle: the shared kmeans rounds + the identical micro c-TF-IDF
    * math, A derived from the same two integers in a 1-row stats CTE. */
  def qClusterLabelsSql: String =
    s"""WITH ${kmeansCtes},
       |ct AS MATERIALIZED (
       |  SELECT a.cid, tk.term, COUNT(*)::BIGINT AS tf
       |  FROM (SELECT doc_id,
       |          unnest(${text.tokenizeSql("text")}) AS term
       |        FROM documents) tk
       |  JOIN a$KmeansUpdates a ON a.vec_id = tk.doc_id
       |  GROUP BY 1, 2),
       |st AS (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) AS ncl,
       |              CAST(SUM(tf) AS BIGINT) AS tot FROM ct),
       |ft AS (
       |  SELECT term, CAST(SUM(tf) AS BIGINT) AS f_t,
       |    CAST(round(ln(1.0::DOUBLE
       |      + (CAST(st.tot AS DOUBLE) / CAST(st.ncl AS DOUBLE))
       |        / CAST(SUM(tf) AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT)
       |      AS lnf_micro
       |  FROM ct, st GROUP BY term, st.tot, st.ncl),
       |ranked AS (
       |  SELECT ct.cid, ct.term, ct.tf, ft.f_t,
       |    ct.tf * ft.lnf_micro AS weight_micro,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY ct.cid
       |      ORDER BY ct.tf * ft.lnf_micro DESC, ct.term) AS BIGINT) AS rank
       |  FROM ct JOIN ft USING (term))
       |SELECT cid, rank, term, tf, f_t, weight_micro
       |FROM ranked WHERE rank <= $LabelsTopK
       |ORDER BY cid, rank""".stripMargin

  /** The share of the corpus, in percent, q266 flags as outliers. */
  final val OutlierPct = 5

  /** Q266: embedding-space outlier audit — the semantic-outlier removal
    * step (the within-cluster dual of SemDeDup's near-dup pruning; cf.
    * SemDeDup/D4's "far from every prototype" filtering): assign every
    * embedding to its q119 Lloyd centroid, then flag the globally
    * LEAST-similar `OutlierPct`% (lowest cosine to own centroid — vectors no
    * prototype represents well) and report the per-cluster census: size,
    * outlier count, exact similarity mass, mean similarity. Feeding a
    * curation pipeline, this is the "drop the semantic junk tail" audit.
    *
    * Determinism: similarities land on the integer micro grid
    * (round(sim·1e6) — integer rounding is away-from-zero on both
    * engines; sims come from the shared round(6)-disciplined Lloyd
    * rounds); the outlier set is a global rank by (sim_micro ASC,
    * vec_id ASC) ≤ budget = (pct·n)//100 — total order, exact integer
    * budget; per-cluster similarity mass is a BIGINT micro sum and the
    * mean one fixed IEEE sequence over exact integers.
    *
    * Scale shape: the Lloyd rounds are q119's shape (broadcast
    * centroids, no vector shuffle); the assignment projection is
    * localCheckpointed (3 narrow columns) so the count action, the
    * bucketRank offsets fetch, and the rank join all reuse one
    * materialization instead of re-running the assignment; the global
    * rank is the two-phase bucket prefix (micro key shifted to [0, 2e6]
    * — never a single-partition sort); the census is one k-row
    * aggregate. */
  def qEmbeddingOutliers(t: Tables): DataFrame = {
    val sm = kmeansAssignmentsCached(t)
      .select(col("vec_id"), col("cid"),
        round(col("sim") * lit(1000000.0), 0).cast("long").as("smk"))
      .withColumn("shifted", col("smk") + lit(1000000L))
      .localCheckpoint()
    val n = sm.count()
    val budget = OutlierPct.toLong * n / 100L
    val rk = TextAnalysis.bucketRank(sm, "shifted", 2000001L,
      Seq(col("shifted"), col("vec_id")), "r")
    rk.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("r") <= budget, 1L).otherwise(0L)).as("n_outliers"),
        sum(col("smk")).as("sim_micro_sum"))
      .select(col("cid").as("cluster"), col("n_members"), col("n_outliers"),
        col("sim_micro_sum"),
        (col("sim_micro_sum").cast("double") /
          (lit(1000000.0) * col("n_members").cast("double"))).as("mean_sim"))
      .orderBy(col("cluster"))
  }

  /** q266 oracle: the shared kmeans rounds + a global ROW_NUMBER over the
    * micro similarities (the two-phase prefix is a Spark execution
    * detail) and the same k-row census. */
  def qEmbeddingOutliersSql: String =
    s"""WITH ${kmeansCtes},
       |sm AS (
       |  SELECT vec_id, cid,
       |    CAST(round(sim * 1000000.0::DOUBLE) AS BIGINT) AS smk
       |  FROM a$KmeansUpdates),
       |rk AS (
       |  SELECT vec_id, cid, smk,
       |    CAST(ROW_NUMBER() OVER (ORDER BY smk, vec_id) AS BIGINT) AS r,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM sm)
       |SELECT cid AS cluster, COUNT(*)::BIGINT AS n_members,
       |  CAST(SUM(CASE WHEN r <= ($OutlierPct * n) // 100 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers,
       |  CAST(SUM(smk) AS BIGINT) AS sim_micro_sum,
       |  CAST(SUM(smk) AS DOUBLE)
       |    / (1000000.0::DOUBLE * CAST(COUNT(*) AS DOUBLE)) AS mean_sim
       |FROM rk GROUP BY cid ORDER BY cluster""".stripMargin

  /** q313's core threshold: eps-neighbors a point needs to be a core. */
  final val DbscanMinPts = 3

  /** Q313: DBSCAN over the embedding space (Ester et al. 1996) — the
    * density-based counterpart to q43's k-means and q179's AP: no k, no
    * exemplars; points with ≥ `DbscanMinPts` eps-neighbors are CORES, cores
    * connected through the eps-graph form clusters, non-core points
    * adjacent to a core are BORDER, the rest NOISE. eps reuses q39's
    * proven 0.4-cosine pair graph (the cross-engine threshold-parity
    * regime already on the record), so the whole decomposition is
    * exact: degrees and roles are integers, cluster ids are the min doc
    * id per core component (star contraction), border points take the
    * MIN cluster label among their core neighbors.
    *
    * Scale shape: pairs come from the blocked exact kernel (never
    * all-pairs in one task); components are the collect-free star
    * contraction; everything else is equi joins + aggregates. */
  def qDbscan(t: Tables): DataFrame = {
    // eps is the shared session pair graph's threshold (one kernel pass
    // serves q39/q64/q313)
    val pairs = Similarity.cosinePairs04Cached(t)
      .select(col("id_a"), col("id_b")) // feeds degree + core graph + border join
    val ids = t.embeddings.select(col("vec_id").as("id"))
    val deg = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val withDeg = ids.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .withColumn("is_core", col("degree") >= DbscanMinPts.toLong)
      .localCheckpoint() // role table feeds core edges + border assignment
    val cores = withDeg.filter(col("is_core")).select(col("id"))
    val coreEdges = pairs
      .join(cores.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(cores.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    val coreLab = Dedup.componentLabels(coreEdges, cores)
      .select(col("id"), col("label"))
    val sym = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
    val borderLab = withDeg.filter(!col("is_core"))
      .select(col("id"))
      .join(sym, Seq("id"))
      .join(coreLab.select(col("id").as("nb_id"), col("label")),
        col("nb") === col("nb_id"), "inner")
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    val labeled = coreLab.unionAll(borderLab)
    withDeg.join(labeled, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("degree"),
        when(col("is_core"), "core")
          .when(col("label").isNotNull, "border")
          .otherwise("noise").as("role"),
        col("label").as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q313 oracle: q39's pair predicate, recursive closure over the
    * core-core subgraph (dreach/drep — renamed off the q37 closure CTEs,
    * the q228 rule), min-core-label border assignment. */
  def qDbscanSql: String =
    s"""WITH RECURSIVE cp AS MATERIALIZED (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |          CAST(b.embedding AS DOUBLE[])) > ${Similarity.PairThreshold}),
      |dg AS (
      |  SELECT e.vec_id AS id, CAST(COALESCE(d.d, 0) AS BIGINT) AS degree
      |  FROM embeddings e LEFT JOIN (
      |    SELECT v, COUNT(*)::BIGINT AS d FROM (
      |      SELECT ia AS v FROM cp UNION ALL SELECT ib FROM cp) GROUP BY v) d
      |    ON d.v = e.vec_id),
      |cor AS MATERIALIZED (SELECT id FROM dg WHERE degree >= $DbscanMinPts),
      |ce AS MATERIALIZED (
      |  SELECT ia, ib FROM cp
      |  WHERE ia IN (SELECT id FROM cor) AND ib IN (SELECT id FROM cor)),
      |de AS (SELECT ia AS a, ib AS b FROM ce UNION SELECT ib, ia FROM ce),
      |dreach AS (
      |  SELECT a AS x, b AS y FROM de
      |  UNION
      |  SELECT dreach.x, de.b FROM dreach JOIN de ON dreach.y = de.a),
      |drep AS MATERIALIZED (
      |  SELECT c.id, LEAST(c.id, COALESCE(MIN(dreach.y), c.id)) AS label
      |  FROM cor c LEFT JOIN dreach ON dreach.x = c.id
      |  GROUP BY c.id),
      |sym AS (SELECT ia AS id, ib AS nb FROM cp UNION ALL SELECT ib, ia FROM cp),
      |bord AS (
      |  SELECT s.id, CAST(MIN(r.label) AS BIGINT) AS label
      |  FROM sym s JOIN drep r ON r.id = s.nb
      |  WHERE s.id NOT IN (SELECT id FROM cor)
      |  GROUP BY s.id),
      |lab AS (SELECT id, label FROM drep UNION ALL SELECT id, label FROM bord)
      |SELECT g.id AS vec_id, g.degree,
      |  CASE WHEN g.degree >= $DbscanMinPts THEN 'core'
      |       WHEN l.label IS NOT NULL THEN 'border'
      |       ELSE 'noise' END AS role,
      |  l.label AS cluster
      |FROM dg g LEFT JOIN lab l ON l.id = g.id
      |ORDER BY vec_id""".stripMargin
}
