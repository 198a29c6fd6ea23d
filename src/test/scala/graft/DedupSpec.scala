package graft

import graft.ops.Dedup
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  /** The ungoverned LSH reference: the production band keys (64 minhash
    * perms over 8-char shingles, 16 bands) self-joined on the key with no
    * bucket cap, so every pair sharing a key is a candidate. */
  private def lshCandidatePairs(df: DataFrame): DataFrame = {
    val keysUdf = graft.functions.fasthash.minhashBandKeysUdf(64, 16, Dedup.ShingleLen)
    val banded = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id"), explode(keysUdf(col("text"))).as("bk"))
    banded.select(col("bk"), col("id").as("id_a"))
      .join(banded.select(col("bk"), col("id").as("id_b")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  test("q141 leak-safe split: near-dup pairs never straddle splits; shares ≈ 80/10/10") {
    val t = sf0001
    val split = Dedup.qLeakSafeSplit(t).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(split.nonEmpty)
    // every doc assigned exactly once; split is a pure function of label
    split.groupBy(_._2._1).foreach { case (label, members) =>
      assert(members.values.map(_._2).toSet.size == 1,
        s"component $label straddles splits")
    }
    // THE leakage invariant: both endpoints of every fuzzy pair share a split
    Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) split across sets")
    }
    // deterministic ~80/10/10 with generous tolerance at 500 docs
    val shares = split.values.groupBy(_._2).map { case (s, v) => s -> v.size.toDouble / split.size }
    assert(shares("train") > 0.70 && shares("train") < 0.90, s"train share ${shares("train")}")
    assert(shares.getOrElse("val", 0.0) > 0.0 && shares.getOrElse("test", 0.0) > 0.0)
  }

  test("q150 degree histogram: masses add up to the corpus and the edge count") {
    val t = sf0001
    val hist = Dedup.qDegreeHistogram(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nDocs = t.documents.count()
    val nPairs = Dedup.qFuzzyPairs(t).count()
    assert(hist.map(_._2).sum == nDocs, "histogram mass != doc count")
    assert(hist.map { case (d, n) => d * n }.sum == 2 * nPairs,
      "sum of degrees != 2·|pairs|")
    assert(hist.exists(_._1 == 0L) && hist.exists(_._1 > 0L), "degenerate histogram")
  }

  test("q151 contrastive pairs: negatives are never anchors, positives, or true neighbors") {
    val t = sf0001
    val rows = Dedup.qContrastivePairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val neighbors = Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    val n = t.documents.count()
    rows.foreach { case (a, p, neg) =>
      assert(neighbors((a, p)), s"($a,$p) is not a true near-dup pair")
      assert(neg != a && neg != p && !neighbors((a, neg)),
        s"negative $neg collides for anchor $a")
      assert(neg >= 0 && neg < n, s"negative $neg out of id range")
      assert(neg == java.lang.Math.floorMod(a * 2654435761L, n),
        s"negative $neg not the deterministic hash pick for $a")
    }
  }

  test("q147 contamination audit: component hashing is leak-free, doc hashing is not") {
    val rows = Dedup.qSplitContamination(sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val (nS, crossS, freeS) = rows("component_hash")
    val (nN, crossN, freeN) = rows("doc_hash")
    assert(nS == nN && nS > 0, "pair counts differ or empty")
    assert(crossS == 0 && freeS, "component hashing leaked pairs")
    assert(crossN > 0 && !freeN, "doc hashing shows no leakage — audit inert")
  }

  test("q128 gated LSH candidates cover the exact near-dup pairs") {
    val t = sf0001
    val rows = graft.ops.Dedup.qLshCandidatesGate(t).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nb = r.getLong(2)
      assert(nb >= 1 && nb <= 4, s"n_bands $nb out of range")
      assert(r.getLong(0) < r.getLong(1), "pair not canonical")
    }
    val cands = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact 8-shingle jaccard ≥ 0.5 via the blocked kernel
    val exact = graft.ops.Dedup.jaccardPairsBlocked(
        t.documents, "text", "doc_id", 0.5).collect()
      .map(r => (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b"))))
      .toSet
    assert(exact.nonEmpty, "fixture has no near-dup pairs")
    val recall = exact.count(cands.contains).toDouble / exact.size
    assert(recall >= 0.8, s"gated-LSH recall $recall below floor (|exact|=${exact.size})")
  }

  test("minhash LSH finds every planted near-dup the exact pass finds") {
    // Exact (blocked) jaccard pairs are the ground truth; LSH candidates
    // must cover them (jaccard ≥ 0.5 ⇒ collision prob ≈ 1 at 16 bands × 4).
    val exact = Dedup.qJaccardPairs(sf0001)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.qDedupMinhashLsh(sf0001)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed planted pairs: $missed")
  }

  test("simhash pairs at hamming<=3 are near-identical texts") {
    val pairs = Dedup.qDedupSimhash(sf0001).collect()
    assert(pairs.nonEmpty)
    // verify a sampled pair really is textually similar (jaccard ≥ 0.3)
    val exact = Dedup.qJaccardPairs(sf0001)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = simPairs.intersect(exact)
    assert(overlap.nonEmpty, "no simhash pair confirmed by exact jaccard")
  }

  test("q131 gated simhash: pigeonhole invariants + kernel-path agreement") {
    val t = sf0001
    val gate = Dedup.qSimhashGate(t).collect()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonical")
      val h = r.getLong(2); val nc = r.getLong(3)
      assert(h >= 0 && h <= 3, s"hamming $h out of the <=3 contract")
      assert(nc >= 1 && nc <= 4, s"n_chunks $nc out of range")
      // hamming <= 3 bits spread over 4 chunks leaves >= 4-h chunks equal
      assert(nc >= 4 - h, s"pigeonhole violated: hamming=$h, equal chunks=$nc")
    }
    // the gate and the kernel path use different hashes, but both are
    // SimHash over the same token multisets: the strong near-dups must
    // be found by both, and some gate pair must survive exact jaccard
    val kernel = Dedup.qDedupSimhash(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gateSet = gate.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gateSet.intersect(kernel).nonEmpty,
      "no overlap between gated and kernel simhash pairs")
    val exact = Dedup.qJaccardPairs(t)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gateSet.intersect(exact).nonEmpty,
      "no gated simhash pair confirmed by exact jaccard")
  }

  test("q185 bucket governor: pair math matches an actual banded self-join") {
    val t = sf0001
    val cap = Dedup.GovernorCap
    val gov = Dedup.qBucketGovernor(t).collect()
    assert(gov.length == 4, "one row per SimHash band")
    gov.foreach { r =>
      val Seq(chunk, nBuckets, nPairBuckets, nGoverned, governedDocs,
        maxBucket, pairsRaw, pairsCapped) = (0 until 8).map(r.getLong)
      assert(chunk >= 0 && chunk <= 3)
      assert(nPairBuckets <= nBuckets && nGoverned <= nPairBuckets)
      assert(pairsCapped <= pairsRaw)
      // every governed bucket holds > cap docs
      assert(governedDocs >= nGoverned * (cap + 1))
      assert(maxBucket >= 1)
      if (nGoverned == 0) assert(pairsCapped == pairsRaw && maxBucket <= cap)
    }
    // pairs_raw per chunk must equal the banded self-join's matches — the
    // exact cost the governor predicts for the stage it audits (q131's
    // pre-dedup join). Independent recompute via a real join:
    val gate = Dedup.qSimhashGate(t, maxHamming = 64)
    // qSimhashGate dedupes pairs across chunks (n_chunks counts matches),
    // so Σ n_chunks over ALL pairs (hamming unrestricted) = Σ per-chunk
    // in-bucket pairs = Σ pairs_raw
    val joinMatches = gate.agg(sum(col("n_chunks"))).head().getLong(0)
    assert(joinMatches == gov.map(_.getLong(6)).sum,
      "governor pair math disagrees with the banded join it audits")
  }

  test("q186 governed pairs: subset of q131, equal when the cap is infinite") {
    val t = sf0001
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = pairSet(Dedup.qSimhashGate(t))
    val governed = pairSet(Dedup.qGovernedPairs(t, cap = 16))
    // enforcement only ever DROPS candidates, never invents or rescores
    assert(governed.subsetOf(full),
      "governed pairs not a subset of the ungoverned gate")
    // with the cap above any bucket size, enforcement is a no-op
    val uncapped = pairSet(Dedup.qGovernedPairs(t, cap = Int.MaxValue))
    assert(uncapped == full, "infinite cap must reproduce q131 exactly")
  }

  test("q201 prefix governor: pair math matches the blocked join it audits") {
    val t = sf0001
    val cap = Dedup.GovernorCap
    val r = Dedup.qPrefixGovernor(t).head()
    val Seq(nBlocks, nPairBlocks, nGoverned, governedDocs, maxBlock,
      pairsRaw, pairsCapped) = (0 until 7).map(r.getLong)
    assert(nPairBlocks <= nBlocks && nGoverned <= nPairBlocks)
    assert(pairsCapped <= pairsRaw)
    assert(governedDocs >= nGoverned * (cap + 1))
    if (nGoverned == 0) assert(pairsCapped == pairsRaw && maxBlock <= cap)
    // pairs_raw must equal the candidate population of the join family it
    // governs (q32/q33/q189 share the substr-10 block). Independent
    // recompute via an actual blocked self-join, no similarity filter:
    val d = t.documents.select(col("doc_id"),
      substring(col("text"), 1, 10).as("blk"))
    val joinPairs = d.select(col("doc_id").as("id_a"), col("blk"))
      .join(d.select(col("doc_id").as("id_b"), col("blk")), Seq("blk"))
      .filter(col("id_a") < col("id_b")).count()
    assert(joinPairs == pairsRaw,
      "governor pair math disagrees with the blocked join it audits")
  }

  test("q202 governed fuzzy: parity with q32 away from the capped tail") {
    val t = sf0001
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairSet(Dedup.qFuzzyPairs(t))
    val governed = pairSet(Dedup.qGovernedFuzzy(t, cap = 16))
    // enforcement only ever DROPS candidates, never invents or rescores
    assert(governed.subsetOf(full), "governed pairs not a subset of q32")
    // exact recall contract: away from governed blocks the output IS q32.
    // Recompute the governed block keys independently and restrict q32:
    val bigBlocks = t.documents
      .groupBy(substring(col("text"), 1, 10).as("blk")).count()
      .filter(col("count") > 16).select(col("blk"))
    val governedIds = t.documents
      .join(bigBlocks, substring(col("text"), 1, 10) === bigBlocks("blk"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = full.filter { case (a, b, _) =>
      !governedIds.contains(a) && !governedIds.contains(b) }
    assert(governed == expected,
      "governed output must equal q32 restricted to ungoverned blocks")
    // with the cap above any block size, enforcement is a no-op
    assert(pairSet(Dedup.qGovernedFuzzy(t, cap = Int.MaxValue)) == full,
      "infinite cap must reproduce q32 exactly")
    // q202 is the production front door at the audit's cap
    assert(Dedup.qGovernedFuzzy(t).collect().toSeq ==
      Dedup.governedFuzzyPairs(t.documents, "text", "doc_id", 16).collect().toSeq)
  }

  test("q191: gram-hash join drops the broadcast hint above the row threshold") {
    val t = sf0001
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable auto-broadcast so the ONLY broadcasts are the explicit hints
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hinted = Dedup.containmentScored(t, broadcastRows = Long.MaxValue)
      val sharded = Dedup.containmentScored(t, broadcastRows = 0L)
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "below the threshold the gram-hash sides must broadcast")
      assert(!sharded.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "above the threshold no broadcast may survive (driver-OOM class at 100 TB)")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(rows(hinted) == rows(sharded),
        "shuffle and broadcast paths must produce identical containment pairs")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("componentsMinId converges on a chain longer than any fixed cap") {
    // a 30-edge path graph takes 30 rounds under naive min-label
    // propagation — star contraction must handle it in a handful
    val spark0 = spark
    import spark0.implicits._
    val n = 30
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val ids = (0 to n).map(_.toLong).toDF("id")
    val comps = Dedup.componentsMinId(pairs, ids).collect()
    assert(comps.length == 1, s"expected one component, got ${comps.length}")
    assert(comps.head.getAs[Long]("keep_id") == 0L, "representative must be the min id")
    assert(comps.head.getAs[Seq[Long]]("member_ids").toSet == (0L to n.toLong).toSet)
  }

  test("star contraction is O(log n) rounds on a 1000-node chain") {
    // the worst shape for label propagation (diameter = n); large-star/
    // small-star must contract it logarithmically (VERDICT r2 item 1)
    val spark0 = spark
    import spark0.implicits._
    val n = 1000
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val (stars, rounds) = Dedup.starContract(pairs)
    val bound = 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 4
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
    val roots = stars.select("v").distinct().collect().map(_.getLong(0)).toSet
    assert(roots == Set(0L), s"all stars must center on min id, got $roots")
    assert(stars.count() == (n - 1).toLong, "every non-root points at the root")
  }

  test("greedy dedup: kept set is pairwise dissimilar and idempotent") {
    import graft.functions.text
    val spark0 = spark
    import spark0.implicits._
    val rows = sf0001.documents.filter(col("doc_id") < 200)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("k"))
      .as[(Long, String)].collect().toSeq
    val kept = Dedup.greedyFuzzyKeepIds(rows)
    val keyOf = rows.toMap
    // pairwise: no kept pair with ratio > 80
    for (i <- kept.indices; j <- (i + 1) until kept.size)
      assert(text.fuzzRatio(keyOf(kept(i)), keyOf(kept(j))) <= 80,
        s"kept pair ${kept(i)},${kept(j)} too similar")
    // idempotent
    val again = Dedup.greedyFuzzyKeepIds(rows.filter(r => kept.contains(r._1)))
    assert(again == kept)
  }

  test("greedy keep-first semantics match the reference loop shape") {
    // arrival order matters: first of a dup pair is kept, later dropped
    val rows = Seq(
      (1L, "spark query engine benchmark results"),
      (2L, "spark query engine benchmark result!"), // dup of 1 → dropped
      (3L, "completely unrelated text about cats"),
      (4L, "spark query engine benchmark resultz")) // dup of 1 → dropped
    val kept = Dedup.greedyFuzzyKeepIds(rows)
    assert(kept == Seq(1L, 3L))
  }

  test("components min-id representative equals greedy on transitive clusters") {
    val greedy = Dedup.qDedupGreedy(sf0001).collect().map(_.getLong(0)).toSet
    val comps = Dedup.qDedupComponents(sf0001)
      .filter(col("keep_id") < 500)
      .collect().map(_.getLong(0)).toSet
    assert(comps == greedy,
      s"only-in-components=${(comps -- greedy).take(5)} only-in-greedy=${(greedy -- comps).take(5)}")
  }

  /** Runs `body` with System.err captured and returns its result and the
    * `[dedup-governor] <what>` lines its tasks wrote (local mode: the tasks
    * run in this JVM). */
  private def governorLines[T](what: String)(body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val out = try body finally System.setErr(prev)
    (out, buf.toString("UTF-8").linesIterator
      .filter(_.startsWith(s"[dedup-governor] $what")).toSeq)
  }

  /** Σ of one `key=<n>` field over governor lines (one line per task). */
  private def dropped(lines: Seq[String], key: String): Long =
    lines.map(l => s"$key=(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).sum

  /** 40 identical docs (they share EVERY band key) alongside genuinely
    * dissimilar singletons (every shingle embeds the id, so no cross-doc
    * bucket collisions) and two small planted dup pairs that any governed
    * run must keep. */
  private def megaBucketDocs: DataFrame = {
    import spark.implicits._
    val mega = (0L until 40L).map(i => (i, "breaking news identical boilerplate body"))
    val singles = (100L until 120L).map(i =>
      (i, s"w${i}a x${i}b y${i}c z${i}d v${i}e u${i}f t${i}g s${i}h r${i}j"))
    val dupA = Seq((200L, "alpha pair survives the governor unchanged"),
      (201L, "alpha pair survives the governor unchanged"))
    val dupB = Seq((202L, "beta couple also stays below the bucket cap"),
      (203L, "beta couple also stays below the bucket cap"))
    (mega ++ singles ++ dupA ++ dupB).toDF("doc_id", "text")
  }

  test("governed LSH: mega-bucket is capped in the plan; parity away from it") {
    // the production LSH arm routes through the bucket cap
    val df = megaBucketDocs
    val governed = Dedup.governedLshCandidatePairs(df, "text", "doc_id", cap = 8)
    // plan assert: the bucket-size filter join is IN the plan
    val plan = governed.queryExecution.optimizedPlan.toString
    assert(plan.contains("bucket_n"),
      "governed path above a mega-bucket must join through the bucket-size filter")
    val (rows, lines) = governorLines("lsh bands over cap=8")(governed.collect())
    val gPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the mega-bucket's quadratic population is dropped (every one of its
    // 16 band buckets exceeds cap=8); the small dup blocks are untouched
    assert(!gPairs.exists { case (a, b) => a < 40 && b < 40 },
      "mega-bucket pairs must be governed away")
    assert(gPairs == Set((200L, 201L), (202L, 203L)),
      s"parity away from governed blocks, got $gPairs")
    // the tasks that dropped the buckets say so, one line each at most
    assert(lines.nonEmpty, "no governor line")
    assert(dropped(lines, "buckets") == 16 && dropped(lines, "docs") == 16 * 40 &&
      dropped(lines, "pairs") == 16 * (40 * 39 / 2), s"$lines")
    val unGoverned = lshCandidatePairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unGoverned.count { case (a, b) => a < 40 && b < 40 } == 40 * 39 / 2,
      "ungoverned generator must emit the full quadratic mega-bucket")

    // under the cap the filter keeps every bucket: identical pairs, no log
    val (relaxed, quiet) = governorLines("lsh bands")(
      Dedup.governedLshCandidatePairs(df, "text", "doc_id", cap = 64).collect())
    val rPairs = relaxed.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rPairs == unGoverned, "under the cap the pairs must equal the ungoverned self-join")
    assert(quiet.isEmpty, s"no bucket dropped, yet: $quiet")
  }

  test("governed LSH: no job at construction; the signature kernel runs once") {
    val (governed, jobs) = JobCounter(spark.sparkContext)(
      Dedup.governedLshCandidatePairs(megaBucketDocs, "text", "doc_id", cap = 8))
    assert(jobs == 0, s"$jobs jobs at construction")
    // the bucket count and both join sides read one exchange of the band
    // rows, so the final plan evaluates the band-key kernel once
    governed.collect()
    val finalPlan = governed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("explode\\(UDF\\(".r.findAllIn(finalPlan).size == 1, finalPlan)
  }

  test("q227 greedy gate: walk matches an in-memory recompute; greedy invariants hold") {
    val t = sf0001
    val kept = graft.ops.Dedup.qDedupGreedyGate(t)
      .collect().map(_.getLong(0))
    // independent sequential recompute from the q32 conflict pairs
    val pairs = graft.ops.Dedup.qFuzzyPairs(t).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val blockers = pairs.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }
    val allIds = t.documents.select("doc_id").collect().map(_.getLong(0)).sorted
    val expect = scala.collection.mutable.LinkedHashSet.empty[Long]
    allIds.foreach { id =>
      if (!blockers.getOrElse(id, Set.empty).exists(expect.contains)) expect += id
    }
    assert(kept.toSeq == expect.toSeq.sorted, "walk diverges from the sequential recompute")
    // greedy invariants (the q36 semantics the gate pins): survivors are
    // pairwise non-conflicting, and every dropped id conflicts with a
    // SMALLER survivor (keep-first maximality)
    val keptSet = kept.toSet
    pairs.foreach { case (a, b) =>
      assert(!(keptSet(a) && keptSet(b)), s"conflicting survivors ($a,$b)")
    }
    (allIds.toSet -- keptSet).foreach { d =>
      assert(blockers.getOrElse(d, Set.empty).exists(a => keptSet(a) && a < d),
        s"dropped $d has no smaller kept blocker")
    }
  }

  test("governed prefix pairs: mega-block capped; under the cap exact") {
    // the production front door for the substr-10 family (the LSH
    // governor's sibling): fixture = one 40-doc common-prefix mega-block
    // + two small dup pairs with distinct prefixes
    import spark.implicits._
    val mega = (0L until 40L).map(i =>
      (i, s"breaking news shared prefix body variant number $i"))
    val dupA = Seq((200L, "alpha prefix pair survives the governor aa"),
      (201L, "alpha prefix pair survives the governor ab"))
    val dupB = Seq((202L, "beta prefix couple stays below the cap aa"),
      (203L, "beta prefix couple stays below the cap ab"))
    val df = (mega ++ dupA ++ dupB).toDF("doc_id", "text")

    // the result barrier runs the blocked join while the frame is built
    val (governed, lines) = governorLines("prefix blocks")(
      Dedup.governedFuzzyPairs(df, "text", "doc_id", cap = 8))
    assert(lines == Seq("[dedup-governor] prefix blocks over cap=8: " +
      s"dropped buckets=1 docs=40 pairs=${40 * 39 / 2}"), s"$lines")
    val gPairs = governed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!gPairs.exists { case (a, b) => a < 40 && b < 40 },
      "mega-block pairs must be governed away")
    assert(gPairs == Set((200L, 201L), (202L, 203L)), s"got $gPairs")

    val (relaxed, quiet) = governorLines("prefix blocks")(
      Dedup.governedFuzzyPairs(df, "text", "doc_id", cap = 64))
    assert(quiet.isEmpty, s"no block dropped, yet: $quiet")
    val rPairs = relaxed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // under the cap the generator equals the ungoverned q32 shape
    val unGov = Dedup.qFuzzyPairs(Tables(spark, "/root/testdata/sf0.001"))
    assert(rPairs.count { case (a, b) => a < 40 && b < 40 } == 40 * 39 / 2,
      "under the cap the full mega-block is emitted (all variants are near-dups)")
    assert(rPairs.contains((200L, 201L)) && rPairs.contains((202L, 203L)))
    assert(unGov.columns.toSeq == governed.columns.toSeq, "schema parity with q32")
  }

  // The fuzzy-family production compositions, built the way q242 builds
  // them: one governed pair graph (governedFuzzyPairs) feeding the
  // componentsMinId / greedyWalk / componentLabels building blocks.
  private def governedPairs(df: DataFrame, cap: Int = 64): DataFrame =
    Dedup.governedFuzzyPairs(df, "text", "doc_id", cap).select(col("id_a"), col("id_b"))

  private def docIds(df: DataFrame): DataFrame = df.select(col("doc_id").as("id"))

  private def componentKeep(df: DataFrame, cap: Int = 64): Set[Long] =
    Dedup.componentsMinId(governedPairs(df, cap), docIds(df))
      .select(col("keep_id")).collect().map(_.getLong(0)).toSet

  private def walkKeep(df: DataFrame, cap: Int = 64): Set[Long] = {
    import spark.implicits._
    Dedup.greedyWalk(docIds(df), governedPairs(df, cap).as[(Long, Long)].collect())
      .collect().map(_.getLong(0)).toSet
  }

  /** (doc_id, component, comp_size, weight = 1/comp_size) — q230's shape. */
  private def softWeights(df: DataFrame, cap: Int = 64): DataFrame = {
    val labels = Dedup.componentLabels(governedPairs(df, cap), docIds(df))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("component"),
        col("comp_size"), (lit(1.0) / col("comp_size").cast("double")).as("weight"))
  }

  test("fuzzy production compositions: below-cap parity with q37/q227/q230") {
    // below the cap every composition over the governed pair graph must be
    // bit-identical to its oracled sibling over the exact q32 graph
    val t = sf0001

    val q37Keep = Dedup.qDedupComponents(t).collect().map(_.getLong(0)).toSet
    assert(componentKeep(t.documents) == q37Keep,
      "governed components != q37 keep set below cap")

    val q227Keep = Dedup.qDedupGreedyGate(t).collect().map(_.getLong(0)).toSet
    assert(walkKeep(t.documents) == q227Keep, "governed walk != q227 keep set below cap")

    val prodW = softWeights(t.documents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val q230W = Dedup.qSoftDedupWeights(t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(prodW == q230W, "governed soft weights != q230 below cap")

    // best representative per component: highest quality_score, ties by min id
    val scored = t.documents.join(graft.ops.TextAnalysis.qQualityScore(t)
      .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
    val prodBest = Dedup.componentLabels(governedPairs(scored), docIds(scored))
      .join(scored.select(col("doc_id").as("id"), col("quality_score")), Seq("id"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("label"))
        .orderBy(col("quality_score").desc, col("id"))))
      .filter(col("rn") === 1)
      .collect().map(_.getAs[Long]("id")).toSet
    val q115Keep = Dedup.qDedupBestRep(t).collect().map(_.getLong(0)).toSet
    assert(prodBest == q115Keep, "governed best-rep != q115 keep set below cap")

    // and the composed q242 gate ties all three faces together
    val gate = Dedup.qFuzzyGovernedDedup(t).collect()
    assert(gate.length == t.documents.count().toInt)
    assert(gate.filter(_.getBoolean(4)).map(_.getLong(0)).toSet == q37Keep)
    assert(gate.filter(_.getBoolean(5)).map(_.getLong(0)).toSet == q227Keep)
    assert(math.abs(gate.map(_.getDouble(3)).sum - q37Keep.size) < 1e-9,
      "soft-weight conservation: sum of weights must equal #components")
  }

  test("fuzzy production compositions: the governor arm bounds a mega-block") {
    // above the cap the compositions consume the governed graph: the
    // mega-block's pairs are priced away, so every mega doc becomes its
    // own component/survivor while the small dup pairs still contract
    import spark.implicits._
    val mega = (0L until 40L).map(i =>
      (i, s"breaking news shared prefix body variant number $i"))
    val dup = Seq((200L, "alpha prefix pair survives the governor aa"),
      (201L, "alpha prefix pair survives the governor ab"))
    val df = (mega ++ dup).toDF("doc_id", "text")

    val kept = componentKeep(df, cap = 8)
    assert(kept == (0L until 40L).toSet + 200L, s"got $kept")

    val walk = walkKeep(df, cap = 8)
    assert(walk == (0L until 40L).toSet + 200L, s"got $walk")

    val w = softWeights(df, cap = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(w(0L) == 1.0 && w(200L) == 0.5 && w(201L) == 0.5)
  }

  test("q230 soft-dedup weights: conservation and component tie-out vs q37") {
    val t = sf0001
    val rows = Dedup.qSoftDedupWeights(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == t.documents.count().toInt)
    // weight = 1/comp_size, every member of a component shares its size
    rows.foreach { case (_, _, size, w) => assert(w == 1.0 / size) }
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, ms) =>
      assert(ms.forall(_._3 == ms.length.toLong), s"component $comp size mismatch")
      assert(ms.map(_._1).min == comp, s"component label $comp is not the min id")
    }
    // conservation: sum of weights == number of components (exactly, as
    // each component contributes size * 1/size; float sum tolerance only)
    val comps = Dedup.qDedupComponents(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byComp.keySet == comps.keySet)
    byComp.foreach { case (c, ms) => assert(ms.length.toLong == comps(c)) }
    assert(math.abs(rows.map(_._4).sum - comps.size) < 1e-9)
  }

  test("q249 token budget: conservation vs q230 weights and raw token mass") {
    val t = sf0001
    val rows = Dedup.qDedupTokenBudget(t).collect()
    // effective mass tie-out: Σ_source effective_micros equals the
    // integer micro sum of n_tokens/comp_size over ALL docs (q230's
    // weights applied to token counts)
    val weights = Dedup.qSoftDedupWeights(t).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap // doc -> comp_size
    val toks = t.documents.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          graft.functions.text.tokenize(
            org.apache.spark.sql.functions.col("text"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectMicros = toks.map { case (id, n) => n * 1000000L / weights(id) }.sum
    assert(rows.map(_.getLong(4)).sum == expectMicros, "effective micro mass")
    assert(rows.map(_.getLong(3)).sum == toks.map(_._2).sum, "raw token mass")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3) * 1000000L, "effective exceeds raw")
      val savings = r.getDouble(6)
      assert(savings >= 0.0 && savings < 1.0)
      if (r.getLong(2) == 0) assert(savings == 0.0, "savings with no dups")
    }
  }

  test("exact dedup groups: every distinct text keeps exactly one id") {
    val n = sf0001.documents.count()
    val g = Dedup.qDedupExact(sf0001)
    assert(g.agg(sum("n_copies")).head().getLong(0) == n)
    assert(g.select("keep_id").distinct().count() == g.count())
  }

  test("q95: dedup-quality audit — envelope booleans hold, truth non-empty") {
    val row = Dedup.qDedupQuality(sf0001).head()
    val (nTrue, lshWithin, recallOk) =
      (row.getLong(0), row.getBoolean(1), row.getBoolean(2))
    info(s"n_true=$nTrue lsh_within_truth=$lshWithin recall_ge_floor=$recallOk")
    assert(nTrue > 0, "audit slice has no true near-dup pairs")
    // verified-LSH pairs use the identical jaccard predicate, so every
    // one is a true pair (hits == lsh)
    assert(lshWithin)
    // 16 bands x 4 rows: collision prob ~1 for the planted high-jaccard
    // dups; threshold-straddling pairs may be missed, hence a floor
    assert(recallOk, "LSH recall below 0.8 floor")
  }

  test("q95: audit kernel agrees with the independent blocked exact kernel") {
    // two exact all-pairs implementations, one truth: at sf0.001 the
    // 500-id slice covers the whole corpus, so the one-sided audit scan
    // must equal the triangle block-grid kernel's pair set exactly
    val docs = sf0001.documents
    val audit = Dedup.auditTruePairs(sf0001, 500, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.jaccardPairsBlocked(docs, "text", "doc_id", 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(audit == blocked,
      s"only-audit=${audit -- blocked} only-blocked=${blocked -- audit}")
    assert(audit.nonEmpty)
  }

  test("q134 semdedup: keep rule matches a brute-force within-cluster check") {
    val res = Dedup.qDedupSemantic(sf0001).collect()
    assert(res.length == 500)
    val dropped = res.filter(!_.getBoolean(4))
    assert(dropped.nonEmpty, "threshold too high: nothing dropped")
    assert(dropped.forall(r => r.getDouble(3) >= 0.25 && r.getLong(2) > 0))
    assert(res.filter(_.getBoolean(4)).forall(_.isNullAt(3)))
    // independent truth: same clusters (q119 face), brute-force pairs
    val clusters = graft.ops.Clustering.qKmeansStep(sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.forall(r => clusters(r.getLong(0)) == r.getLong(1)),
      "cluster column deviates from the q119 assignment")
    val embs = sf0001.embeddings
      .selectExpr("vec_id", "cast(embedding as array<double>) e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = embs.keys.toArray.sorted
    val expectDropped = (for {
      i <- ids; j <- ids
      if i < j && clusters(i) == clusters(j) && cos(embs(i), embs(j)) >= 0.25
    } yield j).toSet
    val gotDropped = dropped.map(_.getLong(0)).toSet
    assert(gotDropped == expectDropped,
      s"only-got=${gotDropped -- expectDropped} only-expected=${expectDropped -- gotDropped}")
  }

  test("q191 containment join: prefix filtering loses nothing vs the full quadratic scan") {
    val t = sf0001
    val got = Dedup.qContainmentJoin(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // brute-force every ordered pair with the same kernel — the 100%-recall
    // claim of the prefix filter is exact, not probabilistic
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = (for {
      (ia, ta) <- docs; (ib, tb) <- docs
      if ia != ib
      c = graft.functions.fasthash.containment3(ta, tb)
      if c(0) > 0 && 2 * c(2) >= c(0)
    } yield (ia, ib) -> ((c(0), c(1), c(2)))).toMap
    assert(got == expect,
      s"missing=${(expect.keySet -- got.keySet).take(5)} extra=${(got.keySet -- expect.keySet).take(5)}")
    assert(got.nonEmpty)
    // containment is the asymmetric signal: every emitted value is exact
    Dedup.qContainmentJoin(t).collect().foreach { r =>
      assert(r.getDouble(5) == r.getLong(4).toDouble / r.getLong(2).toDouble)
      assert(r.getDouble(5) >= 0.5 && r.getDouble(5) <= 1.0)
    }
  }

  test("q195 capture-recapture: counts tie to the detectors; Chapman estimate recomposes") {
    val t = sf0001
    val r = Dedup.qCaptureRecapture(t).head()
    val (na, nb, m) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(na == Dedup.qFuzzyPairs(t).count(), "n_a != method A catch")
    assert(m <= math.min(na, nb) && m >= 0)
    assert(na > 0 && nb > 0, "a detector caught nothing — the audit is vacuous")
    assert(m > 0, "no overlap between detectors — Chapman precondition broken")
    val nHat = (na + 1).toDouble * (nb + 1).toDouble / (m + 1).toDouble - 1.0
    // impl computes (n_a+1)*(n_b+1) in BIGINT then casts — same value
    assert(math.abs(r.getDouble(3) - nHat) < 1e-9 * nHat)
    assert(r.getDouble(4) == na.toDouble / r.getDouble(3))
    assert(r.getDouble(5) == nb.toDouble / r.getDouble(3))
    assert(r.getDouble(6) == (na + nb - m).toDouble / r.getDouble(3))
    // the estimate can never fall below what was directly observed
    assert(r.getDouble(3) >= (na + nb - m).toDouble - 1.0 - 1e-9)
  }

  test("q189 record linkage: scores recompose from gammas; decisions match thresholds") {
    val t = sf0001
    val rows = Dedup.qRecordLinkage(t).collect()
    assert(rows.nonEmpty)
    val meta = t.documents.select("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (ga, gc, gl, gs) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      Seq(ga, gc, gl, gs).foreach(g => assert(g == 0L || g == 1L))
      val score = (if (ga == 1) 4.25 else -2.0) + (if (gc == 1) 3.5 else -1.75) +
        (if (gl == 1) 1.5 else -1.0) + (if (gs == 1) 0.75 else -0.25)
      assert(r.getDouble(6) == score)
      val want = if (score >= 6.0) "link" else if (score >= 1.0) "possible" else "non_link"
      assert(r.getString(7) == want && score >= 1.0)
      // metadata comparators re-derived independently from the table
      val (sa, la) = meta(r.getLong(0)); val (sb, lb) = meta(r.getLong(1))
      assert(gs == (if (sa == sb) 1L else 0L))
      assert(gl == (if (math.abs(la - lb) * 10 <= math.max(la, lb)) 1L else 0L))
    }
    // canonical ordering, no dup pairs
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b } && pairs.distinct.length == pairs.length)
  }

  test("q252 component power-law: histogram ties to q37; alpha from the MLE") {
    val t = sf0001
    val sizes = Dedup.qDedupComponents(t).collect().map(_.getLong(1))
    val hist = sizes.groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    val got = Dedup.qComponentSizePowerlaw(t).collect()
    assert(got.length == hist.size)
    got.foreach { r =>
      assert(hist(r.getLong(0)) == r.getLong(1), s"size ${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1))
    }
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-9, "shares sum to 1")
    val multi = sizes.filter(_ >= 2L)
    assert(got.head.getLong(4) == multi.length)
    if (multi.nonEmpty) {
      val alpha = 1.0 + multi.length /
        (multi.map(s => math.round(math.log(s / 1.5) * 1e6)).sum / 1e6)
      assert(math.abs(got.head.getDouble(5) - alpha) < 1e-9, "alpha MLE")
    }
  }


  test("q254 cross-source dup matrix: ties to the component labels") {
    val t = sf0001
    val labels = Dedup.componentLabels(
      Dedup.qFuzzyPairs(t).select(col("id_a"), col("id_b")),
      t.documents.select(col("doc_id").as("id"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcOf = t.documents.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val comps = labels.toSeq.groupBy(_._2)
      .map { case (c, xs) => c -> xs.map(x => srcOf(x._1)).toSet }
    val perSource = comps.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    val got = Dedup.qCrossSourceDupMatrix(t).collect()
    val expect = comps.values.toSeq
      .flatMap(ss => ss.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    assert(got.length == expect.size, "pair coverage")
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == expect(k), s"$k shared components")
      assert(r.getLong(3) == perSource(r.getString(0)), s"$k comps_a")
      assert(r.getLong(4) == perSource(r.getString(1)), s"$k comps_b")
      assert(r.getDouble(5) ==
        expect(k).toDouble / (perSource(r.getString(0))
          + perSource(r.getString(1)) - expect(k)).toDouble)
    }
  }


  test("q256 minhash calibration: ties to a string-set + signature recompute") {
    val t = sf0001
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byBlk = docs.groupBy(_._2.substring(0, 10))
    case class Cell(bucket: Long, tjMicro: Long, errMicro: Long)
    val cells = byBlk.values.toSeq.flatMap { ds =>
      ds.toSeq.sortBy(_._1).combinations(2).map { p =>
        val Seq((ia, ta), (ib, tb)) = p
        val sa = graft.functions.fasthash.shingleSet(ta, 8).toSet
        val sb = graft.functions.fasthash.shingleSet(tb, 8).toSet
        val inter = (sa & sb).size.toLong
        val un = (sa | sb).size.toLong
        val siga = graft.functions.fasthash.minhashSignature(ta, 64, 8)
        val sigb = graft.functions.fasthash.minhashSignature(tb, 64, 8)
        val agree = siga.zip(sigb).count { case (x, y) => x == y }.toLong
        val tj = Math.round(inter.toDouble / un.toDouble * 1e6)
        Cell(inter * 10L / un, tj, Math.abs(agree * 15625L - tj))
      }
    }
    val got = Dedup.qMinhashCalibration(t).collect()
    val byBucket = cells.groupBy(_.bucket)
    assert(got.length == byBucket.size)
    got.foreach { r =>
      val cs = byBucket(r.getLong(0))
      assert(r.getLong(1) == cs.length.toLong, s"bucket ${r.getLong(0)} n")
      assert(r.getLong(2) == cs.map(_.tjMicro).sum, s"bucket ${r.getLong(0)} tj sum")
      assert(r.getBoolean(4) == (cs.map(_.errMicro).sum <= 100000L * cs.length),
        s"bucket ${r.getLong(0)} mean envelope")
      assert(r.getBoolean(5) == (cs.map(_.errMicro).max <= 450000L),
        s"bucket ${r.getLong(0)} max envelope")
      // and the envelopes genuinely hold on this corpus
      assert(r.getBoolean(4) && r.getBoolean(5))
    }
  }


  test("q257 dedup agreement: set algebra ties to the three removal sets") {
    val t = sf0001
    // exact: independent driver-side recompute via MessageDigest
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val exact = docs.groupBy(d => md5hex(d._2)).values
      .flatMap(g => g.map(_._1).sorted.drop(1)).toSet
    def removalSet(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.componentLabels(pairs,
        t.documents.select(col("doc_id").as("id"))).collect()
        .collect { case r if r.getLong(0) != r.getLong(1) => r.getLong(0) }
        .toSet
    val fuzzy = removalSet(Dedup.qFuzzyPairs(t).select(col("id_a"), col("id_b")))
    val sim = removalSet(Dedup.qSimhashGate(t).select(col("id_a"), col("id_b")))
    val sets = Map("exact" -> exact, "fuzzy" -> fuzzy, "simhash" -> sim)
    val got = Dedup.qDedupMethodAgreement(t).collect()
    val expected = (for {
      a <- sets.keys.toSeq; b <- sets.keys.toSeq
      if a <= b && (a == b || (sets(a) & sets(b)).nonEmpty)
      if sets(a).nonEmpty && sets(b).nonEmpty
    } yield (a, b)).sorted
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq == expected)
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val both = (sets(a) & sets(b)).size.toLong
      assert(r.getLong(2) == sets(a).size.toLong, s"($a,$b) n_a")
      assert(r.getLong(3) == sets(b).size.toLong, s"($a,$b) n_b")
      assert(r.getLong(4) == both, s"($a,$b) n_both")
      assert(r.getDouble(5) == both.toDouble /
        (sets(a).size + sets(b).size - both).toDouble)
    }
  }


  test("q258 batch dup exposure: ties to an independent permutation + labels") {
    val t = sf0001
    val ids = t.documents.select("doc_id").collect().map(_.getLong(0))
    def h(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(7).map("%02x".format(_)).mkString, 16) >> 4
    }
    val blocks = ids.sortBy(id => (h(id), id)).grouped(100).zipWithIndex
      .map { case (b, i) => i.toLong -> b.toSeq }.toMap
    val labels = Dedup.componentLabels(
      Dedup.qFuzzyPairs(t).select(col("id_a"), col("id_b")),
      t.documents.select(col("doc_id").as("id"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.qBatchDupExposure(t).collect()
    assert(got.length == blocks.size)
    var totalDupPairs = 0L
    got.foreach { r =>
      val members = blocks(r.getLong(0))
      val byComp = members.groupBy(labels)
      assert(r.getLong(1) == members.length.toLong)
      val dupPairs = byComp.values.map(g => g.size.toLong * (g.size - 1) / 2).sum
      assert(r.getLong(2) == dupPairs, s"block ${r.getLong(0)} dup pairs")
      assert(r.getLong(3) ==
        byComp.values.filter(_.size >= 2).map(_.size.toLong).sum,
        s"block ${r.getLong(0)} dup docs")
      totalDupPairs += dupPairs
    }
    // sanity vs the global pair bound: within-block pairs can never exceed
    // all component pairs in the corpus
    val allPairs = labels.toSeq.groupBy(_._2).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(totalDupPairs <= allPairs)
  }

  test("q272 blocking recall: matches an in-memory all-pairs recompute") {
    val t = sf0001
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to b.length) {
          val cur = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(b.length)
    }
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val cells = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for (i <- docs.indices; j <- (i + 1) until docs.length) {
      val pa = docs(i)._2.take(40); val pb = docs(j)._2.take(40)
      val g = math.max(pa.length, pb.length)
      if (g > 0) {
        val bucket = ((g - lev(pa, pb)).toLong * 10L) / g
        val blocked = if (docs(i)._2.take(10) == docs(j)._2.take(10)) 1L else 0L
        val (n, bl) = cells.getOrElse(bucket, (0L, 0L))
        cells(bucket) = (n + 1L, bl + blocked)
      }
    }
    val got = Dedup.qBlockingRecall(t).collect()
    assert(got.map(_.getLong(0)).toSeq == cells.keys.toSeq.sorted)
    got.foreach { r =>
      val (n, bl) = cells(r.getLong(0))
      assert((r.getLong(1), r.getLong(2)) == ((n, bl)), s"bucket ${r.getLong(0)}")
      assert(r.getDouble(3) == bl.toDouble / n.toDouble)
    }
    // the above-threshold region brackets the q32 generator's pair count
    val q32n = Dedup.qFuzzyPairs(t).count()
    val ge9 = got.filter(_.getLong(0) >= 9L).map(_.getLong(2)).sum
    val ge8 = got.filter(_.getLong(0) >= 8L).map(_.getLong(2)).sum
    assert(ge9 <= q32n && q32n <= ge8, s"$ge9 <= $q32n <= $ge8 violated")
  }

  test("q270 incremental components equal the full recompute exactly") {
    val t = sf0001
    val got = Dedup.qIncrementalComponents(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // the full-graph recompute through the same engine surface
    val full = Dedup.componentLabels(
        Dedup.qFuzzyPairs(t).select(col("id_a"), col("id_b")),
        t.documents.select(col("doc_id").as("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.length == t.documents.count().toInt)
    val maxId = got.map(_._1).max
    val cutoff = (maxId + 1L) * 4L / 5L
    got.foreach { case (id, label, isNew) =>
      assert(label == full(id), s"doc $id: incremental $label != full ${full(id)}")
      assert(isNew == (id >= cutoff))
      assert(label <= id) // min-id labels
    }
    // the batch split is non-degenerate at this SF
    assert(got.exists(_._3) && got.exists(!_._3))
  }

  test("q280 modularity: matches an in-memory recompute off the pair graph") {
    val t = sf001
    val pairs = Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val src = t.documents.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = pairs.length.toLong
    val deg = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val intra = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    pairs.foreach { case (a, b) =>
      deg(src(a)) += 1L; deg(src(b)) += 1L
      if (src(a) == src(b)) intra(src(a)) += 1L
    }
    val got = ops.Dedup.qGraphModularity(t).collect()
    assert(got.map(_.getString(0)).toSeq == src.values.toSeq.distinct.sorted)
    got.foreach { r =>
      assert(r.getLong(1) == intra(r.getString(0)))
      assert(r.getLong(2) == deg(r.getString(0)))
      assert(r.getLong(3) == m)
    }
    assert(m > 0, "sf0.01 pair graph must be non-empty for this spec")
    val qNum = 4L * m * intra.values.toSeq.sum -
      deg.values.toSeq.map(d => d * d).sum
    assert(got.head.getLong(4) == qNum)
    assert(math.abs(got.head.getDouble(5) -
      qNum.toDouble / (4L * m * m).toDouble) < 1e-12)
  }

  test("q281 triangle census: matches brute-force wedge/triangle counts") {
    val t = sf001
    val pairSet = Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val deg = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    pairSet.foreach { case (a, b) => deg(a) += 1L; deg(b) += 1L }
    val wedges = deg.values.toSeq.map(d => d * (d - 1L) / 2L).sum
    val verts = deg.keys.toSeq.sorted
    val tris = pairSet.toSeq.map { case (a, b) =>
      verts.count(c => c > b && pairSet((b, c)) && pairSet((a, c))).toLong
    }.sum
    val r = Dedup.qTriangleCensus(t).collect().head
    assert(r.getLong(0) == pairSet.size.toLong)
    assert(r.getLong(1) == wedges)
    assert(r.getLong(2) == tris)
    if (wedges > 0)
      assert(math.abs(r.getDouble(3) - 3.0 * tris / wedges.toDouble) < 1e-12)
  }

  test("q283 retention: overlap bounded by lengths and exact on every pair") {
    val t = sf001
    val got = Dedup.qPairRetention(t).collect()
    assert(got.nonEmpty)
    val texts = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def cnt(s: String): Map[String, Long] =
      s.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty)
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    got.foreach { r =>
      val ca = cnt(texts(r.getLong(0))); val cb = cnt(texts(r.getLong(1)))
      val ov = ca.toSeq.map { case (k, c) => math.min(c, cb.getOrElse(k, 0L)) }.sum
      assert(r.getLong(2) == ca.values.toSeq.sum)
      assert(r.getLong(3) == cb.values.toSeq.sum)
      assert(r.getLong(4) == ov)
      assert(r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)))
      assert(math.abs(r.getDouble(5) - ov.toDouble / r.getLong(2).toDouble) < 1e-12)
    }
  }

  test("q291 assortativity: matches an in-memory integer Pearson recompute") {
    val t = sf001
    val pairs = Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    pairs.foreach { case (a, b) => deg(a) += 1L; deg(b) += 1L }
    val sym = pairs.flatMap { case (a, b) => Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val m2 = sym.length.toLong
    val sxy = sym.map { case (x, yy) => x * yy }.sum
    val sx = sym.map(_._1).sum
    val sxx = sym.map(x => x._1 * x._1).sum
    val r = Dedup.qDegreeAssortativity(t).collect().head
    assert(r.getLong(0) == m2); assert(r.getLong(1) == sxy)
    assert(r.getLong(2) == sx); assert(r.getLong(3) == sxx)
    assert(r.getLong(4) == m2 * sxy - sx * sx)
    assert(r.getLong(5) == m2 * sxx - sx * sx)
    if (m2 * sxx - sx * sx != 0L)
      assert(math.abs(r.getDouble(6) -
        (m2 * sxy - sx * sx).toDouble / (m2 * sxx - sx * sx).toDouble) < 1e-12)
  }

  test("q295 k-core: matches an in-memory peel and reaches the fixpoint") {
    val t = sf001
    val pairs = Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var alive = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    var edges = pairs.toSeq
    val removedAt = collection.mutable.Map[Long, Long]()
    for (r <- 1 to 8) {
      val deg = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (a, b) => deg(a) += 1L; deg(b) += 1L }
      val victims = alive.filter(deg(_) < 2L)
      victims.foreach(v => removedAt(v) = r.toLong)
      alive = alive -- victims
      edges = edges.filter { case (a, b) => alive(a) && alive(b) }
    }
    val finalDeg = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    edges.foreach { case (a, b) => finalDeg(a) += 1L; finalDeg(b) += 1L }
    val rows = Dedup.qKCore(t).collect()
    assert(rows.length == pairs.flatMap(p => Seq(p._1, p._2)).distinct.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (alive(id)) {
        assert(r.isNullAt(1)); assert(r.getLong(2) == finalDeg(id))
        assert(r.getBoolean(3))
      } else {
        assert(r.getLong(1) == removedAt(id)); assert(r.isNullAt(2))
        assert(!r.getBoolean(3))
      }
      // the fixpoint must be reached within the unrolled rounds at test SFs
      assert(r.getBoolean(4))
    }
    // 2-core survivors genuinely have degree >= 2 in the surviving subgraph
    assert(alive.forall(finalDeg(_) >= 2L))
  }

  test("q302 k-truss: matches an in-memory edge peel and reaches the fixpoint") {
    val t = sf001
    var edges = Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val all = edges
    def support(es: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
      es.foreach { case (a, b) => adj(a) += b; adj(b) += a }
      es.map(e => e -> (adj(e._1) & adj(e._2)).size.toLong).toMap
    }
    val removedAt = collection.mutable.Map[(Long, Long), Long]()
    for (r <- 1 to 4) {
      val sup = support(edges)
      val vic = edges.filter(sup(_) < 2L)
      vic.foreach(e => removedAt(e) = r.toLong)
      edges = edges.filterNot(sup(_) < 2L)
    }
    val supF = support(edges)
    val rows = Dedup.qKTruss(t).collect()
    assert(rows.length == all.length)
    rows.foreach { r =>
      val e = (r.getLong(0), r.getLong(1))
      if (removedAt.contains(e)) {
        assert(r.getLong(2) == removedAt(e)); assert(r.isNullAt(3))
        assert(!r.getBoolean(4))
      } else {
        assert(r.isNullAt(2)); assert(r.getLong(3) == supF(e))
        assert(r.getBoolean(4))
        assert(supF(e) >= 2L) // 4-truss invariant holds in the survivor graph
      }
      assert(r.getBoolean(5)) // fixpoint reached within the unrolled rounds
    }
  }

  test("q310 Bradley-Terry: matches an in-memory MM recompute") {
    val t = sf001
    def roundMicro(x: Double): Double = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)) / 1000000.0
    }
    val meta = t.documents.select("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val wmap = collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect().foreach { r =>
      val (sa, ca) = meta(r.getLong(0)); val (sb, cb) = meta(r.getLong(1))
      if (sa != sb && ca != cb) {
        val k = if (ca > cb) (sa, sb) else (sb, sa)
        wmap(k) += 1L
      }
    }
    val srcs = wmap.keySet.flatMap(k => Seq(k._1, k._2)).toSeq.sorted
    def g(i: String, j: String) = wmap((i, j)) + wmap((j, i))
    val wins = srcs.map(i => i -> srcs.filter(_ != i).map(j => wmap((i, j))).sum).toMap
    var pi = srcs.map(_ -> 1.0).toMap
    for (_ <- 1 to 8) {
      pi = srcs.map { i =>
        val d = srcs.filter(j => j != i && g(i, j) > 0L).map { j =>
          math.floor(g(i, j).toDouble / (pi(i) + pi(j)) * 1000000.0 + 0.5).toLong
        }.sum
        i -> (if (d == 0L) pi(i)
              else roundMicro((wins(i) * 1000000L).toDouble / d.toDouble))
      }.toMap
    }
    val got = Dedup.qBradleyTerry(t).collect()
    assert(got.map(_.getString(0)).toSeq == srcs)
    val rankOf = srcs.map(i => (i, pi(i))).sortBy { case (i, p) => (-p, i) }
      .zipWithIndex.map { case ((i, _), k) => i -> (k + 1L) }.toMap
    got.foreach { r =>
      val i = r.getString(0)
      assert(r.getLong(1) == wins(i))
      assert(r.getLong(2) == srcs.filter(_ != i).map(j => g(i, j)).sum)
      assert(math.abs(r.getDouble(3) - pi(i)) < 1e-12)
      assert(r.getLong(4) == rankOf(i))
    }
    // strengths align with win rates: the top-ranked source is not winless
    assert(wins(rankOf.minBy(_._2)._1) > 0L)
  }

  test("q317 label propagation: matches an in-memory synchronous recompute") {
    val t = sf001
    def md5h(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4), 16)
    val pairs = Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val src = t.documents.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val adj = collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
    pairs.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    val labelOf = collection.mutable.Map[Long, (String, Long)]()
    nodes.filter(md5h(_) < 16384L).foreach(n => labelOf(n) = (src(n), 0L))
    for (r <- 1 to 8) {
      val newly = nodes.filterNot(labelOf.contains).flatMap { n =>
        val votes = adj(n).filter(labelOf.contains)
          .groupBy(nb => labelOf(nb)._1).map { case (l, xs) => (l, xs.length) }
        if (votes.isEmpty) None
        else Some(n -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1)
      }
      newly.foreach { case (n, l) => labelOf(n) = (l, r.toLong) }
    }
    val got = Dedup.qLabelPropagation(t).collect()
    assert(got.length == nodes.length)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == src(id))
      assert(r.getBoolean(2) == (md5h(id) < 16384L))
      labelOf.get(id) match {
        case Some((l, rd)) =>
          assert(r.getString(3) == l); assert(r.getLong(4) == rd)
          assert(r.getBoolean(5) == (l == src(id)))
        case None =>
          assert(r.isNullAt(3)); assert(r.isNullAt(4)); assert(r.isNullAt(5))
      }
    }
  }

  test("q320 HITS: matches an in-memory mutual-reinforcement recompute") {
    val t = sf001
    def roundMicro(x: Double): Double = {
      val m = x * 1000000.0
      (if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)) / 1000000.0
    }
    val meta = t.documents.select("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val wmap = collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    Dedup.qFuzzyPairs(t).select("id_a", "id_b").collect().foreach { r =>
      val (sa, ca) = meta(r.getLong(0)); val (sb, cb) = meta(r.getLong(1))
      if (sa != sb && ca != cb) {
        val k = if (ca > cb) (sa, sb) else (sb, sa)
        wmap(k) += 1L
      }
    }
    val edges = wmap.toSeq.map { case ((wn, ls), w) => (wn, ls, w) }
    val srcs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = srcs.map(_ -> 1.0).toMap
    var auth = srcs.map(_ -> 1.0).toMap
    for (_ <- 1 to 8) {
      val aM = srcs.map(i => i -> edges.filter(_._1 == i)
        .map(e => math.floor(e._3.toDouble * hub(e._2) * 1e6 + 0.5).toLong).sum).toMap
      val aT = aM.values.sum
      auth = srcs.map(i => i ->
        (if (aT == 0L) auth(i) else roundMicro(aM(i).toDouble / aT.toDouble))).toMap
      val hM = srcs.map(i => i -> edges.filter(_._2 == i)
        .map(e => math.floor(e._3.toDouble * auth(e._1) * 1e6 + 0.5).toLong).sum).toMap
      val hT = hM.values.sum
      hub = srcs.map(i => i ->
        (if (hT == 0L) hub(i) else roundMicro(hM(i).toDouble / hT.toDouble))).toMap
    }
    val got = Dedup.qHits(t).collect()
    assert(got.map(_.getString(0)).toSeq == srcs)
    val rankOf = srcs.map(i => (i, auth(i))).sortBy { case (i, a) => (-a, i) }
      .zipWithIndex.map { case ((i, _), k) => i -> (k + 1L) }.toMap
    got.foreach { r =>
      val i = r.getString(0)
      assert(math.abs(r.getDouble(1) - auth(i)) < 1e-12)
      assert(math.abs(r.getDouble(2) - hub(i)) < 1e-12)
      assert(r.getLong(3) == rankOf(i))
    }
    // normalization: scores sum to ~1 on each axis
    assert(math.abs(got.map(_.getDouble(1)).sum - 1.0) < 1e-3)
    assert(math.abs(got.map(_.getDouble(2)).sum - 1.0) < 1e-3)
  }
}
