package graft

import graft.ops.Pipeline
import graft.sources.Webhose

class PipelineSpec extends SparkSpec {

  private lazy val fixture =
    getClass.getResource("/webhose.json").getPath

  test("webhose source projects P1: dense ids, nested title, trimmed text") {
    val df = Webhose.read(spark, fixture)
    val rows = df.collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    assert(rows.head.getString(1).startsWith("Global markets rally"))
    assert(!rows.exists(r => r.getString(2) != r.getString(2).trim))
  }

  test("full 3.1 pipeline: dedup drops the near-dup title, clusters partition, summaries extractive") {
    val articles = Webhose.read(spark, fixture)
    val out = Pipeline.newsPipeline(articles, kmeansMaxIter = 20).collect()

    // dedup: the 10 fixture posts contain 1 near-dup title pair → 9 kept
    val totalClustered = out.map(_.getLong(1)).sum
    assert(totalClustered == 9, s"expected 9 surviving articles, got $totalClustered")

    // clusters partition the kept set: k = ceil(9/4) = 3 clusters, all non-empty
    assert(out.length >= 2)
    assert(out.forall(_.getLong(1) > 0))

    // extractive invariant: each best_sentence is a sentence OF a member
    // text (substring), each best_title IS a member title
    val titles = articles.select("title").collect().map(_.getString(0)).toSet
    val texts = articles.select("text").collect().map(_.getString(0))
    out.foreach { r =>
      assert(titles.contains(r.getString(2)), s"title not extractive: ${r.getString(2)}")
      assert(texts.exists(_.contains(r.getString(3))), s"sentence not extractive: ${r.getString(3)}")
    }
  }

  test("flagship documents pipeline produces clustered summaries") {
    val out = Pipeline.qNewsPipeline(sf0001).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(1) > 0))
    // every input article accounted for exactly once across clusters
    assert(out.map(_.getLong(1)).sum <= 200)
  }

  test("q226 gate: stage conservation ties out against the standalone faces") {
    val t = sf0001
    val rows = Pipeline.qNewsPipelineGate(t).collect()
    assert(rows.nonEmpty)
    val nDocs = t.documents.count()
    val nKept = rows.head.getLong(2)
    val nClustered = rows.head.getLong(3)
    // stage-1 conservation: survivors = the q37 component count
    val nComponents = graft.ops.Dedup.qDedupComponents(t).count()
    assert(nKept == nComponents, "dedup survivors must equal q37's components")
    assert(nKept <= nDocs && nClustered <= nKept)
    // stage-2 conservation: members partition the clustered population
    assert(rows.map(_.getLong(1)).sum == nClustered)
    assert(rows.forall(r => r.getLong(2) == nKept && r.getLong(3) == nClustered),
      "conservation columns must be constant across rows")
    // stage-3: each winner is a member of its own cluster (scores in (0,1])
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
    // winners are kept docs (dedup survivors), hence valid doc ids
    val keptIds = graft.ops.Dedup.qDedupComponents(t)
      .select("keep_id").collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(keptIds.contains(r.getLong(4)),
      s"winner ${r.getLong(4)} is not a dedup survivor"))
  }
}
