package graft

import java.util.concurrent.atomic.AtomicInteger

/** The session-structure registry: get-or-build semantics, prewarm/consumer
  * key agreement, and release when the session stops. The release test
  * stops the spec session, so it runs last and ends by starting a new one. */
class SharedSpec extends SparkSpec {

  test("a repeated name returns the same instance and builds once") {
    val builds = new AtomicInteger()
    def get() = Shared(sf0001, "shared_spec_frame") {
      builds.incrementAndGet(); spark.range(3).toDF("id")
    }
    val first = get()
    assert(get() eq first)
    assert(builds.get == 1)
    assert(Shared.names(sf0001).contains("shared_spec_frame"))
  }

  test("a different sfDir gets its own entry") {
    val builds = new AtomicInteger()
    def get(t: Tables) = Shared(t, "shared_spec_scoped") {
      builds.incrementAndGet(); new Object
    }
    val a = get(sf0001)
    val b = get(sf001)
    assert(a ne b)
    assert(builds.get == 2)
    assert(get(sf0001) eq a)
    assert(get(sf001) eq b)
    assert(builds.get == 2)
  }

  test("after prewarm, one consumer per shared structure adds no entry") {
    val t = sf0001
    val prewarmed = Shared.prewarm(t).map(_._1)
    assert(prewarmed.size == 17)
    val before = Shared.names(t)
    // one reader of each prewarmed structure (q56/q137 also read exact_topk)
    Seq("q131_simhash_gate", "q226_news_pipeline_gate", "q188_calibration",
      "q144_budget_select", "q111_pmi_collocations", "q152_bigram_lm",
      "q211_domain_xent", "q244_bpe_trainer", "q260_dawid_skene",
      "q56_knn_ivf", "q137_knn_pq", "q313_dbscan", "q134_semdedup",
      "q324_suffix_array").foreach { q =>
      SparkEntry.queries(q)(spark, t.sfDir).write.format("noop").mode("overwrite").save()
      val added = Shared.names(t) -- before
      assert(added.isEmpty, s"$q added $added")
    }
  }

  test("stopping the session releases its entries and tags") {
    val old = spark
    Shared(sf0001, "shared_spec_release")(old.range(5).toDF("id").localCheckpoint())
    Shared.sessionTag(old)
    assert(Shared.holds(old))
    old.stop()
    assert(!Shared.holds(old))
    // later suites in this JVM get a working session
    val next = SparkSpec.session()
    assert(next ne old)
    assert(next.range(4).count() == 4)
    val rebuilt = Shared(Tables(next, sf0001.sfDir), "shared_spec_release")(next.range(2).toDF("id"))
    assert(rebuilt.count() == 2)
  }
}
