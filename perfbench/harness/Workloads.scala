package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{SparkEntry, Tables}
import graft.functions.html
import graft.ops.{Clustering, Dedup, Layout, ServerFlow, Similarity, SuffixArray, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

object Items {
  /** Times one item: `construct` builds the DataFrame (and fires any jobs
    * that construction needs), `action` materializes it, `check` returns an
    * error message or "" for a correct result. */
  def timeItem(spark: SparkSession, rec: ItemRec, module: String)(construct: => DataFrame)(
      action: DataFrame => Array[Row])(check: Array[Row] => String): ItemRec = {
    rec.startNs = System.nanoTime()
    if (rec.enqueueNs == 0L) rec.enqueueNs = rec.startNs
    try {
      val df = Harness.inGroup(spark, s"pb-${rec.label}-c", module)(construct)
      rec.constructNs = System.nanoTime()
      val rows = Harness.inGroup(spark, s"pb-${rec.label}-a", module)(action(df))
      rec.endNs = System.nanoTime()
      rec.err = check(rows)
    } catch {
      case NonFatal(e) =>
        rec.endNs = System.nanoTime()
        if (rec.constructNs == 0L) rec.constructNs = rec.endNs
        rec.err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    rec.ok = rec.err.isEmpty
    rec
  }

  /** Times the driver-side greedy dedup (`Dedup.greedyFuzzyKeepIds`) on its
    * own, once per item's titles, and fails an item whose kept count differs
    * from the generator's. Reports mean seconds and mean comparison count
    * (each title against every title kept before it — the scan's upper bound). */
  def greedyLayers(runs: Seq[(Seq[(Long, String)], Long, ItemRec)]): Map[String, Double] = {
    val timed = runs.map { case (titles, expected, rec) =>
      val g0 = System.nanoTime()
      val keep = Dedup.greedyFuzzyKeepIds(titles)
      val greedyS = (System.nanoTime() - g0) / 1e9
      if (keep.size != expected && rec.ok) {
        rec.ok = false
        rec.err = s"greedyFuzzyKeepIds kept ${keep.size}, expected $expected"
      }
      val keepSet = keep.toSet
      var kept = 0L; var pairs = 0L
      titles.sortBy(_._1).foreach { case (id, _) => pairs += kept; if (keepSet(id)) kept += 1 }
      (greedyS, pairs)
    }
    val n = math.max(1, timed.size).toDouble
    Map("Dedup.greedy_s" -> timed.map(_._1).sum / n,
      "Dedup.greedy_pairs" -> timed.map(_._2).sum / n)
  }

  def window(items: Seq[ItemRec]): Long =
    if (items.isEmpty) 0L else items.map(_.endNs).max - items.map(_.dueNs).min
}

/** The `/search` server: seeded requests through `ServerFlow.searchPipeline`
  * on a fixed-rate schedule (open loop), at most `cores` in flight. */
final class SearchServing(inputs: String, cores: Int) extends Workload {
  import SearchServing.Req

  private val reqs: Seq[Req] = {
    def by(f: String) = Tsv.read(s"$inputs/$f").groupBy(_(0).toInt)
    val sections = by("sections.tsv"); val articles = by("articles.tsv")
    val pages = by("pages.tsv"); val expect = by("expect.tsv"); val scope = by("scope.tsv")
    Tsv.read(s"$inputs/requests.tsv").map { a =>
      val id = a(0).toInt
      def rows(m: Map[Int, Seq[Array[String]]]) = m.getOrElse(id, Seq.empty)
      Req(id, a(1).toDouble, a(2),
        rows(sections).map(s => (s(3), s(2).toInt, s(1).toInt)),
        rows(articles).map(s => (s(1).toLong, s(2), s(3), s(4), s(5).toInt)),
        rows(pages).map(s => s(1) -> s(2)).toMap,
        rows(expect).map(s => s(1).toInt -> (s(2), s(3).toInt)).toMap,
        rows(scope).map(_(1).toLong), a(3).toLong)
    }
  }

  private def one(spark: SparkSession, r: Req, rec: ItemRec): ItemRec = {
    import spark.implicits._
    rec.n = r.articles.size
    val pages = r.pages
    Items.timeItem(spark, rec, "ServerFlow")(
      ServerFlow.searchPipeline(r.sections.toDF("line", "toclevel", "pos"),
        r.articles.toDF("id", "title", "url", "source", "section_id"),
        r.title, html.redditSelectors, pages.get))(_.collect()) { rows =>
      val got = rows.map(x => x.getAs[Int]("section_id") ->
        (x.getAs[String]("line"), x.getAs[Int]("n_articles"))).toMap
      val extra = got.keySet -- r.expect.keySet
      if (extra.nonEmpty) s"sections ${extra.toSeq.sorted.mkString(",")} outside the top-10 survivors"
      else if (got.values.map(_._2).sum != r.expect.values.map(_._2).sum)
        s"sum(n_articles)=${got.values.map(_._2).sum}, expected ${r.expect.values.map(_._2).sum}"
      else if (got != r.expect) s"per-section (line, n_articles) differ: $got"
      else ""
    }
  }

  /** Sends each request at its due time (`dueS` less `offsetS` seconds
    * from now), at most `cores` in flight, and waits for all of them. */
  private def openLoop(spark: SparkSession, rs: Seq[Req], label: Int => String,
      offsetS: Double): Seq[ItemRec] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val t0 = System.nanoTime() + 20000000L
    val items = rs.zipWithIndex.map { case (r, i) =>
      val rec = new ItemRec(label(i), t0 + ((r.dueS - offsetS) * 1e9).toLong)
      Clock.sleepUntil(rec.dueNs)
      rec.enqueueNs = System.nanoTime()
      pool.submit(new Runnable { def run(): Unit = one(spark, r, rec) })
      rec
    }
    pool.shutdown()
    pool.awaitTermination(150, java.util.concurrent.TimeUnit.SECONDS)
    items
  }

  /** The warm requests run on the timed schedule's own rate, as a load test
    * warms up: latency falls over the first dozen or so requests after
    * session start, and the compiler keeps the headroom it has when timed. */
  def setup(spark: SparkSession): Unit = {
    val warm = reqs.filter(_.dueS < 0)
    if (warm.nonEmpty) openLoop(spark, warm, _ => "w", warm.map(_.dueS).min)
  }

  def run(spark: SparkSession, seconds: Double, traced: Boolean): Timed = {
    val timed = reqs.filter(_.dueS >= 0)
    val items = openLoop(spark, timed, i => s"t$i", 0.0)
    val n = math.max(1, items.size).toDouble
    val layers = if (!traced) Map.empty[String, Double] else Map(
      "search.queue_wait_s" -> items.map(r => (r.startNs - r.dueNs) / 1e9).sum / n,
      "search.gen_lag_s" -> items.map(r => (r.enqueueNs - r.dueNs).max(0L) / 1e9).sum / n) ++
      Items.greedyLayers(timed.zip(items).map { case (r, rec) =>
        val titles = r.articles.map(a => a._1 -> a._2).toMap
        (r.inScope.map(id => id -> titles(id)), r.kept, rec)
      })
    Timed(items, Items.window(items), layers)
  }
}

object SearchServing {
  final case class Req(id: Int, dueS: Double, title: String,
      sections: Seq[(String, Int, Int)],
      articles: Seq[(Long, String, String, String, Int)],
      pages: Map[String, String],
      expect: Map[Int, (String, Int)],
      inScope: Seq[Long], kept: Long)

}

/** The library surface: a module-stratified sample of `SparkEntry.queries`
  * timed the way `graft.Bench` times them — warm pass (which builds the
  * shared structures the sample reads), `clearCache`, then a fixed number of
  * noop-sink passes (`cycles.txt`). The warm pass writes each result to
  * parquet for the oracle check. A traced run also makes the five
  * `prewarmShared` calls after timing, to report each structure's build. */
final class QuerySuite(inputs: String, outDir: String) extends Workload {
  private val sample: Seq[(String, String)] = Tsv.read(s"$inputs/sample.txt").map(a => (a(0), a(1)))
  private val names: Seq[String] = sample.map(_._1)
  private val sfDir: String = Tsv.read(s"$inputs/sf.txt").head(0)
  private val cycles: Int = Tsv.read(s"$inputs/cycles.txt").head(0).toInt
  private val probeName = "q01_pricing_summary"
  private var layers = Map.empty[String, Double]
  private var warmFailed = Seq.empty[String]
  private val probes = mutable.ArrayBuffer.empty[Double]
  private val warmEach = mutable.LinkedHashMap.empty[String, Double]

  private def noop(df: DataFrame): Array[Row] = {
    df.write.format("noop").mode("overwrite").save()
    Array.empty
  }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def setup(spark: SparkSession): Unit = {
    val t = Tables(spark, sfDir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
      t.lineitem, t.events, t.documents, t.embeddings).foreach(_.count())
    val prepareS = timeS(Layout.prepare(t))
    val failed = mutable.ArrayBuffer.empty[String]
    val warmS = timeS(names.distinct.foreach { q =>
      warmEach(q) = timeS {
        try {
          SparkEntry.queries(q)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/warm/$q")
        } catch { case NonFatal(_) => failed += q }
      }
    })
    spark.catalog.clearCache()
    warmFailed = failed.toSeq
    layers = Map("Layout.prepare_s" -> prepareS, "warm_pass_s" -> warmS)
  }

  /** The five `prewarmShared` calls `graft.Bench` makes after its warm pass:
    * each shared session structure is built (or hit) once, timed per
    * structure. Made after the timed loop, so timing sees the same state as
    * an untraced run. */
  override def tracedAfter(spark: SparkSession): Unit = {
    val t = Tables(spark, sfDir)
    val shared = Dedup.prewarmShared(t) ++ TextAnalysis.prewarmShared(t) ++
      Similarity.prewarmShared(t) ++ Clustering.prewarmShared(t) ++
      SuffixArray.prewarmShared(t)
    val cachedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble
    layers ++= Map("shared.cached_bytes" -> cachedBytes) ++
      shared.map { case (k, v) => s"shared.$k.build_s" -> v }
  }

  override def setupLayers: Map[String, Double] = layers

  /** `seconds` is already in the pass count the generator chose (cycles.txt). */
  def run(spark: SparkSession, seconds: Double, traced: Boolean): Timed = {
    def probe(): Unit = probes += timeS(Harness.inGroup(spark, "pb-probe") {
      try noop(SparkEntry.queries(probeName)(spark, sfDir)) catch { case NonFatal(_) => }
    })
    probe()
    val items = mutable.ArrayBuffer.empty[ItemRec]
    var probeNs = 0L
    val t0 = System.nanoTime()
    def elapsed = System.nanoTime() - t0 - probeNs
    for (_ <- 1 to cycles) {
      sample.foreach { case (q, module) =>
        val rec = new ItemRec(s"t${items.size}", System.nanoTime())
        rec.n = 1
        items += Items.timeItem(spark, rec, module)(SparkEntry.queries(q)(spark, sfDir))(noop)(_ => "")
        if (probes.size == 1 && items.size >= cycles * sample.size / 2) {
          val p0 = System.nanoTime(); probe(); probeNs += System.nanoTime() - p0
        }
      }
    }
    val windowNs = elapsed
    probe()
    val probeMedian = probes.sorted.apply(probes.size / 2)
    Timed(items.toSeq, windowNs, Map("probe_s" -> probeMedian))
  }

  override def extraJson: Seq[(String, String)] = Seq(
    "sample" -> names.map(Json.str).mkString("[", ",", "]"),
    "warm_failed" -> warmFailed.map(Json.str).mkString("[", ",", "]"),
    "warm_s" -> Json.obj(warmEach.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "probe_s" -> probes.map(Json.num).mkString("[", ",", "]"))
}
