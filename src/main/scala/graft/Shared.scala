package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The session-structure registry: one get-or-build map for every structure
  * that several queries read within one session and scale factor (fitted
  * indexes, trained weights, eagerly checkpointed frames).
  *
  * {{{
  * Shared(t, "quality_score")(qualityScoreFrame(t).localCheckpoint())
  * }}}
  *
  * An entry is keyed by (session, sfDir, name). The first call runs `build`
  * and stores its value; later calls return that value without running it.
  * Concurrent first calls may each build, and the first value stored wins.
  * The registry only stores values: each build closure does its own
  * `localCheckpoint()` and actions, so their jobs are charged to the module
  * that wrote the closure. Every build is deterministic, so a hit is
  * bit-identical to a rebuild.
  *
  * Entries and session tags are released when the session's SparkContext
  * stops (one listener per context). A checkpointed frame pins its session,
  * so without the release every stopped session would stay reachable. */
object Shared {

  private final case class Key(spark: SparkSession, sfDir: String, name: String)

  private val entries = TrieMap.empty[Key, Any]
  private val tags = new java.util.WeakHashMap[SparkSession, String]()
  private val tagCounter = new AtomicInteger()
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** The value named `name` for `t`'s session and sfDir, built by `build`
    * on first use. */
  def apply[A](t: Tables, name: String)(build: => A): A = {
    watch(t.spark.sparkContext)
    entries.getOrElseUpdate(Key(t.spark, t.sfDir, name), build).asInstanceOf[A]
  }

  /** A short tag unique to `spark` within this JVM (`s1`, `s2`, …), for
    * per-session names outside the registry. A restarted session gets a
    * fresh tag, and tags restart per JVM, so paths named from them are
    * overwritten by the next run rather than accumulating. */
  def sessionTag(spark: SparkSession): String = {
    watch(spark.sparkContext)
    tags.synchronized {
      var tag = tags.get(spark)
      if (tag == null) { tag = s"s${tagCounter.incrementAndGet()}"; tags.put(spark, tag) }
      tag
    }
  }

  /** `t`'s (session, sfDir) scope as an identifier- and path-safe name, for
    * resources written under a name (metastore tables, temp dirs). */
  def scopeTag(t: Tables): String =
    s"${sessionTag(t.spark)}_${t.sfDir}".replaceAll("[^A-Za-z0-9_]", "_")

  /** Runs `f` and returns `name` with its wall seconds. */
  def timed(name: String)(f: => Any): (String, Double) = {
    val t0 = System.nanoTime(); f; name -> ((System.nanoTime() - t0) / 1e9)
  }

  /** Builds (or hits) every shared structure a timed query reads, in a fixed
    * order, so no timed query pays another's build. Returns each
    * structure's seconds. */
  def prewarm(t: Tables): Seq[(String, Double)] =
    graft.ops.Dedup.prewarmShared(t) ++ graft.ops.TextAnalysis.prewarmShared(t) ++
      graft.ops.Similarity.prewarmShared(t) ++ graft.ops.Clustering.prewarmShared(t) ++
      graft.ops.SuffixArray.prewarmShared(t)

  /** Names of the entries held for `t`'s session and sfDir. */
  private[graft] def names(t: Tables): Set[String] =
    entries.keys.collect { case Key(s, d, n) if (s eq t.spark) && d == t.sfDir => n }.toSet

  /** True while the registry holds an entry or a tag for `spark`. */
  private[graft] def holds(spark: SparkSession): Boolean =
    entries.keys.exists(_.spark eq spark) || tags.synchronized(tags.containsKey(spark))

  private def watch(sc: SparkContext): Unit =
    if (watched.synchronized(watched.add(sc)))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = release(sc)
      })

  private def release(sc: SparkContext): Unit = {
    entries.keys.filter(_.spark.sparkContext eq sc).foreach(entries.remove)
    tags.synchronized(tags.keySet.removeIf(_.sparkContext eq sc))
  }
}
