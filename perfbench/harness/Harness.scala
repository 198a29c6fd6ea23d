package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed unit of work: a corpus, a request or a query execution. */
final class ItemRec(val label: String, val dueNs: Long) {
  @volatile var startNs = 0L
  @volatile var constructNs = 0L
  @volatile var endNs = 0L
  @volatile var enqueueNs = 0L
  @volatile var ok = false
  @volatile var err = ""
  @volatile var n = 0L
}

/** What a workload hands back from its timed loop. */
final case class Timed(items: Seq[ItemRec], windowNs: Long,
    layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Work that makes a fresh session ready for timing (warm items, caches). */
  def setup(spark: SparkSession): Unit
  /** The timed loop; measures for about `seconds` seconds. */
  def run(spark: SparkSession, seconds: Double, traced: Boolean): Timed
  /** Extra work of a traced run, after the timed loop (not timed), so that
    * the timed loop runs in the same state as in an untraced run. */
  def tracedAfter(spark: SparkSession): Unit = ()
  /** Per-layer figures owned by the workload (read after `run`). */
  def setupLayers: Map[String, Double] = Map.empty
  /** Extra result fields, as raw JSON members. */
  def extraJson: Seq[(String, String)] = Seq.empty
}

/** Benchmark driver: sets a workload up in a fresh SparkSession, times it
  * once, and writes the raw per-item record (plus per-layer metrics and
  * spans when traced) as JSON.
  *
  * Usage: Harness <workload> <inputsDir> <outDir> <seconds> <trace 0|1> <cores> */
object Harness {

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs `f` under a job group, so the listener can tell items and phases
    * apart. `module` names the library module the item exercises: jobs whose
    * call site holds no library frame (the harness's own actions) go to it. */
  def inGroup[A](spark: SparkSession, group: String, module: String = "other")(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    sc.setLocalProperty(LayerListener.ModuleProperty, module)
    try f finally {
      sc.clearJobGroup()
      sc.setLocalProperty(LayerListener.ModuleProperty, null)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(name, inputs, outDir, secondsArg, traceArg, coresArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    new File(outDir).mkdirs()
    val workload: Workload = name match {
      case "search_serving" => new SearchServing(inputs, cores)
      case "query_suite" => new QuerySuite(inputs, outDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, outDir)
    val listener = new LayerListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    inGroup(spark, "pb-setup")(workload.setup(spark))
    // set-up pays JVM start too, as a user's first request would
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val timed = workload.run(spark, seconds, traced)
    if (traced) inGroup(spark, "pb-setup")(workload.tracedAfter(spark))
    val layers = if (traced) {
      // let the listener bus catch up with the last job ends
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (listener.openJobs > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      Layers.compute(listener, timed, cores) ++ workload.setupLayers ++ timed.layers
    } else Map.empty[String, Double]
    if (traced) Spans.write(s"$outDir/trace.jsonl", name, listener, timed)
    spark.stop()

    val j = Json
    val items = timed.items.map { r =>
      j.obj(Seq(
        "label" -> j.str(r.label),
        "latency_s" -> j.num((r.endNs - r.dueNs) / 1e9),
        "wall_s" -> j.num((r.endNs - r.startNs) / 1e9),
        "construct_s" -> j.num((r.constructNs - r.startNs) / 1e9),
        "action_s" -> j.num((r.endNs - r.constructNs) / 1e9),
        "queue_wait_s" -> j.num((r.startNs - r.dueNs) / 1e9),
        "gen_lag_s" -> j.num((r.enqueueNs - r.dueNs).max(0L) / 1e9),
        "n" -> r.n.toString,
        "ok" -> r.ok.toString,
        "err" -> j.str(r.err)))
    }
    val out = j.obj(Seq(
      "workload" -> j.str(name),
      "setup_s" -> j.num(setupS),
      "window_s" -> j.num(timed.windowNs / 1e9),
      "cores" -> cores.toString,
      "rss_peak_mb" -> j.num(Proc.peakRssMb),
      "items" -> items.mkString("[", ",\n", "]"),
      "layers" -> j.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> j.num(v) })
    ) ++ workload.extraJson)
    Files.write(Paths.get(s"$outDir/result.json"), out.getBytes(UTF_8))
  }
}

object Proc {
  /** Process peak resident set size (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Tab-separated input files written by the generators. */
object Tsv {
  def read(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))
}

/** Per-layer metrics over the timed items' jobs. */
object Layers {
  def compute(l: LayerListener, t: Timed, cores: Int): Map[String, Double] = {
    val n = math.max(1, t.items.size).toDouble
    val timedJobs = l.jobs.values.asScala.filter(_.group.startsWith("pb-t")).toSeq
    val timedIds = timedJobs.map(_.id).toSet
    val stages = l.stageEntries.filter { case (_, j, _) => timedIds.contains(j) }
    val jobModule = timedJobs.map(j => j.id -> j.module).toMap
    def jobS(js: Seq[LayerListener#JobRec]): Double =
      js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3
    def stageSum(ss: Seq[(Int, Int, LayerListener#StageAgg)])(f: LayerListener#StageAgg => Long): Long =
      ss.map(s => s._3.synchronized(f(s._3))).sum
    val perModule = LayerListener.Modules.flatMap { m =>
      val js = timedJobs.filter(_.module == m)
      val ss = stages.filter { case (_, j, _) => jobModule(j) == m }
      Seq(s"$m.jobs" -> js.size / n, s"$m.job_s" -> jobS(js) / n,
        s"$m.task_s" -> stageSum(ss)(_.runMs) / 1e3 / n)
    }
    val items = t.items
    val runMs = stageSum(stages)(_.runMs)
    val window = math.max(t.windowNs / 1e9, 1e-9)
    Map(
      "item.construct_s" -> items.map(r => (r.constructNs - r.startNs) / 1e9).sum / n,
      "item.action_s" -> items.map(r => (r.endNs - r.constructNs) / 1e9).sum / n,
      "item.construct_jobs" -> timedJobs.count(_.group.endsWith("-c")) / n,
      "item.action_jobs" -> timedJobs.count(_.group.endsWith("-a")) / n,
      "Tables.schema_jobs" -> timedJobs.count(j =>
        j.module == "Tables" && j.firstStageName.startsWith("parquet at")) / n,
      "spark.jobs" -> timedJobs.size / n,
      "spark.tasks" -> stageSum(stages)(_.tasks) / n,
      "spark.task_s" -> runMs / 1e3 / n,
      "spark.busy_frac" -> runMs / 1e3 / (window * cores),
      "spark.task_wait_s" -> stageSum(stages)(_.waitMs) / 1e3 / n,
      "spark.shuffle_read_bytes" -> stageSum(stages)(_.shuffleRead) / n,
      "spark.shuffle_write_bytes" -> stageSum(stages)(_.shuffleWrite) / n,
      "spark.spill_bytes" -> stageSum(stages)(_.spill) / n,
      "spark.gc_s" -> stageSum(stages)(_.gcMs) / 1e3 / n,
      "spark.failed_tasks" -> stageSum(stages)(_.failedTasks).toDouble
    ) ++ perModule
  }
}

/** Spans (workload → item → construct/action → job → stage), written once
  * at the end of a traced run as JSON lines. */
object Spans {
  def write(path: String, workload: String, l: LayerListener, t: Timed): Unit = {
    val j = Json
    val lines = mutable.ArrayBuffer.empty[String]
    val nsToMs = (ns: Long) => ns / 1e6
    def span(id: String, parent: String, kind: String, start: Double, end: Double,
        extra: (String, String)*): String =
      j.obj(Seq("id" -> j.str(id), "parent" -> j.str(parent), "kind" -> j.str(kind),
        "start_ms" -> j.num(start), "end_ms" -> j.num(end)) ++ extra)
    // item spans use the monotonic clock; job/stage spans use wall-clock ms
    val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    lines += span(workload, "", "workload",
      t.items.map(r => nsToMs(r.dueNs)).minOption.getOrElse(0.0) + wallOffsetMs,
      t.items.map(r => nsToMs(r.endNs)).maxOption.getOrElse(0.0) + wallOffsetMs)
    t.items.foreach { r =>
      val id = s"pb-${r.label}"
      lines += span(id, workload, "item", nsToMs(r.dueNs) + wallOffsetMs, nsToMs(r.endNs) + wallOffsetMs,
        "ok" -> r.ok.toString)
      lines += span(s"$id-c", id, "construct", nsToMs(r.startNs) + wallOffsetMs, nsToMs(r.constructNs) + wallOffsetMs)
      lines += span(s"$id-a", id, "action", nsToMs(r.constructNs) + wallOffsetMs, nsToMs(r.endNs) + wallOffsetMs)
    }
    l.jobs.values.asScala.toSeq.sortBy(_.id).foreach { jr =>
      lines += span(s"job-${jr.id}", jr.group, "job", jr.startMs.toDouble, jr.endMs.toDouble,
        "module" -> j.str(jr.module))
    }
    l.stageEntries.sortBy(_._1).foreach { case (s, job, a) =>
      a.synchronized {
        lines += span(s"stage-$s", s"job-$job", "stage", a.submitMs.toDouble, a.endMs.toDouble,
          "name" -> j.str(a.name), "tasks" -> a.tasks.toString)
      }
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Sleeps until a monotonic deadline. */
object Clock {
  def sleepUntil(ns: Long): Unit = {
    var left = ns - System.nanoTime()
    while (left > 0) {
      TimeUnit.NANOSECONDS.sleep(left)
      left = ns - System.nanoTime()
    }
  }
}
