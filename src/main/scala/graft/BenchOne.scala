package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time individual queries by name (same session config and
  * noop-sink methodology as Bench) — `runMain graft.BenchOne q64 q37`.
  * Each query runs REPS times (default 2; override SPARK_GRAFT_REPS) so
  * the second rep shows the warm figure the full bench approximates. Each
  * rep splits its wall time into construct (building the DataFrame, with
  * any jobs that fires) and action (the noop-sink write). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC") // parity with Bench/Verify (ADVICE r8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CLEARCACHE=1 reproduces the full bench's timed-pass
    // methodology exactly: plan/codegen warm but .cache()'d intermediates
    // dropped before each rep, so rep2+ pays its own caching work the way
    // the driver's post-clearCache timed loop does. Without it, rep2 keeps
    // caches hot and UNDERSTATES cache-heavy queries (q50/q115) vs BENCH_r*.
    val clearCache = sys.env.get("SPARK_GRAFT_CLEARCACHE").contains("1")
    val wanted = args.toSet
    // Bench's timed pass prewarms the shared session structures after its
    // one clearCache() (VERDICT r12 item 1) — mirror that here so rep
    // figures stay comparable to BENCH_r*.
    def prewarm(): Unit =
      try Shared.prewarm(Tables(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[benchone] prewarm FAILED: ${e.getMessage}") }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        (1 to reps).foreach { rep =>
          if (clearCache) { spark.catalog.clearCache(); prewarm() }
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          println(f"[benchone] $name rep$rep ${(t2 - t0) / 1e9}%.2f s" +
            f" (construct ${(t1 - t0) / 1e9}%.2f s, action ${(t2 - t1) / 1e9}%.2f s)")
        }
      }
    spark.stop()
  }
}
