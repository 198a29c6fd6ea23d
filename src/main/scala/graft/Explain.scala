package graft
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Plan-dump tool for the optimization rounds: writes each named query's
  * `.explain("formatted")` output to `<outDir>/<name>.txt` so plan-shape
  * claims (Exchange count, join strategy, PushedFilters/ReadSchema) can be
  * reviewed without running Spark. Dev tooling only — not a query surface.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
          System.err.println(s"[explain] $name ok (${txt.length} chars)")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
