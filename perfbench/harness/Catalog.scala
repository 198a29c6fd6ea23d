package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes every `SparkEntry.queries` name and every `SparkEntry.oracleSql`
  * program as JSON, for `perfbench/catalog.py`.
  *
  * Usage: Catalog <outFile> */
object Catalog {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted.map(Json.str).mkString("[", ",", "]")
    val oracle = Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) })
    Files.write(Paths.get(args(0)),
      Json.obj(Seq("names" -> names, "oracle" -> oracle)).getBytes(UTF_8))
  }
}
