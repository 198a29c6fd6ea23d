package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger scale factor from an existing testdata dir
  * (VERDICT r8 item 7 — a measured scaling data point for the suite's
  * 100 TB design arguments, since the driver ships sf0.1 as its largest).
  *
  * `runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf0.3 3` unions K
  * key-shifted copies of every table, preserving the driver layout exactly
  * (one single-row-group parquet FILE per table — so the fanout invariant
  * and the streaming symlink path behave identically at the new SF):
  *  - every key column (custkey/orderkey/partkey/suppkey/event_id/doc_id/
  *    vec_id/user_id) shifts by copy*100M, keeping FK joins consistent
  *    within each copy and ids globally unique;
  *  - tiny dims (region, nation) are copied as-is, like TPC-H;
  *  - document text: copy 0 is verbatim; copy i>0 gets a PER-(doc,copy)
  *    SEEDED WORD SHUFFLE (sort words by xxhash64(word, position, doc_id,
  *    copy)). Why this exact shape — both naive alternatives measurably
  *    distort the near-dup family, whose cost is ∝ candidate-pair count:
  *    (a) verbatim/suffixed copies plant K−1 near-dups per doc, so
  *    in-bucket pairs grow K² (measured: q34 12.7× at K=3) — no real
  *    corpus's duplication density grows with corpus size; (b) shared
  *    permutations are worse: sorted-word copies all start with the same
  *    common words and share vocabulary-driven shingles, colliding the
  *    whole copy into a handful of LSH/blocking buckets (measured: q34
  *    87×, q33 54×). A seeded shuffle keeps each copy-doc's token
  *    multiset (token counts, lengths, vocabulary — the text-analysis
  *    family sees honest 3× data) while randomizing adjacencies, so
  *    char-shingle similarity to the original, to other docs, and to the
  *    same doc's other copies all stay below threshold: candidate-pair
  *    density stays ~constant, the realistic scaling shape;
  *  - embeddings rotate by copy index (distinct vectors, identical norms);
  *  - events keep their timestamps: K× event density per window is the
  *    realistic scaling shape for a stream table.
  */
object ScaleUp {
  private val Offset = 100000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf0.3"
    val k = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    run(spark, src, dst, k)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // Write as a single parquet FILE named <name>.parquet (driver layout):
    // coalesce(1) into a temp dir, then move the lone part file into place.
    def writeFile(df: DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-scaleup-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      require(part.length == 1, s"$name: expected 1 part file, got ${part.length}")
      val out = java.nio.file.Paths.get(dst, s"$name.parquet")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.move(java.nio.file.Paths.get(part(0)), out,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      println(s"[scaleup] $name -> $out")
    }

    def shifted(df: DataFrame, keys: Seq[String])(extra: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map { i =>
        val base = keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Offset)))
        extra(base, i)
      }.reduce(_ unionByName _)

    def identityExtra(d: DataFrame, @annotation.unused i: Int): DataFrame = d

    writeFile(read("region"), "region")
    writeFile(read("nation"), "nation")
    writeFile(shifted(read("customer"), Seq("c_custkey"))(identityExtra), "customer")
    writeFile(shifted(read("supplier"), Seq("s_suppkey"))(identityExtra), "supplier")
    writeFile(shifted(read("part"), Seq("p_partkey"))(identityExtra), "part")
    writeFile(shifted(read("orders"), Seq("o_orderkey", "o_custkey"))(identityExtra), "orders")
    writeFile(shifted(read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))(identityExtra), "lineitem")
    writeFile(shifted(read("events"), Seq("event_id", "user_id"))(identityExtra), "events")
    writeFile(shifted(read("documents"), Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("text", expr(
        s"""concat_ws(' ', transform(
           |  array_sort(transform(split(text, ' '),
           |    (w, p) -> struct(xxhash64(w, p, doc_id, $i) AS h, w AS w))),
           |  s -> s.w))""".stripMargin))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    writeFile(shifted(read("embeddings"), Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        concat(slice(col("embedding"), lit(i + 1), size(col("embedding")) - lit(i)),
          slice(col("embedding"), lit(1), lit(i))))
    }, "embeddings")
  }
}
