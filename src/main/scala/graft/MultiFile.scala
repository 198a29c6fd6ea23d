package graft

/** Dev tool (VERDICT r12 item 5): rewrite a scale-factor directory as a
  * realistic MULTI-FILE parquet layout — `runMain graft.MultiFile
  * <srcSfDir> <dstDir> [filesPerBigTable]` — so the bench's scan
  * parallelism is honest instead of layout-crippled (the driver testdata is
  * single-file/single-row-group parquet, unsplittable: every scan starts as
  * ONE task and Tables.fanout papers over it engine-wide). Big tables
  * (lineitem, orders, events, documents, embeddings, part, customer,
  * supplier) are round-robin split into `filesPerBigTable` part files
  * (default = 32, the bench core count — enough that Tables.fanout
  * becomes a no-op, see Tables.multiFileLayout); tiny dims stay one file.
  *
  * The rewrite is row-identical (round-robin repartition of unordered
  * inputs; every query orders its own output), so graft.Verify against a
  * MultiFile dir produces the same hashes — the oracle keeps reading the
  * original single files, the Spark side can read either. */
object MultiFile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MultiFile <srcSfDir> <dstDir> [filesPerBigTable]")
    val (src, dst) = (args(0), args(1))
    val files = if (args.length > 2) args(2).toInt else 32
    val spark = GraftSession.local()
    val big = Set("lineitem", "orders", "events", "documents", "embeddings",
      "part", "customer", "supplier")
    val all = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    all.foreach { name =>
      val df = spark.read.parquet(s"$src/$name.parquet")
      val n = if (big(name)) files else 1
      df.repartition(n).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[multifile] $name -> $n file(s)")
    }
    spark.stop()
  }
}
