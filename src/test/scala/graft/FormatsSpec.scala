package graft

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet (SURVEY S11 note): csv, json
  * and orc round-trips preserve the relational surface. */
class FormatsSpec extends SparkSpec {

  private lazy val nations = sf0001.nation

  private def roundTrip(fmt: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"fmt-$fmt").toString
    nations.write.mode("overwrite").format(fmt)
      .option("header", "true").save(dir)
    val back = spark.read.format(fmt)
      .option("header", "true").option("inferSchema", "true").load(dir)
    assert(back.count() == nations.count())
    val a = back.select(col("n_nationkey").cast("int"), col("n_name"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    val b = nations.select(col("n_nationkey"), col("n_name"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(a == b, s"$fmt round-trip mismatch")
  }

  test("csv round-trip")  { roundTrip("csv") }
  test("json round-trip") { roundTrip("json") }
  test("orc round-trip")  { roundTrip("orc") }

  test("schema evolution: mergeSchema unifies batches, old rows get nulls") {
    // a lake ingests drops whose schema widens over time; readers must see
    // the union schema with nulls for pre-widening batches
    val dir = java.nio.file.Files.createTempDirectory("fmt-evolve").toString
    nations.select(col("n_nationkey"), col("n_name"))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    nations.select(col("n_nationkey"), col("n_name"),
        lit("v2").as("ingest_tag"))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("n_nationkey", "n_name", "ingest_tag", "batch"))
    val n = nations.count()
    assert(merged.count() == 2 * n)
    assert(merged.filter(col("ingest_tag").isNull).count() == n)
    assert(merged.filter(col("ingest_tag") === "v2").count() == n)
  }

  test("corrupt-record quarantine: PERMISSIVE routes bad rows, count intact") {
    // ingest reality: a malformed line must not kill the job OR vanish
    // silently — PERMISSIVE parks it in the corrupt column for quarantine
    val dir = java.nio.file.Files.createTempDirectory("fmt-corrupt")
    val lines = Seq(
      """{"id": 1, "v": "ok"}""",
      """{"id": 2 "v": "missing comma"}""",
      """{"id": 3, "v": "ok"}""",
      """not json at all""")
    java.nio.file.Files.write(dir.resolve("data.json"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("_corrupt", StringType)))
    // Spark refuses filters touching ONLY the corrupt column on a raw file
    // scan (the intermediate row drops it); cache first — the documented
    // contract for quarantine splits
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir.toString)
      .cache()
    val good = parsed.filter(col("_corrupt").isNull)
    val quarantined = parsed.filter(col("_corrupt").isNotNull)
    assert(good.count() == 2)
    assert(quarantined.count() == 2)
    assert(good.select(sum(col("id"))).head().getLong(0) == 4L)
    // DROPMALFORMED is the lossy alternative — same parse, bad rows gone
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir.toString)
    assert(dropped.count() == 2)
  }
}
