package graft

import graft.streaming.Events
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  /** events.parquet under readStream: schema from the BATCH footer (never
    * hand-rolled — a hard-coded LongType ts silently double-divided after
    * the Spark 4.1.2 type shift, VERDICT r7) + the shared ts dispatch
    * Tables.events uses. readStream needs a directory, so the single
    * parquet file is symlinked into a temp dir. */
  private def streamEvents(sfDir: String) = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("events-stream")
    val file = s"$sfDir/events.parquet"
    Events.linkParquetInto(dir, file)
    val schema = spark.read.parquet(file).schema
    Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir.toString))
  }

  test("stream-source ts equals the batch read (time-unit corruption guard)") {
    // q74/q101-class bugs hide behind ts-invariant aggregates: a wrong time
    // unit leaves counts intact. Pin the normalized stream timeline to the
    // batch one directly — min AND max, so both scale and offset errors trip.
    val q = streamEvents("/root/testdata/sf0.001")
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ts_sanity_out").start()
    try {
      q.processAllAvailable()
      val s = spark.table("ts_sanity_out").collect().head
      val b = sf0001.events.agg(min(col("ts")), max(col("ts"))).head()
      assert(s.getTimestamp(0) == b.getTimestamp(0) &&
        s.getTimestamp(1) == b.getTimestamp(1),
        s"stream=(${s.getTimestamp(0)}, ${s.getTimestamp(1)}) " +
          s"batch=(${b.getTimestamp(0)}, ${b.getTimestamp(1)})")
    } finally q.stop()
  }

  test("streaming tumbling agg equals the batch plan (same expressions)") {
    val batch = Events.tumbling(sf0001.events)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    val q = Events.tumblingWithWatermark(streamEvents("/root/testdata/sf0.001"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming dedup within watermark emits each event once") {
    val q = Events.dedupStream(streamEvents("/root/testdata/sf0.001"))
      .select("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0))
      assert(ids.length == sf0001.events.count())
      assert(ids.distinct.length == ids.length)
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user totals across the stream") {
    val q = Events.runningUserTotals(streamEvents("/root/testdata/sf0.001"))
      .writeStream.outputMode("append")
      .format("memory").queryName("fmgs_out").start()
    try {
      q.processAllAvailable()
      val out = spark.table("fmgs_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // the final update per user carries the complete count
      val finalCounts = out.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).max }
      val batch = sf0001.events.groupBy("user_id").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(finalCounts == batch,
        s"diff=${(finalCounts.toSet -- batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("qStreamState (gate entry) returns the final per-user state, batch-equal") {
    val got = Events.qStreamState(sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = sf0001.events.groupBy("user_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == batch, s"diff=${(got.toSet -- batch.toSet).take(3)}")
    // the memory-sink view must not leak into the session namespace
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_state_")))
  }

  test("watermarked stream-stream range join equals the batch range join") {
    val ev = streamEvents("/root/testdata/sf0.001")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.ops.AsOf.qRangeJoin(sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming agg resumes from checkpoint exactly-once across restarts") {
    import java.nio.file.{Files, StandardCopyOption}
    val t = sf0001
    val inDir = Files.createTempDirectory("resume-in")
    val ckpt = Files.createTempDirectory("resume-ckpt")
    val stage = Files.createTempDirectory("resume-stage")
    try {
      // two halves of events written as two single-file parquet drops
      // (ts already micros here — no nanos handling needed on re-read)
      val ev = t.events.select(col("event_type"), col("value"), col("event_id"))
      def writeHalf(dfFilter: org.apache.spark.sql.Column, name: String): java.nio.file.Path = {
        val out = stage.resolve(name + "-dir")
        ev.filter(dfFilter).coalesce(1).write.parquet(out.toString)
        val part = Files.list(out).filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        part
      }
      val f1 = writeHalf(col("event_id") % 2 === 0, "h1")
      val f2 = writeHalf(col("event_id") % 2 =!= 0, "h2")
      val schema = spark.read.parquet(f1.toString).schema

      def runOnce(qn: String): org.apache.spark.sql.DataFrame = {
        val q = spark.readStream.schema(schema).parquet(inDir.toString)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(qn)
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(qn)
      }

      Files.copy(f1, inDir.resolve("batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val afterRun1 = runOnce("resume_run1").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactH1 = ev.filter(col("event_id") % 2 === 0)
        .groupBy(col("event_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(afterRun1 == exactH1, "first run must aggregate exactly the first drop")

      // second drop lands; a NEW query restarts from the SAME checkpoint
      Files.copy(f2, inDir.resolve("batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val afterRun2 = runOnce("resume_run2").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactAll = ev.groupBy(col("event_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // restart recovered the state store AND processed only the new file:
      // double-counting batch1 would overshoot exactAll
      assert(afterRun2 == exactAll,
        s"resume must be exactly-once: got $afterRun2 expected $exactAll")
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
      rm(inDir); rm(ckpt); rm(stage)
    }
  }

  test("batch session windows match hand-computed islands on a tiny input") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(60), 3.0), // user 1: 2 sessions
      (2L, ts(5), 4.0)) // user 2: 1 session
      .toDF("user_id", "ts", "value")
    val got = Events.sessions(df).select("user_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("q187 streaming dedup: surviving key set equals the batch distinct; dedup is effective") {
    val t = sf0001
    val got = Events.qStreamDedup(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = t.events
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("m"))
      .distinct().groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), countDistinct(col("user_id")).as("u"),
        countDistinct(col("m")).as("mm"))
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"stream $got vs batch $want")
    // the key actually collapses something somewhere, or the test is vacuous
    val events = t.events.count()
    assert(got.map(_._2).sum <= events)
    assert(got.nonEmpty)
  }

  test("q321 streaming train gate equals the batch chain (quality→dedup→pack)") {
    import org.apache.spark.sql.expressions.Window
    val t = sf0001
    val got = graft.streaming.TrainGate.qStreamTrainGate(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // independent batch recompute of the identical chain (no decontamination)
    val toksCol = graft.functions.text.tokenize(col("text"))
    val quality = t.documents.select(col("doc_id"), col("text"),
        size(toksCol).cast("long").as("n_tokens"),
        length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
          .cast("long").as("n_tok_chars"),
        size(filter(toksCol, tk =>
          tk.isInCollection(graft.functions.text.stopwords)))
          .cast("long").as("n_stop"),
        size(array_distinct(toksCol)).cast("long").as("n_distinct"))
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 80 &&
        col("n_tok_chars") >= col("n_tokens") * 4 &&
        col("n_tok_chars") <= col("n_tokens") * 5 &&
        col("n_stop") * 20 >= col("n_tokens") &&
        col("n_distinct") * 2 >= col("n_tokens"))
    val deduped = quality
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val want = deduped
      .withColumn("shard", expr("doc_id div 1000"))
      .withColumn("start_tok", sum(col("n_tokens")).over(
        Window.partitionBy(col("shard")).orderBy(col("doc_id"))) - col("n_tokens"))
      .withColumn("seq_id", expr("start_tok div 256"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("shard"), col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"stream ${got.take(5)}… vs batch ${want.take(5)}…")
    // non-vacuous: the gate dropped something and packed something
    assert(got.nonEmpty && got.map(_._3).sum < t.documents.count())
  }
}
