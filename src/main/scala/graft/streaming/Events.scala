package graft.streaming

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream surface (SURVEY.md §2.10 T3/T4): tumbling / sliding /
  * session windows + event-time watermark dedup, written batch-first with
  * the SAME column expressions a `readStream` plan uses — StreamingSpec
  * runs the tumbling aggregation under Structured Streaming (memory sink)
  * and asserts batch ≡ streaming output.
  *
  * Scale shape: windowed group-bys shuffle on (window, key) — at 100 TB the
  * watermark bounds state, and pre-aggregation (partial agg before the
  * shuffle) keeps the exchange proportional to |windows × keys|, not
  * |events|.
  */
object Events {

  private def dsum2(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** qStreamJoin's parquet-sink output must OUTLIVE the call (the returned
    * DataFrame scans it lazily), so it can't be deleted in the `finally`
    * with the symlink/checkpoint. Instead each (session, sfDir) keeps one
    * live output dir: the next call deletes the previous run's dir (bench
    * reps don't accumulate), and a JVM shutdown hook sweeps the last one. */
  private[streaming] val liveStreamOuts =
    scala.collection.concurrent.TrieMap[String, java.nio.file.Path]()

  private[streaming] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      liveStreamOuts.values.foreach { p =>
        try deleteRecursively(p) catch { case _: Throwable => () }
      }))
  }

  /** Run `body` (a streaming job definition + start + awaitTermination)
    * with `spark.sql.shuffle.partitions` sized for the stream's INPUT,
    * restoring the session value after. Stateful streaming operators keep
    * one state store PER shuffle partition PER micro-batch (a
    * stream-stream join keeps four per side-pair), each paying provider
    * setup + a checkpoint commit every batch — with the session default
    * (= core count) a MB-scale input pays 32 state-store commits per
    * stateful operator per batch for zero parallelism gain (measured:
    * q101 8.1 s at 32 cores vs 2.9 s at 8 in the r13 driver sittings —
    * INVERSE core scaling). The count derives from input size (the
    * Tables.fanout split-estimate idiom), NOT from the core count:
    * ceil(inputBytes / 16 MB) clamped to [1, defaultParallelism] — the
    * 16 MB divisor leaves ~8× decompression headroom under the 128 MB
    * advisory partition size for zstd parquet. At 100 TB the clamp
    * saturates every core; at any scale the partition count never
    * changes stream RESULTS (keys hash to partitions; per-key stateful
    * semantics are partition-count-independent), so every oracle is
    * unaffected. The conf is captured by the query AT START and pinned
    * in its checkpoint, which is why the set/restore brackets the start
    * call; the post-stream batch read-back executes after restore, at
    * the session's normal width. */
  private[graft] def withStreamShufflePartitions[A](
      spark: org.apache.spark.sql.SparkSession, src: String)(body: => A): A = {
    val f = new java.io.File(src)
    val bytes =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      else f.length
    val perPart = 16L << 20
    val n = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      (bytes + perPart - 1) / perPart))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Symlink a parquet table — single file OR a graft.MultiFile directory
    * layout — into `dir` for a file-source stream. The file source lists
    * the given directory without recursing into symlinked subdirectories,
    * so a directory-layout table must have its PART FILES linked
    * individually. Returns the created links for cleanup. */
  private[graft] def linkParquetInto(dir: java.nio.file.Path,
      src: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Paths.get(src)
    if (java.nio.file.Files.isDirectory(s)) {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.list(s)
      try files.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .zipWithIndex.map { case (f, i) =>
          val l = dir.resolve(f"part-$i%05d.parquet")
          java.nio.file.Files.createSymbolicLink(l, f)
          l
        }.toSeq
      finally files.close()
    } else {
      val l = dir.resolve(s.getFileName)
      java.nio.file.Files.createSymbolicLink(l, s)
      Seq(l)
    }
  }

  /** Tumbling 10-minute windows per event type. */
  def tumbling(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  def qTumbling(t: Tables): DataFrame =
    tumbling(t.events).orderBy(col("window_start"), col("event_type"))

  val qTumblingSql: String =
    """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** Sliding windows: width 10 min, slide 5 min — every event lands in
    * exactly two windows (Spark's Expand does the ×2 fan-out map-side). */
  def sliding(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))

  def qSliding(t: Tables): DataFrame =
    sliding(t.events).orderBy(col("window_start"))

  val qSlidingSql: String =
    """SELECT window_start, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT value,
      |        unnest([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
      |                time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '5 minutes'])
      |          AS window_start
      |      FROM events)
      |GROUP BY window_start ORDER BY window_start""".stripMargin

  /** Session windows per user: 30-minute inactivity gap. Batch
    * session_window ≡ the gaps-and-islands SQL in the oracle; under
    * readStream the same expression is stateful with watermark eviction. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))

  def qSessions(t: Tables): DataFrame =
    sessions(t.events).orderBy(col("user_id"), col("session_start"))

  val qSessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked)
      |SELECT user_id, min(ts) AS session_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM numbered GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Event-time range filter (SURVEY T3 — the reference's "last two weeks"
    * source window, realtimeapi.py:30-37): relative to the corpus max
    * timestamp so it is deterministic. */
  def qRecentWindow(t: Tables): DataFrame = {
    val ev = t.events
    // scalar-first: the max is one tiny job; the main scan then filters on
    // a LITERAL, which (for a native column) reaches the scan as a pushed
    // predicate — strictly better at scale than the 1-row broadcast
    // nested-loop join the crossJoin(maxTs) formulation plans
    // empty-table guard: max(ts) is NULL on an empty events table and
    // lit(null) is untyped — "NULL - INTERVAL" is a type error, not an
    // empty result. Cast pins the literal's type either way.
    val mx = ev.agg(max(col("ts"))).head().getTimestamp(0)
    ev.filter(col("ts") >= lit(mx).cast("timestamp") - expr("INTERVAL 14 DAYS"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val qRecentWindowSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >=
      |  (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL '14 days'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Watermarked streaming transform used by StreamingSpec: identical
    * aggregation to `tumbling`, with an event-time watermark bounding
    * state. Works on both batch and streaming DataFrames. */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    tumbling(events.withWatermark("ts", "1 hour"))

  /** Streaming dedup by key within the watermark horizon — the streaming
    * form of exact dedup (north-star dedup at ingest time). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Q187: streaming ingest dedup under the driver gate — runs
    * `dropDuplicatesWithinWatermark` (previously a spec-only surface) as a
    * REAL Structured Streaming job: file-source stream, 1-hour event-time
    * watermark, state-store dedup on the (user_id, event_type, minute)
    * key, AvailableNow pass, parquet sink (executor-side — the survivor
    * set grows with SF, so no memory-sink/collect driver round-trip; the
    * qStreamJoin precedent). The gate aggregates survivors per event_type.
    *
    * Why this is hash-oracle-able: every duplicate of a minute-bucket key
    * carries an event time inside that minute, so all copies sit ≤60 s
    * apart — far inside the 1-hour delay — and the operator's contract
    * (dedup of duplicates arriving within the watermark delay of the
    * first) makes the surviving KEY SET exactly the batch distinct,
    * regardless of micro-batching. Which physical ROW survives per key is
    * arrival-order-dependent, so only key columns are projected out.
    *
    * Scale shape: this is ingest-time exact dedup (the q31 semantics as a
    * stream): state is bounded by the watermark horizon — keys older than
    * (max event time − 1 h − key width) are evicted each batch, so state
    * is O(keys/hour), not O(corpus). The sink aggregate is one shuffle of
    * the key set. */
  def qStreamDedup(t: Tables): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = t.spark
    val path = s"${t.sfDir}/events.parquet"
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
    val links = Events.linkParquetInto(dir, path)
    try {
      // batch-footer schema + shared ts dispatch (the VERDICT r7 contract)
      val schema = spark.read.parquet(path).schema
      val ev = Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(dir.toString))
      val survivors = ev
        .select(col("user_id"), col("event_type"),
          date_trunc("minute", col("ts")).as("minute_b"), col("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "minute_b")
        .select(col("user_id"), col("event_type"), col("minute_b"))
      val outDir = dir.resolve("out")
      withStreamShufflePartitions(spark, path) {
        val sq = survivors.writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
      }
      val liveKey = s"stream_dedup#${graft.Shared.sessionTag(spark)}#${t.sfDir}"
      liveStreamOuts.put(liveKey, dir).foreach(deleteRecursively)
      spark.read.schema(survivors.schema).parquet(outDir.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique_keys"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("minute_b")).as("n_minutes"))
        .orderBy(col("event_type"))
    } finally {
      links.foreach(java.nio.file.Files.deleteIfExists(_))
      deleteRecursively(dir.resolve("ckpt"))
    }
  }

  /** q187 oracle: the batch distinct — the streaming dedup's surviving
    * key set must equal it exactly. */
  val qStreamDedupSql: String =
    """WITH keys AS (
      |  SELECT DISTINCT user_id, event_type,
      |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute_b
      |  FROM events)
      |SELECT event_type, COUNT(*)::BIGINT AS n_unique_keys,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(DISTINCT minute_b) AS BIGINT) AS n_minutes
      |FROM keys GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Custom per-key state via flatMapGroupsWithState (SURVEY T4): running
    * per-user event count + value total, emitting one update per user per
    * micro-batch. The arbitrary-state surface for logic windows can't
    * express. Works only under streaming (batch path = groupBy in
    * qRecentWindow etc.). */
  def runningUserTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // State accumulates EXACT long cents (values are positive money-like
    // doubles; Math.round(v*100) ≡ DuckDB round(value*100)::BIGINT for
    // positive inputs on the same IEEE product) — so the final total is
    // order-independent and the q74 gate entry can be hash-ORACLED against
    // a batch SQL aggregate, not just rows-counted.
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) => {
          val (n0, c0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var cents = c0
          rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
          state.update((n, cents))
          Iterator.single((userId, n, cents.toDouble / 100.0))
        })
      .toDF("user_id", "n_events", "total_value")
  }

  /** The arbitrary-state surface under the driver gate (rows-only; VERDICT
    * r2 missing-item 5): runs runningUserTotals as a REAL Structured
    * Streaming job — file-source stream over the events parquet, one
    * AvailableNow pass, memory sink — and returns the final per-user state
    * as a batch DataFrame. The memory-sink view is dropped before
    * returning (no session-namespace residue); its contents are bounded by
    * |users|, not |events|, so the handoff is small by construction. */
  def qStreamState(t: Tables): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = t.spark
    val path = s"${t.sfDir}/events.parquet"
    // the file source streams DIRECTORIES: symlink the single parquet file
    // into a temp dir (same move as StreamingSpec), and borrow the batch
    // footer for the mandatory explicit schema
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-state")
    val links = Events.linkParquetInto(dir, path)
    val out =
      try {
        val schema = spark.read.parquet(path).schema
        val stream = spark.readStream.schema(schema).parquet(dir.toString)
        val qname = "graft_stream_state_" + java.util.UUID.randomUUID().toString.replace("-", "")
        withStreamShufflePartitions(spark, path) {
          val sq = runningUserTotals(stream.select(col("user_id"), col("value")))
            .writeStream.format("memory").queryName(qname)
            .outputMode("append").trigger(Trigger.AvailableNow())
            .start()
          sq.awaitTermination()
        }
        val result = spark.table(qname)
        val collected = spark.createDataFrame(result.collectAsList(), result.schema)
        spark.catalog.dropTempView(qname)
        collected
      } finally {
        // bench warmup + reps call this repeatedly — don't leak a dir per run
        links.foreach(java.nio.file.Files.deleteIfExists(_))
        java.nio.file.Files.deleteIfExists(dir)
      }
    // append mode emits one update per user per micro-batch; the final
    // state is the row with the highest running count (n_events is
    // strictly increasing), so this is multi-batch-safe
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    out.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("user_id"))
  }

  /** Q101: watermarked stream-stream range join under the driver gate —
    * runs the click→purchase attribution join (same semantics as batch
    * q59) as a REAL Structured Streaming job: file-source stream read
    * twice (clicks / purchases branches), 1-hour watermarks on both sides
    * bounding join state, event-time range predicate, AvailableNow pass,
    * memory sink. An inner stream-stream join's append-mode output equals
    * the batch join's rows, so this streaming surface is hash-ORACLED
    * against the batch range-join SQL (StreamingSpec proves the same
    * equality in-process). At scale the watermark is the state bound:
    * each side buffers only rows younger than watermark + range width. */
  def qStreamJoin(t: Tables): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = t.spark
    val path = s"${t.sfDir}/events.parquet"
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-join")
    val links = Events.linkParquetInto(dir, path)
    try {
      // stream schema comes from the batch footer — NEVER hand-rolled: a
      // hard-coded LongType ts double-divided after the Spark 4.1.2 type
      // shift and silently widened the join window 1000× (VERDICT r7).
      // Ts normalization is the same shared dispatch Tables.events uses.
      val schema = spark.read.parquet(path).schema
      // one source definition shared by both branches (self-join on a
      // streaming DF is supported; measured equal to two sources — the
      // query's cost is join state-store tasks, not the file scan)
      val ev = Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(dir.toString))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"), col("value"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_id"), col("purchase_id"), col("value"))
      // parquet sink, NOT a memory sink: the attribution output grows with
      // SF, and a memory-sink + collect round-trips every joined row
      // through the driver — a ceiling the batch q59 path doesn't have.
      // The executors write the result; the driver only plans the re-read.
      val outDir = dir.resolve("out")
      withStreamShufflePartitions(spark, path) {
        val sq = joined.writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
      }
      // key by (session, sfDir) via graft.Shared.sessionTag: two
      // concurrent sessions on one sfDir must not delete each other's live
      // output. The returned DataFrame stays valid only until the NEXT
      // qStreamJoin call on the same session+sfDir (documented contract).
      val liveKey = s"stream_join#${graft.Shared.sessionTag(spark)}#${t.sfDir}"
      liveStreamOuts.put(liveKey, dir).foreach(deleteRecursively)
      // explicit schema: a zero-match SF writes _spark_metadata but no
      // data files, which would otherwise fail schema inference
      spark.read.schema(joined.schema).parquet(outDir.toString)
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    } finally {
      links.foreach(java.nio.file.Files.deleteIfExists(_))
      deleteRecursively(dir.resolve("ckpt"))
    }
  }

  /** q101 oracle: identical to the batch range join's SQL (q59 shape) —
    * the streaming job must reproduce it row-for-row. */
  val qStreamJoinSql: String = graft.ops.AsOf.qRangeJoinSql

  /** Q159: lambda-architecture unified view — the batch-plus-speed-layer
    * serving shape (Marz 2011): history partials from the BATCH path
    * (ts < cutoff), tail partials from a REAL Structured Streaming job
    * (file source, complete-mode aggregation, AvailableNow pass) over
    * ts ≥ cutoff, merged with the q127 mergeable-monoid discipline
    * (count + exact long cents — order-independent, so the merge is
    * deterministic). The ORACLE is the plain batch aggregate over ALL
    * events: the hash compare IS the lambda claim
    * batch(history) ⊕ stream(tail) ≡ batch(everything).
    *
    * Scale shape: the streaming aggregation's state is |event_type| rows
    * (complete mode over a low-cardinality key); the merge is a
    * tiny full-outer join. At 100 TB the history side is the nightly
    * compaction output and the tail is the day's stream — this query is
    * the serving-layer read that stitches them. */
  def q159LambdaView(t: Tables): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = t.spark
    val cutoff = "2024-01-24 00:00:00"
    val cents = sum(expr("cast(round(value * 100) as bigint)"))
    val hist = t.events.filter(col("ts") < lit(cutoff).cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("h_n"), cents.as("h_cents"))
    val path = s"${t.sfDir}/events.parquet"
    val dir = java.nio.file.Files.createTempDirectory("graft-lambda")
    val links = Events.linkParquetInto(dir, path)
    val tail =
      try {
        // batch-footer schema + shared ts dispatch (same contract as
        // qStreamJoin — see the VERDICT r7 note there)
        val schema = spark.read.parquet(path).schema
        val ev = Tables.normalizeEventTs(
          spark.readStream.schema(schema).parquet(dir.toString))
        val agg = ev.filter(col("ts") >= lit(cutoff).cast("timestamp"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("t_n"), cents.as("t_cents"))
        val qname = "graft_lambda_" + java.util.UUID.randomUUID().toString.replace("-", "")
        withStreamShufflePartitions(spark, path) {
          val sq = agg.writeStream.format("memory").queryName(qname)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          sq.awaitTermination()
        }
        val result = spark.table(qname)
        val collected = spark.createDataFrame(result.collectAsList(), result.schema)
        spark.catalog.dropTempView(qname)
        collected
      } finally {
        links.foreach(java.nio.file.Files.deleteIfExists(_))
        deleteRecursively(dir)
      }
    hist.join(tail, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("h_n"), lit(0L)) + coalesce(col("t_n"), lit(0L)))
          .as("n_events"),
        ((coalesce(col("h_cents"), lit(0L)) + coalesce(col("t_cents"), lit(0L)))
          .cast("double") / 100.0).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** q159 oracle: the full-batch recompute — the unified view must be
    * indistinguishable from rescanning everything (the q127 contract
    * applied across the batch/stream boundary). */
  val q159LambdaViewSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
      |    AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q74 oracle: the final arbitrary-state totals ARE a batch aggregate —
    * count + exact cents sum (values are 2-decimal money doubles; both
    * engines compute round(v*100) on the same IEEE product, and the long
    * cents sum is order-independent), so the streaming surface is held to
    * a hash compare, not a rows count. */
  val qStreamStateSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
}
