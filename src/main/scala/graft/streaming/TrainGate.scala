package graft.streaming

import graft.Tables
import graft.functions.text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Q321: the streaming composition gate (VERDICT r12 item 6) — the q226
  * composition idea applied to the T4 surface: the q112 training-data
  * chain's streamable stages (quality gate → exact dedup → sequence pack)
  * run as REAL watermarked Structured Streaming jobs, hash-oracled against
  * the identical batch semantics (the q101 batch≡stream precedent, now for
  * a multi-stage STATEFUL pipeline rather than a single join).
  *
  * Composition shape — two chained streaming jobs with a parquet handoff,
  * exactly how incremental production pipelines compose (each stage is a
  * streaming job reading the previous stage's output directory):
  *
  *  Job A  docs file-stream → stateless quality gate (q86's four
  *         Gopher-style rules) → 1 h watermark on a deterministic
  *         ingestion timestamp → exact dedup keyed by md5(text) via
  *         flatMapGroupsWithState with EVENT-TIME state TTL: a content
  *         hash's state expires one hour past its last-seen event time
  *         (the production "duplicates arrive within the delay" contract —
  *         the r9 dropDuplicatesWithinWatermark precedent). The kernel
  *         emits the MIN-doc_id row per hash — deterministic keep-first,
  *         NOT arrival-order dropDuplicates (which physical row survives a
  *         dropDuplicates is arrival-dependent; the survivor's doc_id
  *         feeds the shard assignment below, so arrival-dependence would
  *         leak into the result).
  *  Job B  streams job A's output → groups by shard (keep_id div 1000 —
  *         bounded ≤1000 docs/shard by construction, the q112 contract) →
  *         per-shard pack kernel: sort by doc_id, running token sum,
  *         seq_id = start div 256 → emits per-(shard, seq_id) doc/token
  *         counts.
  *
  * Exactness contract: one AvailableNow pass over one parquet file is a
  * single micro-batch, so every dedup group sees all its duplicates at
  * once and the emitted keep set is EXACTLY the batch keep-first set
  * (duplicate texts have identical token counts, and the min-id survivor
  * is order-independent) — the full per-sequence table hash-matches the
  * batch oracle. Across multiple batches the min-id guarantee weakens to
  * first-batch-min (suppressed re-emission via state), the documented
  * production trade (StreamingSpec asserts the single-pass equality
  * in-process).
  *
  * Scale shape (100 TB): stage A's state is one (flag, timeout) per
  * distinct content hash inside the watermark horizon — the TTL bounds it
  * exactly as dropDuplicatesWithinWatermark's; stage B buffers one shard
  * (≤1000 docs) per task. Both sinks are executor-written parquet (the
  * q101 no-driver-round-trip rule); the driver only plans the re-read.
  *
  * Reference: pipeline.py:24-33 (dedup before clustering) extended to the
  * LLM-pipeline blocks; Lee et al. 2022 (dedup), Brown et al. 2020
  * (sequence packing) for the stage semantics.
  */
object TrainGate {

  // NOT `private`: a private nested case class compiles to a
  // private-in-bytecode member the generated encoder projection cannot
  // access ("Private member cannot be accessed" at codegen time);
  // `private[streaming]` is public in bytecode, Scala-only restricted
  private[streaming] case class QRow(h: String, doc_id: Long, n_tokens: Long,
    ts: java.sql.Timestamp)

  /** Epoch anchor for the synthetic ingestion timestamp (2024-01-01T00:00Z);
    * ts = anchor + doc_id seconds is monotone in doc_id, so "duplicates
    * within 1 h" means within 3600 ids — irrelevant to the single-batch
    * exactness contract, load-bearing only for the multi-batch TTL. */
  private val tsAnchor = 1704067200L

  def qStreamTrainGate(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val path = s"${t.sfDir}/documents.parquet"
    val dir = java.nio.file.Files.createTempDirectory("graft-train-gate")
    val links = Events.linkParquetInto(dir, path)
    try {
      // stream schema from the batch footer — never hand-rolled (CLAUDE.md)
      val schema = spark.read.parquet(path).schema
      val docs = spark.readStream.schema(schema).parquet(dir.toString)

      // ---- job A: quality gate → watermark → exact min-id dedup ----
      val toksCol = text.tokenize(col("text"))
      val quality = docs.select(col("doc_id"), col("text"),
          size(toksCol).cast("long").as("n_tokens"),
          length(regexp_replace(lower(col("text")), "[^a-z0-9']", ""))
            .cast("long").as("n_tok_chars"),
          size(filter(toksCol, tk => tk.isInCollection(text.stopwords)))
            .cast("long").as("n_stop"),
          size(array_distinct(toksCol)).cast("long").as("n_distinct"))
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 80 &&
          col("n_tok_chars") >= col("n_tokens") * 4 &&
          col("n_tok_chars") <= col("n_tokens") * 5 &&
          col("n_stop") * 20 >= col("n_tokens") &&
          col("n_distinct") * 2 >= col("n_tokens"))
        .select(md5(col("text")).as("h"), col("doc_id"), col("n_tokens"),
          timestamp_seconds(lit(tsAnchor) + col("doc_id")).as("ts"))
      // the watermark must tag the event-time column that REACHES the
      // stateful operator — declared on the exact frame fed to it
      val deduped = quality
        .withWatermark("ts", "1 hour")
        .as[QRow]
        .groupByKey(_.h)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          (h: String, rows: Iterator[QRow], state: GroupState[Boolean]) => {
            if (state.hasTimedOut) { state.remove(); Iterator.empty }
            else {
              val all = rows.toArray
              // TTL: expire one hour past this hash's last-seen event time
              val lastSeen = all.map(_.ts.getTime).max
              val emitted = state.getOption.contains(true)
              state.update(true)
              state.setTimeoutTimestamp(lastSeen + 3600L * 1000L)
              if (emitted) Iterator.empty
              else {
                val keep = all.minBy(_.doc_id)
                Iterator.single((h, keep.doc_id, keep.n_tokens))
              }
            }
          })
        .toDF("h", "keep_id", "n_tokens")
      val stageADir = dir.resolve("dedup")
      // state partitions sized from the input, not the core count (the
      // Events.withStreamShufflePartitions contract — per-key stateful
      // semantics are partition-count-independent, results unchanged)
      Events.withStreamShufflePartitions(spark, path) {
        val sqA = deduped.writeStream.format("parquet")
          .option("path", stageADir.toString)
          .option("checkpointLocation", dir.resolve("ckptA").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sqA.awaitTermination()
      }

      // ---- job B: stream the handoff → per-shard sequence packing ----
      // schema is OURS (job A just wrote it) — explicit is fine here; a
      // zero-survivor SF writes _spark_metadata but no data files, which
      // would fail inference (the q101 move)
      val handoffSchema = StructType(Seq(
        StructField("h", StringType), StructField("keep_id", LongType),
        StructField("n_tokens", LongType)))
      val packed = spark.readStream.schema(handoffSchema)
        .parquet(stageADir.toString)
        .select(col("keep_id"), col("n_tokens"))
        .as[(Long, Long)]
        .groupByKey(_._1 / 1000L)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (shard: Long, rows: Iterator[(Long, Long)], state: GroupState[Boolean]) => {
            val sorted = rows.toArray.sortBy(_._1)
            var run = 0L
            val seqs = sorted.map { case (_, nt) =>
              val start = run; run += nt; start / 256L
            }
            // Map → tuples keyed by (unique) seq id; .toSeq BEFORE map per
            // the q314 invariant
            seqs.zip(sorted).groupBy(_._1).toSeq
              .map { case (seq, xs) =>
                (shard, seq, xs.length.toLong, xs.map(_._2._2).sum) }
              .sortBy(_._2).iterator
          })
        .toDF("shard", "seq_id", "n_docs", "n_tokens")
      val outDir = dir.resolve("out")
      Events.withStreamShufflePartitions(spark, stageADir.toString) {
        val sqB = packed.writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", dir.resolve("ckptB").toString)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sqB.awaitTermination()
      }

      val liveKey = s"train_gate#${graft.Shared.sessionTag(spark)}#${t.sfDir}"
      Events.liveStreamOuts.put(liveKey, dir).foreach(Events.deleteRecursively)
      spark.read.schema(packed.schema).parquet(outDir.toString)
        .orderBy(col("shard"), col("seq_id"))
    } finally {
      links.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Batch replay of the identical chain (quality → keep-first dedup →
    * shard prefix pack), the q112 oracle minus its decontamination stage. */
  val qStreamTrainGateSql: String = {
    val sw = text.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, text, toks,
       |          CAST(len(toks) AS BIGINT) AS nt,
       |          CAST(length(regexp_replace(lower(text), '[^a-z0-9'']', '', 'g')) AS BIGINT) AS nc,
       |          CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS ns,
       |          CAST(len(list_distinct(toks)) AS BIGINT) AS nd
       |        FROM base)
       |  WHERE nt >= 20 AND nt <= 80 AND nc >= nt * 4 AND nc <= nt * 5
       |    AND ns * 20 >= nt AND nd * 2 >= nt),
       |dd AS (
       |  SELECT doc_id, n_tokens
       |  FROM (SELECT doc_id, n_tokens,
       |          ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q)
       |  WHERE rn = 1),
       |packed AS (
       |  SELECT doc_id // 1000 AS shard, n_tokens,
       |    (SUM(n_tokens) OVER (PARTITION BY doc_id // 1000 ORDER BY doc_id)
       |       - n_tokens) // 256 AS seq_id
       |  FROM dd)
       |SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM packed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
}
