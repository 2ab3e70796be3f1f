package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming stretch (SURVEY §2.9 — post-parity optional):
  * the streaming counterparts of batch keys over continuously arriving
  * documents and events — first-seen-wins exact dedup with custom state,
  * watermarked session windows and tumbling-window counts, each drained
  * with `Trigger.AvailableNow`.
  *
  * KG triples have one sink, `KgPipeline.run`, which owns the write, the
  * triple dedup and the lineage manifest. A grown corpus is rebuilt by
  * `KgPipeline.run` under a new `runId`; bucket-grained incremental
  * recompute waits for a per-bucket input fingerprint in the manifest
  * (ROADMAP item 4, "Resume safety").
  */
object IncrementalIngest {

  /** The events table as the streaming event jobs read it. */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Appends `stream` to the parquet table at `outDir`, drained with
    * `Trigger.AvailableNow`: processes every input present at start,
    * then returns.
    */
  private def drain(stream: DataFrame, outDir: String, checkpointDir: String): Unit =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
      .awaitTermination()

  /** Streaming exact dedup with CUSTOM STATE (SURVEY §2.9 surface:
    * `KeyValueGroupedDataset.flatMapGroupsWithState`): documents arrive
    * continuously; the first doc_id seen per content sha is emitted, every
    * later duplicate is suppressed — keep-first semantics across batches,
    * carried by per-key state in the streaming state store (checkpointed,
    * so resume preserves dedup decisions). The batch analogue is
    * `dedup_exact` (groupBy sha, min doc_id); the streaming version trades
    * the global min for first-arrival-wins, the only meaning "min" can
    * have over an unbounded stream.
    */
  def streamingExactDedup(spark: SparkSession, docsDir: String, outDir: String,
                          checkpointDir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(docsDir)
      .select(sha2(col("text"), 256).as("sha"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sha: String, rows: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single((sha, rows.map(_._2).min)) // min within first batch
          }
      }
      .toDF("sha", "keep_id")
    drain(stream, outDir, checkpointDir)
  }

  /** Streaming SESSIONIZATION (round 6): the streaming-native
    * counterpart of the batch `sessionize` key, via Spark's built-in
    * `session_window` — gap-merged per-user sessions maintained in the
    * streaming state store and finalized (emitted, Append mode) once
    * the watermark passes a session's end (last event + gap). Batch
    * boundary semantics differ by one edge: `session_window` merges an
    * event while gap < gapDuration (strict; the window end is
    * exclusive), the batch key chains while gap ≤ threshold —
    * indistinguishable on real micro-resolution timestamps. State per
    * open session is one (start, end, count, sum) tuple per user —
    * high-cardinality key, bounded state, the same 100 TB posture as
    * the batch plan's one user-keyed exchange.
    */
  def sessionWindows(spark: SparkSession, eventsDir: String, outDir: String,
                     checkpointDir: String, gap: String = "30 minutes"): Unit = {
    val stream = spark.readStream.schema(eventsSchema).parquet(eventsDir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000000).cast("long")).as("value_micro"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("value_micro"))
    drain(stream, outDir, checkpointDir)
  }

  /** Watermarked tumbling-window aggregation over an event stream
    * (readStream → withWatermark → window → count), drained with
    * AvailableNow. Demonstrates the streaming agg surface; equivalent to
    * the batch `groupBy(window(...))` (asserted in StreamingSpec).
    */
  def windowedEventCounts(spark: SparkSession, eventsDir: String,
                          outDir: String, checkpointDir: String): Unit = {
    val stream = spark.readStream.schema(eventsSchema).parquet(eventsDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    drain(stream, outDir, checkpointDir)
  }
}
