package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.kg._
import graft.fixtures.CorpusGen
import graft.streaming.IncrementalIngest

/** Structured Streaming stretch tests (SURVEY §2.9): incremental ingest
  * equals the batch pipeline; checkpoint resume processes only new files;
  * watermarked windowed agg equals its batch equivalent (below watermark).
  */
class StreamingSpec extends SparkTestBase {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("incremental ingest: two arrivals ≡ one batch run; resume skips old files") {
    import spark.implicits._
    val corpusDir = tmp("stream-corpus")
    val outDir = tmp("stream-out")
    val ckpt = tmp("stream-ckpt")
    val all = CorpusGen.corpus(60)

    // arrival 1
    all.take(30).toDF().write.mode("append").parquet(corpusDir)
    IncrementalIngest.run(spark, corpusDir, outDir, ckpt)
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst > 0)

    // arrival 2 → only the new files are processed (checkpoint resume);
    // it re-delivers five arrival-1 files in a new parquet file, whose
    // triples were written by arrival 1 already
    (all.drop(30) ++ all.take(5)).toDF().write.mode("append").parquet(corpusDir)
    IncrementalIngest.run(spark, corpusDir, outDir, ckpt)

    val key = Seq("subj", "pred", "obj", "repo", "path", "commit", "fileSha")
    val streamed = spark.read.parquet(outDir)
      .select(key.map(col): _*).collect().map(_.toSeq).toSet

    val dict = KgPipeline.dictDataset(spark)
    val hashed = TableIO.withInvariants(all.toDF(), 1)
      .select("repo", "path", "commit", "lang", "content", "file_sha")
      .as[HashedFile]
    val batch = Extract.canonicalTriples(hashed,
        Extract.broadcastFnAliases(spark, dict),
        Canonicalize.broadcastLinkMap(spark, dict))
      .select(key.map(col): _*).collect().map(_.toSeq).toSet

    assert(streamed == batch)
    assert(spark.read.parquet(outDir).count() == streamed.size, "a re-delivered file's triples landed twice")

    // third drain with nothing new: no additional rows
    IncrementalIngest.run(spark, corpusDir, outDir, ckpt)
    assert(spark.read.parquet(outDir).count() == streamed.size)
  }

  test("streaming exact dedup: custom state keeps first-seen sha across batches") {
    import spark.implicits._
    val docsDir = tmp("dedup-docs")
    val outDir = tmp("dedup-out")
    val ckpt = tmp("dedup-ckpt")

    // wave 1: ten unique texts
    (0L until 10L).map(i => (i, s"text body number $i")).toDF("doc_id", "text")
      .write.mode("append").parquet(docsDir)
    IncrementalIngest.streamingExactDedup(spark, docsDir, outDir, ckpt)
    val w1 = spark.read.parquet(outDir).as[(String, Long)].collect().toMap
    assert(w1.size == 10 && w1.values.toSet == (0L until 10L).toSet)

    // wave 2: five duplicates of wave-1 texts (higher ids) + three new
    val wave2 = (10L until 15L).map(i => (i, s"text body number ${i - 10}")) ++
      (15L until 18L).map(i => (i, s"fresh text $i"))
    wave2.toDF("doc_id", "text").write.mode("append").parquet(docsDir)
    IncrementalIngest.streamingExactDedup(spark, docsDir, outDir, ckpt)

    val all = spark.read.parquet(outDir).as[(String, Long)].collect()
    assert(all.length == 13, s"expected 13 first-seen shas, got ${all.length}")
    val byId = all.map(_._2).toSet
    // duplicates suppressed: keep_ids are wave-1 originals + the 3 new docs
    assert(byId == ((0L until 10L) ++ (15L until 18L)).toSet)
    // state survives a third no-op drain
    IncrementalIngest.streamingExactDedup(spark, docsDir, outDir, ckpt)
    assert(spark.read.parquet(outDir).count() == 13)
  }

  test("session windows equal a local gap-merge for watermark-closed sessions") {
    import spark.implicits._
    val outDir = tmp("stream-sess")
    val ckpt = tmp("stream-sess-ckpt")
    val evDir = tmp("stream-sess-events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("append").parquet(evDir)
    IncrementalIngest.sessionWindows(spark, evDir, outDir, ckpt)

    val gapUs = 1800000000L // 30 minutes
    val events = spark.read.parquet(evDir)
      .selectExpr("user_id", "unix_micros(cast(ts AS timestamp)) AS us", "value")
      .as[(Long, Long, Double)].collect()
    val maxUs = events.map(_._2).max
    val cutUs = maxUs - 3600000000L // watermark delay 1 hour

    // local gap-merge with session_window's STRICT semantics: an event
    // joins the open session only while gap < gapUs; session end is
    // last event + gap
    val expected = events.groupBy(_._1).flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(_._2)
      val sessions = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]]
      var prev = Long.MinValue
      sorted.foreach { e =>
        if (prev == Long.MinValue || e._2 - prev >= gapUs)
          sessions += scala.collection.mutable.ArrayBuffer(e)
        else sessions.last += e
        prev = e._2
      }
      sessions.map { ss =>
        val us = ss.map(_._2)
        (uid, us.min, us.max + gapUs, ss.length.toLong,
          ss.map(e => math.round(e._3 * 1000000)).sum)
      }
    }.toSet
    // append mode emits only sessions the final watermark closed
    val expectedClosed = expected.filter(_._3 <= cutUs)

    val streamed = spark.read.parquet(outDir)
      .selectExpr("user_id", "unix_micros(cast(sess_start AS timestamp))",
        "unix_micros(cast(sess_end AS timestamp))", "n_events", "value_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == expectedClosed)
    assert(streamed.nonEmpty)
    // the gap must both merge (some multi-event session) and split
    // (some user with several sessions)
    assert(streamed.exists(_._4 > 1))
    assert(streamed.groupBy(_._1).values.exists(_.size > 1))
  }

  test("watermarked tumbling window equals batch agg below the watermark") {
    val eventsDir = "/root/testdata/sf0.001"
    val outDir = tmp("stream-win")
    val ckpt = tmp("stream-win-ckpt")
    // stream only the events table files
    val evDir = tmp("stream-events")
    spark.read.parquet(s"$eventsDir/events.parquet")
      .write.mode("append").parquet(evDir)
    IncrementalIngest.windowedEventCounts(spark, evDir, outDir, ckpt)

    val ev = spark.read.parquet(evDir)
    val cutoff = ev.agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("cut"))
    val batch = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("event_type"), col("n"))
      // append mode only emits windows closed by the watermark (max ts - 1h)
      .crossJoin(broadcast(cutoff))
      .filter(col("win_end") <= col("cut"))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"))
      .collect().map(_.toSeq).toSet
    val streamed = spark.read.parquet(outDir)
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
