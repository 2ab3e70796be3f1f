package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Full KG-construction DAG (BASELINE.json:6; SURVEY §3.2):
  *
  *   corpus → sha256 invariant → [resume: skip committed buckets]
  *     → one dict collect → function-alias set + link map, built on the
  *       driver (exact deletion-neighbourhood union-find) and broadcast
  *     → fused mention scan + nearest-def relation pass + canonicalize
  *       (one narrow flatMap; per-file max score)
  *     → (bucket, pred) repartition + keep-max triple dedup → partitioned write
  *     → per-bucket lineage manifest
  *
  * Scale posture: the corpus-proportional data crosses ONE exchange,
  * `Extract.dedup`'s (bucket, pred) repartition, which ships only the
  * `Triple` fields (bucket is recomputed from fileSha after it). It
  * serves both the global triple dedup and the partitioned write: bucket
  * is a function of fileSha, so every copy of a 7-tuple lands in one
  * task, the dedup's sort already orders rows the way the writer needs,
  * and each (bucket, pred) directory gets one file. Write parallelism
  * scales with `KgConfig.nBuckets`. `Extract.canonicalTriples` runs the
  * same exchange. The dictionary side is one collect job; its link map
  * needs O(|dict|) driver memory, the order of the broadcast it feeds.
  * The 100KB `content` column never crosses a shuffle — it dies inside
  * the narrow flatMap (SURVEY §7.4(4)).
  */
final case class KgConfig(
    triplesDir: String,
    manifestDir: String,
    runId: String,
    nBuckets: Int = TableIO.DefaultBuckets)

final case class KgResult(triplesWritten: Long, bucketsCommitted: Int, wallMs: Long)

object KgPipeline {

  def dictDataset(spark: SparkSession): Dataset[DictEntry] = {
    import spark.implicits._
    graft.fixtures.Vocab.dictRows
      .map { case (n, id, c, k) => DictEntry(n, id, c, k) }.toDS()
  }

  /** One dict collect feeds both broadcasts: the function-alias set and
    * the link map (`Canonicalize.links`, built on the driver).
    */
  def broadcastDictionary(spark: SparkSession, dict: Dataset[DictEntry])
      : (Broadcast[Set[String]], Broadcast[Map[String, String]]) = {
    val rows = dict.collect().toSeq
    (spark.sparkContext.broadcast(Extract.fnAliases(rows)),
      spark.sparkContext.broadcast(Canonicalize.links(rows)))
  }

  /** Run (or resume) the pipeline. `onlyBuckets` restricts processing to a
    * bucket subset — used by tests to simulate a crash mid-run.
    * Returns the number of triples written this invocation.
    */
  def run(spark: SparkSession, corpus: DataFrame, dict: Dataset[DictEntry],
          cfg: KgConfig, onlyBuckets: Option[Set[Int]] = None): KgResult = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()

    val hashed = TableIO.withInvariants(corpus, cfg.nBuckets)

    // resume: skip committed buckets (SURVEY S5/J4)
    val doneSet = Manifest.committedBuckets(spark, cfg.manifestDir, cfg.runId, "triples")
    val allTodo = (0 until cfg.nBuckets).filterNot(doneSet).toSet
    val todoBuckets = onlyBuckets.map(_ intersect allTodo).getOrElse(allTodo)
    if (todoBuckets.isEmpty)
      return KgResult(0L, doneSet.size, System.currentTimeMillis() - t0)

    val todo = hashed
      .filter(col("bucket").isin(todoBuckets.toSeq: _*))
      .select("repo", "path", "commit", "lang", "content", "file_sha")
      .as[HashedFile]

    // stages 1–4 fused per file (mention scan + relation pass +
    // broadcast-map canonicalization in ONE narrow flatMap), then the one
    // exchange (SURVEY §4.4(4)): the dedup's (bucket, pred) repartition,
    // whose sort order the partitioned write reuses
    val (fnAliases, canonB) = broadcastDictionary(spark, dict)
    TableIO.writeTriples(Extract.dedup(Extract.triples(todo, fnAliases, canonB), cfg.nBuckets),
      cfg.triplesDir)

    // lineage from what actually landed on disk (SURVEY A7/S5), read
    // back once; todo buckets that got no triples commit as (0, 0)
    val written = spark.read.parquet(cfg.triplesDir)
      .filter(col("bucket").isin(todoBuckets.toSeq: _*))
    val landed = Manifest.bucketStats(written).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val stats = todoBuckets.toSeq.sorted.map { b =>
      val (rowCount, digest) = landed.getOrElse(b, (0L, 0L))
      (b, rowCount, digest)
    }
    val nWritten = stats.map(_._2).sum
    Manifest.write(cfg.manifestDir, cfg.runId, "triples",
      stats.toDF("bucket", "rowCount", "contentDigest"), attempt = 1, startedAtMs = t0,
      wallMs = System.currentTimeMillis() - t0)
    KgResult(nWritten, doneSet.size + todoBuckets.size,
      System.currentTimeMillis() - t0)
  }
}
