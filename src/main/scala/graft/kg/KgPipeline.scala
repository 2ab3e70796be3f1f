package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Full KG-construction DAG (BASELINE.json:6; SURVEY §3.2):
  *
  *   corpus → sha256 invariant → [resume: skip committed buckets]
  *     → one dict collect → function-alias set + link map, built on the
  *       driver (exact deletion-neighbourhood union-find) and broadcast
  *     → fused mention scan + nearest-def relation pass + canonicalize
  *       (one narrow flatMap; per-file max score)
  *     → (bucket, pred) repartition + keep-max triple dedup → partitioned write
  *     → per-bucket lineage manifest, from the write's own pass
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
  *
  * Lineage and the guard counts are observations on the write action
  * (`writeInput`), so a fresh build is the dict collect, the write and
  * the manifest append: the run never reads the triple table back.
  */
final case class KgConfig(
    triplesDir: String,
    manifestDir: String,
    runId: String,
    nBuckets: Int = TableIO.DefaultBuckets)

/** `rowsIn` and `rowsRejected` count the corpus rows the run's write
  * read and the ones the input guards dropped; a run with every bucket
  * already committed reads nothing and reports 0 for both.
  */
final case class KgResult(triplesWritten: Long, bucketsCommitted: Int, wallMs: Long,
                          rowsIn: Long = 0L, rowsRejected: Long = 0L)

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

  /** The triple write's input for the corpus rows in `buckets`, with the
    * observations that ride the write action, each filled when the
    * write runs and none adding a job: `rowsIn` counts the corpus rows,
    * `admitted` the rows the input guards pass, and `lineage` holds
    * `Manifest.bucketDigest` of the dedup output ("digest").
    */
  final case class WriteInput(triples: DataFrame, rowsIn: Observation, admitted: Observation,
                              lineage: Observation)

  def writeInput(corpus: DataFrame, buckets: Set[Int], nBuckets: Int,
                 fnAliases: Broadcast[Set[String]], canon: Broadcast[Map[String, String]]): WriteInput = {
    import corpus.sparkSession.implicits._
    val (rowsIn, admitted, lineage) = (Observation(), Observation(), Observation())
    // bare row counts on either side of the guards: a count_if over the
    // guard predicate ahead of them projects every row (content
    // included) and cost ≈60 ms per kgperf kg_dup build (4-vCPU host).
    // The second count also keeps the bucket filter from being pushed
    // below the file_sha projection, where it would hash content again
    val todo = TableIO.withInvariants(corpus.observe(rowsIn, count(lit(1)).as("rows")), nBuckets)
      .observe(admitted, count(lit(1)).as("rows"))
      .filter(col("bucket").isin(buckets.toSeq: _*))
      .select("repo", "path", "commit", "lang", "content", "file_sha")
      .as[HashedFile]
    // stages 1–4 fused per file (mention scan + relation pass +
    // broadcast-map canonicalization in ONE narrow flatMap), then the one
    // exchange (SURVEY §4.4(4)): the dedup's (bucket, pred) repartition,
    // whose sort order the partitioned write reuses
    val triples = Extract.dedup(Extract.triples(todo, fnAliases, canon), nBuckets)
      .observe(lineage, Manifest.bucketDigest(nBuckets).as("digest"))
    WriteInput(triples, rowsIn, admitted, lineage)
  }

  /** Run (or resume) the pipeline. `onlyBuckets` restricts processing to a
    * bucket subset — used by tests to simulate a crash mid-run.
    * Returns the number of triples written this invocation and, for the
    * corpus rows the write read, how many the guards rejected.
    */
  def run(spark: SparkSession, corpus: DataFrame, dict: Dataset[DictEntry],
          cfg: KgConfig, onlyBuckets: Option[Set[Int]] = None): KgResult = {
    val t0 = System.currentTimeMillis()

    // resume: skip committed buckets (SURVEY S5/J4)
    val doneSet = Manifest.committed(spark, cfg.manifestDir, cfg.runId).keySet
    val allTodo = (0 until cfg.nBuckets).filterNot(doneSet).toSet
    val todoBuckets = onlyBuckets.map(_ intersect allTodo).getOrElse(allTodo)
    if (todoBuckets.isEmpty)
      return KgResult(0L, doneSet.size, System.currentTimeMillis() - t0)

    val (fnAliases, canonB) = broadcastDictionary(spark, dict)
    val in =
      try {
        val in = writeInput(corpus, todoBuckets, cfg.nBuckets, fnAliases, canonB)
        TableIO.writeTriples(in.triples, cfg.triplesDir)
        in
      } finally {
        fnAliases.destroy()
        canonB.destroy()
      }

    // lineage from the write's own pass (SURVEY A7/S5): the digest its
    // successful tasks observed, no read-back of the triple table; todo
    // buckets that got no triples commit as (0, 0)
    val committed = Manifest.commit(spark, cfg.manifestDir, cfg.runId,
      in.lineage.get("digest").asInstanceOf[collection.Seq[Long]], todoBuckets, startedAtMs = t0)
    def rows(o: Observation) = o.get("rows").asInstanceOf[Long]
    KgResult(committed.map(_._2).sum, doneSet.size + todoBuckets.size, System.currentTimeMillis() - t0,
      rowsIn = rows(in.rowsIn), rowsRejected = rows(in.rowsIn) - rows(in.admitted))
  }
}
