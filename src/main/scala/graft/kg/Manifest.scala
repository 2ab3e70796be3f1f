package graft.kg

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-partition lineage + checkpointed resumability (BASELINE.json:6,14;
  * SURVEY S5/A7). The manifest is an append-only parquet table of
  * `Schema` rows; a bucket is COMMITTED once its row for the run exists,
  * and a row is appended only after the bucket's triple write commits.
  * Resume = filter the corpus to uncommitted buckets; the triple writer
  * uses dynamic partition overwrite so a half-written (uncommitted)
  * bucket is idempotently rewritten on the next attempt.
  *
  * A bucket's lineage is (rowCount, contentDigest): its row count and
  * the xor of `xxhash64` over each row's `Extract.TripleKey`. The run
  * computes it in the triple write's own pass (`bucketDigest`, observed
  * on the write's input), so it records what the write action's
  * successful tasks wrote; `bucketStats` is the same figure computed
  * from a table on disk.
  */
object Manifest {

  /** A manifest row: a bucket of run `runId`, routed among `nBuckets`,
    * committed with this lineage; `startedAt` is when that run began.
    * Columns: runId, bucket, nBuckets, rowCount, contentDigest,
    * startedAt. Rows written before `nBuckets` was recorded read it as
    * null. Built field by field: `fromDDL` would run the SQL parser,
    * whose DFA cache stays on the driver heap.
    */
  val Schema: StructType = new StructType()
    .add("runId", StringType).add("bucket", IntegerType).add("nBuckets", IntegerType)
    .add("rowCount", LongType).add("contentDigest", LongType)
    .add("startedAt", TimestampType)

  private def rowHash: Column = xxhash64(Extract.TripleKey.map(col): _*)

  /** Per-bucket lineage rows for a triple DataFrame: row count + a
    * commutative xor digest of the full triple identity (order- and
    * partitioning-invariant).
    */
  def bucketStats(triples: DataFrame): DataFrame =
    triples
      .withColumn("rowHash", rowHash)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("rowCount"), bit_xor(col("rowHash")).as("contentDigest"))

  /** Every bucket's (rowCount, contentDigest) in one buffer: slot b
    * counts bucket b's rows, slot nBuckets + b xors their hashes. One
    * typed aggregate over (bucket, hash), so an observed metric costs
    * one array update per row, not 2·nBuckets conditional aggregates.
    */
  private final class BucketDigest(nBuckets: Int)
      extends Aggregator[(Int, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](2 * nBuckets)
    def reduce(b: Array[Long], row: (Int, Long)): Array[Long] = {
      b(row._1) += 1
      b(nBuckets + row._1) ^= row._2
      b
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < nBuckets) { b1(i) += b2(i); b1(nBuckets + i) ^= b2(nBuckets + i); i += 1 }
      b1
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** `bucketStats` of a triple DataFrame (one with a `bucket` column) as
    * one aggregate column, for `Dataset.observe` on a write's input;
    * `commit` turns its value into manifest rows.
    */
  def bucketDigest(nBuckets: Int): Column =
    udaf(new BucketDigest(nBuckets), Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))(
      col("bucket"), rowHash)

  /** Appends one row per bucket of `buckets` for `runId`, its lineage
    * read off `digest` (a `bucketDigest` value; a bucket with no rows is
    * (0, 0)), and returns the committed (bucket, rowCount, contentDigest)
    * rows. Call it only after the buckets' triple write has committed:
    * the row is the commit.
    */
  def commit(spark: SparkSession, manifestDir: String, runId: String,
             digest: collection.Seq[Long], buckets: Set[Int], startedAtMs: Long): Seq[(Int, Long, Long)] = {
    val nBuckets = digest.length / 2
    val rows = buckets.toSeq.sorted.map(b => (b, digest(b), digest(nBuckets + b)))
    // an Instant, not a java.sql.Timestamp: converting the latter loads
    // Spark's Julian-calendar rebase tables (≈0.5 MB kept for good)
    val startedAt = java.time.Instant.ofEpochMilli(startedAtMs)
    spark.createDataFrame(rows.map { case (b, n, d) => Row(runId, b, nBuckets, n, d, startedAt) }.asJava, Schema)
      .coalesce(1)
      .write.mode("append").options(TableIO.LocalSinkOptions).parquet(manifestDir)
    rows
  }

  /** Every manifest row under `manifestDir`, read with `Schema`: a dir
    * that does not exist, or holds no data file yet (a first append that
    * died left only `_temporary/`), reads as no rows, and a file written
    * with more columns reads as these.
    */
  def read(spark: SparkSession, manifestDir: String): DataFrame =
    if (exists(spark, manifestDir)) spark.read.schema(Schema).parquet(manifestDir)
    else spark.createDataFrame(java.util.List.of[Row](), Schema)

  /** The buckets committed for `runId`, each with its (rowCount,
    * contentDigest). A fresh run's manifest dir does not exist yet: that
    * case plans no query (an empty `read` still runs a planned and
    * tracked SQL execution, ≈13 ms per kgperf kg_dup build on a 4-vCPU
    * host).
    */
  def committed(spark: SparkSession, manifestDir: String, runId: String): Map[Int, (Long, Long)] =
    committedRows(spark, manifestDir, runId).map { case (b, _, n, d) => b -> (n, d) }.toMap

  /** The buckets of `runId` a resume at `nBuckets` skips. A file's
    * bucket depends on the bucket count, so a resume at another count
    * would route files of committed buckets to uncommitted ones and
    * write their triples a second time: it is refused when any committed
    * row records another count (a row without one is taken as valid).
    */
  def resumable(spark: SparkSession, manifestDir: String, runId: String, nBuckets: Int): Set[Int] = {
    val rows = committedRows(spark, manifestDir, runId)
    val others = rows.flatMap(_._2).filter(_ != nBuckets).distinct.sorted
    require(others.isEmpty, s"run '$runId' committed buckets under $manifestDir at " +
      s"${others.mkString(", ")} buckets; this run routes to $nBuckets: resume it at that count, " +
      "or build into an empty output dir")
    rows.map(_._1).toSet
  }

  /** (bucket, nBuckets, rowCount, contentDigest) of each committed row of `runId`. */
  private def committedRows(spark: SparkSession, manifestDir: String,
                            runId: String): Seq[(Int, Option[Int], Long, Long)] =
    if (!exists(spark, manifestDir)) Nil
    else read(spark, manifestDir).filter(col("runId") === runId)
      .select("bucket", "nBuckets", "rowCount", "contentDigest").collect().toSeq
      .map(r => (r.getInt(0), Option(r.getAs[Integer](1)).map(_.toInt), r.getLong(2), r.getLong(3)))

  // Hadoop FileSystem, not java.io.File: the manifest dir may live on
  // any supported filesystem (HDFS/S3A/local) in production
  private def exists(spark: SparkSession, manifestDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(manifestDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
