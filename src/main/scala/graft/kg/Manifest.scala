package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.XorDigest

/** Per-partition lineage + checkpointed resumability (BASELINE.json:6,14;
  * SURVEY S5/A7). The manifest is an append-only parquet table; a bucket
  * is COMMITTED once its manifest row (status='committed') exists. Resume
  * = filter the corpus to uncommitted buckets; the triple writer
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

  private def rowHash: Column = xxhash64(Extract.TripleKey.map(col): _*)

  /** Per-bucket lineage rows for a triple DataFrame: row count + a
    * commutative xor digest of the full triple identity (order- and
    * partitioning-invariant).
    */
  def bucketStats(triples: DataFrame): DataFrame =
    triples
      .withColumn("rowHash", rowHash)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("rowCount"), XorDigest(col("rowHash")).as("contentDigest"))

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
    * `digestRows` turns its value into manifest rows.
    */
  def bucketDigest(nBuckets: Int): Column =
    udaf(new BucketDigest(nBuckets), Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))(
      col("bucket"), rowHash)

  /** (bucket, rowCount, contentDigest) for each of `buckets`, read off a
    * `bucketDigest` value; a bucket with no rows is (0, 0).
    */
  def digestRows(digest: collection.Seq[Long], buckets: Set[Int]): Seq[(Int, Long, Long)] = {
    val nBuckets = digest.length / 2
    buckets.toSeq.sorted.map(b => (b, digest(b), digest(nBuckets + b)))
  }

  def write(manifestDir: String, runId: String, stage: String,
            stats: DataFrame, attempt: Int, startedAtMs: Long, wallMs: Long): Unit = {
    stats.select(
        lit(runId).as("runId"), lit(stage).as("stage"),
        col("bucket").cast("int").as("bucket"),
        col("rowCount").cast("long"), col("contentDigest").cast("long"),
        lit("committed").as("status"), lit(attempt).as("attempt"),
        to_timestamp(lit(startedAtMs / 1000.0)).as("startedAt"),
        lit(wallMs).as("wallMs"))
      .coalesce(1)
      .write.mode("append").options(TableIO.LocalSinkOptions).parquet(manifestDir)
  }

  /** Buckets already committed for (runId, stage). */
  def committedBuckets(spark: SparkSession, manifestDir: String,
                       runId: String, stage: String): Set[Int] = {
    // Hadoop FileSystem, not java.io.File: the manifest dir may live on
    // any supported filesystem (HDFS/S3A/local) in production
    val p = new org.apache.hadoop.fs.Path(manifestDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else spark.read.parquet(manifestDir)
      .filter(col("runId") === runId && col("stage") === stage &&
        col("status") === "committed")
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
  }
}
