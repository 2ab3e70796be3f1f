package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.XorDigest

/** Per-partition lineage + checkpointed resumability (BASELINE.json:6,14;
  * SURVEY S5/A7). The manifest is an append-only parquet table; a bucket
  * is COMMITTED once its manifest row (status='committed') exists. Resume
  * = filter the corpus to uncommitted buckets; the triple writer
  * uses dynamic partition overwrite so a half-written (uncommitted)
  * bucket is idempotently rewritten on the next attempt.
  */
object Manifest {

  /** Per-bucket lineage rows for a triple DataFrame: row count + a
    * commutative xor digest of the full triple identity (order- and
    * partitioning-invariant).
    */
  def bucketStats(triples: DataFrame): DataFrame =
    triples
      .withColumn("rowHash", xxhash64(Extract.TripleKey.map(col): _*))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("rowCount"), XorDigest(col("rowHash")).as("contentDigest"))

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
