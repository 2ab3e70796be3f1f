package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table contract (SURVEY §7.3): the corpus schema, the per-row input
  * invariant, and the triple table's one layout decision. Production
  * targets Iceberg (`kg.corpus`, `kg.triples` partitioned by pred —
  * BASELINE.json:6); the build has no Iceberg runtime jar (SURVEY
  * §0.2), so the triple table is partitioned parquet with the same
  * schema and partition spec. Moving it to Iceberg is a change to
  * `writeTriples` alone (docs/SCALE.md §2).
  */
object TableIO {
  val corpusSchema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("content", StringType, nullable = false)))

  /** Max content size admitted into extraction (defensive guard for
    * binary blobs / pathological files at corpus scale, SURVEY P4).
    */
  val MaxContentChars: Int = 4 * 1024 * 1024

  /** P4 guards + per-row invariant + routing columns (BASELINE.json:15;
    * bucket drives manifest-grained resume, SURVEY S5).
    */
  def withInvariants(corpus: DataFrame, nBuckets: Int): DataFrame =
    corpus
      .filter(col("content").isNotNull && col("repo").isNotNull &&
        col("path").isNotNull && col("lang").isNotNull &&
        length(col("content")) > 0 &&
        length(col("content")) <= MaxContentChars)
      .withColumn("file_sha", sha2(col("content"), 256))
      .withColumn("bucket", bucketOf(col("file_sha"), nBuckets))

  /** The corpus as extraction reads it: the guards and sha256 of
    * `withInvariants`, projected to HashedFile (bucket dropped). Every
    * caller that scans a whole corpus goes through here.
    */
  def hashedFiles(corpus: DataFrame): Dataset[HashedFile] =
    withInvariants(corpus, 1).select("repo", "path", "commit", "lang", "content", "file_sha")
      .as(Encoders.product[HashedFile])

  /** Bucket count of the triple table unless a run chooses another
    * (`KgConfig.nBuckets`); `Extract.canonicalTriples` routes with it.
    */
  val DefaultBuckets: Int = 16

  /** The routing rule: a file's bucket is a pure function of its sha256,
    * so the corpus row and every triple it yields land in the same bucket.
    */
  def bucketOf(fileSha: Column, nBuckets: Int): Column =
    pmod(xxhash64(fileSha), lit(nBuckets)).cast("int")

  /** Write options every graft sink passes. Spark merges write options
    * into the job's Hadoop conf, so executor tasks and the driver's
    * commit resolve `file:` paths to [[NioLocalFileSystem]], which sets
    * permissions with a syscall instead of a forked `chmod` per file and
    * directory. Only the `file:` scheme changes (HDFS/S3 paths resolve
    * as before) and the session conf is untouched. The cache flag is
    * needed because Hadoop's FileSystem cache key ignores the conf: a
    * cached stock `file:` instance would otherwise be reused.
    */
  val LocalSinkOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The triple sink: overwrite partitioned by (bucket, pred). bucket
    * gives idempotent per-bucket rewrite on resume; pred is the
    * low-cardinality read-back filter (BASELINE.json:6). Dynamic
    * overwrite is a per-write option, so only the partitions present in
    * `triples` are replaced and the caller's session is left alone.
    */
  def writeTriples(triples: DataFrame, dir: String): Unit =
    triples.write.mode(SaveMode.Overwrite)
      .options(LocalSinkOptions)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "pred")
      .parquet(dir)
}
