package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL view surface (SURVEY §3.4): register the engine's tables as temp
  * views so `spark.sql("SELECT ... FROM triples ...")` works — the
  * "query capability" face of the engine. No custom parser: ANSI SQL via
  * Spark's own parser/analyzer/optimizer. Also registers the engine's
  * native functions (fingerprint64, rolling_min_hash64).
  */
object KgCatalog {

  def register(spark: SparkSession, corpus: DataFrame, dict: Option[DataFrame] = None,
               triplesDir: Option[String] = None, manifestDir: Option[String] = None): Unit = {
    import spark.implicits._
    graft.functions.FingerprintFunctions.register(spark)
    corpus.createOrReplaceTempView("corpus")
    val d = dict.getOrElse(KgPipeline.dictDataset(spark).toDF())
    d.createOrReplaceTempView("dict")

    val fnAliases = Extract.broadcastFnAliases(spark, d.as[DictEntry])
    Extract.mentions(TableIO.hashedFiles(corpus), fnAliases).toDF().createOrReplaceTempView("mentions")

    triplesDir.foreach(dir =>
      spark.read.parquet(dir).createOrReplaceTempView("triples"))
    manifestDir.foreach(dir =>
      spark.read.parquet(dir).createOrReplaceTempView("manifest"))
  }
}
