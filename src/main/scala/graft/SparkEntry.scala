package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * One `queries` entry per implemented operator from SURVEY.md §2 (plus
  * the training-data ops); `oracleSql` carries the DuckDB-equivalent SQL
  * for every SQL-expressible key.
  */
object SparkEntry {

  /** Flagship: the full KG DAG (extract → canonicalize → triples) on the
    * deterministic tiny corpus. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val corpus = fixtures.CorpusGen.corpus(fixtures.CorpusGen.TinyFiles).toDF()
    val (fnAliases, canonB) = kg.KgPipeline.broadcastDictionary(spark, kg.KgPipeline.dictDataset(spark))
    kg.Extract.canonicalTriples(kg.TableIO.hashedFiles(corpus), fnAliases, canonB).toDF()
  }

  private val all: Map[String, Q] =
    RelationalQueries.entries ++ FunctionQueries.entries ++
      KgQueries.entries ++ DedupQueries.entries ++ TextQueries.entries ++
      SamplingQueries.entries ++ GraphQueries.entries ++
      EventQueries.entries

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
