package graft

import java.nio.file.Files
import graft.kg._
import graft.fixtures.CorpusGen

/** SQL view surface tests (SURVEY §3.4). */
class CatalogSpec extends SparkTestBase {

  test("spark.sql over registered views: corpus, dict, mentions, triples") {
    import spark.implicits._
    val dir = Files.createTempDirectory("catalog").toString
    val corpus = CorpusGen.corpus(CorpusGen.TinyFiles).toDF()
    val cfg = KgConfig(s"$dir/triples", s"$dir/manifest", "r1")
    KgPipeline.run(spark, corpus, KgPipeline.dictDataset(spark), cfg)

    KgCatalog.register(spark, corpus, triplesDir = Some(s"$dir/triples"),
      manifestDir = Some(s"$dir/manifest"))

    assert(spark.sql("SELECT count(*) FROM corpus").first().getLong(0) == 60)
    assert(spark.sql(
      "SELECT count(DISTINCT canonical) FROM dict WHERE kind = 'function'")
      .first().getLong(0) == 48)
    val mkinds = spark.sql(
      "SELECT kind, count(*) AS n FROM mentions GROUP BY kind")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mkinds.keySet == Set("import", "def", "class", "base", "call"))
    val topCalled = spark.sql(
      """SELECT obj, count(*) AS n FROM triples WHERE pred = 'calls'
        |GROUP BY obj ORDER BY n DESC, obj LIMIT 3""".stripMargin).collect()
    assert(topCalled.length == 3 && topCalled.head.getLong(1) > 0)
    // the flagship question from SURVEY §7.2: which repos import module X
    val importers = spark.sql(
      """SELECT DISTINCT repo FROM triples
        |WHERE pred = 'imports' AND obj = 'alphalib'""".stripMargin).count()
    assert(importers > 0)
    // native function registered on the SQL surface
    assert(spark.sql("SELECT fingerprint64('abc')").first().getLong(0) ==
      graft.functions.Fingerprint64.fnv("abc".getBytes("UTF-8")))
    // manifest lineage visible via SQL
    assert(spark.sql("SELECT count(*) FROM manifest")
      .first().getLong(0) == 16)
  }
}
