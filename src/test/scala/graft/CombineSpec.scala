package graft

import graft.kg.{Combine, Extract, KgPipeline, TableIO, Triple}

/** k-of-n vote combiner over ACTUAL extractor variant outputs (the
  * reference's multi-system merge, SURVEY O3/O4).
  */
class CombineSpec extends SparkTestBase {

  private def triples(drop: Set[String]): org.apache.spark.sql.Dataset[Triple] = {
    import spark.implicits._
    val corpus = TableIO.hashedFiles(fixtures.CorpusGen.corpus(200).toDF())
    val (fnAliases, canon) = KgPipeline.broadcastDictionary(spark, KgPipeline.dictDataset(spark))
    Extract.canonicalTriples(corpus, fnAliases, canon).filter(t => !drop.contains(t.pred))
  }

  test("vote k-of-n over three extractor variants matches set algebra") {
    import spark.implicits._
    // variant A: full ruleset; B: no 'calls' rules; C: no 'imports' rules
    val a = triples(Set.empty).cache()
    val b = triples(Set("calls"))
    val c = triples(Set("imports"))
    def key(t: Triple) = (t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha)
    val sa = a.collect().map(key).toSet
    val sb = b.collect().map(key).toSet
    val sc = c.collect().map(key).toSet

    val v2 = Combine.vote(Seq(a, b, c), 2).collect().map(key).toSet
    val expected2 = (sa & sb) | (sa & sc) | (sb & sc)
    assert(v2 == expected2)
    // every triple is in A, so 2-of-3 == union here; calls+imports both kept
    assert(v2 == Combine.union(Seq(a, b, c)).collect().map(key).toSet)

    val v3 = Combine.intersect(Seq(a, b, c)).collect().map(key).toSet
    assert(v3 == (sa & sb & sc))
    // intersection drops exactly the calls and imports triples
    assert(v3 == sa.filter(t => t._2 != "calls" && t._2 != "imports"))
    assert(sa.exists(_._2 == "calls") && sa.exists(_._2 == "imports"))
  }

  test("vote keeps the max score across agreeing systems") {
    import spark.implicits._
    def t(score: Double) = Triple("s", "p", "o", "r", "pa", "c", "sha", score)
    val r1 = Seq(t(0.6)).toDS()
    val r2 = Seq(t(0.9)).toDS()
    val got = Combine.vote(Seq(r1, r2), 2).collect().toList
    assert(got == List(t(0.9)))
  }

  test("DataFrame vote: a key subset of the columns, votes, max over the rest") {
    import spark.implicits._
    // three runs over (doc, word, weight, note); the key is (doc, word)
    val r1 = Seq((1, "a", 0.2, "x"), (1, "a", 0.7, "y"), (2, "b", 0.5, "x")).toDF("doc", "word", "weight", "note")
    val r2 = Seq((1, "a", 0.4, "z"), (3, "c", 0.1, "x")).toDF("doc", "word", "weight", "note")
    val r3 = Seq((2, "b", 0.9, "w"), (3, "c", 0.3, "y"), (1, "a", 0.1, "x")).toDF("doc", "word", "weight", "note")
    val got = Combine.vote(Seq(r1, r2, r3), Seq("doc", "word"), 2)
    assert(got.columns.toSeq == Seq("doc", "word", "weight", "note", "votes"))
    // (1, a) is in all three runs but twice in r1: r1 still votes once
    assert(got.as[(Int, String, Double, String, Long)].collect().sortBy(_._1).toSeq == Seq(
      (1, "a", 0.7, "z", 3L), (2, "b", 0.9, "x", 2L), (3, "c", 0.3, "y", 2L)))
    assert(Combine.vote(Seq(r1, r2, r3), Seq("doc", "word"), 3).as[(Int, String, Double, String, Long)]
      .collect().toSeq == Seq((1, "a", 0.7, "z", 3L)))
  }
}
