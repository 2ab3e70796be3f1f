package graft

import graft.oracle.{Eval, Oracle}
import graft.oracle.Oracle.GTriple
import graft.fixtures.Vocab

/** Cluster-aware fuzzy P/R (reference eval semantics). */
class EvalSpec extends SparkTestBase {

  private val canon = Oracle.canonicalMap(Vocab.dictRows)

  private def t(s: String, o: String) =
    GTriple(s, "calls", o, "r", "p", "c", "sha")

  test("alias-level divergence still scores 1.0 through clusters") {
    // gold uses canonicals; the "system" emits other aliases of the SAME
    // entities — exact compare would score 0, cluster-aware scores 1.0
    val fn = Vocab.functions.head // canonical e.g. "alphafn"
    val alias = Vocab.aliases(fn).find(_ != fn.toLowerCase).get
    val gold = Set(t(fn.toLowerCase, Vocab.functions(1).toLowerCase))
    val pred = Set(t(alias, Vocab.aliases(Vocab.functions(1)).last))
    assert(pred != gold)
    val (p, r) = Eval.clusterPR(pred, gold, canon)
    assert(p == 1.0 && r == 1.0)
  }

  test("wrong entities never match; P/R count correctly") {
    val f0 = Vocab.functions(0).toLowerCase
    val f1 = Vocab.functions(1).toLowerCase
    val f2 = Vocab.functions(2).toLowerCase
    val gold = Set(t(f0, f1), t(f0, f2))
    // one alias-correct match, one wrong-entity prediction
    val pred = Set(t(Vocab.aliases(Vocab.functions(0))(1), f1), t(f1, f2))
    val (p, r) = Eval.clusterPR(pred, gold, canon)
    assert(p == 0.5 && r == 0.5)
  }

  test("out-of-dictionary symbols match only themselves (normalized)") {
    val gold = Set(t("repo:path/x.py", "unknownsym"))
    val pred = Set(t("Repo:Path/X.py".toLowerCase, " unknownsym "))
    val (p, r) = Eval.clusterPR(pred, gold, canon)
    assert(p == 1.0 && r == 1.0)
    val (p2, _) = Eval.clusterPR(Set(t("repo:path/x.py", "othersym")), gold, canon)
    assert(p2 == 0.0)
  }

  test("engine output scores 1.0 against the oracle through clusters (tiny corpus)") {
    import spark.implicits._
    import graft.kg.{Extract, KgPipeline, TableIO}
    val corpusLocal = fixtures.CorpusGen.corpus(fixtures.CorpusGen.TinyFiles)
    val gold = Oracle.triples(corpusLocal, Vocab.dictRows)
    val (fnAliases, canonB) = KgPipeline.broadcastDictionary(spark, KgPipeline.dictDataset(spark))
    val pred = Extract.canonicalTriples(TableIO.hashedFiles(corpusLocal.toDF()), fnAliases, canonB)
      .collect().map(x => GTriple(x.subj, x.pred, x.obj, x.repo, x.path, x.commit, x.fileSha))
    val (p, r) = Eval.clusterPR(pred.toSeq, gold, canon)
    assert(p == 1.0 && r == 1.0)
  }
}
