package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{Extract, HashedFile}
import graft.fixtures.{CorpusGen, Vocab}
import graft.oracle.Oracle

/** Unit + property tests for the fused extraction stages (SURVEY §5.2
  * layers 1–2).
  */
class ExtractSpec extends AnyFunSuite {

  private def hashed(repo: String, path: String, lang: String, content: String) =
    HashedFile(repo, path, "c" * 40, lang, content, Oracle.sha256Hex(content))

  private val fnAliases = Vocab.functionAliasNorms

  test("python fixture: exact mention spans") {
    val content =
      """import alphalib
        |from bravolib import charliefn
        |
        |setup = deltafn(1, 2)
        |
        |class AlphaCls(BravoCls):
        |    pass
        |
        |def echofn(a, b):
        |    r0 = foxtrotfn(a, b)
        |    # golf comment
        |    x1 = a * 3 + b
        |""".stripMargin
    val f = hashed("r", "p.py", "python", content)
    val ms = Extract.scanFile(f, fnAliases)
    // char-offset invariant
    ms.foreach(m => assert(content.substring(m.start, m.end) == m.surface))
    val kinds = ms.map(m => (m.kind, m.surface))
    assert(kinds == Vector(
      ("import", "alphalib"), ("import", "bravolib"), ("call", "deltafn"),
      ("class", "AlphaCls"), ("base", "BravoCls"),
      ("def", "echofn"), ("call", "foxtrotfn")))
    assert(ms.find(_.surface == "deltafn").get.line == 3)
  }

  test("scala fixture: class extends + call after def") {
    val content =
      """import zululib
        |class DeltaCls extends EchoCls {
        |}
        |def mikefn(a: Int, b: Int): Int = {
        |    r0 = novemberfn(a, b)
        |}
        |""".stripMargin
    val f = hashed("r", "p.scala", "scala", content)
    val ms = Extract.scanFile(f, fnAliases)
    assert(ms.map(m => (m.kind, m.surface)) == Vector(
      ("import", "zululib"), ("class", "DeltaCls"), ("base", "EchoCls"),
      ("def", "mikefn"), ("call", "novemberfn")))
    val rels = Extract.fileTriples(f, fnAliases, Map.empty)
      .map(t => (t.subj, t.pred, t.obj)).toSet
    assert(rels == Set(
      ("r:p.scala", "imports", "zululib"),
      ("r:p.scala", "defines_class", "deltacls"),
      ("deltacls", "extends", "echocls"),
      ("r:p.scala", "defines_function", "mikefn"),
      ("mikefn", "calls", "novemberfn")))
  }

  test("calls bind to the NEAREST preceding def; far calls dropped") {
    val body = (0 until 45).map(i => s"    x$i = $i").mkString("\n")
    val content =
      s"""def alphafn(a, b):
         |    r = bravofn(a, b)
         |def charliefn(a, b):
         |$body
         |    r = deltafn(a, b)
         |""".stripMargin
    val f = hashed("r", "p.py", "python", content)
    val rels = Extract.fileTriples(f, fnAliases, Map.empty)
      .filter(_.pred == "calls").map(t => (t.subj, t.obj)).toVector
    // bravofn: nearest def alphafn at distance 1 → kept
    // deltafn: nearest def charliefn at distance 46 → score < 0.5 → dropped
    assert(rels == Vector(("alphafn", "bravofn")))
  }

  test("call with no preceding def gets file-symbol subject") {
    val content = "setup = alphafn(1, 2)\n"
    val f = hashed("r", "p.py", "python", content)
    val rels = Extract.fileTriples(f, fnAliases, Map.empty).map(t => (t.subj, t.pred, t.obj)).toVector
    assert(rels == Vector(("r:p.py", "calls", "alphafn")))
  }

  test("property: engine mentions == oracle mentions on generated corpus") {
    val corpus = CorpusGen.corpus(CorpusGen.TinyFiles)
    corpus.foreach { cf =>
      val hf = HashedFile(cf.repo, cf.path, cf.commit, cf.lang, cf.content,
        Oracle.sha256Hex(cf.content))
      val engine = Extract.scanFile(hf, fnAliases)
        .map(m => (m.surface, m.kind, m.line, m.start, m.end))
      val oracle = Oracle.mentions(cf, fnAliases)
        .map(m => (m.surface, m.kind, m.line, m.start, m.end))
      assert(engine == oracle, s"mention divergence in ${cf.path}")
      engine.foreach { case (surface, _, _, s, e) =>
        assert(cf.content.substring(s, e) == surface)
      }
    }
  }
}
