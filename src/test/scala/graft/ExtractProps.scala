package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.kg.{Canonicalize, DictEntry, Extract, HashedFile}
import graft.fixtures.Vocab
import graft.oracle.Oracle
import graft.functions.Hashing

/** ScalaCheck property layer (SURVEY §5.2(2)) — pure-JVM properties over
  * the extraction core, the oracle, and the hashing primitives.
  */
object ExtractProps extends Properties("graft") {

  private val fnAliases = Vocab.functionAliasNorms

  private val word = Gen.oneOf(Vocab.words)
  private val moduleAlias = Gen.oneOf(Vocab.modules).flatMap(m => Gen.oneOf(Vocab.aliases(m)))
  private val fnAlias = Gen.oneOf(Vocab.functions).flatMap(f => Gen.oneOf(Vocab.aliases(f)))
  private val cls = Gen.oneOf(Vocab.classes)
  private val links = Canonicalize.links(Vocab.dictRows.map { case (n, id, c, k) => DictEntry(n, id, c, k) })

  /** A random line in the corpus grammar, plus adversarial noise lines
    * and 35–50-line padding blocks, so call-to-def distances fall on
    * both sides of the lineDist ≤ 40 keep-gate.
    */
  private val line: Gen[String] = Gen.frequency(
    3 -> moduleAlias.map(m => s"import $m"),
    1 -> Gen.zip(moduleAlias, fnAlias).map { case (m, f) => s"from $m import $f" },
    3 -> fnAlias.map(f => s"def $f(a, b):"),
    1 -> Gen.zip(cls, cls).map { case (c, b) => s"class $c($b):" },
    4 -> Gen.zip(Gen.choose(0, 9), fnAlias).map { case (k, f) => s"    r$k = $f(a, b)" },
    2 -> Gen.zip(Gen.choose(0, 9), word).map { case (k, w) => s"    # step $k uses $w" },
    1 -> Gen.const(""),
    1 -> Gen.const("    pass"),
    1 -> word.map(w => s"    $w = $w * 2"),
    1 -> Gen.asciiPrintableStr.map(s => "    " + s.replace("\n", " ").take(60)),
    1 -> Gen.choose(35, 50).map(n => Seq.fill(n)("    x = 1").mkString("\n")))

  private val pyFile: Gen[HashedFile] =
    Gen.nonEmptyListOf(line).map { lines =>
      val content = lines.mkString("\n") + "\n"
      HashedFile("r", "p.py", "c" * 40, "python", content, Oracle.sha256Hex(content))
    }

  property("mention char-offset invariant: substring(start,end)==surface") =
    forAll(pyFile) { f =>
      Extract.scanFile(f, fnAliases).forall(m =>
        f.content.substring(m.start, m.end) == m.surface)
    }

  property("engine mentions == oracle mentions on random files") =
    forAll(pyFile) { f =>
      val cf = graft.kg.CodeFile(f.repo, f.path, f.commit, f.lang, f.content)
      val e = Extract.scanFile(f, fnAliases)
        .map(m => (m.surface, m.kind, m.line, m.start, m.end))
      val o = Oracle.mentions(cf, fnAliases)
        .map(m => (m.surface, m.kind, m.line, m.start, m.end))
      Prop(e == o) :| s"engine=$e oracle=$o"
    }

  property("engine triples == oracle scored triples on random files") =
    forAll(pyFile) { f =>
      val cf = graft.kg.CodeFile(f.repo, f.path, f.commit, f.lang, f.content)
      val rows = Extract.fileTriples(f, fnAliases, links).toSeq
      val e = rows.map(t => (t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha) -> t.score).toMap
      val o = Oracle.scoredTriples(Seq(cf), Vocab.dictRows).map { case (t, sc) =>
        (t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha) -> sc
      }
      Prop(e.size == rows.size && e == o) :|
        s"repeated 7-tuples=${rows.size - e.size} spurious=${e.toSet -- o} missed=${o.toSet -- e}"
    }

  property("relations are deterministic and norm-lowercased") =
    forAll(pyFile) { f =>
      val r1 = Extract.fileTriples(f, fnAliases, Map.empty).toVector
      val r2 = Extract.fileTriples(f, fnAliases, Map.empty).toVector
      r1 == r2 && r1.forall(t => t.obj == t.obj.toLowerCase)
    }

  property("xor digest is permutation-invariant") =
    forAll(Gen.listOf(Gen.long)) { xs =>
      val shuffled = new scala.util.Random(42).shuffle(xs)
      xs.foldLeft(0L)(_ ^ _) == shuffled.foldLeft(0L)(_ ^ _)
    }

  property("sha256 engine == MessageDigest reference") =
    forAll(Gen.asciiPrintableStr) { s =>
      Oracle.sha256Hex(s) == java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

  property("minhash similarity is symmetric and bounded") =
    forAll(Gen.nonEmptyListOf(word), Gen.nonEmptyListOf(word)) { (a, b) =>
      val sa = Hashing.minhash(a, 32); val sb = Hashing.minhash(b, 32)
      val agree = sa.zip(sb).count { case (x, y) => x == y }
      val agree2 = sb.zip(sa).count { case (x, y) => x == y }
      agree == agree2 && agree >= 0 && agree <= 32 &&
        (a.toSet != b.toSet || agree == 32)
    }

  property("levenshtein: identity, symmetry, triangle on vocab norms") =
    forAll(Gen.oneOf(Vocab.dictRows.map(_._1)), Gen.oneOf(Vocab.dictRows.map(_._1)),
      Gen.oneOf(Vocab.dictRows.map(_._1))) { (a, b, c) =>
      val ab = Oracle.levenshtein(a, b)
      Oracle.levenshtein(a, a) == 0 && ab == Oracle.levenshtein(b, a) &&
        ab <= Oracle.levenshtein(a, c) + Oracle.levenshtein(c, b)
    }

  property("rolling fingerprint: equal strings equal; window containment") =
    forAll(Gen.asciiPrintableStr, Gen.asciiPrintableStr) { (a, b) =>
      val fa = graft.functions.RollingMinHash64.rollingMin(a.getBytes("UTF-8"))
      val fa2 = graft.functions.RollingMinHash64.rollingMin(a.getBytes("UTF-8"))
      fa == fa2 && (a != b || fa == graft.functions.RollingMinHash64.rollingMin(b.getBytes("UTF-8")))
    }
}
