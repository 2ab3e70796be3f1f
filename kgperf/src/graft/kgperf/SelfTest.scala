package graft.kgperf

import scala.util.Random
import graft.fixtures.Vocab
import graft.kg.TableIO
import graft.oracle.Oracle

/** Tests of the benchmark's own code (run with `run.py --self-test`):
  * generators, digest and the planted kg_dup composition.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = scala.util.Try(ok).fold(e => { println(s"  threw $e"); false }, identity)
    if (!passed) failures += 1
    println(s"${if (passed) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2, 2).collect { case Array("--work", w) => w }.toSeq.headOption
      .getOrElse(throw new IllegalArgumentException("missing --work"))

    test("uniqueCorpus is a pure function of (seed, size)") {
      Inputs.uniqueCorpus(7, 300) == Inputs.uniqueCorpus(7, 300)
    }
    test("different seeds give disjoint corpora") {
      val a = Inputs.uniqueCorpus(1, 300).map(f => (f.repo, f.path)).toSet
      val b = Inputs.uniqueCorpus(2, 300).map(f => (f.repo, f.path)).toSet
      (a intersect b).isEmpty && a.size == 300
    }
    test("dupCorpus is a pure function of (seed, size)") {
      Inputs.dupCorpus(7, 400) == Inputs.dupCorpus(7, 400)
    }
    test("aliasDict is a pure function of (seed, size)") {
      Inputs.aliasDict(7, 200) == Inputs.aliasDict(7, 200)
    }

    test("kg_dup plants exactly its stated duplicates and rejects") {
      val n = 2000
      val d = Inputs.dupCorpus(11, n)
      val rows = d.rows
      val admitted = rows.filter(Inputs.admitted)
      val byReason = (rows.count(_.content == null), rows.count(f => f.content != null && f.content.isEmpty),
        rows.count(f => f.content != null && f.content.length > TableIO.MaxContentChars))
      rows.size == n &&
        byReason == ((Inputs.RejectNull, Inputs.RejectEmpty, Inputs.RejectOversize)) &&
        d.rejects == rows.size - admitted.size &&
        d.unique == n / 2 &&
        d.unique + d.exact + d.forks + d.rejects == n &&
        admitted.distinct.size == d.unique + d.forks &&
        admitted.map(_.content).distinct.size == d.unique &&
        math.abs(d.exact - d.forks) <= 1
    }

    test("canon_dict's expected link map equals the exhaustive oracle") {
      val d = Inputs.aliasDict(5, 150)
      d.rows.size == 150 * Inputs.AliasesPerEntity &&
        Oracle.canonicalMap(Workload.dictTuples(d.rows)) == d.expected
    }

    val corpus = Inputs.dupCorpus(3, 300).rows.filter(Inputs.admitted)
    val triples = Oracle.triples(corpus, Vocab.dictRows).toVector
    test("digest is independent of row order and sees duplicates") {
      val d = Digest.ofOracle(triples)
      d.count == triples.size && d == Digest.ofOracle(new Random(1).shuffle(triples)) &&
        Digest.ofOracle(triples :+ triples.head) != d
    }

    val spark = BenchMain.session(work, 2)
    try {
      import spark.implicits._
      val df = triples.toDF()
      test("Spark-side digest equals the driver-side digest under any partitioning") {
        val d = Digest.ofOracle(triples)
        Seq(1, 3, 7).forall(p => Digest.ofFrame(df.repartition(p)) == d) &&
          Digest.ofFrame(df.orderBy($"obj".desc).coalesce(2)) == d
      }
    } finally spark.stop()

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
