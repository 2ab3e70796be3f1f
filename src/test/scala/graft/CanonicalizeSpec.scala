package graft

import org.apache.spark.sql.functions._
import graft.kg.{Canonicalize, DictEntry, KgPipeline}
import graft.oracle.Oracle
import graft.tools.Probe
import graft.fixtures.Vocab

/** CC + LSH tests (SURVEY §5.2 layer 2: T6/J7 properties). */
class CanonicalizeSpec extends SparkTestBase {

  test("connectedComponents matches a driver-side union-find oracle") {
    import spark.implicits._
    // deterministic random-ish graph: 60 nodes, edges from a fixed seed
    val rng = new scala.util.Random(7)
    val nodes = (0 until 60).map(i => f"n$i%02d")
    val edges = (0 until 80).map { _ =>
      (nodes(rng.nextInt(nodes.size)), nodes(rng.nextInt(nodes.size)))
    }.filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    val got = Canonicalize.connectedComponents(df)
      .as[(String, String)].collect().toMap
    // oracle: plain union-find
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: String): String = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // min-node representative per component
    val comps = nodes.filter(n => edges.exists(e => e._1 == n || e._2 == n))
      .groupBy(find).map { case (_, ms) => ms.min -> ms }.toMap
    comps.foreach { case (rep, members) =>
      members.foreach(m => assert(got(m) == rep, s"node $m"))
    }
  }

  test("connectedComponents is invariant under input partitioning") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"))
    val r1 = Canonicalize.connectedComponents(edges.toDF("src", "dst").repartition(1))
      .as[(String, String)].collect().toSet
    val r7 = Canonicalize.connectedComponents(edges.toDF("src", "dst").repartition(7))
      .as[(String, String)].collect().toSet
    assert(r1 == r7)
    assert(r1 == Set("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x",
      "y" -> "x", "p" -> "p", "q" -> "p", "r" -> "p"))
  }

  test("LSH blocking finds every levenshtein<=1 alias pair (recall on dict)") {
    import spark.implicits._
    val dict = KgPipeline.dictDataset(spark)
    val norms = Vocab.dictRows.map(_._1).distinct
    val expected = (for {
      i <- norms.indices; j <- (i + 1) until norms.size
      if Oracle.levenshtein(norms(i), norms(j)) <= 1
    } yield (Seq(norms(i), norms(j)).min, Seq(norms(i), norms(j)).max)).toSet
    val got = Canonicalize.lshEdges(dict).as[(String, String)].collect().toSet
    // LSH is an approximate BLOCKER; for this vocabulary the 12x2 band
    // scheme must reach full recall on lev<=1 pairs (they share >70% of
    // shingles). Precision is enforced by the levenshtein verify.
    assert(expected.subsetOf(got), s"missed: ${expected -- got}")
    assert(got == expected)
  }

  test("star contraction handles a diameter-300 path in few rounds") {
    import spark.implicits._
    // a 301-node path: label propagation would need ~300 rounds; the
    // large/small-star contraction must converge in O(log^2 n)
    val edges = (0 until 300).map(i => (f"p$i%04d", f"p${i + 1}%04d")).toDF("src", "dst")
    val got = Canonicalize.connectedComponents(edges, maxIters = 15)
      .as[(String, String)].collect()
    assert(got.length == 301)
    assert(got.forall(_._2 == "p0000"))
  }

  test("star contraction equals label propagation on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val nodes = (0 until 120).map(i => f"z$i%03d")
    val edges = (0 until 140).map { _ =>
      (nodes(rng.nextInt(nodes.size)), nodes(rng.nextInt(nodes.size)))
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    val star = Canonicalize.connectedComponents(edges)
      .as[(String, String)].collect().toSet
    val prop = Canonicalize.connectedComponentsLabelProp(edges)
      .as[(String, String)].collect().toSet
    assert(star == prop)
  }

  test("engine link map equals oracle canonical map") {
    val dict = KgPipeline.dictDataset(spark)
    val got = Canonicalize.broadcastLinkMap(spark, dict).value
    val want = Oracle.canonicalMap(Vocab.dictRows)
    assert(got == want)
  }

  test("singleton-alias entity maps to its canonical, not its raw norm") {
    import spark.implicits._
    // an entity with ONE alias whose norm differs from the canonical:
    // no same-entity edge (needs >=2 norms), no levenshtein edge (no
    // lev<=1 partner) — SPEC.md §4 still requires canon(norm) = entity
    // canonical
    val rows: Seq[(String, Long, String, String)] = Seq(
      ("solitary", 900L, "solitarylib", "module"),       // singleton, norm != canonical
      ("alphafn", 901L, "alphafn", "function"),           // pair cluster
      ("alphaf", 901L, "alphafn", "function"))
    val dict = rows.map { case (n, id, c, k) =>
      graft.kg.DictEntry(n, id, c, k) }.toDS()
    val got = Canonicalize.broadcastLinkMap(spark, dict).value
    assert(got("solitary") == "solitarylib")
    assert(got("alphafn") == "alphafn" && got("alphaf") == "alphafn")
    // and it matches the independent oracle on the same dict
    assert(got == Oracle.canonicalMap(rows))
  }

  test("distributed CC: two 100k-node components bridged by one edge") {
    import spark.implicits._
    // adversarial shape: two long paths (worst-case diameter) plus a
    // single bridge — the contraction must produce exactly one component
    // in O(log^2 n) rounds
    val n = 100001
    val e1 = spark.range(n - 1)
      .select(format_string("a%06d", $"id").as("src"),
        format_string("a%06d", $"id" + 1).as("dst"))
    val e2 = spark.range(n - 1)
      .select(format_string("b%06d", $"id").as("src"),
        format_string("b%06d", $"id" + 1).as("dst"))
    val bridge = Seq((f"a${n - 1}%06d", "b000000")).toDF("src", "dst")
    val edges = e1.unionAll(e2).unionAll(bridge)
    assert(edges.count() == 2L * (n - 1) + 1)
    val comps = Canonicalize.connectedComponents(edges, maxIters = 25)
    val reps = comps.select($"comp").distinct().as[String].collect()
    assert(reps.toSeq == Seq("a000000"))
    assert(comps.count() == 2L * n)
  }

  test("CC fixpoint signature tells multisets apart that xor cannot") {
    import spark.implicits._
    // {(a,c)x1, (b,c)x2} and {(a,c)x3}: same count, and xor cancels the
    // (b,c) pair, so count + xor alone reports a false fixpoint
    val twoPairs = Seq(("a", "c"), ("b", "c"), ("c", "b")).toDF("src", "dst")
    val onePair = Seq(("a", "c"), ("c", "a"), ("a", "c")).toDF("src", "dst")
    assert(Canonicalize.sig(twoPairs) != Canonicalize.sig(onePair))
    // orientation and row order do not matter; an empty frame is defined
    assert(Canonicalize.sig(twoPairs) ==
      Canonicalize.sig(Seq(("c", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")))
    assert(Canonicalize.sig(twoPairs.limit(0)) == ((0L, 0L, 0L)))
  }

  test("broadcastLinkMap runs exactly one Spark job") {
    import spark.implicits._
    // a file-backed dict, as KgPipeline gets it: collecting a local
    // Dataset would run no job at all
    val dir = java.nio.file.Files.createTempDirectory("graft_dict").toString + "/dict"
    KgPipeline.dictDataset(spark).write.parquet(dir)
    val dict = spark.read.parquet(dir).as[DictEntry]
    val (links, _, m) = Probe.measured(spark)(Canonicalize.broadcastLinkMap(spark, dict))
    try {
      assert(m.jobs.get == 1L, "the dictionary collect is the only job")
      assert(links.value == Oracle.canonicalMap(Vocab.dictRows))
    } finally links.destroy()
  }

  test("driver link map equals the oracle on random and adversarial dictionaries") {
    def check(rows: Seq[(String, Long, String, String)]): Unit = {
      val entries = rows.map { case (n, id, c, k) => DictEntry(n, id, c, k) }
      assert(Canonicalize.links(entries) == Oracle.canonicalMap(rows), rows)
      // every emitted edge is a real alias edge (SPEC.md §4)
      val entities = rows.groupBy(_._1).map { case (n, rs) => n -> rs.map(_._2).toSet }
      Canonicalize.aliasEdgePairs(entries).foreach { case (a, b) =>
        assert(a < b, (a, b))
        assert((entities(a) & entities(b)).nonEmpty || Oracle.levenshtein(a, b) <= 1, (a, b))
      }
    }
    def fn(n: String, id: Long, c: String) = (n, id, c, "function")
    // one-character norms all share the position-0 deletion key ""
    check(Seq(fn("a", 1, "zeta"), fn("b", 2, "yank"), fn("q", 3, "xray"),
      fn("xy", 4, "walk"), fn("mn", 5, "mn")))
    check(Seq(fn("", 1, "empty"), fn("k", 2, "kilo"), fn("kk", 3, "kk"), fn("zzz", 4, "zzz")))
    // transpositions share deletion keys only at different positions:
    // levenshtein 2, no edge
    check(Seq(fn("abc", 1, "abc"), fn("acb", 2, "acb"), fn("xy", 3, "xy"), fn("yx", 4, "yx")))
    // a norm listed under two entities merges them, in either row order
    check(Seq(fn("dual", 10, "zzz"), fn("dual", 11, "aaa"), fn("mate", 10, "zzz")))
    check(Seq(fn("dual", 11, "aaa"), fn("dual", 10, "zzz"), fn("mate", 10, "zzz")))
    // duplicate rows; a single-alias entity whose norm is not its canonical
    check(Seq(fn("alphafn", 901, "alphafn"), fn("alphafn", 901, "alphafn"),
      fn("alphaf", 901, "alphafn"), fn("solitary", 900, "solitarylib")))
    check(Nil)

    // seeded random dictionaries over a 3-letter alphabet: dense
    // levenshtein-1 neighbourhoods, shared and duplicated norms, and
    // canonicals unrelated to the norms so the min really chooses
    val rng = new scala.util.Random(97)
    def word(maxLen: Int) = Iterator.fill(rng.nextInt(maxLen + 1))("abc"(rng.nextInt(3))).mkString
    for (_ <- 1 to 300) {
      val rows = (0 until 1 + rng.nextInt(30)).flatMap { e =>
        val canon = word(6)
        Seq.fill(1 + rng.nextInt(4))(fn(word(5), e.toLong, canon))
      }
      val withShared = if (rows.nonEmpty && rng.nextInt(3) == 0) {
        val r = rows(rng.nextInt(rows.size))
        rows :+ fn(r._1, 1000L, word(6))
      } else rows
      check(rng.shuffle(withShared ++ withShared.take(rng.nextInt(3))))
    }
  }
}
