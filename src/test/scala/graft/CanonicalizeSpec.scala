package graft

import org.apache.spark.sql.functions._
import graft.kg.{Canonicalize, KgPipeline}
import graft.oracle.Oracle
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

  test("localComponents (small-graph fast path) equals distributed CC") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val nodes = (0 until 40).map(i => f"m$i%02d")
    val edges = (0 until 50).map { _ =>
      (nodes(rng.nextInt(nodes.size)), nodes(rng.nextInt(nodes.size)))
    }.filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    val dist = Canonicalize.connectedComponents(df).as[(String, String)].collect().toSet
    val local = Canonicalize.localComponents(df).as[(String, String)].collect().toSet
    assert(dist == local)
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
    import spark.implicits._
    val dict = KgPipeline.dictDataset(spark)
    val got = Canonicalize.linkMap(dict).collect()
      .map(l => l.norm -> l.canonical).toMap
    val want = Oracle.canonicalMap(Vocab.dictRows)
    assert(got == want)
  }

  test("singleton-alias entity maps to its canonical, not its raw norm") {
    import spark.implicits._
    // an entity with ONE alias whose norm differs from the canonical:
    // no same-entity edge (needs >=2 norms), no LSH edge (no lev<=1
    // partner) — SPEC.md §4 still requires canon(norm) = entity canonical
    val rows: Seq[(String, Long, String, String)] = Seq(
      ("solitary", 900L, "solitarylib", "module"),       // singleton, norm != canonical
      ("alphafn", 901L, "alphafn", "function"),           // pair cluster
      ("alphaf", 901L, "alphafn", "function"))
    val dict = rows.map { case (n, id, c, k) =>
      graft.kg.DictEntry(n, id, c, k) }.toDS()
    val got = Canonicalize.linkMap(dict).collect()
      .map(l => l.norm -> l.canonical).toMap
    assert(got("solitary") == "solitarylib")
    assert(got("alphafn") == "alphafn" && got("alphaf") == "alphafn")
    // and it matches the independent oracle on the same dict
    assert(got == Oracle.canonicalMap(rows))
  }

  test("distributed CC: two 100k-node components bridged by one edge") {
    import spark.implicits._
    // adversarial shape above the SmallGraphEdges driver-local threshold:
    // two long paths (worst-case diameter) plus a single bridge — the
    // contraction must produce exactly one component in O(log^2 n) rounds
    val n = 100001
    val e1 = spark.range(n - 1)
      .select(format_string("a%06d", $"id").as("src"),
        format_string("a%06d", $"id" + 1).as("dst"))
    val e2 = spark.range(n - 1)
      .select(format_string("b%06d", $"id").as("src"),
        format_string("b%06d", $"id" + 1).as("dst"))
    val bridge = Seq((f"a${n - 1}%06d", "b000000")).toDF("src", "dst")
    val edges = e1.unionAll(e2).unionAll(bridge)
    assert(edges.count() > Canonicalize.SmallGraphEdges)
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

  test("linkMap releases its cached alias-edge frame") {
    val dict = KgPipeline.dictDataset(spark)
    Canonicalize.linkMap(dict).collect()
    // storageLevel is the cache manager's lookup for this plan
    assert(Canonicalize.aliasEdges(dict).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
  }
}
