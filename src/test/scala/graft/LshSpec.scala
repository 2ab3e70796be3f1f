package graft

import org.apache.spark.sql.functions._
import graft.kg.Lsh
import graft.queries.DedupQueries

/** Hot-bucket cap properties (SURVEY J7 scale guard) + blocking recall. */
class LshSpec extends SparkTestBase {

  test("capped pairs equal uncapped all-pairs when every bucket is small") {
    import spark.implicits._
    val buckets = Seq(
      (1L, 10, 100L), (2L, 10, 100L), (3L, 10, 100L),
      (4L, 11, 200L), (5L, 11, 200L),
      (6L, 12, 300L)).toDF("doc_id", "band", "bhash")
    val capped = Lsh.cappedSelfJoinPairs(buckets, Seq("band", "bhash"), "doc_id", cap = 64)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("1000 identical documents: candidate count is bounded, not quadratic") {
    import spark.implicits._
    // every doc has the same minhash signature → ONE bucket per band.
    // Uncapped, this is 12 bands x C(1000,2) ≈ 6M candidate rows; the cap
    // must degrade it to the rank-adjacent chain: exactly 999 distinct
    // pairs (identical chains in every band).
    val docs = spark.range(1000).select($"id".as("doc_id"),
      lit("the same boilerplate text repeated everywhere").as("text"))
    val banded = docs.as[(Long, String)].mapPartitions(_.flatMap { case (id, text) =>
      val sig = graft.functions.Hashing.minhash(text.split(" ").toSeq, 24)
      graft.functions.Hashing.bands(sig, 12).zipWithIndex.map { case (h, b) => (id, b, h) }
    }).toDF("doc_id", "band", "bhash")
    val pairs = Lsh.cappedSelfJoinPairs(banded, Seq("band", "bhash"), "doc_id",
      Lsh.DocBucketCap)
    val n = pairs.count()
    assert(n == 999L, s"expected the 999-pair chain, got $n")
    // connectivity preserved: the chain keeps the whole cluster in one
    // component
    val comps = graft.kg.Canonicalize.connectedComponents(
      pairs.select(format_string("d%04d", $"a_doc_id").as("src"),
        format_string("d%04d", $"b_doc_id").as("dst")))
    assert(comps.select("comp").distinct().count() == 1L)
  }

  test("capped pairs are invariant under input partitioning") {
    import spark.implicits._
    val buckets = (0 until 300).map(i => (i.toLong, i % 2, 7L)).toDF("doc_id", "band", "bhash")
    val p1 = Lsh.cappedSelfJoinPairs(buckets.repartition(1), Seq("band", "bhash"), "doc_id", 16)
      .as[(Long, Long)].collect().toSet
    val p13 = Lsh.cappedSelfJoinPairs(buckets.repartition(13), Seq("band", "bhash"), "doc_id", 16)
      .as[(Long, Long)].collect().toSet
    assert(p1 == p13)
    // 2 buckets of 150 > cap → chains of 149 each
    assert(p1.size == 298)
  }

  test("content-derived Jaccard blocking: recall >= 0.9 vs brute force on planted clusters") {
    import spark.implicits._
    // realistic near-dup corpus: 100 base docs of 30 distinct words from a
    // large synthetic vocabulary, 4 variants each with 1-2 word
    // substitutions (Jaccard ~0.87-0.94 to the base), plus the bases
    // themselves → 500 docs. Deterministic seed.
    val rng = new scala.util.Random(42)
    val vocab = (0 until 5000).map(i => f"w$i%04d_${graft.functions.Hashing.mix64(i.toLong) & 0xffff}%x")
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    for (c <- 0 until 100) {
      val base = rng.shuffle(vocab).take(30).toVector
      docs += ((id, base.mkString(" "))); id += 1
      for (_ <- 0 until 4) {
        val nSub = 1 + rng.nextInt(2)
        var v = base
        for (_ <- 0 until nSub)
          v = v.updated(rng.nextInt(v.size), vocab(rng.nextInt(vocab.size)))
        docs += ((id, v.mkString(" "))); id += 1
      }
    }
    val df = docs.toSeq.toDF("doc_id", "text")
    // brute-force truth (local)
    val sets = docs.map { case (i, t) => i -> t.split(" ").toSet }.toMap
    val truth = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      inter = sets(a).intersect(sets(b)).size
      uni = sets(a).union(sets(b)).size
      if 2 * inter >= uni
    } yield (a, b)).toSet
    assert(truth.size >= 300, s"fixture should plant near-dups, got ${truth.size}")
    val got = DedupQueries.jaccardPairs(df, DedupQueries.JaccardBlockCap)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // blocking is content-derived: precision is exact by construction
    assert(got.subsetOf(truth))
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${truth.size})")
  }
}
