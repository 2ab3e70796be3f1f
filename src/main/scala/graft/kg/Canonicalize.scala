package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Entity canonicalization (SPEC.md §4; BASELINE.json:6):
  * MinHash-LSH blocking over dictionary norms (SURVEY J7) → levenshtein
  * verify → union with same-entity edges → connected components →
  * cluster representative = min canonical.
  */
object Canonicalize {

  val ShingleK = 3
  val MinHashK = 24
  val Bands = 12

  /** LSH-blocked candidate alias pairs, verified with levenshtein ≤ 1
    * (SPEC.md §4). Blocking: 3-gram shingles → 24-hash MinHash → 12
    * bands × 2 rows → capped self equi-join on (band, hash) → verify.
    * At dictionary scale the join keys are (bandIdx, bandHash) — never
    * an all-pairs cross product; Lsh.DictBucketCap bounds a degenerate
    * hot bucket. NOTE: the over-cap chain fallback keeps the bucket
    * connected only PRE-verification — a chain link whose adjacent norms
    * differ by >1 edit is dropped by the levenshtein filter, so a
    * degenerate >cap bucket can fragment a cluster the uncapped join
    * would have kept whole (bounded recall loss, accepted: the 12 bands
    * give 12 independent chain orders, and same-entity edges still
    * connect shared entities regardless).
    */
  def lshEdges(dict: Dataset[DictEntry]): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    val banded = dict.select($"norm").distinct()
      .map { row =>
        val n = row.getString(0)
        val sig = Hashing.minhash(Hashing.shingles(n, ShingleK), MinHashK)
        (n, Hashing.bands(sig, Bands))
      }.toDF("norm", "bands")
      .select($"norm", posexplode($"bands").as(Seq("band", "bhash")))
    Lsh.cappedSelfJoinPairs(banded, Seq("band", "bhash"), "norm", Lsh.DictBucketCap)
      .select($"a_norm".as("src"), $"b_norm".as("dst"))
      .filter(levenshtein($"src", $"dst") <= 1)
  }

  /** Same-entity edges: chain each entity's sorted norms (star to the
    * minimum norm — enough for connectivity).
    */
  def sameEntityEdges(dict: Dataset[DictEntry]): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    dict.groupBy($"entityId").agg(sort_array(collect_set($"norm")).as("norms"))
      .select(explode(expr("transform(slice(norms, 2, size(norms)), x -> struct(norms[0] as src, x as dst))")).as("e"))
      .select($"e.src", $"e.dst")
  }

  /** Full alias-similarity edge set per SPEC.md §4. */
  def aliasEdges(dict: Dataset[DictEntry]): DataFrame =
    lshEdges(dict).unionByName(sameEntityEdges(dict)).distinct()

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — O(log² n) rounds regardless of graph diameter, the
    * algorithm that survives 10^12-node similarity graphs. Deterministic:
    * node ids are strings, min is lexicographic total order.
    * `localCheckpoint` per round truncates lineage (SURVEY §4.4(3)).
    *
    * edges: DataFrame(src: String, dst: String) — undirected.
    * returns DataFrame(node: String, comp: String), comp = min node of
    * the component.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    // ROUND-7 restructure (optimization guide §2.4 — fewer exchanges, no
    // recomputed subtrees; per-round output SETS are unchanged, so the
    // fixpoint and the result are bit-identical and CanonicalizeSpec's
    // union-find/label-prop/partitioning-invariance pins still hold):
    //  - `raw` is lazily checkpointed ONCE. The caller's edge-build plan
    //    (LSH blocking, simhash pair-gen, the event-chain window) used to
    //    run TWICE — once under the contraction seed and once more under
    //    the final node-set union at the bottom of this function.
    //  - each star op is ONE exchange (+ a per-partition sort) instead of
    //    a min-aggregate exchange PLUS a join of the edge set against the
    //    min table: partitioning by src both orders the group (first(dst)
    //    in dst order = the min neighbor) and numbers it (row_number()=1
    //    replaces the old one-row-per-src min table), and a per-row
    //    2-struct posexplode+filter emits exactly the old output multiset
    //    inside the same codegen stage — no join, no second shuffle.
    //  - symmetrization is a 2-struct explode (one pass over the
    //    checkpoint) instead of a union that scans it twice.
    //  - NO round-end distinct exchange: duplicate (src,dst) rows are
    //    ADJACENT in each star's (src, dst) window sort, so a lag test
    //    dedupes them inline — each star's output is a function of its
    //    input SET, bounded by |E|+n rows regardless of input
    //    multiplicity, so the un-distincted frames cannot grow round
    //    over round. Cross-group duplicates (two sources electing the
    //    same (v,m)) survive a round but are deduped by the next star's
    //    lag test; one final distinct before the node join restores set
    //    semantics for the result. The `sig` fixpoint test therefore
    //    compares MULTISETS (hence its sum term): one round after the
    //    set fixpoint the round map reproduces its input multiset
    //    exactly (output = F(set) and the set is stable), so detection
    //    fires at most one round later than the old set-based test.
    // Per round: sym exchange + oriented exchange = 2 exchanges;
    // `Probe cc` measured the old join form at ~6 AQE stage-jobs per round
    // on sf0.1 (66 jobs / 211 stages for 11 rounds).
    // The whole-partition window state is the node's neighbor list —
    // spillable (UnsafeExternalSorter), unlike a collect_list array, so
    // a mega-hub degrades to disk instead of OOM.

    val raw = edges.select($"src", $"dst").localCheckpoint(eager = false)

    // large-star: ∀u, m = min(Γ(u) ∪ {u}); connect every neighbor v > u
    // to m (Γ over the symmetrized edge set), plus (u, m) once per u.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct($"src".as("s"), $"dst".as("d")),
          struct($"dst".as("s"), $"src".as("d")))).as("x"))
        .select($"x.s".as("src"), $"x.d".as("dst"))
        .where($"src" =!= $"dst")
      val w = Window.partitionBy($"src").orderBy($"dst")
      sym.withColumn("m", least(first($"dst").over(w), $"src"))
        .withColumn("rn", row_number().over(w))
        // first occurrence of this (src,dst) in the sorted group — the
        // inline dedup that replaces the round-end distinct
        .withColumn("fo", $"rn" === 1 || lag($"dst", 1).over(w) =!= $"dst")
        .select($"src", $"dst", $"rn", $"fo",
          posexplode(array(struct($"dst".as("n"), $"m".as("c")),
            struct($"src".as("n"), $"m".as("c")))).as(Seq("pos", "x")))
        .where(($"pos" === 0 && $"dst" > $"src" && $"fo") ||
          ($"pos" === 1 && $"rn" === 1))
        .select($"x.n".as("src"), $"x.c".as("dst"))
        .where($"src" =!= $"dst")
    }

    // small-star: orient every edge max→min; ∀u, m = min(N(u) ∪ {u})
    // (= min(dst) — every oriented dst < u); connect every smaller
    // neighbor ≠ m (and u itself) to m.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
        .where($"src" =!= $"dst")
      val w = Window.partitionBy($"src").orderBy($"dst")
      oriented.withColumn("m", first($"dst").over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("fo", $"rn" === 1 || lag($"dst", 1).over(w) =!= $"dst")
        .select($"src", $"dst", $"rn", $"m", $"fo",
          posexplode(array(struct($"dst".as("n"), $"m".as("c")),
            struct($"src".as("n"), $"m".as("c")))).as(Seq("pos", "x")))
        .where(($"pos" === 0 && $"dst" =!= $"m" && $"fo") ||
          ($"pos" === 1 && $"rn" === 1))
        .select($"x.n".as("src"), $"x.c".as("dst"))
        .where($"src" =!= $"dst")
    }

    // LAZY localCheckpoint: the sig() aggregation is the action that
    // materializes each checkpoint, so a convergence round costs ONE
    // Spark job, not two (eager checkpoint + agg). One large/small
    // alternation per round — composing several alternations into one
    // plan before checkpointing is a trap: each star references its
    // input ~3× (symmetrize + min-table + join), so k stacked stars
    // duplicate the un-materialized input subtree ~3^k times and the
    // optimizer/codegen cost explodes (measured: a 2-alternation
    // "double-step" made the round SLOWER, not faster).
    var cur = raw.where($"src" =!= $"dst")
      .distinct().localCheckpoint(eager = false)
    // carry the signature forward: the previous round's sig(next) is
    // this round's sig(cur)
    var curSig = sig(cur)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(cur)).localCheckpoint(eager = false)
      val nextSig = sig(next)
      converged = nextSig == curSig
      cur = next
      curSig = nextSig
      iter += 1
    }
    require(converged, s"star-contraction CC did not converge in $maxIters rounds")
    // cur is now a forest of stars root←node; roots map to themselves.
    // Node set from the checkpointed raw projection (NOT the caller's
    // plan — see the `raw` note above).
    val nodes = raw.select($"src".as("node"))
      .unionAll(raw.select($"dst".as("node"))).distinct()
    // cur may carry cross-group duplicate pairs (no per-round distinct) —
    // dedupe ONCE here so the left join cannot multiply output rows
    nodes.join(cur.select($"src".as("node"), $"dst".as("comp")).distinct(),
        Seq("node"), "left")
      .select($"node", coalesce($"comp", $"node").as("comp"))
  }

  /** Multiset signature of an undirected edge frame, the CC fixpoint
    * test: count, xor and wrapping sum of each canonical pair's
    * xxhash64. Xor alone cancels pairs of equal rows, so
    * {(a,c)×1, (b,c)×2} and {(a,c)×3} would collide; the sum sees
    * multiplicity. The sum runs in decimal (no ANSI overflow) and is
    * wrapped to 64 bits on the driver.
    */
  def sig(edges: DataFrame): (Long, Long, Long) = {
    val h = expr("xxhash64(least(src, dst), greatest(src, dst))")
    val r = edges.agg(count(lit(1)), bit_xor(h), sum(h.cast("decimal(20,0)"))).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getDecimal(2).toBigInteger.longValue)
  }

  /** Min-label propagation CC (O(diameter) rounds) — kept as the simple
    * reference implementation; property-tested against the contraction
    * variant.
    */
  def connectedComponentsLabelProp(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val bidir = edges.select($"src", $"dst")
      .unionByName(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = bidir.select($"src".as("node")).distinct()
      .withColumn("comp", $"node")
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // candidate labels: own + min neighbor label
      val viaNeighbors = bidir.join(labels, bidir("dst") === labels("node"))
        .select(bidir("src").as("node"), $"comp")
      val next = labels.unionByName(viaNeighbors)
        .groupBy($"node").agg(min($"comp").as("comp"))
        .localCheckpoint()
      val changed = next.as("n").join(labels.as("l"), Seq("node"))
        .filter($"n.comp" =!= $"l.comp").limit(1).count()
      labels = next
      converged = changed == 0L
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters iterations")
    labels
  }

  /** Edge count up to which connected components run as a driver-local
    * union-find instead of the iterative distributed loop. The alias
    * dictionary is broadcast-scale by contract (BASELINE.json:6
    * "broadcast dictionaries"), so its similarity graph is tiny — paying
    * ~10 Spark jobs of fixed latency for it would cap the pipeline's
    * N→4N scaling efficiency. Large graphs still take the distributed
    * path (property-tested directly).
    */
  val SmallGraphEdges = 200000L

  /** Driver-local union-find over a small collected edge list; output
    * matches connectedComponents (comp = min node string).
    */
  def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select("src", "dst").as[(String, String)].collect()
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "comp")
  }

  /** norm → canonical representative map (CanonicalLink rows):
    * representative canonical = min canonical within the component.
    */
  def linkMap(dict: Dataset[DictEntry]): Dataset[CanonicalLink] = {
    val spark = dict.sparkSession
    import spark.implicits._
    // one materialization shared by the count and the component pass;
    // both paths have read it by the time they return (localComponents
    // collects, connectedComponents checkpoints), so release it here
    val edges = aliasEdges(dict).cache()
    val edgeComps =
      try {
        if (edges.count() <= SmallGraphEdges) localComponents(edges)
        else connectedComponents(edges)
      } finally edges.unpersist()
    // Seed the component set with EVERY dict norm: a single-alias entity
    // produces no edges (sameEntityEdges needs >=2 norms, lshEdges needs a
    // lev<=1 partner), yet SPEC.md §4 / Oracle.canonicalMap still map it to
    // its own canonical — which may differ from the norm itself. Without
    // the seed, canon(norm) would fall back to the raw norm.
    val comps = dict.select($"norm".as("node")).distinct()
      .join(edgeComps, Seq("node"), "left")
      .select($"node", coalesce($"comp", $"node").as("comp"))
    val withCanon = comps.join(dict.select($"norm".as("node"), $"canonical"), Seq("node"))
    val repOfComp = withCanon.groupBy($"comp").agg(min($"canonical").as("rep"))
    withCanon.select($"node", $"comp").distinct()
      .join(repOfComp, Seq("comp"))
      .select($"node".as("norm"), $"rep".as("canonical"))
      .as[CanonicalLink]
  }

  /** Collect the (small, broadcast-scale) link map and broadcast it for
    * flatMap-side canonicalization (Extract.canonicalTriples).
    */
  def broadcastLinkMap(spark: SparkSession,
                       dict: Dataset[DictEntry]): org.apache.spark.broadcast.Broadcast[Map[String, String]] =
    spark.sparkContext.broadcast(
      linkMap(dict).collect().map(l => l.norm -> l.canonical).toMap)
}
