package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Entity canonicalization (SPEC.md §4; BASELINE.json:6): the alias
  * graph is same-entity edges plus every pair of dict norms within
  * levenshtein 1; each norm maps to the min canonical of its connected
  * component.
  *
  * The dictionary is broadcast-scale by contract, so the link map is
  * built on the driver from one collect: a union-find over norm ids fed
  * by `forEachAliasEdge`, whose levenshtein edges come from exact
  * deletion neighbourhoods (no blocking, no verify). `lshEdges` is the
  * J7 MinHash blocking operator; `connectedComponents` is the
  * distributed CC the corpus-scale keys use.
  */
object Canonicalize {

  val ShingleK = 3
  val MinHashK = 24
  val Bands = 12

  /** LSH-blocked candidate alias pairs, verified with levenshtein ≤ 1:
    * the J7 `join_lsh_block` operator key, not the link map's path
    * (`forEachAliasEdge` is exact). Blocking: 3-gram shingles → 24-hash
    * MinHash → 12 bands × 2 rows → capped self equi-join on (band, hash)
    * → verify.
    * At dictionary scale the join keys are (bandIdx, bandHash) — never
    * an all-pairs cross product; Lsh.DictBucketCap bounds a degenerate
    * hot bucket. NOTE: the over-cap chain fallback keeps the bucket
    * connected only PRE-verification — a chain link whose adjacent norms
    * differ by >1 edit is dropped by the levenshtein filter, so a
    * degenerate >cap bucket can fragment a cluster the uncapped join
    * would have kept whole (bounded recall loss: the 12 bands give 12
    * independent chain orders).
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

    // What the loop relies on:
    //  - `raw` is checkpointed once, so the caller's edge plan runs once
    //    (it feeds both the contraction seed and the final node set).
    //  - each star is one exchange plus a (src, dst) window sort:
    //    first(dst) is the min neighbor, row_number() = 1 picks one row
    //    per src, and duplicate (src, dst) rows are adjacent in the sort,
    //    so a lag test drops them inline (no round-end distinct). A
    //    star's output is then a function of its input set, bounded by
    //    |E| + n rows.
    //  - cross-group duplicates survive a round, so `sig` compares
    //    multisets; one round after the set fixpoint the round map
    //    reproduces its input multiset, so detection fires at most one
    //    round late. One final distinct restores set semantics.
    //  - the window state is a node's neighbor list, spillable, so a
    //    mega-hub degrades to disk instead of OOM.

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

    // Lazy localCheckpoint: sig() is the action that materializes each
    // round, so a round costs one Spark job. One large/small alternation
    // per round: stacking several before a checkpoint re-plans the
    // un-materialized input once per reference.
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
    // Node set from the checkpointed raw projection, not the caller's plan.
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

  /** Distinct non-null dict norms, sorted, so id order is string order. */
  private def normIds(rows: Seq[DictEntry]): (Array[String], java.util.HashMap[String, Integer]) = {
    val norms = rows.iterator.map(_.norm).filter(_ != null).distinct.toArray.sorted
    val id = new java.util.HashMap[String, Integer]
    norms.indices.foreach(i => id.put(norms(i), i))
    (norms, id)
  }

  /** The alias graph of SPEC.md §4 as a spanning edge set: calls
    * `link(i, j)` on norm ids so that two norms are connected iff they
    * share an entity or are chained by levenshtein ≤ 1 steps, and every
    * call's pair shares an entity or is within levenshtein 1.
    *
    *  - same entity: each norm links to its entity's min norm;
    *  - levenshtein 1, one deletion position `p` at a time:
    *    - substitution: two norms of one length that agree once position
    *      `p` is deleted differ only at `p`; each links to the min
    *      holder of that deletion key;
    *    - insertion/deletion: a norm whose position-`p` deletion is
    *      itself a dict norm links to it.
    *
    * Keys are per position, so `ab`/`ba` (levenshtein 2, keys `b`/`a` at
    * swapped positions) never link. The key map holds one position at a
    * time: driver memory is O(|dict|), the order of the link map itself.
    * Levenshtein is over UTF-16 chars, as in `Oracle.levenshtein`.
    * Linking to minima makes every group a star on its min norm, the
    * shape `connectedComponents` contracts in the fewest rounds.
    */
  private def forEachAliasEdge(rows: Seq[DictEntry], norms: Array[String],
                               id: java.util.HashMap[String, Integer])
                              (link: (Int, Int) => Unit): Unit = {
    val minOfEntity = new java.util.HashMap[Long, Int]
    val named = rows.filter(_.norm != null)
    named.foreach(r => minOfEntity.merge(r.entityId, id.get(r.norm), math.min(_, _)))
    named.foreach { r =>
      val (m, i) = (minOfEntity.get(r.entityId), id.get(r.norm).intValue)
      if (m != i) link(m, i)
    }
    // longest first (a stable sort: ids ascend within a length), so
    // position p visits only the prefix of norms longer than p, and the
    // first holder of a key is its min norm
    val byLen = norms.indices.sortBy(i => -norms(i).length).toArray
    var p = 0
    while (byLen.nonEmpty && p < norms(byLen(0)).length) {
      val firstOfKey = new java.util.HashMap[String, Integer]
      var k = 0
      while (k < byLen.length && norms(byLen(k)).length > p) {
        val i = byLen(k)
        val s = norms(i)
        val key = s.substring(0, p) + s.substring(p + 1)
        val shorter = id.get(key)
        if (shorter != null) link(shorter, i)
        val twin = firstOfKey.putIfAbsent(key, i)
        if (twin != null) link(twin, i)
        k += 1
      }
      p += 1
    }
  }

  /** The alias edges `forEachAliasEdge` emits, each once as
    * (src < dst): the edge set the link map's union-find consumes.
    */
  def aliasEdgePairs(rows: Seq[DictEntry]): Seq[(String, String)] = {
    val (norms, id) = normIds(rows)
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    forEachAliasEdge(rows, norms, id) { (i, j) =>
      val (a, b) = (norms(i), norms(j))
      out += (if (a < b) (a, b) else (b, a))
    }
    out.toSeq
  }

  /** The alias graph as a DataFrame(src, dst): the same edges the link
    * map is built from, for the CC operator keys and traced builds.
    */
  def aliasEdges(dict: Dataset[DictEntry]): DataFrame = {
    import dict.sparkSession.implicits._
    aliasEdgePairs(dict.collect().toSeq).toDF("src", "dst")
  }

  /** norm → canonical link map over collected dict rows: union-find over
    * the alias graph, representative = min canonical over the
    * component's rows. Pure and driver-local; a norm with no edge (a
    * single-alias entity) still maps to its own entity's canonical.
    */
  def links(rows: Seq[DictEntry]): Map[String, String] = {
    val (norms, id) = normIds(rows)
    val parent = Array.range(0, norms.length)
    def find(x: Int): Int = {
      var c = x
      while (parent(c) != c) { parent(c) = parent(parent(c)); c = parent(c) }
      c
    }
    forEachAliasEdge(rows, norms, id) { (i, j) =>
      val (a, b) = (find(i), find(j))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val rep = new Array[String](norms.length)
    rows.foreach { r =>
      if (r.norm != null && r.canonical != null) {
        val c = find(id.get(r.norm))
        if (rep(c) == null || r.canonical < rep(c)) rep(c) = r.canonical
      }
    }
    norms.indices.map(i => norms(i) -> rep(find(i))).toMap
  }

  /** Collect the dictionary once and broadcast its link map for
    * flatMap-side canonicalization (Extract.triples).
    */
  def broadcastLinkMap(spark: SparkSession,
                       dict: Dataset[DictEntry]): org.apache.spark.broadcast.Broadcast[Map[String, String]] =
    spark.sparkContext.broadcast(links(dict.collect().toSeq))
}
