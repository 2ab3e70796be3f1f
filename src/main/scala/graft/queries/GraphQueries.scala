package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables.t

/** Graph analytics over the constructed graph (round 5) — once the KG
  * stage has emitted triples, the questions users ask next are graph
  * ones: how connected is an entity (degree), which entities matter
  * (PageRank), how clustered is its neighborhood (triangles). The
  * operators run here over a DuckDB-expressible stand-in graph with the
  * same shape as a real KG projection: the market-basket co-purchase
  * graph (parts co-occurring in an order), sparse and skewed
  * (sf0.01: 2,000 nodes, 115k edges, degrees 42–204; scales with SF to
  * 20k nodes / 1.19M edges at sf0.1).
  *
  * Scale posture, shared by all three keys:
  *  - The quadratic per-group pair expansion is CAPPED (rk ≤ 10 per
  *    order — same discipline as the LSH hot-bucket caps): a
  *    pathological mega-order costs C(10,2) pairs, not C(n,2).
  *  - Edges are oriented src < dst, so every undirected edge and every
  *    triangle is materialized exactly once; at production scale the
  *    orientation would be by degree (low→high), which bounds the
  *    wedge count by arboricity — noted, not needed at these SFs.
  *  - PageRank state is per-node and stays distributed (no driver
  *    pass-through); the oracled key unrolls a FIXED 3 iterations so
  *    DuckDB can replay it exactly. The open-ended production variant
  *    would localCheckpoint per iteration exactly like
  *    Canonicalize.connectedComponents truncates its lineage.
  *  - All arithmetic is integer fixed-point (millionths): integer `div`
  *    shares, integer-sum damping — BIGINT sums are order-invariant, so
  *    Spark's parallel aggregation and DuckDB's serial one agree
  *    bit-exactly (same trick as the Lloyd fixed-point centroids).
  */
object GraphQueries {

  /** Shared DuckDB CTE prefix: capped co-purchase edge set, oriented
    * src < dst, plus the symmetric view and degrees.
    */
  private val edgeCte =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |r AS (SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk FROM op),
      |c AS (SELECT o, p FROM r WHERE rk <= 10),
      |e0 AS (SELECT DISTINCT a.p AS src, b.p AS dst
      |       FROM c a JOIN c b ON a.o = b.o AND a.p < b.p),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1)""".stripMargin

  private def prIter(i: Int): String =
    s"""pr$i AS (SELECT e.dst AS node,
       |  CAST(150000 + (85 * CAST(sum(p.val // d.d) AS BIGINT)) // 100 AS BIGINT) AS val
       |  FROM e JOIN pr${i - 1} p ON p.node = e.src
       |         JOIN deg d ON d.node = e.src GROUP BY 1)""".stripMargin

  val PrIters = 3

  /** Iterations the OPEN-ENDED `pagerankConverged(tol = 1000)` loop runs
    * on the fixed nation graph below — measured (delta 1447 > tol after
    * iteration 5, 453 ≤ tol after 6) and pinned by GraphSpec, so the
    * `graph_pagerank_converged` oracle can unroll exactly this many
    * iterations. The graph is built from `nation` (25 rows at EVERY
    * scale factor by TPC-H construction), so the count is a true
    * constant, not an SF-dependent accident.
    */
  val PrConvIters = 6

  /** Nation-graph CTE for the converged key: same-region cliques plus
    * the deterministic (k, k² mod 25) chords that break the cliques'
    * regularity (a 5-regular graph would converge in ONE iteration —
    * uniform rank is its fixed point — and test nothing).
    */
  private val nationEdgeCte =
    """WITH nn AS (SELECT n_nationkey AS k, n_regionkey AS r FROM nation),
      |e0 AS (SELECT a.k AS src, b.k AS dst
      |       FROM nn a JOIN nn b ON a.r = b.r AND a.k < b.k
      |       UNION
      |       SELECT least(k, (k*k)%25) AS src, greatest(k, (k*k)%25) AS dst
      |       FROM nn WHERE k <> (k*k)%25),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1)""".stripMargin

  /** Spark mirror of the nation-graph e0 CTE (oriented src < dst). */
  private[graft] def nationEdges(s: SparkSession, d: String): DataFrame = {
    val nn = t(s, d, "nation")
      .select(col("n_nationkey").as("k"), col("n_regionkey").as("r"))
    val same = nn.alias("a").join(nn.alias("b"),
        col("a.r") === col("b.r") && col("a.k") < col("b.k"))
      .select(col("a.k").as("src"), col("b.k").as("dst"))
    val chords = nn
      .select(least(col("k"), (col("k") * col("k")) % 25).as("src"),
        greatest(col("k"), (col("k") * col("k")) % 25).as("dst"))
      .filter(col("src") =!= col("dst"))
    same.union(chords).distinct()
  }

  /** Capped co-purchase edges, oriented src < dst (Spark mirror of the
    * e0 CTE).
    */
  private[queries] def coEdges(s: SparkSession, d: String): DataFrame = {
    // ROUND-7 (guide §2.4): the old shape was distinct(o,p) [exchange on
    // (o,p)] → row_number window [exchange on o] → self-join on o →
    // distinct — ~3 full exchanges plus a join, and the whole subtree was
    // then UNION-duplicated by symmetric(). Now ONE exchange on
    // l_orderkey builds the per-order sorted distinct part set
    // (collect_set dedupes inside the aggregate), slice(…,1,10) is
    // exactly the old rk<=10 cap (first 10 in part order), and pair-gen
    // is a per-row array comprehension — src<dst by construction, no
    // join. Per-group state is bounded: TPC-H orders carry <=7 lineitems.
    // Output set is identical (sorted distinct top-10 per order, all
    // i<j pairs, trailing distinct across orders) when l_partkey is never
    // NULL (a TPC-H key column). The filter states that precondition: the
    // cap counts non-NULL parts whatever the data, while the oracle's
    // distinct + row_number cap would count a NULL part (sorted first)
    // among the top-10 slots and could admit a different 10th part.
    t(s, d, "lineitem")
      .where(col("l_partkey").isNotNull)
      .groupBy(col("l_orderkey").as("o"))
      .agg(slice(array_sort(collect_set(col("l_partkey"))), 1, 10).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, 10)," +
          " y -> named_struct('src', x, 'dst', y))))")).as("e"))
      .select(col("e.src"), col("e.dst")).distinct()
  }

  /** Symmetrize in ONE pass over the input: a 2-struct explode instead of
    * a union whose two branches would plan (and, un-checkpointed, run)
    * the edge-build subtree twice (round 7; guide §2.4).
    */
  private def symmetric(e0: DataFrame): DataFrame =
    e0.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("x"))
      .select(col("x.s").as("src"), col("x.d").as("dst"))

  /** The production-shaped open-ended PageRank loop the oracled key's
    * fixed 3-iteration unroll stands in for: the SAME integer
    * fixed-point step, iterated until the largest per-node change is
    * ≤ tol millionths (an integer, order-invariant criterion — damping
    * 0.85 contracts the real-valued map, so the integer iterates
    * settle into a band of width O(1) units; tol absorbs it), with
    * `localCheckpoint` per iteration truncating lineage exactly like
    * Canonicalize.connectedComponents. Not a suite key: at damping
    * 0.85 a tight tol costs ~30–70 iterations — benchmark rent with no
    * new plan shape; GraphSpec instead pins maxIters=3 to the
    * hash-verified `graph_pagerank` output and asserts the deltas
    * contract and the loop self-terminates.
    *
    * e: symmetric edge list (src, dst); returns ((node, val),
    * iterations run) — the count makes self-termination assertable.
    */
  /** One integer fixed-point PageRank iteration — the SINGLE definition
    * of the damping/share arithmetic, shared by the oracled
    * `graph_pagerank` unroll and the `pagerankConverged` production
    * loop so the two can never drift apart (the DuckDB oracle mirrors
    * this arithmetic in `prIter`).
    */
  private def prStep(e: DataFrame, deg: DataFrame, pr: DataFrame): DataFrame = {
    // Round 7: per-node share = val div d is computed on the NODE-sized
    // pr⋈deg join first, so the edge list is joined ONCE per iteration
    // (the old form ran two edge-sized joins — e⋈pr then (e⋈pr)⋈deg).
    // Integer arithmetic unchanged: share is constant per src either way.
    val share = pr.alias("pr")
      .join(deg.alias("dg"), col("pr.node") === col("dg.node"))
      .select(col("pr.node").as("node"), expr("val div d").as("share"))
    e.alias("e")
      .join(share, col("e.src") === col("node"))
      .select(col("e.dst").as("node"), col("share"))
      .groupBy("node")
      .agg((lit(150000L) + expr("(85 * sum(share)) div 100")).as("val"))
  }

  /** CONTRACT (round-6, per advice): `e` must be a SYMMETRIC edge list —
    * every undirected edge present in both directions, as `symmetric`
    * produces. deg and the initial rank vector are built from `src`
    * alone, which on a symmetric list covers every node; on a general
    * directed list, sink nodes would never be ranked. The convergence
    * delta below uses a full-outer join so that any node-set drift
    * between iterations (possible only on non-contract input) shows up
    * as a large delta instead of being silently invisible to the
    * stopping rule; on contract-conforming input the node set is
    * iteration-invariant and the outer join degenerates to the inner
    * one (byte-identical results).
    */
  def pagerankConverged(e: DataFrame, tol: Long = 1000,
                        maxIters: Int = 100): (DataFrame, Int) = {
    // deg is loop-invariant: checkpoint it once so the per-iteration
    // job doesn't re-aggregate the full edge list every round
    val deg = e.select(col("src").as("node")).groupBy("node")
      .agg(count(lit(1)).as("d")).localCheckpoint(eager = false)
    var pr = deg.select(col("node"), lit(1000000L).as("val"))
      .localCheckpoint(eager = false)
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      val next = prStep(e, deg, pr).localCheckpoint(eager = false)
      // the delta aggregate is the action that materializes the lazy
      // checkpoint — one job per iteration (CC's discipline). Superseded
      // iterates stay in the block manager for the loop's lifetime
      // (same retention trade CC makes over its ~12 rounds): two
      // node-sized Long vectors per iteration, bounded by maxIters.
      // max() over zero rows is null — an empty graph converges
      // trivially instead of NPEing on getLong.
      val row = next.alias("n")
        .join(pr.alias("p"), col("n.node") === col("p.node"), "full_outer")
        .agg(max(abs(coalesce(col("n.val"), lit(0L)) -
          coalesce(col("p.val"), lit(0L))))).first()
      val delta = if (row.isNullAt(0)) 0L else row.getLong(0)
      pr = next
      it += 1
      done = delta <= tol
    }
    (pr, it)
  }

  /** k for the `graph_kcore` key, chosen against the co-purchase
    * graph's measured degree profile (sf0.01: degrees 42–204) so the
    * peel is non-trivial at every SF: 3 shrink rounds → empty core at
    * sf0.001, 5 rounds → 1841 survivors at sf0.01, 8 rounds → 18812 at
    * sf0.1 (all measured).
    */
  val KcoreK = 80

  /** Oracle unroll depth for `graph_kcore`. Peeling is MONOTONE: once
    * the fixed point is reached every further round is the identity, so
    * an unroll of 12 is EXACT for any input that peels in ≤ 12 rounds —
    * unlike PageRank, no per-SF round-count pinning is needed (measured
    * max above is 8).
    */
  val KcoreUnroll = 12

  /** Each round references the previous round's edge CTE three times
    * (degree count + both survivor joins); DuckDB inlines plain CTEs,
    * which would duplicate the subtree ~3^12 times (the same
    * plan-duplication trap Canonicalize.connectedComponents documents
    * on the Spark side) — `AS MATERIALIZED` forces one evaluation per
    * round.
    */
  private def kcoreRound(i: Int): String =
    s"""n$i AS MATERIALIZED (SELECT src AS node FROM c${i - 1} GROUP BY 1
       |        HAVING count(*) >= $KcoreK),
       |c$i AS MATERIALIZED (SELECT t.src, t.dst FROM c${i - 1} t
       |        JOIN n$i a ON t.src = a.node
       |        JOIN n$i b ON t.dst = b.node)""".stripMargin

  /** Iterative k-core peeling (Matula–Beck / Batagelj–Zaveršnik's rule,
    * distributed round-synchronous form): repeatedly drop nodes whose
    * CURRENT degree is < k until none qualify.
    *
    * ROUND-7 shape (guide §2.4; result set unchanged — GraphSpec pins it
    * against a single-threaded local peel): per round ONE action and TWO
    * edge-list exchanges, down from the old keep-checkpoint + count +
    * two shuffle-hash semi-join rounds (~5 AQE stage-jobs and 2 actions
    * per round):
    *  - both endpoint degrees ride whole-partition count(*) windows over
    *    the src- and dst-partitioned edge list (on the contract's
    *    SYMMETRIC input, dst-partition degree == the old src-degree of
    *    dst), so the survivor filter is a per-row predicate — no keep
    *    table, no joins;
    *  - the windowed frame is lazily checkpointed and ONE aggregate
    *    computes (total, survivors) in the same job that materializes
    *    it; survivors == total means this round's filter is a no-op —
    *    the fixed point — detected BEFORE rewriting, exactly like the
    *    old keep-count test (edges shrink monotonically, so an unchanged
    *    count is an unchanged set).
    * Window state per partition is the node's incident-edge group —
    * spillable (UnsafeExternalSorter), so a mega-hub degrades to disk,
    * not OOM. `e` must be symmetric (same contract as
    * pagerankConverged). Returns (surviving edges, shrink rounds run);
    * an already-k-core input reports 0 rounds (the old form counted its
    * first no-op rewrite as 1 — GraphSpec's sf0.001 pin of 3 effective
    * shrink rounds is unchanged).
    */
  def kcorePeel(e: DataFrame, k: Int,
                maxRounds: Int = 30): (DataFrame, Int) = {
    val wS = Window.partitionBy("src")
    val wD = Window.partitionBy("dst")
    var edges = e.localCheckpoint(eager = false)
    var shrink = 0
    var done = false
    while (!done) {
      val marked = edges
        .withColumn("ds", count(lit(1)).over(wS))
        .withColumn("dd", count(lit(1)).over(wD))
        .withColumn("keep", col("ds") >= k && col("dd") >= k)
        .localCheckpoint(eager = false)
      val row = marked.agg(count(lit(1)),
        count(when(col("keep"), lit(1)))).first()
      val (total, kept) = (row.getLong(0), row.getLong(1))
      if (kept == total || shrink >= maxRounds) done = true
      else {
        // one step of lineage over the (checkpointed) marked frame — no
        // second checkpoint needed per round
        edges = marked.filter(col("keep")).select("src", "dst")
        shrink += 1
      }
    }
    (edges.select("src", "dst"), shrink)
  }

  val entries: Map[String, Q] = Map(

    // degree centrality — the cheapest "which entities are hubs" answer.
    // Round 7: each oriented edge contributes one count to BOTH
    // endpoints via a 2-element explode (the graph_triangles corner
    // idiom) — same result as grouping the symmetric list, but the
    // coEdges subtree appears (and runs) once instead of twice under the
    // old union.
    "graph_degree" -> Q.withOracle(
      s"""$edgeCte
        |SELECT node, d AS degree FROM deg""".stripMargin)(
      (s, d) => coEdges(s, d)
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("degree"))),

    // PageRank, 3 unrolled iterations of integer fixed-point arithmetic
    // (state in millionths; share = val div deg, damping 0.85 as
    // (85·Σ) div 100 + 150000). Per iteration: one broadcast-sized join
    // of (node,val) onto the edge list and one map-side-combined sum —
    // the textbook distributed PageRank step.
    "graph_pagerank" -> Q.withOracle(
      s"""$edgeCte,
        |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS val FROM deg),
        |${(1 to PrIters).map(prIter).mkString(",\n")}
        |SELECT node, val FROM pr$PrIters""".stripMargin)(
      (s, d) => {
        val e = symmetric(coEdges(s, d))
        val deg = e.select(col("src").as("node")).groupBy("node")
          .agg(count(lit(1)).as("d"))
        var pr = deg.select(col("node"), lit(1000000L).as("val"))
        for (_ <- 1 to PrIters) pr = prStep(e, deg, pr)
        pr
      }),

    // the CONVERGED PageRank loop itself under an exact oracle (round 6;
    // closes the last daylight between the spec-pinned production loop
    // and a hash gate): `pagerankConverged` runs open-ended to
    // tol = 1000 over the SF-invariant 25-node nation graph; the oracle
    // unrolls exactly PrConvIters iterations, the count the loop is
    // measured (and GraphSpec-pinned) to take. SF-invariance makes the
    // unroll depth a constant of the operator, not of the data dir.
    "graph_pagerank_converged" -> Q.withOracle(
      s"""$nationEdgeCte,
        |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS val FROM deg),
        |${(1 to PrConvIters).map(prIter).mkString(",\n")}
        |SELECT node, val FROM pr$PrConvIters""".stripMargin)(
      (s, d) => {
        // Round 7: checkpoint the (25-node) edge list once — the loop's
        // per-iteration job otherwise re-reads nation.parquet and
        // re-runs the clique/chord build every round.
        val (pr, _) = pagerankConverged(
          symmetric(nationEdges(s, d)).localCheckpoint(eager = false),
          tol = 1000L, maxIters = 50)
        pr
      }),

    // k-core decomposition (k = 80): the densest-subgraph screen a KG
    // pipeline runs to separate structurally-embedded entities from
    // peripheral ones. The open-ended peel loop runs to its fixed
    // point; the oracle unrolls KcoreUnroll idempotent rounds (exactness
    // argument on KcoreUnroll's doc) — so unlike graph_pagerank no
    // fixed iteration count is baked into the Spark side.
    "graph_kcore" -> Q.withOracle(
      s"""$edgeCte,
        |c0 AS MATERIALIZED (SELECT src, dst FROM e),
        |${(1 to KcoreUnroll).map(kcoreRound).mkString(",\n")}
        |SELECT src AS node, count(*) AS coredeg
        |FROM c$KcoreUnroll GROUP BY 1""".stripMargin)(
      (s, d) => {
        val (core, rounds) = kcorePeel(symmetric(coEdges(s, d)), KcoreK)
        // fail fast instead of an opaque oracle hash mismatch if an
        // input ever needs more shrink rounds than the oracle unrolls
        // (round-7, per ADVICE; the same pin-and-assert discipline as
        // graph_pagerank_converged)
        require(rounds <= KcoreUnroll,
          s"k-core peel took $rounds rounds; oracle unrolls $KcoreUnroll")
        core.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("coredeg"))
      }),

    // per-node triangle participation: enumerate each triangle once via
    // the oriented wedge join (x<y<z), then count the three corners.
    // The Spark plan diverges from the oracle's literal shape for scale
    // (round 5, measured at sf0.1: the literal form took 56 s, this one
    // does the same work once):
    //  - e0 appears at three plan positions (wedge left, wedge right,
    //    closure probe); a lazy localCheckpoint materializes it ONCE
    //    and truncates its 4-shuffle construction lineage — the same
    //    pattern Canonicalize.connectedComponents uses per round.
    //  - corners are counted from ONE execution of the wedge join via
    //    explode(array(x,y,z)); the union-of-three-projections form
    //    re-ran the ~49M-wedge join once per corner (union branches
    //    share exchanges, not join executions).
    //  - the closure check is a left-semi join (e0 rows are distinct,
    //    so semi ≡ inner here) with a shuffle_hash hint: hash the 1.2M
    //    edges instead of sort-merging 49M wedge rows. Scale-honest:
    //    no broadcast of the edge list (it grows with the data).
    // Degree-ordered orientation (wedges bounded by arboricity) was
    // measured at sf0.1: 40.7M wedges vs id-order's 48.8M — a 17%
    // trim that doesn't pay for its two extra joins at this skew; at
    // production scale with power-law hubs it becomes the right call.
    "graph_triangles" -> Q.withOracle(
      s"""$edgeCte,
        |tri AS (SELECT a.src AS x, a.dst AS y, b.dst AS z
        |        FROM e0 a JOIN e0 b ON a.dst = b.src
        |                  JOIN e0 c ON c.src = a.src AND c.dst = b.dst),
        |n AS (SELECT x AS node FROM tri
        |      UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |SELECT node, count(*) AS n_tri FROM n GROUP BY 1""".stripMargin)(
      (s, d) => {
        val e0 = coEdges(s, d).localCheckpoint(eager = false)
        // the count() both sizes the bloom below and materializes the
        // checkpoint the wedge join was about to materialize anyway
        val nEdges = e0.count()
        val wedges = e0.alias("a")
          .join(e0.alias("b").hint("shuffle_hash"),
            col("a.dst") === col("b.src"))
          .select(col("a.src").as("x"), col("a.dst").as("y"),
            col("b.dst").as("z"))
        // ROUND-7 (guide §3.2): the closure semi-join's exchange carried
        // EVERY wedge (~49M rows at sf0.1, the largest shuffle in the
        // suite) while only closing wedges survive it. A bloom over the
        // edge pair set — scalar-subquery shape, never a plan literal —
        // drops definitely-non-closing wedges BEFORE the exchange;
        // false positives are removed by the exact semi-join, so the
        // result is unchanged. Bloom cost is ~10 bits/edge (fits
        // executors up to ~10^9 edges — the guide's stated workable
        // range; beyond that, split per hash band).
        val pruned =
          if (nEdges == 0) wedges
          else wedges.filter(graft.functions.BloomOps.mightContainSubquery(
            e0, struct(col("src"), col("dst")), nEdges,
            struct(col("x"), col("z"))))
        val tri = pruned.join(e0.alias("c").hint("shuffle_hash"),
          col("x") === col("c.src") && col("z") === col("c.dst"),
          "left_semi")
        tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("n_tri"))
      })
  )
}
