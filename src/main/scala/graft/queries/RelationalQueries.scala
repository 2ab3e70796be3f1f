package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.SpaceSaving
import graft.kg.{Combine, TableIO}
import Tables.t

/** SURVEY §2.1–§2.6 operator demonstrations over the driver testdata,
  * each with a DuckDB oracle where SQL-expressible. Float discipline:
  * aggregate in DECIMAL (exact) and emit DOUBLE, so Spark's partial
  * aggregation order can never flip a bit vs DuckDB's sequential fold.
  */
object RelationalQueries {

  val entries: Map[String, Q] = Map(

    // S1: narrow parquet scan with pushed filter + pruned columns
    "scan_parquet" -> Q.withOracle(
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE n_chars >= 100")(
      (s, d) => t(s, d, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .filter(col("n_chars") >= 100)),

    // P1: projection-only (scan must read exactly two columns)
    "project_narrow" -> Q.withOracle(
      "SELECT l_orderkey, l_quantity FROM lineitem")(
      (s, d) => t(s, d, "lineitem").select("l_orderkey", "l_quantity")),

    // P2: predicate pushdown (flag + timestamp range)
    "filter_pred" -> Q.withOracle(
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_day
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin)(
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
        .select(col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("ship_day"))),

    // P3: content-identity dedup accounting (sha256, BASELINE invariant op)
    "dedup_sha" -> Q.withOracle(
      """SELECT lang, count(*) AS n_rows,
        |       count(DISTINCT sha256(text)) AS n_unique
        |FROM documents GROUP BY lang""".stripMargin)(
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(sha2(col("text"), 256)).as("n_unique"))),

    // J1: broadcast equi-join (small dim)
    "join_broadcast" -> Q.withOracle(
      """SELECT n_name, count(*) AS n_suppliers,
        |       CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)(
      (s, d) => t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_acctbal"))),

    // J2: shuffle join (sort-merge / AQE-demoted)
    "join_sortmerge" -> Q.withOracle(
      """SELECT o_orderpriority, count(*) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin)(
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))),

    // J3: left-semi (EXISTS)
    "join_semi" -> Q.withOracle(
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY o_orderstatus""".stripMargin)(
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "lineitem").filter(col("l_discount") > 0.05),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))),

    // J4: left-anti (NOT EXISTS)
    "join_anti" -> Q.withOracle(
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey
        |                    AND l_shipdate >= TIMESTAMP '2000-01-01')
        |GROUP BY o_orderstatus""".stripMargin)(
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "lineitem")
            .filter(col("l_shipdate") >= expr("TIMESTAMP '2000-01-01 00:00:00'")),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))),

    // J5: self-join candidate pairs within a group (theta a < b)
    "join_self_pairs" -> Q.withOracle(
      """SELECT a.l_returnflag AS f1, b.l_returnflag AS f2, count(*) AS n_pairs
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        |GROUP BY 1, 2""".stripMargin)(
      (s, d) => {
        val li = t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
        li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_linenumber") < col("b.l_linenumber"))
          .groupBy(col("a.l_returnflag").as("f1"), col("b.l_returnflag").as("f2"))
          .agg(count(lit(1)).as("n_pairs"))
      }),

    // J6: range/band join — same-user event pairs within 60 s, via
    // block-bucketing (equi on user+minute-block ± neighbor) instead of
    // a quadratic theta join
    "join_range" -> Q.withOracle(
      """SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
        | AND floor(epoch(b.ts)) - floor(epoch(a.ts)) <= 60
        |GROUP BY 1, 2""".stripMargin)(
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"), unix_timestamp(col("ts")).as("sec"))
        val a = e.withColumn("blk",
          explode(array(floor(col("sec") / 60), floor(col("sec") / 60) + 1)))
        val b = e.withColumn("blk", floor(col("sec") / 60))
        a.as("a").join(b.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.blk") === col("b.blk") &&
              (col("a.ts") < col("b.ts") ||
                (col("a.ts") === col("b.ts") && col("a.event_id") < col("b.event_id"))) &&
              col("b.sec") - col("a.sec") <= 60)
          .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
          .agg(count(lit(1)).as("n"))
      }),

    // J8: skew-salted join — deterministic salt on the big side, small
    // side replicated ×k; result identical to the plain join (oracle)
    "join_salted" -> Q.withOracle(
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin)(
      (s, d) => {
        val k = 8
        val li = t(s, d, "lineitem")
          .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(k.toLong)))
        val ord = t(s, d, "orders")
          .withColumn("salt", explode(sequence(lit(0L), lit(k.toLong - 1))))
        li.join(ord, li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      }),

    // J9: broadcast nested-loop cross join with a tiny rule table
    "join_cross_rules" -> Q.withOracle(
      """SELECT n_name, r_name,
        |       CASE WHEN n_regionkey = r_regionkey THEN 1 ELSE 0 END AS in_region
        |FROM nation CROSS JOIN region""".stripMargin)(
      (s, d) => t(s, d, "nation")
        .crossJoin(broadcast(t(s, d, "region")))
        .select(col("n_name"), col("r_name"),
          when(col("n_regionkey") === col("r_regionkey"), 1).otherwise(0).as("in_region"))),

    // J11 (round 2, reworked round 3): explicit build-side BLOOM
    // pre-filter + exact verify join — the shape Spark's own
    // InjectRuntimeFilter plants: the bloom is built by a SCALAR SUBQUERY
    // (never a driver-collected plan literal), sized from a cheap count
    // of the filtered build side, and prunes the big side's scan before
    // the shuffle; false positives are removed by the exact semi-join, so
    // the result (and the oracle) is the plain IN-subquery. Empty build
    // side → the bloom aggregate would return NULL, so the pre-filter is
    // skipped and the exact semi-join alone returns the empty result.
    "join_bloom_prune" -> Q.withOracle(
      """SELECT l_orderkey, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)
        |GROUP BY l_orderkey""".stripMargin)(
      (s, d) => {
        val keys = t(s, d, "orders").filter(col("o_totalprice") > 200000)
          .select(col("o_orderkey"))
        val nKeys = keys.count() // cheap agg-only job sizes the bloom
        val li = t(s, d, "lineitem")
        val pruned =
          if (nKeys == 0) li
          else li.filter(graft.functions.BloomOps.mightContainSubquery(
            keys, col("o_orderkey"), nKeys, col("l_orderkey")))
        pruned
          .join(broadcast(keys), col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      }),

    // A1: group-count
    "agg_count" -> Q.withOracle(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")(
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag").agg(count(lit(1)).as("n"))),

    // A2: multi-aggregate
    "agg_multi" -> Q.withOracle(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))),

    // A3: exact distinct count
    "agg_distinct" -> Q.withOracle(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"))),

    // A4: approximate distinct (HLL) — approximate by design, no oracle
    "agg_approx_distinct" -> Q.noOracle(
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("n_parts_approx"))),

    // A4b (round 2): exact interpolated percentiles — Spark `percentile`
    // and DuckDB `quantile_cont` share the linear-interpolation formula;
    // round(,6) absorbs last-ulp arithmetic differences
    "agg_median" -> Q.withOracle(
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS q1_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("med_qty"),
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("q1_price"))),

    // A5: set collection (stringified for a stable cross-engine compare)
    "agg_collect" -> Q.withOracle(
      """SELECT l_orderkey,
        |       string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS flags
        |FROM lineitem GROUP BY l_orderkey""".stripMargin)(
      (s, d) => t(s, d, "lineitem").groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_returnflag"))).as("arr"))
        .select(col("l_orderkey"), concat_ws(",", col("arr")).as("flags"))),

    // A6: cube (grouping sets)
    "agg_cube" -> Q.withOracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)(
      (s, d) => t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"))),

    // A7: commutative lineage digest, Spark's bit_xor (the aggregate
    // Manifest.bucketStats runs); oracle uses DuckDB's bit_xor over the
    // identical integer expression
    "agg_digest" -> Q.withOracle(
      """SELECT l_returnflag, bit_xor(l_orderkey * 2654435761 + l_linenumber) AS digest
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(bit_xor(col("l_orderkey") * lit(2654435761L) + col("l_linenumber")).as("digest"))),

    // Heavy hitters via the SpaceSaving sketch UDAF (round 6): term
    // frequencies from a capacity-64 summary. The 31-word synthetic
    // vocab sits UNDER the capacity, so no eviction can fire on any
    // update or merge path and the sketch is provably exact here —
    // which is what lets an approximate-by-design operator carry a
    // bit-exact DuckDB oracle (the under-capacity property the spec
    // also pins; the over-capacity N/k error bound is property-tested
    // separately on a skewed stream).
    "agg_heavyhitters" -> Q.withOracle(
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS term
        |           FROM documents)
        |SELECT term, count(*) AS cnt FROM w GROUP BY 1""".stripMargin)(
      (s, d) => t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .agg(SpaceSaving(64)(col("term")).as("m"))
        .select(explode(col("m")).as(Seq("term", "cnt")))),

    // W1: row_number top-1 with total-order tiebreak
    "win_rownum" -> Q.withOracle(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
      }),

    // W2: dense_rank top-k per partition
    "win_rank" -> Q.withOracle(
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         dense_rank() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 2""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rnk", dense_rank().over(w))
          .filter(col("rnk") <= 2)
          .select("o_custkey", "o_orderkey", "rnk")
      }),

    // W3: lag/lead analytics. l_linenumber is NOT unique per order in
    // this testdata, so the window order is a full-row total order —
    // the only way lag/lead stays deterministic (SURVEY §4.3).
    "win_laglead" -> Q.withOracle(
      """SELECT l_orderkey, l_linenumber,
        |       lag(l_quantity) OVER w AS prev_qty,
        |       lead(l_quantity) OVER w AS next_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
        |                      l_extendedprice, l_discount, l_tax, l_shipdate)""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_orderkey").orderBy(
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_shipdate"))
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            lag(col("l_quantity"), 1).over(w).as("prev_qty"),
            lead(col("l_quantity"), 1).over(w).as("next_qty"))
      }),

    // W4: range frame — events per user in the trailing hour
    "win_frame" -> Q.withOracle(
      """SELECT event_id, user_id,
        |       count(*) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))
        |                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        |FROM events""".stripMargin)(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("sec"))
          .rangeBetween(-3600, Window.currentRow)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("sec"))
          .withColumn("n_last_hour", count(lit(1)).over(w))
          .drop("sec")
      }),

    // O1: global sort (range-partitioned)
    "sort_global" -> Q.withOracle(
      "SELECT p_partkey, p_retailprice FROM part ORDER BY p_retailprice DESC, p_partkey")(
      (s, d) => t(s, d, "part").select("p_partkey", "p_retailprice")
        .orderBy(col("p_retailprice").desc, col("p_partkey"))),

    // O2: top-k without full sort (TakeOrderedAndProject), total order
    "topk_limit" -> Q.withOracle(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)(
      (s, d) => t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),

    // O3: union combiner (distinct)
    "setop_union" -> Q.withOracle(
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0""".stripMargin)(
      (s, d) => t(s, d, "orders").select(col("o_custkey").as("custkey"))
        .unionByName(t(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("custkey")))
        .distinct()),

    // O4: intersection combiner
    "setop_intersect" -> Q.withOracle(
      """SELECT s_nationkey AS nationkey FROM supplier
        |INTERSECT
        |SELECT c_nationkey AS nationkey FROM customer""".stripMargin)(
      (s, d) => t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
        .intersect(t(s, d, "customer").select(col("c_nationkey").as("nationkey")))),

    // O4b: k-of-n vote combiner (the reference's multi-system merge:
    // union all extractor outputs, keep keys proposed by >= v systems)
    "setop_vote" -> Q.withOracle(
      """SELECT okey, CAST(votes AS BIGINT) AS votes FROM (
        |  SELECT okey, count(*) AS votes FROM (
        |    SELECT DISTINCT l_orderkey AS okey FROM lineitem WHERE l_discount > 0.05
        |    UNION ALL
        |    SELECT DISTINCT l_orderkey AS okey FROM lineitem WHERE l_quantity > 30
        |    UNION ALL
        |    SELECT DISTINCT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R')
        |  GROUP BY okey)
        |WHERE votes >= 2""".stripMargin)(
      (s, d) => {
        val li = t(s, d, "lineitem")
        def sys(c: org.apache.spark.sql.Column) = li.filter(c).select(col("l_orderkey").as("okey"))
        Combine.vote(Seq(sys(col("l_discount") > 0.05), sys(col("l_quantity") > 30),
          sys(col("l_returnflag") === "R")), Seq("okey"), 2)
      }),

    // S4 read-back (round 3): write PARTITIONED BY a low-cardinality
    // column (the same partitionBy mechanics as the pred-partitioned
    // triple sink, kg.TableIO), read it back with a partition-column
    // filter — the scan must PRUNE to the one lang=en directory
    // (PlanSpec asserts PartitionFilters + selected-partition count) —
    // then aggregate. Oracle: the same aggregate over the original table
    // (write→read round-trip identity).
    "sink_partition_prune" -> Q.withOracle(
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin)(
      (s, d) => {
        val dir = Tables.cleanupOnExit(
          "/tmp/graft_sink_docs_" + d.replaceAll("[^A-Za-z0-9.]", "_"))
        t(s, d, "documents").write.mode("overwrite")
          .options(TableIO.LocalSinkOptions).partitionBy("lang").parquet(dir)
        s.read.parquet(dir).filter(col("lang") === "en")
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      }),

    // O5: except (regression diff)
    "setop_except" -> Q.withOracle(
      """SELECT p_partkey FROM part WHERE p_size >= 40
        |EXCEPT
        |SELECT l_partkey AS p_partkey FROM lineitem WHERE l_quantity > 40""".stripMargin)(
      (s, d) => t(s, d, "part").filter(col("p_size") >= 40).select(col("p_partkey"))
        .except(t(s, d, "lineitem").filter(col("l_quantity") > 40)
          .select(col("l_partkey").as("p_partkey"))))
  )
}
