package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.util.matching.Regex
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.{Bench, SparkEntry}
import graft.kg._

/** One probe entry point over Bench's own sessions, corpora and
  * calibration. Subcommands, one per traffic pattern the repo records:
  *
  *   runMain graft.tools.Probe time <sfDir> <reps> <key>...
  *   runMain graft.tools.Probe explain <sfDir>
  *   runMain graft.tools.Probe cc <sfDir>
  *   runMain graft.tools.Probe scaling <nfiles> <cores,...> [runs] [corpusDir]
  *   runMain graft.tools.Probe layout [nFiles]
  *   runMain graft.tools.Probe lineage <outDir> [runId]
  *
  * `time`, `explain`, `cc`, `layout` and `lineage` run in one Bench
  * part-1 session at `local[$SPARK_GRAFT_CPUS]` (default 4); `scaling`
  * opens one Bench part-2 session per listed core count. Only `main`
  * builds sessions.
  */
object Probe {

  /** Job and stage totals from task metrics, summed over completed
    * stages. Read them after `measured` returns: it drains the bus.
    */
  final class StageMetrics extends SparkListener {
    val jobs, stages, runMs, cpuMs, gcMs, deserMs, fetchWaitMs = new AtomicLong
    val shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong
    override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.incrementAndGet(): Unit
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        gcMs.addAndGet(m.jvmGCTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
    def report(wall: Double): String = {
      def s(a: AtomicLong) = a.get / 1000.0
      def mb(a: AtomicLong) = a.get / 1048576.0
      f"wall=$wall%.2fs jobs=${jobs.get} stages=${stages.get} run=${s(runMs)}%.1fs " +
        f"cpu=${s(cpuMs)}%.1fs gc=${s(gcMs)}%.1fs deser=${s(deserMs)}%.1fs " +
        f"fetchWait=${s(fetchWaitMs)}%.1fs shufW=${mb(shuffleWriteBytes)}%.1fMB " +
        f"shufR=${mb(shuffleReadBytes)}%.1fMB spill=${mb(spillBytes)}%.1fMB"
    }
  }

  /** Runs `job` under a fresh StageMetrics. The wall stops when the job
    * returns; the bus is drained before the listener attaches (earlier
    * jobs' queued events stay out) and again before the totals are read.
    */
  def measured[T](spark: SparkSession)(job: => T): (T, Double, StageMetrics) = {
    val sc = spark.sparkContext
    val m = new StageMetrics
    GraftBus.drain(sc)
    sc.addSparkListener(m)
    try {
      val t0 = System.nanoTime()
      val r = job
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(sc)
      (r, wall, m)
    } finally sc.removeSparkListener(m)
  }

  /** Per-key wall time with Bench part 1's method: `fn(...).count()`,
    * min of `reps` reported beside every sample.
    */
  def time(spark: SparkSession, sfDir: String, reps: Int, keys: Seq[String]): Unit =
    for (k <- keys) {
      val fn = SparkEntry.queries(k)
      val ts = (1 to reps).map(_ => measured(spark)(fn(spark, sfDir).count())._2)
      println(f"[probe] time $k min=${ts.min}%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}")
    }

  /** Sections of docs/PLANS.md after the flagship DAG: (SparkEntry key,
    * what its plan must show; the notes describe the sf0.001 plans).
    */
  val planSections: Seq[(String, String)] = Seq(
    "scan_parquet" -> "Filter pushed to the parquet scan; ReadSchema pruned to 4 columns.",
    "join_broadcast" -> "Dimension side broadcast (BroadcastHashJoin), partial+final HashAggregate.",
    "join_range" -> "Band join: equi-join on (user, minute-block) with residual range filter — no BroadcastNestedLoop.",
    "join_salted" -> "Deterministic salt on the big side, dimension replicated ×8; AQE shuffle join on (key, salt).",
    "dedup_minhash_lsh" -> "Typed minhash map → band explode → CAPPED self equi-join on (band, hash): small buckets all-pairs, over-cap buckets rank-adjacent chain with rn+1 in the join key — never an all-pairs product, join cost bounded.",
    "dedup_ngram_jaccard" -> "Content-derived block keys (set min/max word + size band) through the same capped self-join; exact integer Jaccard gate after.",
    "simsearch_bruteforce" -> "Query vectors broadcast; cosine via codegen'd higher-order functions; TakeOrdered per group via window.",
    "mention_scan_plan" -> "Custom whole-operator node (MentionScanExec) directly over the corpus scan — no DeserializeToObject/SerializeFromObject fences around the scan stage.",
    "join_bloom_prune" -> "Build-side bloom as a SCALAR SUBQUERY (round 3 — no driver-collected binary literal in the plan) probing ahead of the exact broadcast semi-join — the exact shape of Spark's own injected runtime bloom filter.",
    "dedup_embed_cosine" -> "Round 3: self-join EQUI-KEY is the deterministic IVF cluster id (broadcast 8-centroid assignment + row_number argmax) — sub-quadratic; exact cosine verify inside the join.",
    "sink_partition_prune" -> "Read-back of a partitionBy(lang) sink with a partition-column filter: PartitionFilters prune the scan to the single lang=en directory before IO.",
    "kg_triples_counts" -> "The full oracled DAG: the corpus through TableIO.hashedFiles (the input guard Filter, then the sha256 projection), then the shipped Extract.canonicalTriples — one narrow MapPartitions (scan + relation pass + canonicalize fused against a broadcast link map, per-file max score, content dies inside; no join), then Extract.dedup: KgPipeline's one exchange, hash-partitioned on (bucket expression, pred) with only the Triple fields as input, one sort, WindowGroupLimit + row_number keeping the max-score row per 7-tuple; then the count aggregate.",
    "sample_stratified" -> "Round 5: stratified sampling is a pure per-row predicate (stratum CASE → hex threshold) — the whole plan is one scan with the filter applied in a single WholeStageCodegen span, no Exchange.",
    "decontam_ngram" -> "Round 5: 3-gram decontamination — eval-slice grams distinct then BROADCAST into the semi-match; the training side is a narrow scan+explode; the per-doc countDistinct is the only data-proportional shuffle (partial_count map-side).",
    "text_repetition" -> "Round 6: repetition gate is a typed per-partition HashMap count — O(len) per row (the round-5 nested-HOF form was O(distinct×len) per row, a straggler hazard on high-vocabulary docs), still scan→mapPartitions only, zero Exchange at any corpus size.",
    "mix_quota" -> "Round 6: the exact hash-rank window runs over a HISTOGRAM-PRUNED survivor set — per-(source, 16-bit sha prefix) map-side count, cumulative cut at the quota over the tiny histogram, broadcast-join prune (pfx <= cut_pfx), THEN row_number. The corpus-scale work is one scan + one map-side-combined aggregate; the round-5 form shuffled the whole corpus on the mix dimension and sorted the hottest source on one task.",
    "graph_pagerank" -> "Round 5: 3 unrolled integer fixed-point PageRank iterations — per iteration one shuffle join of (node,val) onto the edge list plus one map-side-combined sum; the capped pair-gen window bounds the edge build.",
    "graph_triangles" -> "Round 5: oriented wedge join (src<dst twice → each triangle once) over a checkpoint-materialized edge list, closure checked by a shuffle-hash LEFT SEMI (hash 1.2M edges, never sort the ~49M wedges), corners counted from ONE join execution via explode — the union-of-projections form re-ran the wedge join per corner (56 s → 3.4 s at sf0.1).",
    "sessionize" -> "Round 6: lag window, running-sum window, and the per-session aggregate all key on user_id with one sort order — Catalyst plans ONE Exchange for the whole chain (spec-asserted); user_id is high-cardinality, so no mix-dimension hot-task risk.",
    "text_inverted_index" -> "Round 6: df is a map-side-combined count over distinct (doc,term); the 100-doc posting cap rides Catalyst's WindowGroupLimit rewrite — row_number<=100 runs as a PARTIAL group-limit below the exchange (spillable local sort, <=100 rows/term per map task), so a stopword's corpus-sized posting list never crosses one task and task memory stays flat at web vocabularies.",
    "text_inverted_index_str" -> "Round 7: the same inverted-index build with the posting list STRINGIFIED (concat_ws — the agg_collect idiom) so the driver's pandas oracle compare can hash it; identical Partial WindowGroupLimit cap below the exchange.",
    "text_bm25" -> "Round 6: corpus side is one explode filtered to the query terms + a map-side-combined (doc,term) count; per-term df and the 1-row corpus stats join in as BROADCASTs; per-term scores are rounded to integer micros before the per-doc BIGINT sum (order-invariant).",
    "funnel_steps" -> "Round 6: each funnel stage is one map-side-combined conditional min over the events scan plus one join — every stage keyed on high-cardinality user_id (per-stage state: one BIGINT per user), never a per-user sort or state machine.",
    "cohort_retention" -> "Round 6: one groupBy(user) min, one user-keyed join of first_us back onto the scan, one exact two-phase countDistinct onto the tiny (cohort_week, week_offset) grid — integer div week arithmetic.",
    "graph_kcore" -> "Round 6: iterative k-core peel — per round one map-side-combined degree count plus two shuffle-hash LEFT SEMI survivor joins (hash the node set, never sort the edges) with a lazy localCheckpoint truncating lineage; the plan shown is the FINAL round's shape.",
    "dedup_incremental" -> "Round 7: continuous-crawl increment — both sides project to the narrow bag-normalization key BEFORE the LEFT ANTI shuffle, and the corpus side now carries a scalar-subquery bloom pre-filter built from the batch keys (might_contain ahead of the exact anti-join — the join_bloom_prune shape), so at corpus>>batch scale almost no corpus row reaches the exchange.",
    "kg_cooccur_pmi" -> "Round 6: PMI edge weighting — per-row array_distinct (no dedup shuffle), pair-gen self-join keyed on high-cardinality doc_id, map-side-combined pair count with the c12>=5 support floor applied BEFORE the vocabulary-sized doc-frequency and 1-row corpus-stat BROADCAST joins.",
    "kg_cooccur_pmi_cap" -> "Round 6: the production per-doc term cap — row_number<=16 over (tf desc, word) rides Catalyst's WindowGroupLimit partitioned on HIGH-CARDINALITY doc_id (Partial group-limit below the exchange), bounding pair-gen at O(n*16^2) regardless of per-doc vocabulary."
  )

  /** `explain(formatted)` of `df` with what differs between two builds
    * of one plan masked, so a regenerated docs/PLANS.md differs only
    * where a plan did: expression ids (`#n`, an `L` suffix kept),
    * `plan_id=n` and RDD ids are renumbered in first-seen order, lambda
    * class names lose their sequence number and address, identity
    * hashes (`@hex`) and call-site line numbers (`at X.scala:n`) are
    * dropped and UUIDs (observation names) read `<uuid>`.
    */
  def planText(df: DataFrame): String = {
    def renumbered(s: String, re: Regex): String = {
      val ids = mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => Regex.quoteReplacement(m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size)))
    }
    val masked = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .replaceAll("\\$Lambda(\\$\\d+)?/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("(?<=\\.scala):\\d+", "")
    Seq("(#)(\\d+)".r, "(plan_id=)(\\d+)".r, "(RDD\\[)(\\d+)".r).foldLeft(masked)(renumbered)
  }

  /** `planText` of the flagship DAG and every `planSections` key over
    * `sfDir`, as the markdown of docs/PLANS.md.
    */
  def explain(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val sb = new StringBuilder
    sb.append(s"# Physical plans (generated by `graft.tools.Probe explain $sfDir` — do not hand-edit)\n\n")
    sb.append("Review checklist per SURVEY §4.4: filters/projections reach the scan\n")
    sb.append("(`PushedFilters`/`ReadSchema`), `content` never appears under an\n")
    sb.append("`Exchange`, small dims broadcast, hot operators sit inside\n")
    sb.append("`WholeStageCodegen` spans.\n")
    def dump(title: String, note: String, df: DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      // large literals (e.g. a bloom-filter binary) render as hex blobs —
      // cap each plan at 20k chars to keep the doc reviewable
      val s = planText(df)
      sb.append(if (s.length <= 20000) s
        else s.take(20000) + s"\n... [truncated ${s.length - 20000} chars]\n")
      sb.append("```\n")
    }
    val (fnAliases, canonB) = KgPipeline.broadcastDictionary(spark, KgPipeline.dictDataset(spark))
    val input = KgPipeline.writeInput(graft.fixtures.CorpusGen.corpus(200).toDF(),
      (0 until TableIO.DefaultBuckets).toSet, TableIO.DefaultBuckets, fnAliases, canonB)
    dump("KG pipeline: corpus → the triple write's input",
      "KgPipeline.writeInput, what a fresh run writes: a CollectMetrics row count on " +
        "either side of the guard Filter (rows in, rows admitted), one narrow MapPartitions " +
        "(scan + relation pass + canonicalize fused; content dies here), then " +
        "Extract.dedup — the (bucket, pred) exchange (Triple fields only), one sort and " +
        "a row_number keep-max per 7-tuple, no hash aggregate — and CollectMetrics on " +
        "top: the manifest's per-bucket (rowCount, contentDigest), taken in the write's " +
        "own pass instead of a read-back.",
      input.triples)
    planSections.foreach { case (k, note) => dump(k, note, SparkEntry.queries(k)(spark, sfDir)) }
    sb.toString
  }

  /** cc_components broken down: the production edge build, then the
    * connected-components run with its job/stage totals.
    */
  def cc(spark: SparkSession, sfDir: String): Unit = {
    val (edges, tEdges, _) = measured(spark)(
      graft.queries.KgQueries.eventChainEdges(spark, sfDir).localCheckpoint())
    println(f"[probe] cc edge build+checkpoint: $tEdges%.2fs, ${edges.count()} edges")
    val (n, wall, m) = measured(spark)(Canonicalize.connectedComponents(edges).count())
    println(s"[probe] cc $n nodes ${m.report(wall)}")
  }

  /** The fused DAG Bench times, its extract-only prefix, the scan +
    * sha256 alone, and Bench's calibration job, each best of `runs`,
    * with listener totals per run. Each job first runs once untimed: the
    * first run at a core count is a JIT warm-up (1–2 s for full_dag)
    * that would otherwise sit in the min-of-N sample.
    */
  def scaling(s: SparkSession, cores: Int, corpusDir: String, runs: Int): Unit = {
    val (fnAliases, canonB) = KgPipeline.broadcastDictionary(s, KgPipeline.dictDataset(s))
    def hashed = TableIO.hashedFiles(s.read.parquet(corpusDir))
    val jobs: Seq[(String, () => Any)] = Seq(
      "full_dag" -> (() => Extract.canonicalTriples(hashed, fnAliases, canonB).count()),
      "extract_only" -> (() => Extract.triples(hashed, fnAliases, canonB).count()),
      "scan_sha" -> (() => hashed.select(count(col("file_sha"))).head().getLong(0)),
      "calib" -> (() => f"${Bench.calibRun(s)}%.2fs"))
    for ((label, job) <- jobs) {
      val (_, warm, _) = measured(s)(job())
      println(f"[probe] $label@$cores warm-up=$warm%.3fs (not in best)")
      val walls = (1 to runs).map { _ =>
        val (out, wall, m) = measured(s)(job())
        println(s"[probe] $label@$cores out=$out ${m.report(wall)}")
        wall
      }
      println(f"[probe] $label@$cores best=${walls.min}%.3fs over $runs runs")
    }
  }

  /** Row-group layout of each scaling corpus: the skew block's
    * parallelism lives in it (see Bench.materializeCorpora).
    */
  def layout(s: SparkSession, dirs: (String, String)): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    for (dir <- Seq(dirs._1, dirs._2)) {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val groups = files.map { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
        try (r.getRowGroups.size, r.getRecordCount) finally r.close()
      }
      println(s"[probe] layout $dir: ${files.length} files, " +
        s"${groups.map(_._1).sum} row groups (max/file ${groups.map(_._1).max}), " +
        s"${groups.map(_._2).sum} rows")
    }
  }

  /** A `graft.Main` output's lineage against its disk: each committed
    * bucket's manifest (rowCount, contentDigest) for `runId` beside
    * `Manifest.bucketStats` of the triple table ((0, 0) for a bucket
    * with no rows). Returns the buckets that differ.
    */
  def lineage(spark: SparkSession, out: String, runId: String): Seq[Int] = {
    val manifest = Manifest.committed(spark, s"$out/manifest", runId)
    val disk = Manifest.bucketStats(spark.read.parquet(s"$out/triples")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val differ = (manifest.keySet ++ disk.keySet).toSeq.sorted
      .filterNot(b => manifest.get(b).contains(disk.getOrElse(b, (0L, 0L))))
    println(s"[probe] lineage $out: ${manifest.size} committed buckets, " +
      s"${manifest.values.map(_._1).sum} manifest rows, ${disk.values.map(_._1).sum} on disk; " +
      s"${differ.size} buckets differ${if (differ.isEmpty) "" else differ.mkString(": ", ",", "")}")
    differ
  }

  def main(args: Array[String]): Unit = {
    // Bench part 1's core count; also the geometry the corpora are built
    // at (the skew corpus has one file per shuffle partition)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    def withSession[T](cores: Int, smallSplits: Boolean)(f: SparkSession => T): T = {
      val s = Bench.session(cores, smallSplits)
      try f(s) finally s.stop()
    }
    args.toList match {
      case "time" :: sfDir :: reps :: keys if keys.nonEmpty =>
        withSession(cpus, smallSplits = false)(time(_, sfDir, reps.toInt, keys))
      case List("explain", sfDir) =>
        val doc = withSession(cpus, smallSplits = false)(explain(_, sfDir))
        Files.writeString(Paths.get("docs/PLANS.md"), doc)
        println(s"[probe] wrote docs/PLANS.md (${doc.length} chars)")
      case List("cc", sfDir) => withSession(cpus, smallSplits = false)(cc(_, sfDir))
      case "scaling" :: n :: cores :: rest if rest.size <= 2 =>
        val (uniform, _) = withSession(cpus, smallSplits = false)(Bench.materializeCorpora(_, n.toInt))
        val runs = rest.headOption.fold(2)(_.toInt)
        val dir = rest.lift(1).getOrElse(uniform)
        cores.split(",").map(_.toInt).foreach { c =>
          withSession(c, smallSplits = true)(scaling(_, c, dir, runs))
        }
      case "lineage" :: out :: rest if rest.size <= 1 =>
        withSession(cpus, smallSplits = false)(lineage(_, out, rest.headOption.getOrElse("run-1")))
      case "layout" :: rest if rest.size <= 1 => withSession(cpus, smallSplits = false) { s =>
        layout(s, Bench.materializeCorpora(s, rest.headOption.fold(400000)(_.toInt)))
      }
      case _ =>
        sys.error("usage: Probe time <sfDir> <reps> <key>... | explain <sfDir> | cc <sfDir> | " +
          "scaling <nfiles> <cores,...> [runs] [corpusDir] | layout [nFiles] | lineage <outDir> [runId]")
    }
  }
}
