package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Part 1 — operator suite: times every SparkEntry query (count) at
  * `local[$SPARK_GRAFT_CPUS]` on $SPARK_GRAFT_SF_DIR (regression
  * tracking per BENCH/BASELINE.md). Stock 128 MB scan splits (the 4 MB
  * scaling-geometry override is scoped to part 2 only — round-3 advice).
  *
  * Part 2 — KG throughput scaling (BASELINE.json:2: ≥0.8 efficiency from
  * N to 4N): the full extract→canonicalize→dedup DAG over a
  * pre-materialized deterministic corpus, measured with the round-3
  * pre-registered interleaved estimator (BENCH/BASELINE.md §"Scaling
  * protocol" — headline geometry local[2]→local[8], per-round raw
  * eff = t2/(4·t8), min-of-2 runs per fresh-session slot, in-session
  * sha256 calibration ceiling, median over rounds, skew block, 4→16
  * context block).
  *
  * ROUND-4 changes (pre-registered in BENCH/BASELINE.md BEFORE this
  * round's run; the round-3 protocol blew the driver's wall budget,
  * rc=124, and its single final println erased even the finished
  * part-1 data):
  *
  *  1. INCREMENTAL JSONL: one `{"metric":"suite"}` line the moment
  *     part 1 finishes, one `{"metric":"scaling_round"}` line per
  *     completed round, a final `{"metric":"total"}` summary line with
  *     the round-3 schema. A timeout now truncates the artifact, never
  *     erases it.
  *  2. TIME-BOX: part 2 runs against a wall-clock budget
  *     (`SPARK_GRAFT_BENCH_BUDGET_S`, default 1500 s), with the FIXED
  *     degradation order the round-3 verdict prescribes when the budget
  *     tightens: (a) calibration once per side per round instead of per
  *     slot, (b) reps 3→2, (c) stop adding headline rounds (never below
  *     5). The 4→16 context block and then the skew block shrink/drop
  *     first from the reserve. Every degradation is disclosed in the
  *     output (`degrade_level`, `budget_notes`).
  *  3. The two iterative-fixpoint suite keys (cc_components,
  *     dedup_cluster_resolve) run ONCE, in pass 2 only (JIT-warm), not
  *     min-of-2 — their cost is ~fixed job latency × contraction
  *     rounds, and paying it twice per pass was ~25 s of pure rent.
  *
  * ROUND-5 changes (pre-registered in BENCH/BASELINE.md; the r4 driver
  * artifact PASSED the scaling gate but arrived with `parsed:null`
  * because the final `"metric":"total"` line carried all 72 per-key
  * timings twice and outgrew the driver's bounded tail capture, and the
  * whole run finished at 57:46 — a whisker under the ~60-min ceiling —
  * because the budget only governed part 2):
  *
  *  4. WHOLE-RUN budget: `SPARK_GRAFT_BENCH_BUDGET_S` now counts from
  *     main() entry, so a noisy part 1 / corpus build shrinks part 2
  *     instead of overrunning the driver's outer wall.
  *  5. COMPACT final line: the last stdout line is gate-only (< 2 KB —
  *     scaling medians via the kg_* metrics map, per-round t/eff
  *     arrays, budget fields, suite total, failed keys). Per-key suite
  *     timings live ONLY in the earlier `"metric":"suite"` line and in
  *     the JSONL mirror file (`SPARK_GRAFT_BENCH_JSONL`, default
  *     BENCH/last_run.jsonl — survives stdout truncation entirely).
  *  6. Degradation level 3: reps=1 per headline round (each slot stays
  *     min-of-2 runs, so the session-warmup bias correction survives).
  *     Count-stop and floor-overrun are surfaced as their own booleans
  *     (`count_stop`, `budget_overrun`) instead of being folded into
  *     `degrade_level_final` (round-4 advice).
  *  7. Skew block: every round is budget-checked (the first round's
  *     unconditional bypass was a residual rc=124 risk — round-4
  *     advice), but rounds 1–2 are a disclosed FLOOR (the gate context
  *     needs a ≥2-round skew median) that runs even over budget with
  *     `skew_overrun_to_min_2_rounds` in budget_notes; round 3 is
  *     strictly budget-checked.
  *
  * ROUND-6 changes (pre-registered in BENCH/BASELINE.md; the r5 driver
  * artifact failed the RAW gate at 0.787 — rescued only by the
  * normalized secondary — because the ladder bought 9 rounds by
  * dropping to reps=1 before round 1, and single-rep rounds are
  * exactly the noise-fragile shape that produced its 0.525/0.635
  * outliers):
  *
  *  8. LADDER RE-ORDER: round count is sacrificed BEFORE reps. The
  *     scheduler degrades per-round cost only to level 2 (reps=2,
  *     min-of-reps per side); if that still doesn't fit, it shrinks
  *     the headline-round target toward the 5-round floor; level 3
  *     (reps=1) remains only as the last resort below 5 level-2
  *     rounds. Evidence: every reps≥2 run passed raw (r4 driver 0.925,
  *     builder run G 0.898), every reps=1 run landed 0.771–0.830.
  *  9. Part-1 rent cut: pass 2 re-times only keys with pass-1 time
  *     > 1 s (sub-second keys' warmup is already paid; ~60–80 s freed
  *     feeds part 2 through the whole-run budget).
  * 10. Final line: per-round arrays carry eff only (tuples live in the
  *     scaling_round lines + mirror); targets < 1.5 KB durably.
  * 11. `parsed:null` FIX, measured with a one-off stdout probe: the run
  *     is forked, and sbt's default LoggedOutput pumped every child
  *     line — even raw FileDescriptor.out writes — through its log
  *     appender as "[info] <line>", then appended a "[success]"
  *     epilogue; the JSON was never the bare last stdout line.
  *     build.sbt now sets `run / outputStrategy := StdoutOutput`
  *     (child lines arrive BARE, stderr separated) and
  *     `showSuccess := false` (no epilogue), so the final gate line IS
  *     the literal last stdout line. emitFinal also writes it raw to
  *     fd 1 (defense against a different launcher) and to
  *     BENCH/total.json as a fixed-path fallback.
  */
object Bench {

  /** Part 2 sessions read with 4 MB scan splits (row-group-aligned —
    * see BENCH/BASELINE.md §skew); part 1 keeps the production-default
    * 128 MB so suite timings are comparable across rounds.
    */
  private[graft] def session(cores: Int, smallSplits: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val withSplits =
      if (smallSplits)
        b.config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      else b
    val s = withSplits.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (Re)build the scaling corpora. The uniform corpus is cached across
    * runs (pure function of nFiles, 64 ~1 MB files). The REPO-CLUSTERED
    * skew corpus is rebuilt every run with a PINNED 4 MB row-group
    * size: the mega-repo (~50% of rows) collapses into one hot file,
    * and a scan split cannot subdivide a row group, so the row-group
    * grain IS the skew block's parallelism. 4 MB matches the scaling
    * sessions' maxPartitionBytes and gives the hot file ~12 row groups
    * — at 8 cores the 8 MB grain left only 6 hot tasks (quantization
    * floor); probes measured t8 4.46/4.67 s at 4 MB vs 4.63/5.04 s at
    * 8 MB on the same windows.
    *
    * Round-5 regression fix: the round-3 commit dropped the 8 MB
    * parquet.block.size write option as a "no-op" — but the only reason
    * skew kept scaling afterwards was that the on-disk dir (written
    * WITH the option) was never rebuilt. The first fresh-host rebuild
    * wrote a single 147 MB row group into the hot file and local[8]
    * degenerated to one hot task (measured skew eff 0.27 vs 0.92).
    * Pinning via hadoopConfiguration is unconditionally effective, and
    * the unconditional rebuild (~4 s, inside the budgeted clock) means
    * a stale cached layout can never decide the skew block again.
    */
  def materializeCorpora(s: SparkSession, nFiles: Int): (String, String) = {
    val corpusDir = s"/tmp/graft_bench_corpus_$nFiles"
    val skewDir = s"/tmp/graft_bench_corpus_skew_$nFiles"
    // Serialize every builder of this nFiles on this host under an
    // exclusive file lock: publishDir's check-then-delete was otherwise
    // a TOCTOU hole (two processes both miss _SUCCESS, the loser's
    // rmTree deletes the winner's just-published complete dir), and the
    // skew swap below briefly unlinks the live dir. Builders block each
    // other for the ~4 s build; CONCURRENT TIMED RUNS on one host stay
    // unsupported (they would corrupt each other's timings by CPU
    // contention regardless of filesystem safety).
    val lockFile = new java.io.RandomAccessFile(
      s"/tmp/graft_bench_corpus_$nFiles.lock", "rw")
    val flock = lockFile.getChannel.lock()
    try {
      // sweep tmp/graveyard dirs abandoned by killed runs (the rc=124
      // scenario leaked pid-named multi-hundred-MB dirs forever); safe
      // under the lock — no other builder can be mid-write
      sweepStale(corpusDir); sweepStale(skewDir)
      // cache validity = the _SUCCESS marker, not the directory: a run
      // killed mid-write leaves a partial dir that a bare exists() would
      // silently reuse — and the skew corpus below would then be derived
      // from the same truncated input
      if (!new java.io.File(corpusDir, "_SUCCESS").exists()) {
        import s.implicits._
        // write-to-temp + atomic rename: never expose a half-written dir
        val tmpDir = s"$corpusDir.tmp.${ProcessHandle.current().pid()}"
        s.range(nFiles).repartition(64)
          .mapPartitions(_.map(i => fixtures.CorpusGen.genFile(i.toInt, nFiles)))
          .toDF().write.mode("overwrite").parquet(tmpDir)
        publishDir(tmpDir, corpusDir)
      }
      // scope the row-group override to this one write: hadoopConfiguration
      // is session-global, and leaving 4 MB set would silently degrade any
      // later parquet write through the same session
      val hconf = s.sparkContext.hadoopConfiguration
      val prevBlockSize = hconf.get("parquet.block.size")
      hconf.setInt("parquet.block.size", 4 * 1024 * 1024)
      try {
        val skewTmp = s"$skewDir.tmp.${ProcessHandle.current().pid()}"
        s.read.parquet(corpusDir)
          .repartition(col("repo"))
          .write.mode("overwrite").parquet(skewTmp)
        // swap, don't delete-then-publish: rename the old dir aside
        // (atomic) so the absent window is two renames, not a full
        // recursive delete of the live corpus
        val grave = new java.io.File(
          s"$skewDir.old.${ProcessHandle.current().pid()}")
        new java.io.File(skewDir).renameTo(grave): Unit
        publishDir(skewTmp, skewDir)
        rmTree(grave)
      } finally {
        if (prevBlockSize == null) hconf.unset("parquet.block.size")
        else hconf.set("parquet.block.size", prevBlockSize)
      }
      (corpusDir, skewDir)
    } finally {
      flock.release()
      lockFile.close()
    }
  }

  /** Delete `<dir>.tmp.*` / `<dir>.old.*` leftovers from killed runs.
    * Caller must hold the corpus lock.
    */
  private def sweepStale(dir: String): Unit = {
    val d = new java.io.File(dir)
    val base = d.getName
    Option(d.getParentFile.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith(base + ".tmp.") ||
          f.getName.startsWith(base + ".old.")) rmTree(f)
    })
  }

  private def rmTree(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmTree))
    p.delete(): Unit
  }

  /** Atomically publish a completed temp dir at `target`. If another
    * process won the race and a complete dir (with _SUCCESS) already
    * sits at `target`, ours is discarded; a PARTIAL dir at `target`
    * (the killed-run scenario) is removed and replaced.
    */
  private def publishDir(tmpDir: String, target: String): Unit = {
    val t = new java.io.File(target)
    if (!new java.io.File(t, "_SUCCESS").exists()) rmTree(t)
    if (!new java.io.File(tmpDir).renameTo(t)) {
      if (new java.io.File(t, "_SUCCESS").exists()) rmTree(new java.io.File(tmpDir))
      else sys.error(s"could not publish $tmpDir at $target")
    }
  }

  /** One timed pipeline run over the corpus. Dictionary artifacts
    * (function-alias broadcast + canonical link map) are corpus-
    * independent per-cluster setup — prepared once per session by the
    * caller, amortized over every batch exactly as a production
    * deployment would (BASELINE.json:6 "broadcast dictionaries"). The
    * corpus is read through `TableIO.hashedFiles`, the pipeline's input
    * guards and sha256.
    */
  private def kgTriples(s: SparkSession, corpusDir: String,
                        fnAliases: org.apache.spark.broadcast.Broadcast[Set[String]],
                        canon: org.apache.spark.broadcast.Broadcast[Map[String, String]]): Long = {
    Extract.canonicalTriples(TableIO.hashedFiles(s.read.parquet(corpusDir)), fnAliases, canon)
      .count()
  }

  /** Hardware-ceiling calibration: an embarrassingly parallel job (per-
    * row sha256 over fixed bytes — zero shuffle, zero skew, nothing to
    * serialize) measures what N→4N threads is WORTH on this host right
    * now. Sized at ~32 CPU-seconds (~16 s wall at local[2], ~4.4 s at
    * local[8]) so the ~0.4 s/job scheduler overhead biases the measured
    * ceiling by ≤7%.
    */
  private[graft] def calibRun(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    s.range(400000).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = new Array[Byte](1500)
      it.map { i =>
        java.util.Arrays.fill(buf, (i % 251).toByte)
        var k = 0
        var acc = 0L
        while (k < 64) { md.reset(); acc ^= md.digest(buf)(0); k += 1 }
        acc
      }
    }(org.apache.spark.sql.Encoders.scalaLong).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** One interleave slot: fresh session at `cores`, per-cluster dict
    * setup (untimed), TWO timed pipeline runs (min-of-2 — a fresh
    * session's first run pays ~0.5–5 s of session-local warmup:
    * FileIndex, codegen class loading, AQE stats; a fixed penalty
    * distorts the short side of the ratio far more than the long side,
    * so single-run slots bias eff DOWN), optionally ONE timed
    * calibration run in the same session, session stopped. Returns
    * (triples, pipelineSec, calibSec, slotWallSec) — the slot wall
    * (including session create/stop) feeds the budget estimator.
    */
  private def slot(cores: Int, corpusDir: String,
                   withCalib: Boolean): (Long, Double, Double, Double) = {
    val w0 = System.nanoTime()
    val s = session(cores, smallSplits = true)
    val (fnAliases, canonB) = KgPipeline.broadcastDictionary(s, KgPipeline.dictDataset(s))
    var triples = 0L
    val t = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      triples = kgTriples(s, corpusDir, fnAliases, canonB)
      (System.nanoTime() - t0) / 1e9
    }.min
    val c = if (withCalib) calibRun(s) else Double.NaN
    s.stop()
    (triples, t, c, (System.nanoTime() - w0) / 1e9)
  }

  case class Round(tLow: Double, tHigh: Double, cLow: Double, cHigh: Double) {
    def eff: Double = (tLow / tHigh) / 4.0
    def ceil: Double = (cLow / cHigh) / 4.0
    def neff: Double = eff / ceil
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def f(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))

  /** Emit one JSON object as its own stdout line, flushed immediately —
    * the driver's capture of a timed-out run keeps every line printed
    * so far. Every line is mirrored to the JSONL file, so per-key suite
    * timings survive even when stdout capture truncates (round-5).
    */
  private var mirror: java.io.PrintWriter = null
  private def emit(json: String): Unit = {
    println(json)
    Console.out.flush()
    System.out.flush()
    if (mirror != null) { mirror.println(json); mirror.flush() }
  }

  /** The final gate line, three ways (round-6 `parsed:null` probe —
    * 5/5 driver rounds arrived with `parsed:null`, and round 5 showed
    * the compact line SURVIVES capture intact but always carries sbt's
    * `[info] ` log decoration, because an in-process `runMain` has its
    * System.out routed through sbt's log manager and sbt appends a
    * `[success]` line after it):
    *  1. through System.out as before (the `[info]`-prefixed copy);
    *  2. RAW to file descriptor 1, bypassing the redirected System.out —
    *     this copy reaches the driver's capture as a BARE JSON line with
    *     no prefix;
    *  3. to a fixed file (`SPARK_GRAFT_BENCH_TOTAL`, default
    *     BENCH/total.json) as the durable fallback contract.
    */
  private def emitFinal(json: String): Unit = {
    emit(json)
    try {
      // do NOT close: closing would close the process's real stdout
      val raw = new java.io.FileOutputStream(java.io.FileDescriptor.out)
      raw.write((json + "\n").getBytes("UTF-8"))
      raw.flush()
    } catch { case _: java.io.IOException => () }
    try {
      val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_TOTAL", "BENCH/total.json")
      val tf = new java.io.File(p)
      Option(tf.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(tf)
      try w.println(json) finally w.close()
    } catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jsonlPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSONL", "BENCH/last_run.jsonl")
    try {
      val jf = new java.io.File(jsonlPath)
      Option(jf.getParentFile).foreach(_.mkdirs())
      mirror = new java.io.PrintWriter(new java.io.FileWriter(jf, false))
    } catch { case _: java.io.IOException => () } // mirror is best-effort
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    val maxRounds = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "9").toInt)
    val baseReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val minRounds = math.min(5, maxRounds)

    // ---- part 1: operator suite ----
    // pass 1 times every key (paying JIT/page-cache warmup); pass 2
    // re-times ONLY the keys whose pass-1 time exceeded 1 s (min-of-2
    // for them) — a sub-second key's warmup is already covered by the
    // session-wide warmup pass 1 provides, and min-of-2 on ~60 such
    // keys was ~60–80 s of pure rent (round-6 pre-registered change;
    // the freed time feeds part 2 through the whole-run budget). The
    // iterative-fixpoint CC keys still run once, in pass 2 only
    // (round-4 change; their cost is fixed job latency, not data).
    // Round-6 addendum (pre-registered, after run K finished at
    // 1493 s of 1500): keys whose pass-1 time exceeds 5 s are also
    // NOT re-timed (their pass-1 value stands, `"passes":1`) — a >5 s
    // key's relative timing noise is small, while its min-of-2 re-run
    // is the single most expensive rent in part 1 (run K:
    // graph_triangles alone was 10.3 s of second pass).
    // Failures are recorded per key.
    val singlePassKeys =
      Set("cc_components", "dedup_cluster_resolve", "graph_kcore")
    val rewarmThresholdS = 1.0
    val noRewarmAboveS = 5.0
    val suiteSpark = session(cpus, smallSplits = false)
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
    def timeKey(name: String, fn: (SparkSession, String) => DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { fn(suiteSpark, sfDir).count(); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val pass1 = keys.collect {
      case (name, fn) if !singlePassKeys(name) => name -> timeKey(name, fn)
    }.toMap
    // the single-pass keys get a miniature UNTIMED warmup instead of
    // pass 1 (pre-registered): a 3-edge connected-components run warms
    // the star-contraction codegen/checkpoint paths, so their one timed
    // run is JIT-warm exactly like every min-of-2 key's second pass —
    // without paying the full fixed-latency key twice
    locally {
      import suiteSpark.implicits._
      val tiny = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("src", "dst")
      Canonicalize.connectedComponents(tiny).count(): Unit
    }
    val pass2 = keys.collect {
      case (name, fn) if singlePassKeys(name) ||
        pass1.get(name).exists { case (t, ok) =>
          ok && t > rewarmThresholdS && t <= noRewarmAboveS } =>
        name -> timeKey(name, fn)
    }.toMap
    val results = keys.map { case (name, _) =>
      val (t, ok) = (pass1.get(name), pass2.get(name)) match {
        case (Some((tA, okA)), Some((tB, okB))) => (math.min(tA, tB), okA && okB)
        case (Some((tA, okA)), None) => (tA, okA)
        case (None, Some((tB, okB))) => (tB, okB)
        case (None, None) => (-1.0, false) // unreachable
      }
      // failed keys get a -1 sentinel in the flat map (never a plausible time)
      name -> (if (ok) t else -1.0, ok)
    }
    val suiteTotal = results.map(_._2._1).filter(_ >= 0).sum
    val qs = results.map { case (k, (t, _)) => "\"" + k + "\":" + f(t) }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, (t, ok)) =>
      val onePass = !(pass1.contains(k) && pass2.contains(k))
      "\"" + k + "\":{\"time\":" + f(t) + ",\"ok\":" + ok +
        (if (onePass) ",\"passes\":1" else "") + "}"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, (_, false)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val part1S = (System.nanoTime() - mainStart) / 1e9
    emit(s"""{"metric":"suite","value":${f(suiteTotal)},"unit":"sec","queries":$qs,""" +
      s""""queries_detail":$detail,"failed_queries":$failed,""" +
      s""""elapsed_s":${f(part1S)},"sf":"$sfDir"}""")

    // ---- part 2: KG throughput scaling ----
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    val nFiles = math.max(8000, (sf * 4000000).toInt)
    val (corpusDir, skewDir) = materializeCorpora(suiteSpark, nFiles)
    suiteSpark.stop()

    // WHOLE-RUN clock (round-5): the budget now charges part 1 + corpus
    // materialization too — elapsed() is measured from main() entry, so
    // a noisy suite shrinks part 2 instead of overrunning the driver's
    // outer ~60-min ceiling (r4 finished at 57:46 with part 2 alone at
    // 1990 s against a part-2-only budget of 1500 s).
    val part2Start = System.nanoTime()
    // corpus/skew materialization sits between the suite emit and here —
    // disclose it as its own bucket so part1 + corpus + part2 == elapsed
    val corpusS = (System.nanoTime() - mainStart) / 1e9 - part1S
    def elapsed(): Double = (System.nanoTime() - mainStart) / 1e9
    def part2Elapsed(): Double = (System.nanoTime() - part2Start) / 1e9
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]

    // last-observed slot wall per (cores, withCalib) — budget estimator
    val wallEst = scala.collection.mutable.Map.empty[(Int, Boolean), Double]
    def estSlot(cores: Int, withCalib: Boolean): Double =
      wallEst.getOrElse((cores, withCalib),
        wallEst.get((cores, !withCalib)) match {
          // calibration adds ~32/cores CPU-s of wall; session ~4 s
          case Some(w) => if (withCalib) w + 34.0 / cores else math.max(6.0, w - 34.0 / cores)
          case None => cores match {
            // cold priors from the round-3 builder run (sf0.1)
            case 2 => if (withCalib) 60.0 else 45.0
            case 4 => if (withCalib) 35.0 else 25.0
            case 8 => if (withCalib) 25.0 else 20.0
            case _ => if (withCalib) 20.0 else 15.0
          }
        })

    var nTriples = 0L
    def runSlot(cores: Int, dir: String, withCalib: Boolean): (Double, Double) = {
      val (n, t, c, wall) = slot(cores, dir, withCalib)
      nTriples = n
      wallEst((cores, withCalib)) = wall
      (t, c)
    }

    /** One estimator round: slots interleave (high, low) × reps so a
      * steal window lands on both configs; min-of-reps per side.
      * calibSlots = how many of the reps carry the in-session
      * calibration (all of them at degrade level 0, one at level ≥ 1).
      */
    def round(low: Int, high: Int, dir: String, reps: Int,
              calibSlots: Int): Round = {
      var tLo, tHi, cLo, cHi = Double.MaxValue
      for (rep <- 1 to reps) {
        val calib = rep <= calibSlots
        val (a, ca) = runSlot(high, dir, calib)
        val (b, cb) = runSlot(low, dir, calib)
        tHi = math.min(tHi, a); tLo = math.min(tLo, b)
        if (calib) { cHi = math.min(cHi, ca); cLo = math.min(cLo, cb) }
      }
      Round(tLo, tHi, if (cLo < Double.MaxValue) cLo else Double.NaN,
        if (cHi < Double.MaxValue) cHi else Double.NaN)
    }

    def roundJson(r: Round, lo: Int, hi: Int): String = {
      val base = s""""t$lo":${f(r.tLow)},"t$hi":${f(r.tHigh)},"eff":${f(r.eff)}"""
      if (!r.cLow.isNaN)
        base + s""","c$lo":${f(r.cLow)},"c$hi":${f(r.cHigh)},""" +
          s""""ceil":${f(r.ceil)},"neff":${f(r.neff)}"""
      else base
    }

    // warmup slot pair (JIT + page cache + calibration JIT), discarded;
    // runs WITH calibration so the budget estimator starts from measured
    // walls for every slot shape it will schedule (round-4 change)
    runSlot(8, corpusDir, withCalib = true)
    runSlot(2, corpusDir, withCalib = true)

    // degradation ladder (pre-registered, BENCH/BASELINE.md):
    //   level 0: reps=3, calibration in every slot   (full r3 protocol)
    //   level 1: reps=3, calibration once per side per round
    //   level 2: reps=2, calibration once per side per round
    //   level 3: reps=1 (round-5 rung — the slot itself stays min-of-2
    //            runs, so the session-warmup bias correction survives;
    //            the single rep carries calibration on both sides)
    //   then: stop adding headline rounds (floor: minRounds) — surfaced
    //   as count_stop/budget_overrun booleans, not a ladder level
    def levelParams(level: Int): (Int, Int) = level match {
      case 0 => (baseReps, baseReps)
      case 1 => (baseReps, 1)
      case 2 => (math.min(2, baseReps), 1)
      case _ => (1, 1)
    }
    def estRound(level: Int, low: Int, high: Int): Double = {
      val (reps, calibSlots) = levelParams(level)
      (1 to reps).map { rep =>
        val calib = rep <= calibSlots
        estSlot(high, calib) + estSlot(low, calib)
      }.sum
    }
    // reserve: skew block (3 no-calib round-pairs) + 4→16 context block
    // (2 calibrated round-pairs); shrinks as those blocks complete
    def estReserve(skewLeft: Int, ctxLeft: Int): Double =
      skewLeft * (estSlot(8, false) + estSlot(2, false)) +
        ctxLeft * (estSlot(16, true) + estSlot(4, true))

    var level = 0
    var targetRounds = maxRounds
    val rounds28 = scala.collection.mutable.ArrayBuffer.empty[Round]
    var budgetStopped = false
    while (rounds28.size < targetRounds && !budgetStopped) {
      // pick the degradation level by projecting the FULL remaining plan
      // (all rounds up to targetRounds + the skew/context reserve).
      // ROUND-6 pre-registered re-order (BENCH/BASELINE.md): per-round
      // cost degrades first ONLY down to level 2 (reps=2); below that,
      // ROUND COUNT is sacrificed toward the 5-round floor BEFORE reps
      // drop to 1 — round 5 falsified the old rounds-last order
      // empirically: every reps≥2 run passed the raw 0.8 gate (r4
      // driver 0.925, builder run G 0.898) while reps=1 runs clustered
      // at 0.771–0.830, because min-of-reps per side is what deletes a
      // steal window and the median can only down-weight a corrupted
      // round. Level 3 (reps=1) remains only as the last resort when
      // even 5 level-2 rounds don't fit. Never un-degrades, targetRounds
      // never grows back.
      // The reserve protects the full skew block but only ONE context
      // round: headline rounds are the gate and the 4→16 block is
      // declared to drop first — reserving both context rounds here
      // would sacrifice a gate round to protect a non-gate round.
      def projected(lv: Int): Double =
        elapsed() + estRound(lv, 2, 8) * (targetRounds - rounds28.size) +
          estReserve(3, 1)
      while (level < 2 && projected(level) > budgetS) {
        level += 1
        notes += s"degraded_to_level_${level}_before_round_${rounds28.size + 1}"
      }
      if (level == 2 && targetRounds > minRounds && projected(level) > budgetS) {
        val before = targetRounds
        while (targetRounds > math.max(minRounds, rounds28.size) &&
               projected(level) > budgetS)
          targetRounds -= 1
        notes += s"reduced_rounds_${before}_to_${targetRounds}_before_round_${rounds28.size + 1}"
      }
      // last-resort rung: only reachable while a round would actually
      // still run — when the shrink above floored targetRounds at the
      // completed count, bumping to reps=1 here would record a level-3
      // degrade that never executes, corrupting the audit trail the
      // run records are judged by
      while (level < 3 && targetRounds > rounds28.size &&
             projected(level) > budgetS) {
        level += 1
        notes += s"degraded_to_level_${level}_before_round_${rounds28.size + 1}"
      }
      val nextFits =
        elapsed() + estRound(level, 2, 8) + estReserve(3, 1) <= budgetS
      if (!nextFits && rounds28.size >= minRounds) {
        notes += s"budget_stop_after_${rounds28.size}_rounds"
        budgetStopped = true
      } else if (rounds28.size >= targetRounds) {
        // targetRounds shrank to the completed count inside this pass
        budgetStopped = true
      } else {
        if (!nextFits && !notes.exists(_.startsWith("budget_overrun")))
          notes += s"budget_overrun_to_min_${minRounds}_rounds"
        val (reps, calibSlots) = levelParams(level)
        val r = round(2, 8, corpusDir, reps, calibSlots)
        rounds28 += r
        emit(s"""{"metric":"scaling_round","block":"headline","idx":${rounds28.size},""" +
          s""""level":$level,${roundJson(r, 2, 8)},"elapsed_s":${f(elapsed())}}""")
      }
    }
    val t2 = rounds28.map(_.tLow).min
    val t8 = rounds28.map(_.tHigh).min

    // skew block: up to 3 rounds over the repo-clustered corpus (one A/B
    // slot pair per round; each slot is already min-of-2 runs). The
    // reserve here protects only ONE context round — the 4→16 block is
    // explicitly context, not a gate, and drops first; a 2-round skew
    // median is fragile against a single noise window, so the third
    // skew round outranks the second context round. Round-5: every
    // round is budget-checked (the old first-round bypass was a
    // residual rc=124 risk), but rounds 1–2 are a pre-registered FLOOR
    // that runs even over budget, disclosed — a 1-round skew block was
    // the r4 artifact's thinnest evidence.
    val roundsSkew = scala.collection.mutable.ArrayBuffer.empty[Round]
    while (roundsSkew.size < 3 && {
      val fits = elapsed() + (estSlot(8, false) + estSlot(2, false)) +
        estReserve(0, 1) <= budgetS
      if (!fits && roundsSkew.size < 2 &&
          !notes.contains("skew_overrun_to_min_2_rounds"))
        notes += "skew_overrun_to_min_2_rounds"
      fits || roundsSkew.size < 2
    }) {
      val r = round(2, 8, skewDir, 1, 0)
      roundsSkew += r
      emit(s"""{"metric":"scaling_round","block":"skew","idx":${roundsSkew.size},""" +
        s"""${roundJson(r, 2, 8)},"elapsed_s":${f(elapsed())}}""")
    }
    if (roundsSkew.size < 3) notes += s"skew_truncated_to_${roundsSkew.size}_rounds"

    // context block: saturated 4→16 geometry, up to 2 rounds, first to
    // be dropped when the budget is tight (it is context, not a gate)
    val rounds416 = scala.collection.mutable.ArrayBuffer.empty[Round]
    while (rounds416.size < 2 &&
           elapsed() + (estSlot(16, true) + estSlot(4, true)) <= budgetS) {
      val r = round(4, 16, corpusDir, 1, 1)
      rounds416 += r
      emit(s"""{"metric":"scaling_round","block":"context_4_16","idx":${rounds416.size},""" +
        s"""${roundJson(r, 4, 16)},"elapsed_s":${f(elapsed())}}""")
    }
    if (rounds416.size < 2) notes += s"context_4_16_truncated_to_${rounds416.size}_rounds"

    // ---- final summary line (round-5: COMPACT and gate-only) ----
    // The last stdout line must always survive the driver's bounded
    // tail capture: r4's final line inlined all 72 per-key timings
    // twice and arrived beheaded (parsed:null despite a passing gate).
    // Per-key timings live ONLY in the earlier "suite" line and the
    // JSONL mirror; the driver-contract `queries` map here carries the
    // kg_* gate metrics. Target < 2 KB.
    def medOf(rs: Seq[Round], g: Round => Double): Double =
      if (rs.isEmpty) Double.NaN else median(rs.map(g))
    val t4 = if (rounds416.nonEmpty) rounds416.map(_.tLow).min else Double.NaN
    val t16 = if (rounds416.nonEmpty) rounds416.map(_.tHigh).min else Double.NaN
    val calibrated = rounds28.filter(r => !r.cLow.isNaN)
    val extra = Seq(
      "kg_bench_files" -> nFiles.toDouble, "kg_bench_triples" -> nTriples.toDouble,
      "kg_sec_at_n2" -> t2, "kg_sec_at_n8" -> t8,
      "kg_thr_at_n2" -> nTriples / t2, "kg_thr_at_n8" -> nTriples / t8,
      "kg_sec_at_n4" -> t4, "kg_sec_at_n16" -> t16,
      "kg_thr_at_n4" -> nTriples / t4, "kg_thr_at_n16" -> nTriples / t16,
      // headline: median raw efficiency at the equal-clock 2→8 geometry
      "kg_scaling_efficiency" -> medOf(rounds28.toSeq, _.eff),
      "kg_scaling_efficiency_min" -> rounds28.map(_.eff).min,
      "kg_scaling_efficiency_max" -> rounds28.map(_.eff).max,
      // pre-registered secondary: eff normalized by the round's own
      // calibration ceiling (over the calibrated rounds)
      "kg_scaling_efficiency_normalized" -> medOf(calibrated.toSeq, _.neff),
      "hw_ceiling_efficiency_median" -> medOf(calibrated.toSeq, _.ceil),
      "kg_scaling_efficiency_skew" -> medOf(roundsSkew.toSeq, _.eff),
      "kg_scaling_efficiency_4_16" -> medOf(rounds416.toSeq, _.eff),
      "hw_ceiling_efficiency_4_16" -> medOf(rounds416.toSeq, _.ceil))
    // count-stop (stopped adding rounds before maxRounds) and
    // budget-overrun are DIFFERENT outcomes — each gets its own boolean
    // instead of being folded into the ladder level (round-4 advice).
    // budget_overrun reports the ACTUAL outcome (did the run exceed the
    // budget), not the scheduler's mid-run projection — a noisy window
    // can briefly predict the floor won't fit (the *_overrun_to_min_*
    // notes disclose that decision) and the run still land under budget
    // (the first r5 builder run did exactly that: projected overrun at
    // round ~4, finished at 1433 s of 1500)
    val countStop = budgetStopped
    val budgetOverrun = elapsed() > budgetS
    val qsExtra = extra
      .map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // per-round EFF ONLY in the final line (round-6 trim: the r5 final
    // line measured ~1.7–2.3 KB against the < 2 KB capture target; the
    // full t/c/eff/ceil/neff tuples already live in the per-round
    // scaling_round lines and the JSONL mirror)
    def effsJson(rs: Seq[Round]): String =
      rs.map(r => f(r.eff)).mkString("[", ",", "]")
    val notesJson = notes.map("\"" + _ + "\"").mkString("[", ",", "]")
    emitFinal(s"""{"metric":"total","value":${f(suiteTotal)},"unit":"sec",""" +
      s""""queries":$qsExtra,"failed_queries":$failed,""" +
      s""""scaling_rounds":${effsJson(rounds28.toSeq)},""" +
      s""""scaling_rounds_skew":${effsJson(roundsSkew.toSeq)},""" +
      s""""scaling_rounds_4_16":${effsJson(rounds416.toSeq)},""" +
      s""""budget_s":${f(budgetS)},"elapsed_s":${f(elapsed())},""" +
      s""""part1_elapsed_s":${f(part1S)},"corpus_elapsed_s":${f(corpusS)},""" +
      s""""part2_elapsed_s":${f(part2Elapsed())},""" +
      s""""degrade_level_final":$level,"count_stop":$countStop,""" +
      s""""budget_overrun":$budgetOverrun,"headline_rounds":${rounds28.size},""" +
      s""""target_rounds":$targetRounds,""" +
      s""""budget_notes":$notesJson,"sf":"$sfDir"}""")
    if (mirror != null) mirror.close()
  }
}
