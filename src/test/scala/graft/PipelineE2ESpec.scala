package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.kg._
import graft.fixtures.{CorpusGen, Vocab}
import graft.oracle.Oracle

/** End-to-end golden P/R gate (SURVEY §5.2 layer 4; BASELINE.json:2):
  * engine triples vs the independent single-threaded oracle on the
  * deterministic tiny corpus. Plus: sha256 invariant, partitioning
  * invariance, and manifest-based resume.
  */
class PipelineE2ESpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def corpusDf(n: Int) = {
    import spark.implicits._
    CorpusGen.corpus(n).toDF()
  }

  private def runPipeline(n: Int, dir: String,
                          onlyBuckets: Option[Set[Int]] = None): KgResult = {
    val cfg = KgConfig(s"$dir/triples", s"$dir/manifest", runId = "r1")
    KgPipeline.run(spark, corpusDf(n), KgPipeline.dictDataset(spark), cfg, onlyBuckets)
  }

  private def manifestRows(dir: String): Map[Int, (Long, Long)] = {
    val rows = Manifest.read(spark, s"$dir/manifest").select("bucket", "rowCount", "contentDigest")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).distinct.length == rows.length, s"a bucket committed twice in $dir")
    rows.toMap
  }

  /** The lineage the run took from its write equals the disk: each
    * committed bucket's (rowCount, contentDigest) is `bucketStats` of the
    * triple table ((0, 0) for a bucket with no rows), and the run's
    * `triplesWritten` is the rowCount sum of the buckets it committed.
    */
  private def assertReconciled(dir: String, res: KgResult, committedBefore: Set[Int]): Unit = {
    val differ = graft.tools.Probe.lineage(spark, dir, "r1")
    assert(differ.isEmpty, s"manifest and disk differ in buckets $differ of $dir")
    assert(res.triplesWritten == (manifestRows(dir) -- committedBefore).values.map(_._1).sum)
  }

  private def readTriples(dir: String): Set[Seq[String]] = {
    spark.read.parquet(s"$dir/triples")
      .select(Extract.TripleKey.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf)).toSet
  }

  /** Triples keyed by 7-tuple with their score; fails on a duplicate 7-tuple. */
  private def keyed(rows: Seq[Triple]): Map[Seq[String], Double] = {
    val m = rows.map(t => Seq(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha) -> t.score).toMap
    assert(m.size == rows.size, s"${rows.size - m.size} duplicate 7-tuples")
    m
  }

  private def writtenScored(dir: String): Map[Seq[String], Double] = {
    import spark.implicits._
    keyed(spark.read.parquet(s"$dir/triples").select((Extract.TripleKey :+ "score").map(col): _*)
      .as[Triple].collect().toSeq)
  }

  private def scoredOracle(corpus: Seq[CodeFile]): Map[Seq[String], Double] =
    Oracle.scoredTriples(corpus, Vocab.dictRows).map { case (t, sc) =>
      Seq(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha) -> sc
    }

  test("e2e golden P/R == 1.0 on the tiny corpus") {
    val dir = tmp("kg-e2e")
    val res = runPipeline(CorpusGen.TinyFiles, dir)
    assert(res.triplesWritten > 0)
    val got = readTriples(dir)
    val want = Oracle.triples(CorpusGen.corpus(CorpusGen.TinyFiles), Vocab.dictRows)
      .map(t => Seq(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha))
    val tp = (got intersect want).size.toDouble
    val precision = if (got.isEmpty) 0.0 else tp / got.size
    val recall = if (want.isEmpty) 0.0 else tp / want.size
    info(f"precision=$precision%.4f recall=$recall%.4f (${got.size} pred, ${want.size} gold)")
    assert(precision >= 0.95 && recall >= 0.95,
      s"P/R gate failed: p=$precision r=$recall; " +
        s"spurious=${(got -- want).take(3)} missed=${(want -- got).take(3)}")
    assert(precision == 1.0 && recall == 1.0, "deterministic spec ⇒ expect exactly 1.0")
  }

  test("golden P/R == 1.0 on the 3000-file small corpus (in-memory DAG)") {
    val n = CorpusGen.SmallFiles
    val corpus = CorpusGen.frame(spark, n)
    val dict = KgPipeline.dictDataset(spark)
    val hashed = TableIO.hashedFiles(corpus)
    val got = Extract.canonicalTriples(hashed,
        Extract.broadcastFnAliases(spark, dict),
        Canonicalize.broadcastLinkMap(spark, dict))
      .collect().map(t => Seq(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha))
      .toSet
    val want = Oracle.triples(CorpusGen.corpus(n), Vocab.dictRows)
      .map(t => Seq(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha))
    assert(got.size == want.size && got == want,
      s"small-corpus divergence: spurious=${(got -- want).take(2)} missed=${(want -- got).take(2)}")
  }

  test("duplicate corpus: run and canonicalTriples equal the scored oracle") {
    import spark.implicits._
    // one file where a single canonical `calls` edge appears at two line
    // distances (charliefn at 5 and 6) and through two norms the link map
    // merges into one canonical (bravofn at distance 1, bravof at 4)
    val edgeFile = CodeFile("org/edges", "src/edges.py", "c0", "python",
      "def alphafn(a, b):\n    bravofn(a)\n    x = 1\n    y = 2\n" +
        "    bravof(b)\n    charliefn(a)\n    charliefn(b)\n")
    val files = CorpusGen.corpus(40) :+ edgeFile
    val redelivered = files.take(8) :+ edgeFile
    val forks = (files.slice(4, 12) :+ edgeFile)
      .map(f => f.copy(repo = s"${f.repo}-fork", path = s"fork/${f.path}"))
    val corpus = files ++ redelivered ++ forks
    val dict = KgPipeline.dictDataset(spark)
    val fnAliases = Extract.broadcastFnAliases(spark, dict)
    val canonB = Canonicalize.broadcastLinkMap(spark, dict)

    // the fixture really has score variants of one edge within a file:
    // each canonical callee is called at two distances from alphafn ...
    val ms = Oracle.mentions(edgeFile, fnAliases.value)
    val defLine = ms.find(_.kind == "def").get.line
    val distances = ms.filter(_.kind == "call").groupBy { m =>
      val n = Oracle.norm(m.surface); canonB.value.getOrElse(n, n)
    }.map { case (callee, calls) => callee -> calls.map(_.line - defLine).sorted }
    assert(distances == Map("bravofn" -> Vector(1, 4), "charliefn" -> Vector(5, 6)),
      s"fixture lost the two-distance alphafn edges: $distances")
    // ... and the file's triples keep the nearer call's score
    def logistic(d: Int) = 1.0 / (1.0 + math.exp(-(4.0 - 0.1 * d)))
    val edgeScores = Extract.fileTriples(
      HashedFile(edgeFile.repo, edgeFile.path, edgeFile.commit, edgeFile.lang,
        edgeFile.content, Oracle.sha256Hex(edgeFile.content)), fnAliases.value, canonB.value)
      .collect { case t if t.subj == "alphafn" && t.pred == "calls" => t.obj -> t.score }.toMap
    assert(edgeScores == Map("bravofn" -> logistic(1), "charliefn" -> logistic(5)), s"$edgeScores")

    val want = scoredOracle(corpus)

    val hashed = TableIO.hashedFiles(corpus.toDF())
    val viaCanonical = keyed(Extract.canonicalTriples(hashed, fnAliases, canonB).collect().toSeq)
    assert(viaCanonical == want,
      s"canonicalTriples: spurious=${(viaCanonical.toSet -- want).take(3)} " +
        s"missed=${(want.toSet -- viaCanonical).take(3)}")

    val dir = tmp("kg-dup")
    val res = KgPipeline.run(spark, corpus.toDF(), dict, KgConfig(s"$dir/triples", s"$dir/manifest", "r1"))
    val viaRun = writtenScored(dir)
    assert(viaRun == want,
      s"KgPipeline.run: spurious=${(viaRun.toSet -- want).take(3)} missed=${(want.toSet -- viaRun).take(3)}")
    assert(res.triplesWritten == want.size)
    assertReconciled(dir, res, Set.empty)

    // the flatMap emits each 7-tuple once per corpus row: its count is
    // exactly the number of copies of the file it came from
    val copies = corpus.groupBy(f => (f.repo, f.path, f.commit, Oracle.sha256Hex(f.content)))
      .map { case (k, fs) => k -> fs.size }
    val emitted = Extract.triples(hashed, fnAliases, canonB).collect().toSeq
      .groupBy(t => (t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha))
    emitted.foreach { case (k, ts) =>
      assert(ts.size == copies((k._4, k._5, k._6, k._7)), s"$k emitted ${ts.size} times")
    }
    assert(emitted.values.map(_.size).sum > want.size, "fixture has no cross-row duplicates")
  }

  test("a grown corpus rerun under a new runId equals the scored oracle of the union") {
    import spark.implicits._
    val all = CorpusGen.corpus(60)
    val grown = all ++ all.take(5) // every file, five of them re-delivered
    val dir = tmp("kg-grown")
    val dict = KgPipeline.dictDataset(spark)
    def run(files: Seq[CodeFile], runId: String) =
      KgPipeline.run(spark, files.toDF(), dict, KgConfig(s"$dir/triples", s"$dir/manifest", runId))
    assert(run(all.take(30), "r1").triplesWritten > 0)
    // r1's manifest commits nothing for r2: r2 rebuilds every bucket, and
    // the dynamic overwrite replaces each (bucket, pred) directory r1 wrote
    val res = run(grown, "r2")
    assert(res.bucketsCommitted == 16)
    val want = scoredOracle(grown)
    val got = writtenScored(dir)
    assert(got == want,
      s"spurious=${(got.toSet -- want).take(3)} missed=${(want.toSet -- got).take(3)}")
    assert(res.triplesWritten == want.size)
    val differ = graft.tools.Probe.lineage(spark, dir, "r2")
    assert(differ.isEmpty, s"r2's manifest and the disk differ in buckets $differ")
  }

  test("per-row sha256 invariant holds for 100% of corpus rows") {
    import spark.implicits._
    val hashed = TableIO.withInvariants(corpusDf(CorpusGen.TinyFiles), 16)
    val rows = hashed.select($"content", $"file_sha").as[(String, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (content, sha) =>
      assert(sha == Oracle.sha256Hex(content))
    }
  }

  test("output is invariant under parallelism (repartition 1 vs 13)") {
    val d1 = tmp("kg-p1"); val d2 = tmp("kg-p13")
    val cfg1 = KgConfig(s"$d1/triples", s"$d1/manifest", "r1")
    val cfg2 = KgConfig(s"$d2/triples", s"$d2/manifest", "r1")
    val dict = KgPipeline.dictDataset(spark)
    // no AQE coalescing, so every shuffle partition writes: a layout key
    // finer than (bucket, pred) would then split a directory's rows
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    val (r1, r2) = try {
      (KgPipeline.run(spark, corpusDf(CorpusGen.TinyFiles).repartition(1), dict, cfg1),
        KgPipeline.run(spark, corpusDf(CorpusGen.TinyFiles).repartition(13), dict, cfg2))
    } finally prev.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
    assert(readTriples(d1) == readTriples(d2))
    assertReconciled(d1, r1, Set.empty)
    assertReconciled(d2, r2, Set.empty)
    // lineage digests must match too (commutative xor ⇒ order-invariant)
    val m1 = spark.read.parquet(s"$d1/manifest")
      .select("bucket", "rowCount", "contentDigest").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val m2 = spark.read.parquet(s"$d2/manifest")
      .select("bucket", "rowCount", "contentDigest").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(m1 == m2)
    // the xor digest is sound only while written rows are distinct: no
    // 7-tuple lands twice, and each bucket's rowCount is its distinct count
    for (d <- Seq(d1, d2)) {
      val rows = spark.read.parquet(s"$d/triples").select((Extract.TripleKey :+ "bucket").map(col): _*)
      assert(rows.count() == rows.distinct().count(), s"duplicate triples in $d")
      val distinctPerBucket = rows.distinct().groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      spark.read.parquet(s"$d/manifest").select("bucket", "rowCount").collect()
        .foreach(r => assert(r.getLong(1) == distinctPerBucket.getOrElse(r.getInt(0), 0L),
          s"bucket ${r.getInt(0)} rowCount != its distinct count in $d"))
    }
    // the write's layout key is (bucket, pred): each directory holds one file
    for (d <- Seq(d1, d2)) {
      val partDirs = new java.io.File(s"$d/triples").listFiles().filter(_.getName.startsWith("bucket="))
        .flatMap(_.listFiles().filter(_.getName.startsWith("pred=")))
      assert(partDirs.nonEmpty, s"no bucket=*/pred=* directories in $d")
      partDirs.foreach { p =>
        val parts = p.listFiles().map(_.getName).filter(_.startsWith("part-"))
        assert(parts.length == 1, s"$p holds ${parts.length} part files")
      }
    }
  }

  test("manifest commits every todo bucket, empty ones as (0, 0)") {
    val dir = tmp("kg-sparse")
    val res = runPipeline(2, dir)
    val m = manifestRows(dir)
    assert(m.keySet == (0 until 16).toSet)
    val landed = spark.read.parquet(s"$dir/triples").select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(landed.nonEmpty && landed.size < 16, s"fixture fills $landed")
    (0 until 16).filterNot(landed).foreach(b => assert(m(b) == ((0L, 0L)), s"bucket $b"))
    assert(res.triplesWritten == m.values.map(_._1).sum)
  }

  test("resume: crash at half the buckets, rerun → identical output, no reprocess") {
    val full = tmp("kg-full"); val resumed = tmp("kg-resume")
    // uninterrupted run
    runPipeline(CorpusGen.TinyFiles, full)
    // interrupted run: only buckets 0..7 commit, then "crash"
    val res1 = runPipeline(CorpusGen.TinyFiles, resumed, onlyBuckets = Some((0 until 8).toSet))
    val manifestAfterCrash = spark.read.parquet(s"$resumed/manifest")
      .select("bucket").collect().map(_.getInt(0)).toSet
    assert(manifestAfterCrash == (0 until 8).toSet)
    assertReconciled(resumed, res1, Set.empty)
    // resume completes the rest
    val res2 = runPipeline(CorpusGen.TinyFiles, resumed)
    assert(res2.bucketsCommitted == 16)
    assertReconciled(resumed, res2, manifestAfterCrash)
    assert(readTriples(resumed) == readTriples(full))
    // no committed bucket reprocessed: manifest has exactly one row per bucket
    val counts = spark.read.parquet(s"$resumed/manifest")
      .groupBy("bucket").count().collect().map(_.getLong(1)).toSet
    assert(counts == Set(1L))
    // third run is a no-op
    val res3 = runPipeline(CorpusGen.TinyFiles, resumed)
    assert(res3.triplesWritten == 0L)
    assertReconciled(resumed, res3, (0 until 16).toSet)
  }

  test("resume after a run died in its first manifest append: every bucket commits") {
    val full = tmp("kg-full"); val dir = tmp("kg-torn-manifest")
    runPipeline(CorpusGen.TinyFiles, full)
    // the triple write committed, the first manifest append did not:
    // the manifest dir holds only the append's `_temporary/`
    runPipeline(CorpusGen.TinyFiles, dir)
    val manifest = new java.io.File(s"$dir/manifest")
    org.apache.commons.io.FileUtils.deleteDirectory(manifest)
    assert(new java.io.File(manifest, "_temporary/0").mkdirs())
    val res = runPipeline(CorpusGen.TinyFiles, dir)
    assert(res.bucketsCommitted == 16)
    assert(manifestRows(dir).keySet == (0 until 16).toSet)
    assertReconciled(dir, res, Set.empty)
    assert(readTriples(dir) == readTriples(full))
  }

  test("a manifest row in the older nine-column shape still counts as committed") {
    import spark.implicits._
    val full = tmp("kg-full"); val dir = tmp("kg-old-manifest")
    runPipeline(CorpusGen.TinyFiles, full)
    // bucket 3 committed by a build whose manifest also held the
    // constant columns stage, status, attempt and wallMs
    runPipeline(CorpusGen.TinyFiles, dir, onlyBuckets = Some(Set(3)))
    val (rowCount, contentDigest) = manifestRows(dir)(3)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/manifest"))
    Seq(("r1", "triples", 3, rowCount, contentDigest, "committed", 1,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), 1234L))
      .toDF("runId", "stage", "bucket", "rowCount", "contentDigest", "status", "attempt",
        "startedAt", "wallMs")
      .write.parquet(s"$dir/manifest")
    val planted = new java.io.File(s"$dir/manifest").list().filter(_.endsWith(".parquet")).toSet
    val res = runPipeline(CorpusGen.TinyFiles, dir)
    assert(res.bucketsCommitted == 16)
    assert(manifestRows(dir)(3) == ((rowCount, contentDigest)), "bucket 3 was reprocessed")
    assertReconciled(dir, res, Set(3))
    assert(readTriples(dir) == readTriples(full))
    // this run appended rows of the declared shape beside the old file
    val appended = new java.io.File(s"$dir/manifest").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !planted(f.getName))
    assert(appended.nonEmpty)
    appended.foreach(f => assert(spark.read.parquet(f.getPath).schema.fieldNames.toSeq ==
      Manifest.Schema.fieldNames.toSeq, f.getName))
    // and a manifest holding both shapes resumes as a no-op
    val again = runPipeline(CorpusGen.TinyFiles, dir)
    assert(again.triplesWritten == 0L && again.bucketsCommitted == 16)
  }

  test("a rerun under the same runId at another bucket count is refused") {
    val dir = tmp("kg-rebucket")
    val (corpus, dict) = (corpusDf(CorpusGen.TinyFiles), KgPipeline.dictDataset(spark))
    def run(nBuckets: Int) =
      KgPipeline.run(spark, corpus, dict, KgConfig(s"$dir/triples", s"$dir/manifest", "r1", nBuckets))
    run(16)
    val before = writtenScored(dir)
    // pmod(h, 32) mod 16 == pmod(h, 16): every file the 32-bucket rerun
    // routes to bucket b >= 16 was committed in bucket b - 16, so a
    // resume would write its triples a second time
    val e = intercept[IllegalArgumentException](run(32))
    assert(e.getMessage.contains("at 16 buckets") && e.getMessage.contains("routes to 32"), e.getMessage)
    assert(writtenScored(dir) == before && manifestRows(dir).keySet == (0 until 16).toSet)
    // the count the run committed at still resumes, as a no-op
    val again = run(16)
    assert(again.triplesWritten == 0L && again.bucketsCommitted == 16)
  }

  /** Runs `corpus` into a fresh directory with a deadline: a run whose
    * lineage never arrives fails here instead of hanging the suite.
    */
  private def runWithin(corpus: org.apache.spark.sql.DataFrame): (String, KgResult) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmp("kg-deadline")
    val cfg = KgConfig(s"$dir/triples", s"$dir/manifest", runId = "r1")
    dir -> Await.result(Future(KgPipeline.run(spark, corpus, KgPipeline.dictDataset(spark), cfg)), 3.minutes)
  }

  test("a corpus that yields no triples still commits 16 buckets as (0, 0)") {
    import spark.implicits._
    val oversize = "x" * (TableIO.MaxContentChars + 1)
    val rejected = Seq(
      CodeFile("org/a", "a.py", "c0", "python", null),
      CodeFile("org/a", "b.py", "c0", "python", ""),
      CodeFile("org/a", "c.py", "c0", "python", oversize),
      CodeFile(null, "d.py", "c0", "python", "def f():\n    g()\n"))
    // from parquet the rejects are found at run time, so AQE sees the
    // empty exchange; in memory the optimizer folds the plan to empty
    val parquet = tmp("kg-rejected")
    rejected.toDF().write.mode("overwrite").parquet(parquet)
    for ((label, rows, df) <- Seq(
        ("empty corpus", Seq.empty[CodeFile], Seq.empty[CodeFile].toDF()),
        ("all rows rejected", rejected, rejected.toDF()),
        ("all rows rejected, read from parquet", rejected, spark.read.parquet(parquet)))) {
      val (dir, res) = runWithin(df)
      assert(res.triplesWritten == 0L && res.bucketsCommitted == 16, label)
      assert(res.rowsIn == rows.size && res.rowsRejected == rows.size, s"$label: $res")
      assert(manifestRows(dir) == (0 until 16).map(_ -> ((0L, 0L))).toMap, label)
    }
  }

  test("guard rejects are counted: rows in = admitted + rejected") {
    import spark.implicits._
    val good = CorpusGen.corpus(40)
    val planted = Seq(
      CodeFile("org/p", "null.py", "c0", "python", null),
      CodeFile(null, "norepo.py", "c0", "python", "import os\n"),
      CodeFile("org/p", "nolang.py", "c0", null, "import os\n"),
      CodeFile("org/p", "empty.py", "c0", "python", ""),
      CodeFile("org/p", "big.py", "c0", "python", "y" * (TableIO.MaxContentChars + 1)))
    val corpus = (good.take(20) ++ planted ++ good.drop(20)).toDF()
    val (dir, res) = runWithin(corpus)
    val admitted = TableIO.withInvariants(corpus, 16).count()
    assert(admitted == good.size)
    assert(res.rowsRejected == planted.size, s"$res")
    assert(res.rowsIn == admitted + res.rowsRejected, s"$res")
    assertReconciled(dir, res, Set.empty)
  }

  test("a fresh run submits no job after the triple write but the manifest append") {
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new ConcurrentLinkedQueue[(Int, Long)]()
    val plans = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(j.jobId -> exec.fold(-1L)(_.toLong))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case _ => ()
      }
    }
    val dir = tmp("kg-jobs")
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      runPipeline(CorpusGen.TinyFiles, dir)
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    def writesTo(sub: String): Set[Long] = plans.asScala.collect {
      case (id, plan) if plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(s"$dir/$sub") => id
    }.toSet
    val (tripleWrite, manifestWrite) = (writesTo("triples"), writesTo("manifest"))
    val ordered = jobs.asScala.toSeq.sortBy(_._1)
    val lastWriteJob = ordered.lastIndexWhere(j => tripleWrite(j._2))
    assert(lastWriteJob >= 0, s"no job of the triple write among $ordered")
    val after = ordered.drop(lastWriteJob + 1)
    assert(after.nonEmpty && after.forall(j => manifestWrite(j._2)),
      s"jobs after the triple write: $after; manifest append execution(s) $manifestWrite")
    info(s"${ordered.size} jobs: ${ordered.count(j => tripleWrite(j._2))} in the triple write, " +
      s"${after.size} after it")
  }

  test("run leaves the caller's session config as it found it") {
    // AQE keys at their non-default value, overwrite mode pinned to
    // STATIC: a run that set any of them session-wide shows up below,
    // and a resume that relied on a session-wide DYNAMIC overwrite
    // would wipe the buckets committed before the crash
    val pinned = Seq(
      "spark.sql.sources.partitionOverwriteMode" -> "STATIC",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "false")
    val before = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pinned.foreach { case (k, v) => spark.conf.set(k, v) }
      def assertPinned(): Unit = pinned.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v, s"run changed $k")
      }
      val full = tmp("kg-conf-full"); val resumed = tmp("kg-conf-resume")
      runPipeline(CorpusGen.TinyFiles, full)
      assertPinned()
      runPipeline(CorpusGen.TinyFiles, resumed, onlyBuckets = Some((0 until 8).toSet))
      runPipeline(CorpusGen.TinyFiles, resumed)
      assertPinned()
      assert(readTriples(resumed) == readTriples(full))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
