package graft.kgperf

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.fixtures.Vocab
import graft.kg._
import graft.oracle.Oracle

/** One benchmark workload: inputs made from the seed, the timed call into
  * graft, the check of its output, and a traced build that times each
  * layer's public entry point separately.
  */
trait Workload {
  def name: String
  /** Rows the timed call consumes (corpus rows or dictionary rows). */
  def inputRows: Long
  /** Writes the parquet inputs under `dir` and derives the expected output. */
  def generate(spark: SparkSession, dir: String): Unit
  /** Everything after session start that a build needs to be ready. */
  def prepare(spark: SparkSession): Unit
  /** The timed call; its result goes to `check`. */
  def build(spark: SparkSession, out: String): AnyRef
  /** None when the build's output is correct, else what is wrong. */
  def check(spark: SparkSession, out: String, result: AnyRef): Option[String]
  /** One traced build. Returns per-layer metrics, or an error. */
  def traced(spark: SparkSession, tr: Tracer, out: String, b: Int): Either[String, Map[String, Double]]
  /** Releases what a build left behind (broadcasts, cached plans). */
  def cleanup(spark: SparkSession, result: AnyRef): Unit = spark.catalog.clearCache()
}

object Workload {
  val NBuckets = 16

  /** Writes rows as `files` parquet files in row order. */
  def writeParquet[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](spark: SparkSession, rows: Seq[T],
                                                    files: Int, dir: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, files).toDS().write.parquet(dir)
  }

  /** Counts a Dataset's rows while deserializing every field, so column
    * pruning cannot skip work the real consumer would do.
    */
  def countRows[T](ds: Dataset[T]): Long = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => Iterator.single(it.size.toLong)).collect().sum
  }

  /** Number and total bytes of the data files under `dir`. */
  def dirStats(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val sizes = s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).map(Files.size).toSeq
      (sizes.size.toLong, sizes.sum)
    } finally s.close()
  }

  /** Oracle digest of a corpus, the oracle run over disjoint slices in
    * parallel (the oracle is single-threaded; the union is a set).
    */
  def oracleDigest(rows: Seq[CodeFile], dict: Seq[(String, Long, String, String)],
                   threads: Int): Digest = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val slices = rows.grouped(math.max(1, rows.size / (threads * 4) + 1)).toVector
    val parts = Await.result(Future.sequence(slices.map(s => Future(Oracle.triples(s, dict)))),
      Duration.Inf)
    val all = scala.collection.mutable.HashSet.empty[Oracle.GTriple]
    parts.foreach(all ++= _)
    Digest.ofOracle(all)
  }

  def dictTuples(rows: Seq[DictEntry]): Seq[(String, Long, String, String)] =
    rows.map(d => (d.norm, d.entityId, d.canonical, d.kind))

  /** Canonicalize-layer spans over `dict`; shared by every traced build. */
  def tracedCanonicalize(spark: SparkSession, tr: Tracer, dict: Dataset[DictEntry], b: Int)
      : (Map[String, Double], Map[String, String]) = {
    val edges = tr.span("alias_edges", b)(Canonicalize.aliasEdges(dict).count())
    val linkB = tr.span("link_map", b)(Canonicalize.broadcastLinkMap(spark, dict))
    val links = linkB.value
    linkB.destroy()
    spark.catalog.clearCache()
    val ccEdges = Canonicalize.aliasEdges(dict).localCheckpoint()
    tr.span("connected_components", b)(Canonicalize.connectedComponents(ccEdges).count())
    val lm = tr.counters("link_map", b)
    val cc = tr.counters("connected_components", b)
    val lsh = tr.seconds("alias_edges", b)
    (Map(
      "canonicalize.lsh_self_s" -> lsh,
      "canonicalize.edges_out" -> edges.toDouble,
      "canonicalize.components_self_s" -> (tr.seconds("link_map", b) - lsh),
      "canonicalize.cc_self_s" -> tr.seconds("connected_components", b),
      "canonicalize.cc_jobs" -> cc.jobs.toDouble,
      "canonicalize.shuffle_write_bytes" -> lm.shuffleWriteBytes.toDouble,
      "canonicalize.links_out" -> links.size.toDouble,
      "canonicalize.jobs" -> lm.jobs.toDouble,
      "canonicalize.stages" -> lm.stages.toDouble), links)
  }
}

/** `KgPipeline.run` over a generated corpus and the `Vocab` dictionary. */
final class KgWorkload(val name: String, rows: => Seq[CodeFile], plantedRejects: Int,
                       threads: Int) extends Workload {
  import Workload._

  private var corpusDir, dictDir = ""
  private var nRows = 0L
  private var expected: Digest = _
  private var corpus: DataFrame = _
  private var dict: Dataset[DictEntry] = _

  def inputRows: Long = nRows

  def generate(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rs = rows
    nRows = rs.size
    corpusDir = s"$dir/corpus"
    dictDir = s"$dir/dict"
    // the oracle needs no Spark: run it while Spark writes the inputs
    val oracle = Future(oracleDigest(rs.filter(Inputs.admitted), Vocab.dictRows, threads))(
      ExecutionContext.global)
    writeParquet(spark, rs, 4 * threads, corpusDir)
    val dictRows = Vocab.dictRows.map { case (n, id, c, k) => DictEntry(n, id, c, k) }
    writeParquet(spark, dictRows, 1, dictDir)
    expected = Await.result(oracle, Duration.Inf)
  }

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    corpus = spark.read.parquet(corpusDir)
    dict = spark.read.parquet(dictDir).as[DictEntry]
  }

  private def config(out: String) = KgConfig(s"$out/triples", s"$out/manifest", "kgperf", NBuckets)

  def build(spark: SparkSession, out: String): AnyRef = KgPipeline.run(spark, corpus, dict, config(out))

  def check(spark: SparkSession, out: String, result: AnyRef): Option[String] = {
    val got = Digest.ofFrame(spark.read.parquet(s"$out/triples"))
    val written = result.asInstanceOf[KgResult].triplesWritten
    if (got != expected) Some(s"$name: triple digest $got, oracle $expected")
    else if (written != expected.count) Some(s"$name: run reported $written triples, oracle ${expected.count}")
    else None
  }

  def traced(spark: SparkSession, tr: Tracer, out: String, b: Int): Either[String, Map[String, Double]] = {
    import spark.implicits._
    spark.catalog.clearCache()
    val fnB = tr.span("fn_aliases", b)(Extract.broadcastFnAliases(spark, dict))
    val (canonM, links) = tracedCanonicalize(spark, tr, dict, b)
    val canonB = spark.sparkContext.broadcast(links)

    val hashed = tr.span("tableio", b) {
      val h = TableIO.withInvariants(corpus, NBuckets)
        .select("repo", "path", "commit", "lang", "content", "file_sha").as[HashedFile]
        .persist(StorageLevel.MEMORY_ONLY)
      h.count()
      h
    }
    val admitted = hashed.count()
    val rowsIn = corpus.count()
    val rels = tr.span("extract", b)(countRows(Extract.scoredRelations(hashed, fnB)))
    val kept = tr.span("canonical_triples", b)(
      countRows(Extract.canonicalTriples(hashed, fnB, canonB)))
    hashed.unpersist(blocking = true)
    fnB.destroy()
    canonB.destroy()
    spark.catalog.clearCache()

    val res = tr.span("pipeline_run", b)(KgPipeline.run(spark, corpus, dict, config(out)))
    val statRows = tr.span("manifest", b)(
      Manifest.bucketStats(spark.read.parquet(s"$out/triples")).collect().length)
    val (files, bytes) = dirStats(s"$out/triples")

    val io = tr.counters("tableio", b)
    val ex = tr.counters("extract", b)
    val ct = tr.counters("canonical_triples", b)
    val run = tr.counters("pipeline_run", b)
    val mf = tr.counters("manifest", b)
    val fn = tr.counters("fn_aliases", b)
    val lm = tr.counters("link_map", b)
    val s = tr.seconds(_: String, b)
    val rejected = rowsIn - admitted
    val canonSelf = s("fn_aliases") + s("link_map")
    val dedupSelf = s("canonical_triples") - s("extract")
    val writeSelf = s("pipeline_run") - s("tableio") - s("extract") - dedupSelf -
      s("manifest") - canonSelf
    val m = canonM ++ Map(
      "canonicalize.self_s" -> canonSelf,
      "tableio.self_s" -> s("tableio"),
      "tableio.task_cpu_s" -> io.cpuNs / 1e9,
      "tableio.rows_in" -> rowsIn.toDouble,
      "tableio.rows_rejected" -> rejected.toDouble,
      "tableio.reject_ratio" -> rejected.toDouble / rowsIn,
      "tableio.jobs" -> io.jobs.toDouble,
      "tableio.stages" -> io.stages.toDouble,
      "extract.self_s" -> s("extract"),
      "extract.task_cpu_s" -> ex.cpuNs / 1e9,
      "extract.relations_out" -> rels.toDouble,
      "extract.jobs" -> ex.jobs.toDouble,
      "extract.stages" -> ex.stages.toDouble,
      "dedup.self_s" -> dedupSelf,
      "dedup.shuffle_write_bytes" -> ct.shuffleWriteBytes.toDouble,
      "dedup.shuffle_read_bytes" -> ct.shuffleReadBytes.toDouble,
      "dedup.spill_bytes" -> ct.spillBytes.toDouble,
      "dedup.rows_in" -> ct.shuffleWriteRecords.toDouble,
      "dedup.rows_out" -> kept.toDouble,
      "dedup.keep_ratio" -> kept.toDouble / ct.shuffleWriteRecords,
      "dedup.jobs" -> ct.jobs.toDouble,
      "dedup.stages" -> ct.stages.toDouble,
      "write.self_s" -> writeSelf,
      "write.shuffle_write_bytes" -> (run.shuffleWriteBytes - ct.shuffleWriteBytes -
        lm.shuffleWriteBytes - fn.shuffleWriteBytes - mf.shuffleWriteBytes).toDouble,
      "write.files_written" -> files.toDouble,
      "write.bytes_written" -> bytes.toDouble,
      "write.jobs" -> run.jobs.toDouble,
      "write.stages" -> run.stages.toDouble,
      "manifest.self_s" -> s("manifest"),
      "manifest.rows_read" -> mf.inputRecords.toDouble,
      "manifest.jobs" -> mf.jobs.toDouble,
      "manifest.stages" -> mf.stages.toDouble,
      "trace.layer_sum_s" -> (s("tableio") + s("extract") + dedupSelf + writeSelf +
        s("manifest") + canonSelf))
    val errors = Seq(
      check(spark, out, res),
      if (kept != expected.count) Some(s"$name: canonicalTriples gave $kept triples, oracle ${expected.count}") else None,
      if (statRows != NBuckets) Some(s"$name: bucketStats gave $statRows buckets") else None,
      if (rejected != plantedRejects) Some(s"$name: tableio rejected $rejected rows, planted $plantedRejects") else None
    ).flatten
    if (errors.nonEmpty) Left(errors.mkString("; ")) else Right(m)
  }
}

/** `Canonicalize.broadcastLinkMap` over a generated alias dictionary. */
final class CanonWorkload(seed: Long, nEntities: Int, threads: Int) extends Workload {
  import Workload._

  val name = "canon_dict"
  private var dictDir = ""
  private var expected: Map[String, String] = Map.empty
  private var nRows = 0L
  private var dict: Dataset[DictEntry] = _

  def inputRows: Long = nRows

  def generate(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val d = Inputs.aliasDict(seed, nEntities)
    nRows = d.rows.size
    expected = d.expected
    dictDir = s"$dir/dict"
    writeParquet(spark, d.rows, 2 * threads, dictDir)
  }

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    dict = spark.read.parquet(dictDir).as[DictEntry]
  }

  def build(spark: SparkSession, out: String): AnyRef = Canonicalize.broadcastLinkMap(spark, dict)

  private def checkLinks(links: Map[String, String]): Option[String] =
    if (links == expected) None
    else {
      val wrong = expected.count { case (n, c) => !links.get(n).contains(c) }
      Some(s"$name: link map has ${links.size} norms, expected ${expected.size}; $wrong differ")
    }

  def check(spark: SparkSession, out: String, result: AnyRef): Option[String] =
    checkLinks(result.asInstanceOf[org.apache.spark.broadcast.Broadcast[Map[String, String]]].value)

  override def cleanup(spark: SparkSession, result: AnyRef): Unit = {
    result match {
      case b: org.apache.spark.broadcast.Broadcast[_] => b.destroy()
      case _ => ()
    }
    spark.catalog.clearCache()
  }

  def traced(spark: SparkSession, tr: Tracer, out: String, b: Int): Either[String, Map[String, Double]] = {
    spark.catalog.clearCache()
    val (m, links) = tracedCanonicalize(spark, tr, dict, b)
    val self = tr.seconds("link_map", b)
    checkLinks(links).toLeft(m ++ Map(
      "canonicalize.self_s" -> self, "trace.layer_sum_s" -> self))
  }
}
