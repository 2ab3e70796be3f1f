package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Stages 1–3: mention detection (SURVEY T1), candidate pair generation
  * (J5/J6), relation classification (T2) — implementing SPEC.md §2–§3.
  *
  * Spark shape: a single narrow `flatMap` per corpus row
  * (`Dataset[HashedFile] → Dataset[ScoredRelation]`), with the function
  * dictionary broadcast to executors (BASELINE.json:6
  * "mapPartitions-backed broadcast dictionaries"). Pair-gen is fused into
  * the per-file scan — mentions of one file are born colocated, so there
  * is ZERO shuffle until entity linking (SURVEY §4.4(2)).
  *
  * The per-stage functions (`scanFile`, `pairs`, `classify`) are pure and
  * unit-testable; the fused `relations` composes them per row.
  */
object Extract {

  private val importRe = "^import\\s+([A-Za-z_][A-Za-z0-9_.]*)".r
  private val fromRe = "^from\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+import\\b".r
  private val defRe = "^\\s*def\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val classPyRe =
    "^class\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\))?\\s*:".r
  private val classScRe =
    "^class\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+extends\\s+([A-Za-z_][A-Za-z0-9_]*))?".r
  private val callRe = "([A-Za-z_][A-Za-z0-9_]*)\\(".r

  def norm(s: String): String = s.trim.toLowerCase

  /** Stage 1 — SPEC.md §2: mentions of one file, with char-offset
    * invariant content.substring(start,end) == surface.
    */
  def scanFile(f: HashedFile, fnAliases: Set[String]): Vector[Mention] = {
    val out = Vector.newBuilder[Mention]
    var offset = 0
    var lineNo = 0
    val lines = f.content.split("\n", -1)
    var li = 0
    while (li < lines.length) {
      val line = lines(li)
      def add(kind: String, s: Int, e: Int): Unit = {
        val surface = f.content.substring(s, e)
        out += Mention(f.file_sha, f.repo, f.path, f.commit, f.lang,
          surface, norm(surface), kind, lineNo, s, e)
      }
      var structural = false
      importRe.findFirstMatchIn(line) match {
        case Some(m) => add("import", offset + m.start(1), offset + m.end(1)); structural = true
        case None if f.lang == "python" =>
          fromRe.findFirstMatchIn(line).foreach { m =>
            add("import", offset + m.start(1), offset + m.end(1)); structural = true
          }
        case None => ()
      }
      if (!structural) defRe.findFirstMatchIn(line).foreach { m =>
        add("def", offset + m.start(1), offset + m.end(1)); structural = true
      }
      if (!structural) {
        val cls = if (f.lang == "python") classPyRe.findFirstMatchIn(line)
                  else classScRe.findFirstMatchIn(line)
        cls.foreach { m =>
          add("class", offset + m.start(1), offset + m.end(1))
          if (m.group(2) != null) add("base", offset + m.start(2), offset + m.end(2))
          structural = true
        }
      }
      if (!structural) callRe.findAllMatchIn(line).foreach { m =>
        if (fnAliases.contains(norm(m.group(1))))
          add("call", offset + m.start(1), offset + m.end(1))
      }
      offset += line.length + 1
      lineNo += 1
      li += 1
    }
    out.result()
  }

  /** Stage 2 — SPEC.md §3: candidate pairs within one file.
    * Emits (class, base) same-line pairs and (def, call) pairs with
    * def.line < call.line; `nearest` marks the max-line preceding def.
    */
  def pairs(ms: Vector[Mention]): Vector[CandidatePair] = {
    val out = Vector.newBuilder[CandidatePair]
    val byLine = ms.groupBy(_.line)
    for (c <- ms if c.kind == "class";
         b <- byLine(c.line).filter(_.kind == "base"))
      out += CandidatePair(c.fileSha, c.repo, c.path, c.commit, c.lang,
        c.norm, "class", b.norm, "base", 0, nearest = true)
    val defs = ms.filter(_.kind == "def").sortBy(_.line)
    for (call <- ms if call.kind == "call") {
      val preceding = defs.filter(_.line < call.line)
      val nearestLine = if (preceding.isEmpty) -1 else preceding.map(_.line).max
      for (d <- preceding)
        out += CandidatePair(call.fileSha, call.repo, call.path, call.commit,
          call.lang, d.norm, "def", call.norm, "call",
          call.line - d.line, nearest = d.line == nearestLine)
    }
    out.result()
  }

  /** Stage-3 deterministic calibrated score (SPEC.md §3). */
  def score(p: CandidatePair): Double =
    if (p.subjKind == "class") 1.0
    else 1.0 / (1.0 + math.exp(-(4.0 - 0.1 * p.lineDist)))

  /** Stages 1–3 fused for one file → deduplicated scored relations
    * (local Set dedup — the triple key includes fileSha, so per-file
    * dedup is globally complete with NO shuffle, SURVEY §4.4(2)).
    */
  def relations(f: HashedFile, fnAliases: Set[String]): Vector[ScoredRelation] = {
    val ms = scanFile(f, fnAliases)
    val fileSym = s"${f.repo}:${f.path}"
    val seen = scala.collection.mutable.LinkedHashSet[ScoredRelation]()
    def emit(s: String, p: String, o: String, sc: Double): Unit =
      seen += ScoredRelation(f.file_sha, f.repo, f.path, f.commit, s, p, o, sc)
    for (m <- ms) m.kind match {
      case "import" => emit(fileSym, "imports", m.norm, 1.0)
      case "def"    => emit(fileSym, "defines_function", m.norm, 1.0)
      case "class"  => emit(fileSym, "defines_class", m.norm, 1.0)
      case _        => ()
    }
    for (p <- pairs(ms)) {
      val sc = score(p)
      if (p.subjKind == "class") emit(p.subjNorm, "extends", p.objNorm, sc)
      else if (p.nearest && sc >= 0.5) emit(p.subjNorm, "calls", p.objNorm, sc)
    }
    // calls with no preceding def → file-symbol subject
    val defs = ms.filter(_.kind == "def")
    for (c <- ms if c.kind == "call" && !defs.exists(_.line < c.line))
      emit(fileSym, "calls", c.norm, 1.0)
    seen.toVector
  }

  /** Spark stage 1: corpus → mentions (narrow flatMap, broadcast dict). */
  def mentions(ds: Dataset[HashedFile], fnAliases: Broadcast[Set[String]]): Dataset[Mention] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val dict = fnAliases.value
      it.flatMap(scanFile(_, dict))
    }
  }

  /** Spark stages 1–3 fused: corpus → scored relations (narrow). */
  def scoredRelations(ds: Dataset[HashedFile],
                      fnAliases: Broadcast[Set[String]]): Dataset[ScoredRelation] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val dict = fnAliases.value
      it.flatMap(relations(_, dict))
    }
  }

  /** The 7-tuple that identifies a triple; `score` rides along. */
  private[kg] val TripleKey: Seq[String] = Seq("subj", "pred", "obj", "repo", "path", "commit", "fileSha")

  /** Stages 1–4 fused: corpus → CANONICAL triples in one narrow flatMap.
    * The norm→canonical link map is broadcast alongside the function
    * dictionary (BASELINE.json:6 "mapPartitions-backed broadcast
    * dictionaries"), so canonicalization costs zero extra stages. Score
    * variants of one 7-tuple within a file (the same call edge at two
    * distances, or two norms of one canonical) collapse here to their
    * max, so each file emits every 7-tuple once. Copies across rows —
    * the same file delivered twice — are left to `dedup`.
    */
  def triples(ds: Dataset[HashedFile],
              fnAliases: Broadcast[Set[String]],
              canon: Broadcast[Map[String, String]]): Dataset[Triple] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val dict = fnAliases.value
      val c = canon.value
      it.flatMap { f =>
        val best = scala.collection.mutable.LinkedHashMap.empty[(String, String, String), Double]
        relations(f, dict).foreach { r =>
          val k = (c.getOrElse(r.subjNorm, r.subjNorm), r.pred, c.getOrElse(r.objNorm, r.objNorm))
          best.updateWith(k)(prev => Some(prev.fold(r.score)(math.max(_, r.score))))
        }
        best.iterator.map { case ((s, p, o), sc) =>
          Triple(s, p, o, f.repo, f.path, f.commit, f.file_sha, sc)
        }
      }
    }
  }

  /** The one triple dedup: keep the max-score row per 7-tuple. The rows
    * are hash-repartitioned on `clusterBy`, then `row_number()` over
    * (`clusterBy` ++ 7-tuple) ordered by score desc keeps rank 1 — one
    * exchange and one sort, no hash-aggregate map. Precondition: every
    * `clusterBy` column is a function of (fileSha, pred), so all copies
    * of a 7-tuple share a partition. The output is sorted by
    * (`clusterBy`, 7-tuple) within each partition, so a writer that
    * partitions by a prefix of `clusterBy` adds no sort of its own.
    */
  def dedup(rows: DataFrame, clusterBy: Seq[String]): DataFrame = {
    val key = (clusterBy ++ TripleKey.filterNot(clusterBy.contains)).map(col)
    rows.repartition(clusterBy.map(col): _*)
      .withColumn("rank", row_number().over(Window.partitionBy(key: _*).orderBy(col("score").desc)))
      .filter(col("rank") === 1)
      .drop("rank")
  }

  /** Canonical triples, each 7-tuple once with its max score: `triples`
    * then `dedup` clustered on fileSha. This is the one canonicalization
    * path: SparkEntry.entry, the oracled `kg_triples_counts` key and the
    * streaming sink run it, and KgPipeline runs the same two functions
    * with its write columns as the cluster key.
    */
  def canonicalTriples(ds: Dataset[HashedFile],
                       fnAliases: Broadcast[Set[String]],
                       canon: Broadcast[Map[String, String]]): Dataset[Triple] = {
    import ds.sparkSession.implicits._
    dedup(triples(ds, fnAliases, canon).toDF(), Seq("fileSha")).as[Triple]
  }

  /** The function-alias set of collected dict rows (drives call
    * detection, SPEC.md §2).
    */
  def fnAliases(rows: Seq[DictEntry]): Set[String] =
    rows.iterator.filter(_.kind == "function").map(_.norm).toSet

  /** Broadcast the function-alias set (SURVEY S3). */
  def broadcastFnAliases(spark: SparkSession, dict: Dataset[DictEntry]): Broadcast[Set[String]] =
    spark.sparkContext.broadcast(fnAliases(dict.collect().toSeq))
}
