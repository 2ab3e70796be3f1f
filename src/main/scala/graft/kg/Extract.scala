package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Extraction, SPEC.md §2–§3: mention detection (SURVEY T1), then one
  * pass over a file's mentions that pairs each call with its nearest
  * preceding def (J5/J6), scores it (T2) and emits the relations.
  *
  * Spark shape: a single narrow `mapPartitions` per corpus row, with the
  * function dictionary broadcast to executors (BASELINE.json:6
  * "mapPartitions-backed broadcast dictionaries"). The mentions of one
  * file are born colocated, so relations need no shuffle; the only
  * exchange is `dedup`'s (SURVEY §4.4(2)).
  *
  * `scanFile` and `fileTriples` are pure and unit-testable; the Spark
  * functions map them over partitions.
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

  /** SPEC.md §3 in one pass over one file's mentions, in line order:
    * calls `emit(subj, pred, obj, score)` per relation. Only the nearest
    * preceding def can make a `calls` pair, and a def line is structural
    * (it holds no calls), so the last def seen is that def; a base
    * follows its class on the class's own line. A `calls` pair `d`
    * lines apart scores the logistic 1 / (1 + e^-(4 - 0.1d)) and is kept
    * at ≥ 0.5. A relation repeats when its mentions do; `fileTriples`
    * keeps one per 7-tuple.
    */
  private def forEachRelation(f: HashedFile, fnAliases: Set[String])
                             (emit: (String, String, String, Double) => Unit): Unit = {
    val fileSym = s"${f.repo}:${f.path}"
    var lastDef: Mention = null
    var lastClass: Mention = null
    scanFile(f, fnAliases).foreach { m =>
      m.kind match {
        case "import" => emit(fileSym, "imports", m.norm, 1.0)
        case "def" =>
          emit(fileSym, "defines_function", m.norm, 1.0)
          lastDef = m
        case "class" =>
          emit(fileSym, "defines_class", m.norm, 1.0)
          lastClass = m
        case "base" => emit(lastClass.norm, "extends", m.norm, 1.0)
        case "call" =>
          if (lastDef == null) emit(fileSym, "calls", m.norm, 1.0)
          else {
            val sc = 1.0 / (1.0 + math.exp(-(4.0 - 0.1 * (m.line - lastDef.line))))
            if (sc >= 0.5) emit(lastDef.norm, "calls", m.norm, sc)
          }
      }
    }
  }

  /** One file's canonical triples: every norm goes through the link map
    * `canon`, and score variants of one 7-tuple (the same call edge at
    * two distances, or two norms of one canonical) collapse to their
    * max, so the file emits each 7-tuple once.
    */
  def fileTriples(f: HashedFile, fnAliases: Set[String],
                  canon: Map[String, String]): Iterator[Triple] = {
    val best = scala.collection.mutable.LinkedHashMap.empty[(String, String, String), Double]
    forEachRelation(f, fnAliases) { (s, p, o, sc) =>
      best.updateWith((canon.getOrElse(s, s), p, canon.getOrElse(o, o)))(
        prev => Some(prev.fold(sc)(math.max(_, sc))))
    }
    best.iterator.map { case ((s, p, o), sc) =>
      Triple(s, p, o, f.repo, f.path, f.commit, f.file_sha, sc)
    }
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

  /** Spark stages 1–3 fused: the shipped `fileTriples` flatMap with
    * identity canonicalization (an empty link map).
    */
  def scoredRelations(ds: Dataset[HashedFile],
                      fnAliases: Broadcast[Set[String]]): Dataset[Triple] =
    triples(ds, fnAliases, ds.sparkSession.sparkContext.broadcast(Map.empty[String, String]))

  /** The 7-tuple that identifies a triple; `score` rides along. */
  private[graft] val TripleKey: Seq[String] = Seq("subj", "pred", "obj", "repo", "path", "commit", "fileSha")

  /** Stages 1–4 fused: corpus → CANONICAL triples in one narrow
    * `mapPartitions` of `fileTriples`. The norm→canonical link map is
    * broadcast alongside the function dictionary (BASELINE.json:6
    * "mapPartitions-backed broadcast dictionaries"), so canonicalization
    * costs zero extra stages. Copies across rows — the same file
    * delivered twice — are left to `dedup`.
    */
  def triples(ds: Dataset[HashedFile],
              fnAliases: Broadcast[Set[String]],
              canon: Broadcast[Map[String, String]]): Dataset[Triple] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val dict = fnAliases.value
      val c = canon.value
      it.flatMap(fileTriples(_, dict, c))
    }
  }

  /** The one triple dedup and the triple table's layout key (bucket,
    * pred). It hash-repartitions on the expressions
    * (`TableIO.bucketOf(fileSha)`, pred), so only the `Triple` fields
    * cross the exchange, then adds `bucket` from the same expression
    * (Spark carries the partitioning through that alias, so the window
    * adds no second exchange) and keeps the max-score row per 7-tuple
    * with `row_number()` over (bucket, pred, 7-tuple) by score desc. All
    * copies of a 7-tuple meet in one task. Rows come out sorted by
    * (bucket, pred, …), so `TableIO.writeTriples` adds no sort and writes
    * one file per (bucket, pred) directory.
    */
  def dedup(triples: Dataset[Triple], nBuckets: Int): DataFrame = {
    val bucket = TableIO.bucketOf(col("fileSha"), nBuckets)
    val key = ("bucket" +: "pred" +: TripleKey.filterNot(_ == "pred")).map(col)
    triples.toDF()
      .repartition(bucket, col("pred"))
      .withColumn("bucket", bucket)
      .withColumn("rank", row_number().over(Window.partitionBy(key: _*).orderBy(col("score").desc)))
      .filter(col("rank") === 1)
      .drop("rank")
  }

  /** Canonical triples, each 7-tuple once with its max score: `triples`
    * then `dedup` at the default bucket count, `bucket` dropped. This is
    * the one canonicalization path: SparkEntry.entry, the oracled
    * `kg_triples_counts` key and the streaming sink run the exchange
    * KgPipeline writes through.
    */
  def canonicalTriples(ds: Dataset[HashedFile],
                       fnAliases: Broadcast[Set[String]],
                       canon: Broadcast[Map[String, String]]): Dataset[Triple] = {
    import ds.sparkSession.implicits._
    dedup(triples(ds, fnAliases, canon), TableIO.DefaultBuckets).drop("bucket").as[Triple]
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
