package graft.oracle

import graft.kg.CodeFile

/** Independent single-threaded golden oracle (SURVEY §5.2 layer 4,
  * FIXTURES.md §3). Implements SPEC.md with straight-line Scala and NO
  * Spark and NO code shared with the engine's extraction path
  * (SURVEY §7.4(5): module separation keeps the P/R gate non-circular).
  */
object Oracle {

  final case class GMention(fileSha: String, surface: String, kind: String,
                            line: Int, start: Int, end: Int)
  final case class GTriple(subj: String, pred: String, obj: String,
                           repo: String, path: String, commit: String,
                           fileSha: String)

  def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  // ---- SPEC.md §4: canonicalization via exhaustive union-find ----------

  def levenshtein(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  /** Plain union-find over dict norms; edges = same-entity ∪ lev≤1. */
  def canonicalMap(dict: Seq[(String, Long, String, String)]): Map[String, String] = {
    val norms = dict.map(_._1).distinct.sorted.toArray
    val idx = norms.zipWithIndex.toMap
    val parent = Array.tabulate(norms.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }; r }
    def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    // same-entity edges
    dict.groupBy(_._2).values.foreach { grp =>
      val is = grp.map(g => idx(g._1)).distinct
      is.tail.foreach(union(is.head, _))
    }
    // exhaustive lev<=1 edges
    for (i <- norms.indices; j <- (i + 1) until norms.length
         if math.abs(norms(i).length - norms(j).length) <= 1
         if levenshtein(norms(i), norms(j)) <= 1) union(i, j)
    // representative canonical = lexicographically smallest canonical in
    // cluster; a norm listed under several entities carries all of theirs
    val canonOfNorm = dict.groupBy(_._1).map { case (n, rs) => n -> rs.map(_._3).min }
    val repCanon = norms.indices.groupBy(find).map { case (root, members) =>
      root -> members.map(m => canonOfNorm(norms(m))).min
    }
    norms.indices.map(i => norms(i) -> repCanon(find(i))).toMap
  }

  // ---- SPEC.md §2/§3: extraction ---------------------------------------

  private val importRe = "^import\\s+([A-Za-z_][A-Za-z0-9_.]*)".r
  private val fromRe = "^from\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s+import\\b".r
  private val defRe = "^\\s*def\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val classPyRe = "^class\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\))?\\s*:".r
  private val classScRe = "^class\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+extends\\s+([A-Za-z_][A-Za-z0-9_]*))?".r
  private val tokenCallRe = "([A-Za-z_][A-Za-z0-9_]*)\\(".r

  def norm(s: String): String = s.trim.toLowerCase

  /** Mentions for one file, per SPEC.md §2. */
  def mentions(f: CodeFile, fnAliases: Set[String]): Vector[GMention] = {
    val sha = sha256Hex(f.content)
    val out = Vector.newBuilder[GMention]
    var offset = 0
    var lineNo = 0
    for (line <- f.content.split("\n", -1)) {
      def emit(m: scala.util.matching.Regex.Match, group: Int, kind: String): Unit = {
        val s = offset + m.start(group); val e = offset + m.end(group)
        out += GMention(sha, f.content.substring(s, e), kind, lineNo, s, e)
      }
      val structural: Boolean = {
        val imp = importRe.findFirstMatchIn(line)
          .orElse(if (f.lang == "python") fromRe.findFirstMatchIn(line) else None)
        val dfn = defRe.findFirstMatchIn(line)
        val cls = if (f.lang == "python") classPyRe.findFirstMatchIn(line)
                  else classScRe.findFirstMatchIn(line).filter(_ => line.startsWith("class "))
        if (imp.isDefined) { emit(imp.get, 1, "import"); true }
        else if (dfn.isDefined) { emit(dfn.get, 1, "def"); true }
        else if (cls.isDefined) {
          emit(cls.get, 1, "class")
          if (cls.get.group(2) != null) emit(cls.get, 2, "base")
          true
        } else false
      }
      if (!structural)
        tokenCallRe.findAllMatchIn(line).foreach { m =>
          if (fnAliases.contains(norm(m.group(1)))) emit(m, 1, "call")
        }
      offset += line.length + 1
      lineNo += 1
    }
    out.result()
  }

  /** Golden triples for a corpus, per SPEC.md §3/§5. */
  def triples(corpus: Seq[CodeFile],
              dict: Seq[(String, Long, String, String)]): Set[GTriple] =
    scoredTriples(corpus, dict).keySet

  /** Golden triples with their score: a nearest-def `calls` edge scores
    * the SPEC.md §3 logistic of its line distance, every other edge 1.0,
    * and a triple emitted more than once keeps its max.
    */
  def scoredTriples(corpus: Seq[CodeFile],
                    dict: Seq[(String, Long, String, String)]): Map[GTriple, Double] = {
    val canon = canonicalMap(dict)
    val fnAliases = dict.collect { case (n, _, _, "function") => n }.toSet
    def c(n: String): String = canon.getOrElse(n, n)
    val out = scala.collection.mutable.Map[GTriple, Double]()
    for (f <- corpus) {
      val ms = mentions(f, fnAliases)
      val sha = ms.headOption.map(_.fileSha).getOrElse(sha256Hex(f.content))
      val fileSym = s"${f.repo}:${f.path}"
      def t(s: String, p: String, o: String, score: Double = 1.0): Unit = {
        val k = GTriple(s, p, o, f.repo, f.path, f.commit, sha)
        out(k) = math.max(score, out.getOrElse(k, score))
      }
      val byLine = ms.groupBy(_.line)
      for (m <- ms) m.kind match {
        case "import" => t(fileSym, "imports", c(norm(m.surface)))
        case "def"    => t(fileSym, "defines_function", c(norm(m.surface)))
        case "class"  =>
          t(fileSym, "defines_class", c(norm(m.surface)))
          byLine(m.line).find(_.kind == "base").foreach { b =>
            t(c(norm(m.surface)), "extends", c(norm(b.surface)))
          }
        case _ => ()
      }
      val defs = ms.filter(_.kind == "def").sortBy(_.line)
      for (call <- ms.filter(_.kind == "call")) {
        val preceding = defs.filter(_.line < call.line)
        if (preceding.isEmpty) t(fileSym, "calls", c(norm(call.surface)))
        else {
          val nearest = preceding.maxBy(_.line)
          val d = call.line - nearest.line
          val score = 1.0 / (1.0 + math.exp(-(4.0 - 0.1 * d)))
          if (score >= 0.5)
            t(c(norm(nearest.surface)), "calls", c(norm(call.surface)), score)
        }
      }
    }
    out.toMap
  }
}
