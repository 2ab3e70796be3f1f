package graft.kgperf

import scala.util.Random
import graft.fixtures.CorpusGen
import graft.kg.{CodeFile, DictEntry, TableIO}

/** Seeded input generators. Every generator is a pure function of
  * (seed, size): the same pair always yields the same rows in the same
  * order, and different seeds yield disjoint corpora.
  */
object Inputs {

  /** SplitMix64 finalizer: spreads small consecutive seeds apart. */
  def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** First `CorpusGen` file index of the seed's corpus. Indices are
    * a multiple of `n`, so two seeds' index ranges never overlap.
    */
  def fileBase(seed: Long, n: Int): Int = {
    val slots = Int.MaxValue / n - 1
    (java.lang.Math.floorMod(mix(seed), slots.toLong) * n).toInt
  }

  /** `n` unique `CorpusGen` files: no two rows share a file key. */
  def uniqueCorpus(seed: Long, n: Int): Vector[CodeFile] = {
    val base = fileBase(seed, n)
    val out = new Array[CodeFile](n)
    // each file is a pure function of its index, so order cannot vary
    java.util.stream.IntStream.range(0, n).parallel()
      .forEach(j => out(j) = CorpusGen.genFile(base + j, n))
    out.toVector
  }

  // ---- kg_dup ---------------------------------------------------------

  /** Rows planted for `TableIO.withInvariants` to drop, by reason. */
  val RejectNull = 3
  val RejectEmpty = 3
  val RejectOversize = 2
  val Rejects: Int = RejectNull + RejectEmpty + RejectOversize

  /** A corpus in which about half the rows repeat an earlier row's
    * content: `exact` rows are re-deliveries of the same
    * (repo, path, commit, content), `forks` copy the content under a new
    * repo and path, and `rejects` rows fail the input guards.
    */
  final case class DupCorpus(rows: Vector[CodeFile], unique: Int, exact: Int,
                             forks: Int, rejects: Int)

  def dupCorpus(seed: Long, n: Int): DupCorpus = {
    require(n >= 2 * Rejects + 4, s"kg_dup needs at least ${2 * Rejects + 4} rows")
    val unique = n / 2
    val copies = n - unique - Rejects
    val base = uniqueCorpus(seed, unique)
    val rng = new Random(mix(seed ^ 0x6B67647570L))
    val dups = Vector.tabulate(copies) { d =>
      val src = base(rng.nextInt(unique))
      if (d % 2 == 0) src
      else src.copy(repo = s"fork-$d/${src.repo.split('/').last}",
        path = s"vendor/f$d/${src.path}")
    }
    val template = base.head
    val oversize = "x" * (TableIO.MaxContentChars + 1)
    val rejects =
      Vector.tabulate(RejectNull)(k => template.copy(path = s"null/$k", content = null)) ++
      Vector.tabulate(RejectEmpty)(k => template.copy(path = s"empty/$k", content = "")) ++
      Vector.tabulate(RejectOversize)(k => template.copy(path = s"big/$k", content = oversize))
    val rows = rng.shuffle(base ++ dups ++ rejects)
    DupCorpus(rows, unique, exact = (copies + 1) / 2, forks = copies / 2, rejects = Rejects)
  }

  /** True when `TableIO.withInvariants` admits the row. */
  def admitted(f: CodeFile): Boolean =
    f.content != null && f.content.nonEmpty &&
      f.content.length <= TableIO.MaxContentChars

  // ---- canon_dict -----------------------------------------------------

  /** Aliases per entity: the canonical, a one-character deletion and a
    * one-character substitution (levenshtein 1: found by LSH + verify),
    * and a suffixed variant (levenshtein 2: linked only through the
    * same-entity edge).
    */
  val AliasesPerEntity = 4

  /** An alias dictionary and the link map it must produce. No norm of
    * one entity is within levenshtein 1 of a norm of another, so every
    * alias cluster is exactly one entity and maps to its canonical.
    */
  final case class AliasDict(rows: Vector[DictEntry], expected: Map[String, String])

  private val Kinds = Vector("function", "module", "class")

  /** The norm itself plus all its one-character deletions. Two strings
    * within levenshtein 1 always share one of these keys.
    */
  def deletionKeys(s: String): Iterator[String] =
    Iterator.single(s) ++ s.indices.iterator.map(i => s.patch(i, Nil, 1))

  def aliasDict(seed: Long, nEntities: Int): AliasDict = {
    val rng = new Random(mix(seed ^ 0x63616E6F6EL))
    def letter(): Char = ('a' + rng.nextInt(26)).toChar
    val owner = scala.collection.mutable.HashMap.empty[String, Int]
    val rows = Vector.newBuilder[DictEntry]
    var e = 0
    while (e < nEntities) {
      val canon = Iterator.fill(9 + rng.nextInt(4))(letter()).mkString
      val del = rng.nextInt(canon.length)
      val sub = rng.nextInt(canon.length)
      val subC = Iterator.continually(letter()).dropWhile(_ == canon(sub)).next()
      val norms = Vector(canon, canon.patch(del, Nil, 1),
        canon.updated(sub, subC), canon + "_v")
      val keys = norms.flatMap(deletionKeys).distinct
      // redraw an entity whose norms could sit within one edit of another
      // entity's (a rare event that would merge two clusters)
      if (norms.distinct.size == AliasesPerEntity && !keys.exists(owner.contains)) {
        keys.foreach(owner(_) = e)
        val kind = Kinds(e % Kinds.size)
        norms.foreach(n => rows += DictEntry(n, e.toLong, canon, kind))
        e += 1
      }
    }
    val all = rows.result()
    AliasDict(all, all.map(d => d.norm -> d.canonical).toMap)
  }
}
