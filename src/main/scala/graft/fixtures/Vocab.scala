package graft.fixtures

/** Closed deterministic symbol vocabulary (FIXTURES.md §4).
  *
  * Canonical names are built from pairwise-distant words so that no two
  * norms of DIFFERENT entities are within levenshtein 1 of each other
  * (asserted by VocabSpec) — this makes the alias-cluster spec (SPEC.md §4)
  * decidable and the MinHash-LSH edge set redundant with the same-entity
  * edge set (SURVEY §7.4(5): oracle stays exact).
  */
object Vocab {
  // 48 pairwise-distant base words (no two within levenshtein 2).
  val words: Vector[String] = Vector(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliett", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "mercury", "venus",
    "jupiter", "saturn", "neptune", "crimson", "amber", "violet",
    "indigo", "turquoise", "magenta", "emerald", "cobalt", "scarlet",
    "granite", "basalt", "quartz", "obsidian", "marble", "pumice",
    "gypsum", "feldspar")

  /** Canonical module names (40). */
  val modules: Vector[String] = words.take(40).map(w => s"${w}lib")

  /** Canonical function names (48). */
  val functions: Vector[String] = words.map(w => s"${w}fn")

  /** Canonical class names (30) — capitalized, matched by the class rules. */
  val classes: Vector[String] = words.take(30).map(w => s"${w.capitalize}Cls")

  /** Post-normalization alias variants per canonical (SPEC.md §4):
    * the canonical itself, a 1-char-deletion typo (levenshtein 1 — the
    * LSH+verify path), and a suffixed variant (levenshtein 2 — reachable
    * only through the same-entity dictionary edge).
    */
  def aliases(canonical: String): Vector[String] = {
    val norm = canonical.toLowerCase
    Vector(norm, norm.dropRight(1), norm + "_x").distinct
  }

  /** All (kind, canonical) entities. */
  val entities: Vector[(String, String)] =
    modules.map(("module", _)) ++ functions.map(("function", _)) ++
      classes.map(("class", _))

  /** Deterministic stable entity id: order in the closed vocabulary. */
  def entityId(canonical: String): Long = {
    val i = entities.indexWhere(_._2 == canonical)
    require(i >= 0, s"unknown canonical: $canonical")
    i.toLong
  }

  /** Dictionary rows: (norm, entityId, canonical, kind) — one per alias. */
  val dictRows: Vector[(String, Long, String, String)] =
    entities.flatMap { case (kind, canon) =>
      aliases(canon).map(a => (a, entityId(canon), canon, kind))
    }

  /** Normalized function-alias set (drives call detection, SPEC.md §2). */
  val functionAliasNorms: Set[String] =
    functions.flatMap(aliases).toSet
}
