package graft.fixtures

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.kg.CodeFile

/** Deterministic synthetic source-code corpus (FIXTURES.md §1).
  *
  * Every file is a pure function of its index `i` (private Random seeded
  * from `i`) — generation is therefore identical no matter where/how it
  * runs (driver loop, spark.range mapper, oracle) and independent of
  * parallelism, which the N-vs-4N scaling contract requires
  * (BASELINE.json:2).
  *
  * Skew: repo 0 ("org/mega-0") receives ~50% of all files — the
  * mega-repo skew fixture for salted-repartition/AQE tests
  * (BASELINE.json:6,14; SURVEY §7.4(3)).
  */
object CorpusGen {

  def nRepos(nFiles: Int): Int = math.max(4, nFiles / 15)

  def repoOf(i: Int, nFiles: Int): String = {
    val n = nRepos(nFiles)
    if (i % 2 == 0) "org/mega-0" else s"org/repo-${1 + (i / 2) % (n - 1)}"
  }

  /** 40-char lowercase hex commit, deterministic from the file index. */
  def commitOf(i: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(s"commit-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def pick[T](rng: Random, xs: Vector[T]): T = xs(rng.nextInt(xs.size))

  /** Random alias (post-normalization variant) of a canonical name. */
  private def alias(rng: Random, canonical: String): String =
    pick(rng, Vocab.aliases(canonical))

  /** One deterministic file. */
  def genFile(i: Int, nFiles: Int): CodeFile = {
    val rng = new Random(1000003L * i + 42L)
    val lang = if (i % 3 == 0) "scala" else "python"
    val ext = if (lang == "scala") "scala" else "py"
    val repo = repoOf(i, nFiles)
    val path = s"src/pkg${i % 7}/file_$i.$ext"
    val sb = new StringBuilder

    // header: 2..4 imports (alias variants force canonicalization)
    val nImports = 2 + rng.nextInt(3)
    for (_ <- 0 until nImports) {
      val m = alias(rng, pick(rng, Vocab.modules))
      if (lang == "python" && rng.nextInt(4) == 0) {
        val f = pick(rng, Vocab.functions)
        sb.append(s"from $m import $f\n")
      } else sb.append(s"import $m\n")
    }
    sb.append("\n")

    // occasional module-level call (no preceding def → fileSym subject)
    if (rng.nextInt(4) == 0) {
      val callee = alias(rng, pick(rng, Vocab.functions))
      sb.append(s"setup = $callee(1, 2)\n\n")
    }

    // optional class with base
    if (rng.nextInt(3) == 0) {
      val c = pick(rng, Vocab.classes)
      val b = pick(rng, Vocab.classes.filterNot(_ == c))
      if (lang == "python") sb.append(s"class $c($b):\n    pass\n\n")
      else sb.append(s"class $c extends $b {\n}\n\n")
    }

    // 2..5 defs, each with a body of 1..6 lines mixing calls and noise
    val nDefs = 2 + rng.nextInt(4)
    for (d <- 0 until nDefs) {
      val fn = alias(rng, pick(rng, Vocab.functions))
      if (lang == "python") sb.append(s"def $fn(a, b):\n")
      else sb.append(s"def $fn(a: Int, b: Int): Int = {\n")
      val nBody = 1 + rng.nextInt(6)
      for (k <- 0 until nBody) {
        rng.nextInt(3) match {
          case 0 =>
            val callee = alias(rng, pick(rng, Vocab.functions))
            sb.append(s"    r$k = $callee(a, b)\n")
          case 1 =>
            sb.append(s"    x$k = a * ${rng.nextInt(100)} + b\n")
          case _ =>
            val w = pick(rng, Vocab.words)
            val cmt = if (lang == "python") "#" else "//"
            sb.append(s"    $cmt step $k uses the $w strategy\n")
        }
      }
      if (lang == "scala") sb.append("}\n")
      if (d < nDefs - 1) sb.append("\n")
    }
    CodeFile(repo, path, commitOf(i), lang, sb.toString)
  }

  /** The whole corpus as a deterministic in-memory sequence (tiny/small). */
  def corpus(nFiles: Int): Seq[CodeFile] =
    (0 until nFiles).map(genFile(_, nFiles))

  /** The same corpus generated on the executors, one `genFile` per id of
    * `spark.range`: equal to `corpus(nFiles)` under any partitioning.
    */
  def frame(spark: SparkSession, nFiles: Int): DataFrame = {
    import spark.implicits._
    spark.range(nFiles).mapPartitions(_.map(i => genFile(i.toInt, nFiles))).toDF()
  }

  /** Standard sizes (FIXTURES.md §1). */
  val TinyFiles = 60
  val SmallFiles = 3000
}
