package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One harness query: the Spark implementation plus (when the semantics
  * are DuckDB-expressible) the equivalent ANSI SQL oracle the driver runs
  * over the same parquet tables (SURVEY §3.3, SparkEntry contract).
  * Column names must match between the two exactly.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def withOracle(sql: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(fn, Some(sql))
  def noOracle(fn: (SparkSession, String) => DataFrame): Q = Q(fn, None)
}

object Tables {
  /** Read one driver-provided table (TESTDATA.md). */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Register a scratch directory (e.g. the sink_partition_prune
    * write-target) for recursive deletion at JVM exit — the query's
    * result is read lazily from the dir, so it cannot be deleted
    * inline; a shutdown hook keeps /tmp clean across runs.
    */
  private val cleanupDirs = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupDirs.keySet().forEach { d =>
        // symlink-safe (round-4 advice): a planted symlink at the
        // registered /tmp path must never let the hook walk into an
        // arbitrary tree. Files.walk does NOT follow symlinks (no
        // FOLLOW_LINKS), and a symlinked root is detected with
        // NOFOLLOW_LINKS and deleted as a link, never traversed.
        import java.nio.file.{Files, LinkOption, Paths}
        val p = Paths.get(d)
        try {
          if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
            val walk = Files.walk(p)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f): Unit)
            finally walk.close()
          } else Files.deleteIfExists(p): Unit
        } catch {
          // Files.walk's iteration wraps IO failures (e.g. a concurrent
          // deleter racing this hook) in UncheckedIOException — catch
          // both so one dir's failure can't abort the rest of the loop
          case _: java.io.IOException | _: java.io.UncheckedIOException => ()
        }
      }))
  def cleanupOnExit(dir: String): String = {
    hookInstalled
    cleanupDirs.put(dir, true)
    dir
  }

  /** Deterministic synthetic-corpus size for a testdata dir: scale the
    * KG corpus with the scale factor (sf0.01 → 2,000 files, sf0.1 →
    * 20,000).
    */
  def corpusFiles(sfDir: String): Int = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.01)
    math.max(60, (sf * 200000).toInt)
  }

  /** Distributed deterministic corpus: file i is a pure function of i. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame =
    graft.fixtures.CorpusGen.frame(spark, corpusFiles(sfDir))
}
