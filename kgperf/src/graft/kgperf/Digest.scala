package graft.kgperf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.oracle.Oracle.GTriple

/** Order- and partitioning-independent digest of a triple set, keyed on
  * the 7-tuple identity (subj, pred, obj, repo, path, commit, fileSha).
  *
  * The row hash is Spark's `xxhash64` over those columns, recomputed on
  * the driver for the oracle's triples. The digest keeps the row count,
  * the xor of the hashes and the sum of their low 32 bits; the sum sees
  * a duplicated row, which an xor alone would cancel.
  */
final case class Digest(count: Long, xor: Long, sum: Long)

object Digest {

  val Columns: Seq[String] = Seq("subj", "pred", "obj", "repo", "path", "commit", "fileSha")

  /** `xxhash64(c1, ..., c7)` as Spark computes it (seed 42, chained). */
  def rowHash(fields: String*): Long =
    fields.foldLeft(42L)((seed, s) =>
      XxHash64Function.hash(UTF8String.fromString(s), StringType, seed))

  def of(hashes: Iterator[Long]): Digest = {
    var n, x, s = 0L
    hashes.foreach { h => n += 1; x ^= h; s += h & 0xFFFFFFFFL }
    Digest(n, x, s)
  }

  def ofOracle(ts: Iterable[GTriple]): Digest =
    of(ts.iterator.map(t =>
      rowHash(t.subj, t.pred, t.obj, t.repo, t.path, t.commit, t.fileSha)))

  def ofFrame(df: DataFrame): Digest = {
    val h = xxhash64(Columns.map(col): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))))
      .first()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
