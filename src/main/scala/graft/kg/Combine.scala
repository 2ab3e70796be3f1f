package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multi-system combiners (SURVEY O3/O4: the reference merges the
  * outputs of several extraction systems over the same corpus — union,
  * intersection, and k-of-n voting on an identity key).
  */
object Combine {

  /** k-of-n vote: keep the `key` values present in at least `k` of the
    * runs (per-run multiplicity ignored — a run votes once per key).
    * Every other column of the first run is max-aggregated across the
    * agreeing runs, and `votes` counts them. One shuffle on the key; run
    * tags ride along as a tiny int column.
    */
  def vote(runs: Seq[DataFrame], key: Seq[String], k: Int): DataFrame = {
    require(runs.nonEmpty && k >= 1 && k <= runs.size,
      s"vote: need 1 <= k <= ${runs.size}, got $k")
    val columns = runs.head.columns.toSeq
    val aggs = columns.filterNot(key.contains).map(c => max(col(c)).as(c)) :+
      countDistinct(col("__run")).as("votes")
    runs.zipWithIndex
      .map { case (r, i) => r.select((columns.map(col) :+ lit(i).as("__run")): _*) }
      .reduce(_ unionAll _)
      .groupBy(key.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("votes") >= k)
  }

  /** `vote` on the triple identity key; score = max across agreeing runs. */
  def vote(runs: Seq[Dataset[Triple]], k: Int): Dataset[Triple] =
    vote(runs.map(_.toDF()), Extract.TripleKey, k).drop("votes").as(Encoders.product[Triple])

  /** Union of extractor outputs (1-of-n vote). */
  def union(runs: Seq[Dataset[Triple]]): Dataset[Triple] = vote(runs, 1)

  /** Intersection of extractor outputs (n-of-n vote). */
  def intersect(runs: Seq[Dataset[Triple]]): Dataset[Triple] = vote(runs, runs.size)
}
