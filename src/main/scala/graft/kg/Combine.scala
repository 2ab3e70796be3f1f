package graft.kg

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Multi-system triple combiners (SURVEY O3/O4: the reference merges the
  * outputs of several extraction systems over the same corpus — union,
  * intersection, and k-of-n voting on the triple identity key).
  */
object Combine {

  /** k-of-n vote: keep triples present in at least `k` of the given
    * extractor outputs (per-system multiplicity ignored — a system votes
    * once), score = max across agreeing systems. One shuffle on the
    * identity key; system tags ride along as a tiny int column.
    */
  def vote(runs: Seq[Dataset[Triple]], k: Int): Dataset[Triple] = {
    require(runs.nonEmpty && k >= 1 && k <= runs.size,
      s"vote: need 1 <= k <= ${runs.size}, got $k")
    val spark = runs.head.sparkSession
    import spark.implicits._
    runs.zipWithIndex
      .map { case (r, i) =>
        r.toDF().select((Extract.TripleKey.map(col) :+ col("score") :+ lit(i).as("sys")): _*)
      }
      .reduce(_ unionAll _)
      .groupBy(Extract.TripleKey.map(col): _*)
      .agg(countDistinct($"sys").as("votes"), max($"score").as("score"))
      .filter($"votes" >= k)
      .drop("votes")
      .as[Triple]
  }

  /** Union of extractor outputs (1-of-n vote). */
  def union(runs: Seq[Dataset[Triple]]): Dataset[Triple] = vote(runs, 1)

  /** Intersection of extractor outputs (n-of-n vote). */
  def intersect(runs: Seq[Dataset[Triple]]): Dataset[Triple] = vote(runs, runs.size)
}
