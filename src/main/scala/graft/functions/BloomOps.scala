package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.xxhash64

/** Column-level access to Spark's internal bloom-filter expressions (the
  * machinery behind runtime row-group filters), for EXPLICIT build-side
  * bloom pruning: build a bloom over the small side's join keys, push
  * `might_contain` into the big side's scan as a cheap pre-filter, then
  * verify with the exact join. False positives only cost the verify join
  * a few extra rows — the final result stays exact, so the pattern is
  * fully oracle-able by the plain join.
  */
object BloomOps {

  /** Aggregate a bloom filter (binary) over xxhash64(key). */
  def bloomAgg(key: Column, estimatedItems: Long): Column =
    GraftColumnBridge.column(
      new BloomFilterAggregate(
        GraftColumnBridge.expression(xxhash64(key)), estimatedItems)
        .toAggregateExpression())

  /** Membership probe whose bloom is built by a SCALAR SUBQUERY over the
    * build side — the exact shape Spark's own InjectRuntimeFilter plants.
    * Unlike collecting the bloom to the driver and embedding it as a
    * binary literal, the subquery result is computed once at execution
    * and shipped with tasks — it never rides inside every serialized
    * plan fragment string (at 10⁹ build keys the literal would be MBs).
    */
  def mightContainSubquery(build: DataFrame, buildKey: Column,
                           estimatedItems: Long, probeKey: Column): Column = {
    val aggPlan = GraftColumnBridge.logicalPlan(
      build.agg(bloomAgg(buildKey, estimatedItems)))
    GraftColumnBridge.column(
      BloomFilterMightContain(
        ScalarSubquery(aggPlan),
        GraftColumnBridge.expression(xxhash64(probeKey))))
  }
}
