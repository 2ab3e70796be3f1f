package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import graft.tools.Probe

/** The probe's explain sections name real keys, and its listener's
  * totals are complete the moment `measured` returns.
  */
class ProbeSpec extends SparkTestBase {

  test("every explain section names a SparkEntry key") {
    val unknown = Probe.planSections.map(_._1).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: $unknown")
  }

  test("listener totals are complete when measured returns, with no sleep") {
    // a slow listener ahead on the same bus queue holds every event back,
    // so the totals are complete only if measured really drains the bus
    val slow = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Thread.sleep(300)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val (groups, _, m) = Probe.measured(spark)(
        spark.range(10000).groupBy((col("id") % 7).as("k")).count().collect().length)
      assert(groups == 7)
      assert(m.jobs.get >= 1)
      assert(m.stages.get >= 2, s"stages=${m.stages.get}")
      assert(m.shuffleWriteBytes.get > 0)
    } finally spark.sparkContext.removeSparkListener(slow)
  }
}
