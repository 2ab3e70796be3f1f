package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import graft.fixtures.CorpusGen
import graft.kg.{KgPipeline, TableIO}
import graft.tools.Probe

/** The probe's explain sections name real keys and render the same
  * plan as the same text, and its listener's totals are complete the
  * moment `measured` returns.
  */
class ProbeSpec extends SparkTestBase {

  test("every explain section names a SparkEntry key") {
    val unknown = Probe.planSections.map(_._1).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: $unknown")
  }

  test("explain text of two separately built KG write plans is identical") {
    import spark.implicits._
    val (fnAliases, canonB) = KgPipeline.broadcastDictionary(spark, KgPipeline.dictDataset(spark))
    // each build mints fresh expression ids, plan ids, lambda and
    // observation names: the masked text must not show them
    def plan() = Probe.planText(KgPipeline.writeInput(CorpusGen.corpus(20).toDF(),
      (0 until TableIO.DefaultBuckets).toSet, TableIO.DefaultBuckets, fnAliases, canonB).triples)
    val (a, b) = (plan(), plan())
    assert(a.contains("CollectMetrics") && a.contains("$Lambda"), a)
    val firstDiff = a.linesIterator.zip(b.linesIterator).find { case (x, y) => x != y }
    assert(a == b, s"first differing line: $firstDiff")
  }

  test("explain text names a call site without its line number") {
    // an RDD's call site renders as `at <File>.scala:<line>`: the line
    // moves with every edit above it, so the masked text drops it
    val text = Probe.planText(spark.range(10).toDF().localCheckpoint())
    assert(text.contains("localCheckpoint at ProbeSpec.scala"), text)
    assert("\\.scala:\\d".r.findFirstIn(text).isEmpty, text)
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
