package graft.kgperf

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.KgperfBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task and scheduler totals for the jobs of one traced call. */
final class Counters {
  var jobs, stages, cpuNs, inputRecords = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    cpuNs += m.executorCpuTime
    inputRecords += m.inputMetrics.recordsRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    spillBytes += m.diskBytesSpilled
  }
}

/** Benchmark-owned listener: attributes every job and completed stage to
  * the job group it ran under (one group per traced call).
  */
final class StageMetrics extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()

  private def groupOf(p: Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def counters(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  def apply(group: String): Counters = synchronized(counters(group))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(counters(_).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageGroup.remove(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g)
      c.stages += 1
      Option(e.stageInfo.taskMetrics).foreach(c.add)
    }
  }
}

/** One timed call: `parent` is the enclosing span, `build` the traced
  * build it belongs to.
  */
final case class Span(name: String, parent: String, build: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into graft and scopes each call's jobs to
  * a job group, so the listener's counters belong to exactly one span.
  * Spans stay in memory until `write`.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val listener = new StageMetrics
  sc.addSparkListener(listener)
  val spans = ArrayBuffer.empty[Span]

  def span[T](name: String, build: Int, parent: String = "build")(body: => T): T = {
    sc.setJobGroup(s"$build/$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, build, t0, System.nanoTime())
      sc.clearJobGroup()
    }
  }

  def seconds(name: String, build: Int): Double =
    spans.find(s => s.name == name && s.build == build).map(_.seconds).getOrElse(0.0)

  /** Counters of one span; waits for the listener bus first. */
  def counters(name: String, build: Int): Counters = {
    KgperfBus.drain(sc)
    listener(s"$build/$name")
  }

  def close(): Unit = sc.removeSparkListener(listener)

  def write(path: java.nio.file.Path, workload: String, seed: Long): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"workload":"$workload","seed":$seed,"build":${s.build},"name":"${s.name}",""" +
        s""""parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
