package graft.kgperf

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Post-GC heap occupancy from the collectors' notifications: the live
  * driver heap, not the raw used heap that includes uncollected garbage.
  * A build's peak is the highest occupancy after any collection during
  * it, and at least what a full collection right after it leaves.
  */
object HeapWatch {
  /** (GC start in JVM-uptime ms, heap pools' used bytes after that GC). */
  private val events = new ConcurrentLinkedQueue[(Long, Long)]()
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val pools = heapPools
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if pools(pool) => u.getUsed
          }.sum
          events.add((gc.getStartTime, used))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Heap still in use after a full collection: what a build left live. */
  def liveAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Peak post-GC heap (bytes) of collections that started in [from, to]. */
  def peak(from: Long, to: Long): Option[Long] = {
    val in = events.asScala.collect { case (t, u) if t >= from && t <= to => u }
    if (in.isEmpty) None else Some(in.max)
  }
}

/** Command-line entry of the benchmark JVM. One invocation is one run:
  *
  *   BenchMain --workload kg_build|kg_dup|canon_dict --seed N --seconds S
  *             --trace 0|1 --work DIR [--size N]
  *
  * Prints diagnostics, then as its last stdout line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`. Exits 0 only when
  * every checked build was correct.
  */
object BenchMain {

  /** Default input size per workload: files, rows or entities. */
  val Sizes: Map[String, Int] = Map("kg_build" -> 10000, "kg_dup" -> 10000, "canon_dict" -> 6000)
  /** Corpus size a canon_dict traced run uses for the kg-layer metrics. */
  val CompanionFiles = 2000
  val SetupReps = 5
  val MinBuilds = 3
  val MaxBuilds = 60
  val MinTracedBuilds = 2
  val WarmMin = 2
  val WarmMax = 3
  /** Warm-up stops when a build is no longer this much faster than the best so far. */
  val WarmSettle = 0.97

  /** Spark threads: one core is left for JIT compilation and GC. */
  def threads: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  def session(work: String, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("kgperf")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, seed: Long, size: Int, threads: Int): Workload = name match {
    case "kg_build" => new KgWorkload(name, Inputs.uniqueCorpus(seed, size), 0, threads)
    case "kg_dup" => new KgWorkload(name, Inputs.dupCorpus(seed, size).rows, Inputs.Rejects, threads)
    case "canon_dict" => new CanonWorkload(seed, size, threads)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def now: Double = System.nanoTime() / 1e9
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  final case class BuildRecord(wallS: Double, cpuS: Double, heapMb: Double, error: Option[String])

  /** One build: fresh output directory, empty cache and a collected heap
    * before the clock starts; the output check runs after it stops.
    */
  def oneBuild(spark: SparkSession, w: Workload, out: String, checked: Boolean): BuildRecord = {
    deleteTree(out)
    spark.catalog.clearCache()
    System.gc()
    val (c0, h0, t0) = (cpuNs, HeapWatch.uptimeMs, now)
    val res = Try(w.build(spark, out))
    val (t1, c1, h1) = (now, cpuNs, HeapWatch.uptimeMs)
    val live = HeapWatch.liveAfterGc()
    val error = res.fold(e => Some(s"${w.name}: build threw $e"),
      r => if (checked) Try(w.check(spark, out, r)).fold(e => Some(s"${w.name}: check threw $e"), identity)
           else None)
    res.foreach(w.cleanup(spark, _))
    deleteTree(out)
    val heap = math.max(live, HeapWatch.peak(h0, h1).getOrElse(0L))
    BuildRecord(t1 - t0, (c1 - c0) / 1e9, heap / (1024.0 * 1024.0), error)
  }

  /** Untimed builds until a build is no longer clearly faster than the
    * best before it: JIT compilation dominates the first builds.
    */
  def warmUp(spark: SparkSession, w: Workload, out: String): Seq[Double] = {
    val times = ArrayBuffer.empty[Double]
    while (times.size < WarmMax &&
      !(times.size >= WarmMin && times.last >= WarmSettle * times.init.min))
      times += oneBuild(spark, w, out, checked = false).wallS
    times.toSeq
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case None => "null"
    case Some(x) => json(x)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.sorted.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Map[String, (Double, String)]): String =
    json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val name = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = opt("--work")
    val size = opts.get("--size").map(_.toInt).getOrElse(Sizes.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload '$name'")))
    val ok = run(name, seed, seconds, trace, work, size)
    sys.exit(if (ok) 0 else 3)
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: String, size: Int): Boolean = {
    val nThreads = threads
    HeapWatch.install()
    val diag = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "size" -> size, "threads" -> nThreads, "trace" -> trace)

    val w = workload(name, seed, size, nThreads)
    val boot = session(work, nThreads)
    val g0 = now
    w.generate(boot, s"$work/input")
    diag("input_gen_s") = now - g0
    diag("at_generated_s") = HeapWatch.uptimeMs / 1e3
    boot.stop()

    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now
      spark = session(work, nThreads)
      w.prepare(spark)
      now - t0
    }
    diag("setup_s") = setups
    diag("at_setup_s") = HeapWatch.uptimeMs / 1e3

    val out = s"$work/out"
    diag("warmup_s") = warmUp(spark, w, out)
    diag("at_warm_s") = HeapWatch.uptimeMs / 1e3

    val deadline = now + seconds
    val errors = ArrayBuffer.empty[String]
    val builds = ArrayBuffer.empty[BuildRecord]
    var traced = 0
    val metrics: Map[String, (Double, String)] =
      if (!trace) {
        while (builds.size < MaxBuilds && (builds.size < MinBuilds || now < deadline))
          builds += oneBuild(spark, w, out, checked = true)
        val wall = median(builds.map(_.wallS).toSeq)
        Map(
          "wall_s" -> (wall, "s"),
          "input_rows_per_s" -> (w.inputRows / wall, "1/s"),
          "heap_peak_mb" -> (median(builds.map(_.heapMb).toSeq), "MB"),
          "setup_s" -> (median(setups), "s"))
      } else {
        val (own, n) = tracedBuilds(spark, w, out, deadline, work, seed, builds, errors)
        traced += n
        val kgLayers =
          if (name != "canon_dict") Map.empty[String, Double]
          else {
            // canon_dict's timed call runs no kg layer: take those from a
            // small companion kg_build corpus of the same seed
            val c = workload("kg_build", seed, CompanionFiles, nThreads)
            c.generate(spark, s"$work/companion")
            c.prepare(spark)
            oneBuild(spark, c, out, checked = false)
            val (cl, cn) = tracedBuilds(spark, c, out, 0.0, work, seed, ArrayBuffer.empty, errors)
            traced += cn
            cl.filter { case (k, _) => !k.startsWith("canonicalize.") && !k.startsWith("trace.") }
          }
        (own ++ kgLayers).map { case (k, v) => k -> (v, unitOf(k)) }
      }
    errors ++= builds.flatMap(_.error)
    diag("wall_s") = builds.map(_.wallS).toSeq
    diag("cpu_s") = builds.map(_.cpuS).toSeq
    diag("heap_mb") = builds.map(_.heapMb).toSeq

    spark.stop()
    diag("traced_builds") = traced
    val attempted = builds.size + traced
    val failed = errors.size
    diag("fail_share") = failed.toDouble / attempted
    diag("at_end_s") = HeapWatch.uptimeMs / 1e3
    diag("errors") = errors.toSeq
    println(json(Map("diagnostics" -> diag.toMap)))
    println(result(failed == 0, attempted, failed, metrics))
    failed == 0
  }

  def unitOf(metric: String): String = {
    val m = metric.split('.').last
    if (m.endsWith("_s")) "s"
    else if (m.contains("bytes")) "bytes"
    else if (m.endsWith("_ratio")) "ratio"
    else "count"
  }

  /** Traced builds until the deadline (at least MinTracedBuilds), each
    * right after an untraced build that is equally warm: the untraced
    * median is what the traced layer sum is compared against. Times are
    * medians over the traced builds; counts come from the first one, and
    * a count that differs in a later one is printed as a warning.
    */
  def tracedBuilds(spark: SparkSession, w: Workload, out: String, deadline: Double,
                   work: String, seed: Long, untraced: ArrayBuffer[BuildRecord],
                   errors: ArrayBuffer[String]): (Map[String, Double], Int) = {
    val tr = new Tracer(spark)
    val runs = ArrayBuffer.empty[Map[String, Double]]
    val plain = ArrayBuffer.empty[Double]
    var b = 0
    while (b < MinTracedBuilds || (now < deadline && b < MaxBuilds)) {
      val u = oneBuild(spark, w, out, checked = true)
      untraced += u
      plain += u.wallS
      deleteTree(out)
      System.gc()
      val t0 = System.nanoTime()
      val r = Try(w.traced(spark, tr, out, b)).fold(e => Left(s"${w.name}: traced build threw $e"), identity)
      tr.spans += Span("build", "", b, t0, System.nanoTime())
      r.fold(errors += _, runs += _)
      spark.catalog.clearCache()
      deleteTree(out)
      b += 1
    }
    tr.close()
    tr.write(Paths.get(work).getParent.resolve("traces").resolve(s"${w.name}-$seed.jsonl"), w.name, seed)
    if (runs.isEmpty) return (Map.empty, b)
    val first = runs.head
    val merged = first.map { case (k, v) =>
      k -> (if (unitOf(k) == "s") median(runs.map(_(k)).toSeq) else v)
    }
    val unsteady = first.keys.filter(k => unitOf(k) != "s" && runs.exists(_(k) != first(k)))
    if (unsteady.nonEmpty)
      println(json(Map("warning" -> s"${w.name}: counts differ between traced builds: ${unsteady.mkString(",")}")))
    val untracedWall = median(plain.toSeq)
    (merged ++ Map("trace.untraced_wall_s" -> untracedWall,
      "trace.overhead_s" -> (merged("trace.layer_sum_s") - untracedWall)), b)
  }
}
