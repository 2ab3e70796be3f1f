package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.{Exchange, BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}

/** Physical-plan discipline tests (SURVEY §4.4, §7.4(4)): the 100KB
  * `content` column must never cross a shuffle; narrow scans must push
  * filters and prune columns; small-dim joins must broadcast.
  */
class PlanSpec extends SparkTestBase {

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  test("KG plan: content column never crosses a shuffle exchange") {
    import spark.implicits._
    val corpus = graft.fixtures.CorpusGen.corpus(60).toDF()
    val dict = graft.kg.KgPipeline.dictDataset(spark)
    val hashed = graft.kg.TableIO.hashedFiles(corpus)
    val triples = graft.kg.Extract.canonicalTriples(hashed,
      graft.kg.Extract.broadcastFnAliases(spark, dict),
      graft.kg.Canonicalize.broadcastLinkMap(spark, dict))
    triples.count() // finalize AQE plan
    val shuffles = allNodes(executed(triples.toDF()))
      .collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.nonEmpty, "expected at least the dedup shuffle")
    shuffles.foreach { ex =>
      val cols = ex.child.output.map(_.name.toLowerCase)
      assert(!cols.contains("content"),
        s"content crosses a shuffle: ${cols.mkString(",")}")
    }
  }

  test("canonicalTriples runs the pipeline's (bucket, pred) exchange on bare Triple rows") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import spark.implicits._
    val (fnAliases, canonB) = graft.kg.KgPipeline.broadcastDictionary(spark,
      graft.kg.KgPipeline.dictDataset(spark))
    val triples = graft.kg.Extract.canonicalTriples(
      graft.kg.TableIO.hashedFiles(graft.fixtures.CorpusGen.corpus(60).toDF()), fnAliases, canonB)
    val shuffles = allNodes(executed(triples.toDF())).collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1, s"not one exchange:\n${executed(triples.toDF()).treeString}")
    // the routing rule, resolved and optimized against the same fileSha/pred
    val want = triples.select(graft.kg.TableIO.bucketOf(col("fileSha"), graft.kg.TableIO.DefaultBuckets),
        col("pred")).queryExecution.optimizedPlan
      .collectFirst { case p: Project => p.projectList.map { case a: Alias => a.child; case e => e } }.get
    shuffles.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.map(_.canonicalized) == want.map(_.canonicalized),
          s"exchange keys ${h.expressions} != $want")
      case other => fail(s"exchange is not hash-partitioned: $other")
    }
    val shipped = shuffles.head.child.output.map(_.name)
    assert(shipped == org.apache.spark.sql.Encoders.product[graft.kg.Triple].schema.fieldNames.toSeq,
      s"exchange input is not the bare Triple: $shipped")
  }

  test("KG write plan: one exchange, one sort, no hash aggregate") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = java.nio.file.Files.createTempDirectory("graft_write_plan").toString
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        allNodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand if i.outputPath.getName == "triples" => writes.add(w)
            case _ => ()
          }
          case _ => ()
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      graft.kg.KgPipeline.run(spark, graft.fixtures.CorpusGen.corpus(60).toDF(),
        graft.kg.KgPipeline.dictDataset(spark),
        graft.kg.KgConfig(s"$dir/triples", s"$dir/manifest", "r1"))
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"expected one triple write, saw ${writes.size}")
    val plan = allNodes(writes.peek())
    val tree = writes.peek().treeString
    assert(plan.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, s"not one exchange:\n$tree")
    assert(!plan.exists(p => p.isInstanceOf[HashAggregateExec] || p.isInstanceOf[ObjectHashAggregateExec]),
      s"hash aggregate in the write plan:\n$tree")
    assert(plan.count(_.isInstanceOf[SortExec]) == 1, s"not one sort:\n$tree")
  }

  test("scan_parquet pushes filter and prunes columns") {
    val df = SparkEntry.queries("scan_parquet")(spark, "/root/testdata/sf0.001")
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val s = scan.toString
    assert(s.contains("PushedFilters") &&
      (s.contains("GreaterThanOrEqual(n_chars,100)") || s.contains("n_chars")),
      s"filter not pushed:\n$s")
    assert(!s.contains("text"), s"text column not pruned from scan:\n$s")
  }

  test("join_broadcast actually broadcasts the dimension side") {
    val df = SparkEntry.queries("join_broadcast")(spark, "/root/testdata/sf0.001")
    df.count()
    val bc = allNodes(df.queryExecution.executedPlan)
      .collect { case e: BroadcastExchangeLike => e }
    assert(bc.nonEmpty, "expected a broadcast exchange")
  }

  test("entry smoke: flagship produces rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("join_bloom_prune: bloom pre-filter sits below the exact semi-join") {
    val df = SparkEntry.queries("join_bloom_prune")(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    // the pre-filter feeds the semi-join (exactness comes from the join)
    assert(allNodes(executed(df)).exists(_.nodeName.contains("BroadcastHashJoin")))
    // round 3: the bloom rides a SCALAR SUBQUERY, never a plan literal —
    // no BinaryType literal may appear anywhere in the plan (at 10⁹ build
    // keys a literal bloom is MBs inside every serialized plan fragment)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val binLits = allNodes(executed(df)).flatMap(_.expressions).flatMap(_.collect {
      case l: Literal if l.dataType == BinaryType => l
    })
    assert(binLits.isEmpty, s"driver-materialized bloom literal in plan: ${binLits.size}")
    assert(plan.toLowerCase.contains("subquery"), s"expected scalar subquery:\n$plan")
  }

  test("dedup_incremental: corpus side carries the batch-keyed bloom " +
    "pre-filter below the exact anti-join") {
    val df = SparkEntry.queries("dedup_incremental")(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    // same discipline as join_bloom_prune: the bloom rides a scalar
    // subquery, never a driver-materialized binary literal
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val binLits = allNodes(executed(df)).flatMap(_.expressions).flatMap(_.collect {
      case l: Literal if l.dataType == BinaryType => l
    })
    assert(binLits.isEmpty, s"driver-materialized bloom literal in plan: ${binLits.size}")
  }

  test("pred-partitioned triple sink: read-back prunes partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_trip_prune").toString
    val triples = SparkEntry.entry(spark)
      .withColumn("bucket", graft.kg.TableIO.bucketOf(col("fileSha"), 4))
    graft.kg.TableIO.writeTriples(triples, s"$dir/triples")
    val preds = spark.read.parquet(s"$dir/triples").select("pred").distinct().count()
    assert(preds >= 3, s"fixture too small: $preds preds")
    val rb = spark.read.parquet(s"$dir/triples").filter(col("pred") === "imports")
    rb.count()
    val scan = allNodes(executed(rb)).collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.partitionFilters.exists(_.references.map(_.name).exists(_ == "pred")),
      s"pred not in PartitionFilters: ${scan.partitionFilters}")
    // only the pred=imports directories are read (one per bucket)
    val dirsRead = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.getParent.toString).distinct
    assert(dirsRead.nonEmpty && dirsRead.forall(_.contains("pred=imports")),
      s"scan reads non-pruned partitions: $dirsRead")
  }

  test("MentionScan custom plan: equals typed flatMap, no object fences") {
    import spark.implicits._
    val corpus = graft.fixtures.CorpusGen.corpus(60).toDF()
      .withColumn("file_sha", sha2(col("content"), 256))
      .as[graft.kg.HashedFile]
    val dict = graft.kg.KgPipeline.dictDataset(spark)
    val bc = graft.kg.Extract.broadcastFnAliases(spark, dict)
    val viaPlan = graft.plans.MentionScan.scan(corpus, bc)
    val viaFlatMap = graft.kg.Extract.mentions(corpus, bc).toDF()
    assert(viaPlan.schema == viaFlatMap.schema)
    val a = viaPlan.collect().map(_.toSeq).toSet
    val b = viaFlatMap.collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    // the operator is a named physical node, with no serialization fences
    val nodes = allNodes(executed(viaPlan)).map(_.nodeName)
    assert(nodes.exists(_.contains("MentionScan")), nodes.mkString(","))
    assert(!nodes.exists(n => n.contains("DeserializeToObject") ||
      n.contains("SerializeFromObject")), nodes.mkString(","))
    // column pruning through the custom node: projecting two columns
    // still plans (output schema is fixed, child scan stays columnar)
    assert(viaPlan.select("norm", "kind").distinct().count() > 0)
  }
}
