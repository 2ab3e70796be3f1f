package graft

import org.apache.spark.sql.SparkSession
import graft.kg._

/** spark-submit entry point for the full KG DAG (SURVEY §3.2):
  *
  *   spark-submit --class graft.Main <jar> \
  *     [--corpus <parquet dir>] [--nfiles N] --out <dir> [--run-id R] \
  *     [--buckets B]
  *
  * With --corpus, reads an existing corpus table (repo, path, commit,
  * lang, content — BASELINE.json:15); otherwise generates the
  * deterministic synthetic corpus of N files. Writes partitioned triples
  * + lineage manifest under --out, prints a per-pred summary via the SQL
  * view surface (SURVEY §3.4), and is resumable: rerunning with the same
  * --out/--run-id skips committed buckets.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val out = opts.getOrElse("--out",
      sys.error("required: --out <dir> (plus --corpus <dir> or --nfiles N)"))
    val runId = opts.getOrElse("--run-id", "run-1")
    val nBuckets = opts.get("--buckets").fold(TableIO.DefaultBuckets)(_.toInt)

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpus = opts.get("--corpus") match {
      case Some(dir) => spark.read.schema(TableIO.corpusSchema).parquet(dir)
      case None => fixtures.CorpusGen.frame(spark, opts.getOrElse("--nfiles", "60").toInt)
    }

    val cfg = KgConfig(s"$out/triples", s"$out/manifest", runId, nBuckets)
    val res = KgPipeline.run(spark, corpus, KgPipeline.dictDataset(spark), cfg)
    println(s"[graft] triples written this run: ${res.triplesWritten}; " +
      s"buckets committed: ${res.bucketsCommitted}/$nBuckets; wall: ${res.wallMs} ms")
    println(s"[graft] corpus rows read: ${res.rowsIn}; rejected by the input guards: ${res.rowsRejected}")

    // SQL view surface over the materialized graph
    spark.read.parquet(s"$out/triples").createOrReplaceTempView("triples")
    spark.sql(
      """SELECT pred, count(*) AS n, count(DISTINCT subj) AS subjects
        |FROM triples GROUP BY pred ORDER BY pred""".stripMargin)
      .collect()
      .foreach(r => println(f"[graft]   ${r.getString(0)}%-18s n=${r.getLong(1)} subjects=${r.getLong(2)}"))
    spark.stop()
  }
}
