package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.fixtures.CorpusGen
import graft.kg._

/** graft's local sinks set permissions with a syscall
  * ([[NioRawLocalFileSystem]]) and leave the same modes, files and
  * directories as Hadoop's stock local filesystem, with no OS process
  * started during a KG build.
  */
class LocalFsSpec extends SparkTestBase {

  private def fs(raw: RawLocalFileSystem): RawLocalFileSystem = {
    raw.initialize(URI.create("file:///"), new Configuration())
    raw
  }
  private lazy val stock = fs(new RawLocalFileSystem)
  private lazy val nio = fs(new NioRawLocalFileSystem)

  private def perms(p: JPath): Set[PosixFilePermission] =
    Files.getPosixFilePermissions(p).asScala.toSet
  private def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
  private def hpath(p: JPath) = new Path(p.toUri)

  test("setPermission leaves the stock filesystem's mode on files and directories") {
    val root = Files.createTempDirectory("localfs-parity")
    val pairs = Seq(
      Files.createFile(root.resolve("stock.txt")) -> Files.createFile(root.resolve("nio.txt")),
      Files.createDirectory(root.resolve("stockdir")) -> Files.createDirectory(root.resolve("niodir")))
    // applied in sequence, so every step changes the previous mode
    for (mode <- Seq("755", "644", "700", "600"); (a, b) <- pairs) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      stock.setPermission(hpath(a), perm)
      nio.setPermission(hpath(b), perm)
      assert(perms(b) == perms(a), s"$mode on ${b.getFileName}")
      assert(perms(b) == NioRawLocalFileSystem.posix(perm.toShort).asScala, s"$mode")
    }
  }

  test("sticky bit and a setgid directory take the stock path") {
    val root = Files.createTempDirectory("localfs-fallback")
    val (a, b) = (Files.createDirectory(root.resolve("a")), Files.createDirectory(root.resolve("b")))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    stock.setPermission(hpath(a), sticky)
    nio.setPermission(hpath(b), sticky)
    assert((unixMode(b) & 0x200) != 0, "sticky bit was dropped")
    assert(unixMode(b) == unixMode(a))

    // chmod(1) keeps a directory's setgid bit under a 4-digit mode
    Seq(a, b).foreach(Files.setAttribute(_, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8))))
    val plain = new FsPermission(Integer.parseInt("755", 8).toShort)
    stock.setPermission(hpath(a), plain)
    nio.setPermission(hpath(b), plain)
    assert((unixMode(b) & 0x400) != 0, "setgid bit was cleared")
    assert(unixMode(b) == unixMode(a))
  }

  test("writeTriples leaves the tree and modes of a default-filesystem write") {
    import spark.implicits._
    val rows = for (b <- 0 until 3; p <- Seq("calls", "imports"); i <- 0 until 4)
      yield (s"s$b$i", p, s"o$i", b)
    val df = rows.toDF("subj", "pred", "obj", "bucket")
    val root = Files.createTempDirectory("localfs-tree")
    val (plainDir, sinkDir) = (root.resolve("plain"), root.resolve("sink"))
    // the same write as writeTriples (dynamic overwrite commits no
    // _SUCCESS) on the session's default `file:` filesystem
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "pred").parquet(plainDir.toString)
    TableIO.writeTriples(df, sinkDir.toString)

    def tree(dir: JPath): Map[String, (Boolean, Set[PosixFilePermission])] = {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_ != dir).map { p =>
        dir.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID") ->
          (Files.isDirectory(p), perms(p))
      }.toMap finally walk.close()
    }
    val (want, got) = (tree(plainDir), tree(sinkDir))
    assert(want.keys.exists(_.endsWith(".parquet.crc")), want.keys)
    assert(got == want, s"only plain: ${want.toSet -- got.toSet}; only sink: ${got.toSet -- want.toSet}")
  }

  test("a KG build starts no OS process") {
    def build(dir: JPath): KgResult = {
      import spark.implicits._
      val cfg = KgConfig(s"$dir/triples", s"$dir/manifest", runId = "r1")
      KgPipeline.run(spark, CorpusGen.corpus(CorpusGen.TinyFiles).toDF(),
        KgPipeline.dictDataset(spark), cfg)
    }
    // one build first, outside the recording: one-time JVM and Hadoop
    // class initialisation may start a process, a build must not. The
    // executor heartbeat's first tick, 10–20 s after the context starts,
    // initialises Spark's procfs metrics reader, which forks `getconf
    // PAGESIZE` once per JVM; initialise it here so that tick cannot
    // land inside the recording
    build(Files.createTempDirectory("localfs-warm"))
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val res = try build(Files.createTempDirectory("localfs-build")) finally rec.stop()
    val dump = Files.createTempFile("localfs-build", ".jfr")
    try {
      rec.dump(dump)
      val starts = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      assert(res.triplesWritten > 0)
      assert(starts.isEmpty,
        s"${starts.size} process starts, e.g. ${starts.take(3).map(_.getString("command"))}")
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }
}
