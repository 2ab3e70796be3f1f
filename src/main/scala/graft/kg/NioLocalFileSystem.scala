package graft.kg

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that sets permissions with syscalls (a stat and
  * a chmod(2)). Without the native Hadoop library, the stock
  * `setPermission` forks a `chmod` process for every directory and file
  * a write creates (about 300 per 10k-file KG build). This leaves the
  * same mode bits. It falls back to the stock path for what
  * `PosixFilePermission` cannot express: the sticky bit, and a directory
  * whose setuid/setgid bits chmod(1) keeps (chmod(2) with 9 bits would
  * clear them). It also falls back on a filesystem with no unix view.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val bySyscall = !permission.getStickyBit && (try {
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      (mode & S_IFMT) != S_IFDIR || (mode & SetIdBits) == 0
    } catch { case _: UnsupportedOperationException => false })
    if (bySyscall) Files.setPosixFilePermissions(path, posix(permission.toShort))
    else super.setPermission(p, permission)
  }
}

object NioRawLocalFileSystem {
  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val SetIdBits = 0xc00 // 06000

  /** Owner rwx, group rwx, others rwx: bit 8 down to bit 0. */
  private val ByBit = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  def posix(mode: Int): java.util.Set[PosixFilePermission] =
    ByBit.zipWithIndex.collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }.toSet.asJava
}

/** The checksummed `file:` filesystem over [[NioRawLocalFileSystem]], so
  * `.crc` files are still written. Picked per write by
  * `TableIO.LocalSinkOptions`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
