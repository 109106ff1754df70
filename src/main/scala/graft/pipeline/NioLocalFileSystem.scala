package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` FileSystem of [[TableIO]]: Hadoop's `LocalFileSystem`
  * (checksum sidecars included) over a raw store that sets permissions
  * without starting a process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod`
  * through `Shell` for every file and directory it creates, `.crc`
  * sidecars included: 52 process launches per 8-bucket table write,
  * 3–10 ms each on a 4-core box. Here the nine rwx bits go through
  * `java.nio` (one chmod(2)). Hadoop still decides which bits to set;
  * only the way they are set changes. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with a process-free `setPermission`. It keeps
    * Hadoop's own path (native chmod or the `chmod` command) when
    * libhadoop is loaded, when the permission or the target carries a
    * setuid, setgid or sticky bit (java.nio sets only the nine rwx
    * bits, and `chmod` keeps a directory's setgid bit), and on a store
    * without POSIX attributes. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      def plain: Boolean =
        try (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0
        catch { case _: UnsupportedOperationException => false }
      if (NativeIO.isAvailable || permission.getStickyBit || !plain)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f, rwx(permission.toShort))
    }
  }

  /** setuid, setgid and sticky: octal 7000. */
  private val SpecialBits = 0xe00

  /** The nine rwx bits of `mode` (`PosixFilePermission` lists them from
    * owner read, bit 8, down to others execute, bit 0). */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (b <- PosixFilePermission.values if (mode & (0x100 >> b.ordinal)) != 0) s.add(b)
    s
  }

  /** Hadoop conf entries that resolve `file:` to this class and bind no
    * other scheme. As `DataFrameWriter` options they reach the write
    * job's Hadoop conf only: Spark copies writer options into the job's
    * conf, which reaches the committer's job set-up and commit and the
    * tasks' file writers. The cache is off for `file:` in that conf, so
    * no JVM-wide `FileSystem` cache entry is read or replaced. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
