package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every Hadoop `Configuration` in the JVM,
  * installed through `fs.file.impl` in the bundled `core-site.xml`.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` forks
  * `/bin/chmod` — once per created file, once per `.crc` sibling and
  * once per new directory, each about 7 ms of blocked thread time.
  * Here the same `chmod(2)` runs in-process through NIO. Everything
  * else is the stock `LocalFileSystem`: `.crc` files are written and
  * verified, the umask applies, and modes come out identical.
  *
  * `rename` keeps the rule of Hive's `ProxyLocalFileSystem`, which
  * owned `file://` before (through hive-exec's service-loader entry):
  * an existing destination FILE is refused, never replaced. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

object NioLocalFileSystem {

  /** setuid | setgid | sticky (octal 7000). */
  private val SpecialBits = 0xe00

  /** Stock raw local filesystem whose `setPermission` skips the fork.
    * NIO carries only the nine rwx bits, so whenever a special bit is
    * in play — a sticky bit asked for, or setuid/setgid/sticky already
    * on the path (`chmod 0755` keeps a directory's setgid bit;
    * `chmod(2)` would clear it) — the stock method runs instead. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val current = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      if (permission.getStickyBit || (current & SpecialBits) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString))
    }
  }
}
