package graft.sources

import java.io.IOException
import java.nio.file.{FileAlreadyExistsException, Files, LinkOption,
  StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileUtil, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
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
  * an existing destination FILE is refused, never replaced. The raw
  * filesystem makes that refusal atomic and adds an atomic replace
  * (see [[NioLocalFileSystem.Raw]]). */
class NioLocalFileSystem(raw: NioLocalFileSystem.Raw)
    extends LocalFileSystem(raw) {
  def this() = this(new NioLocalFileSystem.Raw)

  /** `ChecksumFileSystem.rename`, except that a file's `.crc` follows
    * it by atomic replace. Once the data file's exclusive rename has
    * won, a `.crc` already at the destination has no data file of its
    * own (a crash between the two deletes of `delete` leaves one), so
    * it is replaced, as the stock raw rename did, instead of failing
    * the rename and leaving a stale checksum next to the new data. */
  override def rename(src: Path, dst: Path): Boolean =
    if (raw.isDirectory(src)) raw.rename(src, dst)
    else {
      val to = if (raw.isDirectory(dst)) new Path(dst, src.getName) else dst
      raw.rename(src, to) && {
        val (srcCrc, dstCrc) = (getChecksumFile(src), getChecksumFile(to))
        if (raw.exists(srcCrc)) {
          FileUtil.rename(raw, srcCrc, dstCrc, Options.Rename.OVERWRITE)
          true
        } else !raw.exists(dstCrc) || raw.delete(dstCrc, true)
      }
    }
}

object NioLocalFileSystem {

  /** setuid | setgid | sticky (octal 7000). */
  private val SpecialBits = 0xe00

  /** Stock raw local filesystem whose `setPermission` skips the fork
    * and whose renames are the two publishes a table log needs.
    *
    * NIO carries only the nine rwx bits, so whenever a special bit is
    * in play — a sticky bit asked for, or setuid/setgid/sticky already
    * on the path (`chmod 0755` keeps a directory's setgid bit;
    * `chmod(2)` would clear it) — the stock `setPermission` runs
    * instead. */
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

    /** A regular file onto a non-directory moves ATOMIC-EXCLUSIVELY:
      * `link(2)` the destination, then unlink the source. An existing
      * destination fails the link, so it is refused (`false`), never
      * replaced, and of two racers onto one name exactly one wins — a
      * POSIX `rename(2)` would let the second silently replace the
      * first. Directories, a directory destination (move into it) and
      * moves `link(2)` cannot make, such as across devices, take the
      * stock path behind a refuse-if-exists check. */
    override def rename(src: Path, dst: Path): Boolean = {
      val s = pathToFile(src).toPath
      val d = pathToFile(dst).toPath
      val linked: Option[Boolean] =
        if (!Files.isRegularFile(s, LinkOption.NOFOLLOW_LINKS) ||
            Files.isDirectory(d)) None
        else try { Files.createLink(d, s); Some(true) } catch {
          case _: FileAlreadyExistsException => Some(false)
          case _: IOException => None
        }
      linked match {
        case Some(won) =>
          if (won) Files.delete(s)
          won
        case None => !Files.isRegularFile(d) && super.rename(src, dst)
      }
    }

    /** `OVERWRITE` of a regular file onto a non-directory is one
      * `rename(2)`: an ATOMIC REPLACE, so a reader sees the old file or
      * the new one and never a missing one. The stock method deletes
      * the destination first and then renames; it still serves every
      * other case. */
    override protected def rename(src: Path, dst: Path,
        options: Options.Rename*): Unit = {
      val s = pathToFile(src).toPath
      val d = pathToFile(dst).toPath
      if (options.contains(Options.Rename.OVERWRITE) &&
          Files.isRegularFile(s, LinkOption.NOFOLLOW_LINKS) &&
          !Files.isDirectory(d))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      else super.rename(src, dst, options: _*)
    }
  }
}
