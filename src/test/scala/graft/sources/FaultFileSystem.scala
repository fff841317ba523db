package graft.sources

import java.io.{IOException, RandomAccessFile}
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A [[NioLocalFileSystem]] that simulates a process crash. Once
  * [[FaultFileSystem.arm]]ed on a directory it counts every mutating
  * call on a path under that directory (create, close of a created
  * stream, both renames, delete, a mkdirs that creates a directory)
  * and, from the k-th call on, every such call throws: nothing the
  * "dead" process would have done after the crash reaches the disk,
  * cleanup included. A crash at a close also drops the bytes written,
  * as an unflushed buffer would.
  *
  * The calls are counted on the raw filesystem, so a caller that
  * bypasses the checksum layer is counted too, and the counter is
  * JVM-wide, so Spark tasks in a local session count as well. Install
  * it with `fs.file.impl` plus `fs.file.impl.disable.cache=true`. */
class FaultFileSystem extends NioLocalFileSystem(new FaultFileSystem.Raw)

object FaultFileSystem {
  private final class Armed(val failAt: Int) {
    val calls = new AtomicInteger
  }
  private val armed = new ConcurrentHashMap[String, Armed]()

  final class Crash(msg: String) extends IOException(msg)

  private def rootOf(dir: String): String =
    new Path(dir).toUri.getPath.stripSuffix("/")

  /** Count mutating calls under `dir`; fail the `k`-th and all later.
    * Directories armed at the same time count independently. */
  def arm(dir: String, k: Int): Unit = armed.put(rootOf(dir), new Armed(k))

  /** Stop counting and failing under `dir`; the number of calls seen
    * there since [[arm]]. */
  def disarm(dir: String): Int =
    Option(armed.remove(rootOf(dir))).fold(0)(_.calls.get)

  private def tick(p: Path): Unit = if (!armed.isEmpty) {
    val path = p.toUri.getPath
    armed.entrySet.iterator.asScala.foreach { e =>
      val r = e.getKey
      if (path == r || path.startsWith(r + "/")) {
        val n = e.getValue.calls.incrementAndGet()
        if (n >= e.getValue.failAt)
          throw new Crash(s"injected crash at mutating call $n of $p")
      }
    }
  }

  class Raw extends NioLocalFileSystem.Raw {
    private def counted(p: Path, out: FSDataOutputStream)
        : FSDataOutputStream =
      new FSDataOutputStream(out, null) {
        override def close(): Unit = {
          val crash = try { tick(p); None } catch { case c: Crash => Some(c) }
          super.close()
          crash.foreach { c =>
            val f = new RandomAccessFile(pathToFile(p), "rw")
            try f.setLength(0) finally f.close()
            throw c
          }
        }
      }

    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      tick(f)
      counted(f, super.create(f, overwrite, bufferSize, replication,
        blockSize, progress))
    }

    override def create(f: Path, permission: FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      tick(f)
      counted(f, super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress))
    }

    override def createNonRecursive(f: Path, permission: FsPermission,
        flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      tick(f)
      counted(f, super.createNonRecursive(f, permission, flags, bufferSize,
        replication, blockSize, progress))
    }

    override def createNonRecursive(f: Path, permission: FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      tick(f)
      counted(f, super.createNonRecursive(f, permission, overwrite,
        bufferSize, replication, blockSize, progress))
    }

    override def rename(src: Path, dst: Path): Boolean = {
      tick(src)
      super.rename(src, dst)
    }

    override protected def rename(src: Path, dst: Path,
        options: Options.Rename*): Unit = {
      tick(src)
      super.rename(src, dst, options: _*)
    }

    override def delete(p: Path, recursive: Boolean): Boolean = {
      tick(p)
      super.delete(p, recursive)
    }

    // a mkdirs of an existing directory changes nothing on disk, so a
    // crash there is the crash at the call before it
    override def mkdirs(p: Path): Boolean = {
      if (!pathToFile(p).isDirectory) tick(p)
      super.mkdirs(p)
    }

    override def mkdirs(p: Path, permission: FsPermission): Boolean = {
      if (!pathToFile(p).isDirectory) tick(p)
      super.mkdirs(p, permission)
    }
  }
}
