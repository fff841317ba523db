package graft.queries

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.file.Files

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry,
  TarArchiveOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.TarChunks

/** Standing layer probes: times the tar source (byte-range splits and
  * within-member chunks), the driver's parquet footer reads, and
  * TableLog log metadata, each on inputs it builds in a temp dir and
  * deletes afterwards. Sizes are fixed at the points NOTES.md records.
  * Prints one JSON line per measurement; each layer's cross-check is
  * a `require`, so a wrong answer fails the run instead of timing it.
  *
  * Usage: `graft.queries.Probe <tar-split|tar-chunks|footer-meta|
  * tablelog-meta|all>`. Runs on `local[$SPARK_GRAFT_CPUS]` (default:
  * the JVM's available processors). Lives in graft.queries for the
  * package-private [[TableLog.commit]] and [[TableLog.footerStats]].
  */
object Probe {
  private val MiB = 1L << 20

  private val layers: Seq[(String, SparkSession => Unit)] = Seq(
    "tar-split" -> tarSplit,
    "tar-chunks" -> tarChunks,
    "footer-meta" -> footerMeta,
    "tablelog-meta" -> tableLogMeta)

  def main(args: Array[String]): Unit = {
    val names = layers.map(_._1)
    require(args.length == 1 && (args(0) == "all" || names.contains(args(0))),
      s"usage: graft.queries.Probe <${names.mkString("|")}|all>, got " +
        args.mkString(" "))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try layers.filter(l => args(0) == "all" || l._1 == args(0))
      .foreach { case (_, run) => run(spark) }
    finally spark.stop()
  }

  /** One JSON line: layer, metric, value, then the sweep point. */
  private def report(layer: String, metric: String, value: Any,
      at: (String, Long)*): Unit = {
    val v = value match {
      case d: Double => f"$d%.6f"
      case other => other.toString
    }
    println((Seq(s""""layer":"$layer"""", s""""metric":"$metric"""",
      s""""value":$v""") ++ at.map { case (k, n) => s""""$k":$n""" })
      .mkString("{", ",", "}"))
  }

  /** Reports mean seconds per run of `body` over `reps` runs (after
    * one untimed warm run when reps > 1); returns the last result. */
  private def time[A](layer: String, metric: String, reps: Int,
      at: (String, Long)*)(body: => A): A = {
    if (reps > 1) body
    val t0 = System.nanoTime()
    var r = body
    (1 until reps).foreach(_ => r = body)
    report(layer, metric, (System.nanoTime() - t0) / 1e9 / reps, at: _*)
    r
  }

  private def withTempDir[A](spark: SparkSession, prefix: String)(
      f: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toString
    try f(dir)
    finally TableLog.fsOf(spark, dir).delete(new Path(dir), true)
  }

  /** Writes a ustar archive; `fill` writes exactly `size` bytes. */
  private def writeTar(file: File,
      members: Iterator[(String, Long, OutputStream => Unit)]): Unit = {
    val tar = new TarArchiveOutputStream(
      new BufferedOutputStream(new FileOutputStream(file), 1 << 20))
    try members.foreach { case (name, size, fill) =>
      val e = new TarArchiveEntry(name)
      e.setSize(size)
      tar.putArchiveEntry(e)
      fill(tar)
      tar.closeArchiveEntry()
    } finally tar.close()
  }

  /** One archive of 20k × 20 KiB members (about 420 MB), read whole
    * and as a pruned listing, unsplit vs 64 MiB byte-range splits. */
  private def tarSplit(spark: SparkSession): Unit =
    withTempDir(spark, "graft-probe-tarsplit") { dir =>
      val members = 20000
      val memberBytes = 20 * 1024
      val path = new File(dir, "split.tar")
      writeTar(path, Iterator.tabulate(members) { i =>
        val body = Array.fill(memberBytes)((i % 251).toByte)
        (f"m$i%05d.bin", memberBytes.toLong,
          (os: OutputStream) => os.write(body))
      })
      def read(split: Boolean) = {
        val r = spark.read.format("tar")
        (if (split) r.option("splitBytes", (64 * MiB).toString)
         else r.option("split", "false")).load(path.getPath)
      }
      for ((pass, sized) <- Seq("full_read" -> length(col("content")),
          "pruned_listing" -> col("size"))) {
        val Seq(unsplit, split) = Seq(false, true).map { s =>
          time("tar-split", s"${if (s) "split" else "unsplit"}_${pass}_s", 1,
              "members" -> members.toLong) {
            read(s).agg(count(lit(1)), sum(sized)).collect()(0)
          }
        }
        require(unsplit == split,
          s"tar-split $pass: unsplit $unsplit != split $split")
      }
    }

  /** One 512 MiB member plus 8 small siblings, read as one whole-member
    * row, through [[TarChunks.chunkedContent]], and inline with
    * `hugeMemberMode=chunks`, all with 64 MiB chunks. */
  private def tarChunks(spark: SparkSession): Unit =
    withTempDir(spark, "graft-probe-tarchunks") { dir =>
      val memberMb = 512
      val chunkBytes = 64 * MiB
      val path = new File(dir, "big.tar").getPath
      val block = new Array[Byte](MiB.toInt)
      val big = ("big.bin", memberMb * MiB, (os: OutputStream) =>
        (0 until memberMb).foreach { i =>
          java.util.Arrays.fill(block, (i % 251).toByte)
          os.write(block)
        })
      val small = (0 until 8).iterator.map { i =>
        val payload = s"small member $i".getBytes
        (s"small$i.txt", payload.length.toLong,
          (os: OutputStream) => os.write(payload))
      }
      writeTar(new File(path), Iterator(big) ++ small)
      val at = "member_mb" -> memberMb.toLong
      val whole = time("tar-chunks", "whole_member_read_s", 1, at) {
        spark.read.format("tar").load(path)
          .select(sum(length(col("content")))).collect()(0).getLong(0)
      }
      val listing = spark.read.format("tar").load(path)
        .select("archive", "member", "size", "offset")
      val chunked = time("tar-chunks", "chunked_read_s", 1, at) {
        TarChunks.chunkedContent(listing, chunkBytes)
          .select(length(col("content")).as("len"),
            spark_partition_id().as("task"))
          .agg(sum(col("len")), countDistinct(col("task")), count(lit(1)))
          .collect()(0)
      }
      report("tar-chunks", "chunked_read_tasks", chunked.getLong(1), at)
      report("tar-chunks", "chunked_read_chunks", chunked.getLong(2), at)
      val inline = time("tar-chunks", "inline_chunks_read_s", 1, at) {
        spark.read.format("tar")
          .option("hugeMemberMode", "chunks")
          .option("chunkBytes", chunkBytes.toString)
          .load(path)
          .select(sum(length(col("content")))).collect()(0).getLong(0)
      }
      require(inline == chunked.getLong(0) && inline == whole,
        s"tar-chunks: inline $inline, chunked ${chunked.getLong(0)} and " +
          s"whole-member $whole bytes must agree")
    }

  /** [[TableLog.footerStats]] over a stats-keyed table of 40 and 400
    * files — the path `writeData` and `compact` pay per commit —
    * against opening the same footers one by one. */
  private def footerMeta(spark: SparkSession): Unit =
    Seq(40, 400).foreach { nFiles =>
      withTempDir(spark, "graft-probe-footer") { out =>
        TableLog.writeBase(spark,
          spark.range(200000).select(col("id").as("doc_id"),
            (col("id") % 5000).as("n_chars")).repartition(nFiles),
          out, statsKey = Some("doc_id"))
        val rels = TableLog.liveFiles(spark, out)
        val at = "files" -> rels.size.toLong
        val st = time("footer-meta", "footer_stats_s", 5, at) {
          TableLog.footerStats(spark, out, rels, "doc_id")
        }
        require(st.exists(_.forall(_.keyRange.isDefined)),
          "footer-meta: the footer fast path refused a stats-keyed table")
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = TableLog.fsOf(spark, out)
        time("footer-meta", "serial_open_s", 1, at) {
          rels.foreach { rel =>
            val r = ParquetFileReader.open(HadoopInputFile.fromPath(
              fs.makeQualified(new Path(s"$out/$rel")), conf))
            try r.getFooter.getBlocks.size finally r.close()
          }
        }
      }
    }

  /** Log metadata as a table accrues 10 to 10⁴ commits of synthetic
    * one-file add/remove manifests, checkpointed every 16 (a steady
    * micro-batch table after compaction): snapshot resolution, replay
    * cost and vacuum must stay flat in the version count. The build
    * also reports its summed commit and checkpoint seconds, which
    * split its growth between the two steps. */
  private def tableLogMeta(spark: SparkSession): Unit = {
    import spark.implicits._
    // untimed: the session's first parquet write would otherwise land
    // in the 10-commit point's build_s
    withTempDir(spark, "graft-probe-tlmeta")(TableLog.writeBase(spark,
      Seq((0L, "warm")).toDF("id", "body"), _))
    Seq(10, 100, 1000, 10000).foreach { n =>
      withTempDir(spark, "graft-probe-tlmeta") { dir =>
        val at = "versions" -> n.toLong
        def rel(v: Int) = f"data/v$v%05d-synth/part-0.parquet"
        var commitNs, checkpointNs = 0L
        def timed(body: => Unit): Long = {
          val t0 = System.nanoTime()
          body
          System.nanoTime() - t0
        }
        time("tablelog-meta", "build_s", 1, at) {
          TableLog.writeBase(spark, Seq((0L, "base")).toDF("id", "body"),
            dir)
          (1 to n).foreach { v =>
            commitNs += timed(TableLog.commit(spark, dir, v,
              adds = Seq(TableLog.AddEntry(rel(v), Some((v.toLong, v.toLong)))),
              removes = Option.when(v > 1)(rel(v - 1)).toSeq,
              txn = Some(s"probe#$v")))
            if (v % 16 == 0)
              checkpointNs += timed(TableLog.checkpoint(spark, dir))
          }
        }
        report("tablelog-meta", "commit_s", commitNs / 1e9, at)
        report("tablelog-meta", "checkpoint_s", checkpointNs / 1e9, at)
        time("tablelog-meta", "current_version_s", 20, at)(
          TableLog.currentVersion(spark, dir))
        time("tablelog-meta", "live_file_stats_s", 20, at)(
          TableLog.liveFileStats(spark, dir))
        report("tablelog-meta", "replay_cost",
          TableLog.replayCost(spark, dir), at)
        // the first vacuum truncates the dead log tail; the second is
        // the steady state
        time("tablelog-meta", "vacuum_first_s", 1, at)(
          TableLog.vacuum(spark, dir))
        time("tablelog-meta", "vacuum_steady_s", 1, at)(
          TableLog.vacuum(spark, dir))
        report("tablelog-meta", "log_files", TableLog.fsOf(spark, dir)
          .listStatus(new Path(dir, "_log")).length, at)
      }
    }
  }
}
