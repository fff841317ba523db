package graft.sources

import java.io.{File, FileOutputStream, RandomAccessFile}
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.core._
import graft.queries.TableLog

class NioLocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private val root = URI.create("file:///")

  private def fresh(umask: String): (LocalFileSystem, LocalFileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val stock = new LocalFileSystem()
    stock.initialize(root, conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(root, conf)
    (stock, nio)
  }

  private def mode(p: String): Int =
    Files.getAttribute(new File(p).toPath, "unix:mode")
      .asInstanceOf[Int] & octal("7777")

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def chmod(spec: String, p: String): Unit =
    assert(new ProcessBuilder("chmod", spec, p).start().waitFor() == 0)

  test("file:/// resolves to NioLocalFileSystem in the session and in " +
      "a fresh Configuration") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        new Configuration())) {
      assert(FileSystem.getFileSystemClass("file", conf) ==
        classOf[NioLocalFileSystem])
      assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    }
  }

  test("parquet writes, shard writes and table commits start no " +
      "process for their files") {
    val dir = Files.createTempDirectory("graft-nio").toFile
    val src = new File(dir, "files")
    (0 until 3).foreach { i =>
      val f = new File(src, s"m/$i.bin")
      f.getParentFile.mkdirs()
      val os = new FileOutputStream(f)
      os.write(Array.fill[Byte](8)(i.toByte)); os.close()
    }
    val csv = new File(src, "data.csv")
    Files.write(csv.toPath, ("image_path,caption" +:
      (0 until 3).map(i => s"m/$i.bin,cap $i")).mkString("\n")
      .getBytes("UTF-8"))

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val pq = s"$dir/pq"
      spark.range(400).repartition(4).write.parquet(pq)
      assert(spark.read.parquet(pq).count() == 400)

      val p = DatasetReader.readFiles(spark,
        DatasetConfig.filesImageText(csv.getAbsolutePath))
      val cfg = ShardWriters.saveToShards(p, s"$dir/shards",
        maxFilesInShard = 2)
      assert(DatasetReader.readShards(spark, cfg).count() == 3)

      val table = s"$dir/table"
      TableLog.writeBase(spark,
        (0L until 50L).map(i => (i, s"v$i")).toDF("id", "body"), table)
      TableLog.upsert(spark, table,
        Seq((3L, "new"), (99L, "add")).toDF("id", "body"), "id")
    } finally rec.stop()
    val jfr = Files.createTempFile("graft-nio", ".jfr")
    rec.dump(jfr)
    rec.close()
    // Spark's own housekeeping (the session artifact cleaner's
    // `rm -rf` of its temp dirs) may fork on another thread meanwhile;
    // nothing may fork for the files written here, and no chmod at all
    val spawned = RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command"))
      .filter(c => c.startsWith("chmod") || c.contains(dir.toString))
    assert(spawned.isEmpty, spawned.take(5))
  }

  test("file and directory modes equal stock RawLocalFileSystem under " +
      "the same umask") {
    for (umask <- Seq("022", "077")) {
      val (stock, nio) = fresh(umask)
      val seen = for (fs <- Seq(stock, nio)) yield {
        val d = Files.createTempDirectory("graft-mode").toString
        val out = fs.create(new Path(s"$d/f.bin"))
        out.write(1); out.close()
        fs.mkdirs(new Path(s"$d/a/b"))
        fs.mkdirs(new Path(s"$d/c"), new FsPermission("750"))
        fs.setPermission(new Path(s"$d/a"), new FsPermission("705"))
        new File(s"$d/g").mkdir()
        chmod("2775", s"$d/g")
        fs.setPermission(new Path(s"$d/g"), new FsPermission("755"))
        Seq("f.bin", ".f.bin.crc", "a", "a/b", "c", "g")
          .map(n => n -> mode(s"$d/$n"))
      }
      assert(seen(0) == seen(1), s"umask $umask")
    }
  }

  test("a sticky-bit directory keeps its t bit") {
    val (stock, nio) = fresh("022")
    val modes = Seq(stock, nio).map { fs =>
      val d = Files.createTempDirectory("graft-sticky").toString
      fs.setPermission(new Path(d), new FsPermission(octal("1777").toShort))
      mode(d)
    }
    assert(modes == Seq(octal("1777"), octal("1777")))
  }

  test(".crc files are written and a flipped data byte fails the read") {
    val (_, nio) = fresh("022")
    val d = Files.createTempDirectory("graft-crc").toString
    val p = new Path(s"$d/data.bin")
    val out = nio.create(p)
    out.write(Array.tabulate[Byte](2048)(_.toByte)); out.close()
    assert(new File(s"$d/.data.bin.crc").isFile)
    val raf = new RandomAccessFile(s"$d/data.bin", "rw")
    try { raf.seek(100); raf.write(~raf.read() & 0xff) }
    finally raf.close()
    val in = nio.open(p)
    try intercept[ChecksumException](in.readFully(new Array[Byte](2048)))
    finally in.close()
  }

  test("rename onto an existing file returns false and keeps both") {
    val (_, nio) = fresh("022")
    val d = Files.createTempDirectory("graft-rename").toString
    def put(n: String, body: String): Path = {
      val p = new Path(s"$d/$n")
      val out = nio.create(p)
      out.write(body.getBytes("UTF-8")); out.close()
      p
    }
    val a = put("a", "first")
    val b = put("b", "second")
    assert(!nio.rename(a, b))
    assert(new String(Files.readAllBytes(new File(s"$d/a").toPath)) ==
      "first")
    assert(new String(Files.readAllBytes(new File(s"$d/b").toPath)) ==
      "second")
    assert(nio.rename(a, new Path(s"$d/c")))
    assert(!new File(s"$d/a").exists && new File(s"$d/c").isFile)
    // a real race: two threads rename distinct temp files onto one
    // name at once; exactly one wins and the name holds its bytes
    val pool = Executors.newFixedThreadPool(2)
    try (0 until 300).foreach { round =>
      val dst = new Path(s"$d/race-$round")
      val racers = Seq("x", "y")
      val start = new CountDownLatch(1)
      val won = racers.map { w =>
        val tmp = put(s"$w-$round", s"$w$round")
        pool.submit(new Callable[Boolean] {
          def call(): Boolean = { start.await(); nio.rename(tmp, dst) }
        })
      }
      start.countDown()
      val wins = won.map(_.get)
      assert(wins.count(identity) == 1, s"round $round: $wins")
      assert(new String(Files.readAllBytes(new File(s"$d/race-$round")
        .toPath)) == racers(wins.indexOf(true)) + round)
    } finally pool.shutdown()
  }

  test("a rename onto a name whose stale .crc outlived its data file " +
      "replaces the .crc and reads back") {
    val (_, nio) = fresh("022")
    val d = Files.createTempDirectory("graft-crc-rename").toString
    def put(n: String, bytes: Array[Byte]): Path = {
      val p = new Path(s"$d/$n")
      val out = nio.create(p)
      out.write(bytes); out.close()
      p
    }
    val stale = Array.fill[Byte](700)(7)
    val body = Array.tabulate[Byte](2048)(_.toByte)
    // what a crash between delete's data unlink and its .crc unlink
    // leaves: dst's checksum without dst
    put("dst", stale)
    assert(new File(s"$d/dst").delete() && new File(s"$d/.dst.crc").isFile)
    val src = put("src", body)
    assert(nio.rename(src, new Path(s"$d/dst")))
    assert(!new File(s"$d/src").exists && !new File(s"$d/.src.crc").exists)
    val in = nio.open(new Path(s"$d/dst"))
    val back = new Array[Byte](body.length)
    try in.readFully(back) finally in.close()
    assert(back.sameElements(body))
  }

  test("the bundled core-site.xml sets fs.file.impl and nothing else") {
    val url = getClass.getClassLoader.getResource("core-site.xml")
    assert(url != null)
    val conf = new Configuration(false)
    conf.addResource(url)
    assert(conf.iterator.asScala.map(_.getKey).toSeq == Seq("fs.file.impl"))
    assert(conf.get("fs.file.impl") == classOf[NioLocalFileSystem].getName)
  }
}
