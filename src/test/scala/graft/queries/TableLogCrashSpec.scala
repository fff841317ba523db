package graft.queries

import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.FaultFileSystem

/** The crash matrix of TableLog's write paths. Each case runs one
  * operation on a copy of a small table once to count its N mutating
  * filesystem calls, then once per k in 1..N on a fresh copy, with
  * [[FaultFileSystem]] crashing the k-th call and every later one.
  * After each crash a new session must read exactly the before-state
  * or the after-state (content hash, schema, constraints, vacuum
  * watermark), every retained version's files must still exist, and
  * retrying the operation must converge to the after-state. */
class TableLogCrashSpec extends SparkSpec {
  import spark.implicits._

  /** Crash points run this many at a time, each on its own table copy. */
  private val Workers = 4

  private val faultKeys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
  private var saved: Seq[Option[String]] = Nil
  private var savedPartitions = ""
  private lazy val root = Files.createTempDirectory("tl-crash")
  /** The session that reads each state: it never ran an operation. */
  private lazy val reader: SparkSession = spark.newSession()

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conf = spark.sparkContext.hadoopConfiguration
    saved = faultKeys.map(k => Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[FaultFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    // one-task shuffles: the tables are tiny and each k reruns the op
    savedPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    // every injected crash fails a Spark job; keep its trace off the log
    spark.sparkContext.setLogLevel("OFF")
  }

  override def afterAll(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    faultKeys.zip(saved).foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    spark.conf.set("spark.sql.shuffle.partitions", savedPartitions)
    spark.sparkContext.setLogLevel("WARN")
    Files.walk(root).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    super.afterAll()
  }

  /** What [[reader]] reads: None before v0, else the head's rows
    * (by content hash), its schema, the constraints and the
    * watermark. Also checks that every retained version's files are
    * on disk. */
  private def state(dir: String): Option[(String, Seq[String],
      Seq[(String, String)], Int)] = {
    val s = reader
    val head = TableLog.currentVersion(s, dir)
    if (head < 0) None
    else {
      val earliest = TableLog.earliestVersion(s, dir)
      (earliest to head).foreach { v =>
        TableLog.liveFiles(s, dir, Some(v)).foreach { rel =>
          assert(Files.exists(java.nio.file.Paths.get(s"$dir/$rel")),
            s"v$v's file $rel is gone")
        }
      }
      val df = TableLog.readVersion(s, dir)
      val cols = df.columns.sorted
      val rows = df.select(cols.map(col).toSeq: _*).collect()
        .map(_.toString).sorted.mkString("\n")
      val hash = MessageDigest.getInstance("SHA-256")
        .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Some((hash, df.schema.fields.sortBy(_.name)
        .map(f => s"${f.name}:${f.dataType.simpleString}").toSeq,
        TableLog.constraintsOf(s, dir), earliest))
    }
  }

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator.asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p)),
        StandardCopyOption.COPY_ATTRIBUTES)
    }

  private val copies = new AtomicInteger

  /** A fresh copy of `template` (an empty path for None). */
  private def fresh(template: Option[JPath]): String = {
    val d = root.resolve(s"t${copies.incrementAndGet()}")
    template.fold(())(copyTree(_, d))
    d.toString
  }

  /** A table with checkpoints at v0, v1 and v2 and four versions: a
    * two-file stats-keyed base, an upsert, an append and a delete. */
  private lazy val history: JPath = {
    val d = root.resolve("history").toString
    TableLog.writeBase(spark, (0L until 40L).map(i => (i, s"b$i"))
      .toDF("id", "body").repartitionByRange(2, col("id")), d,
      statsKey = Some("id"))
    TableLog.checkpoint(spark, d)
    TableLog.upsert(spark, d, Seq((5L, "u5")).toDF("id", "body"), "id")
    TableLog.checkpoint(spark, d)
    TableLog.appendOnce(spark, d, Seq((100L, "a100")).toDF("id", "body"),
      "app", 0L)
    TableLog.checkpoint(spark, d)
    TableLog.delete(spark, d, Seq(25L).toDF("id"), "id")
    root.resolve("history")
  }

  /** Run `op` on a fresh copy of `template` for every crash point k,
    * checking each crash's state and the retry's convergence;
    * `settled` adds what only the converged state must match. The
    * points run [[Workers]] at a time, each on its own copy. Returns
    * the number of crash points. */
  private def crashMatrix(template: Option[JPath])(op: String => Unit)(
      retry: String => Unit = op, settled: String => Any = _ => ())
      : Int = {
    val ref = fresh(template)
    val before = state(ref)
    FaultFileSystem.arm(ref, Int.MaxValue)
    val done = Try(op(ref))
    val points = FaultFileSystem.disarm(ref)
    done.get
    val after = state(ref)
    val afterSettled = settled(ref)
    def crashAt(k: Int): Unit = {
      val dir = fresh(template)
      FaultFileSystem.arm(dir, k)
      val outcome = try Try(op(dir)) finally FaultFileSystem.disarm(dir)
      assert(outcome.isSuccess || outcome.failed.get.getMessage != null,
        s"k=$k: the crash surfaced without a message")
      val got = state(dir)
      assert(got == before || got == after,
        s"k=$k: crashed state is neither before nor after: $got")
      retry(dir)
      assert(state(dir) == after, s"k=$k: the retry did not converge")
      assert(settled(dir) == afterSettled,
        s"k=$k: the retry did not converge on ${settled(dir)}")
    }
    val pool = Executors.newFixedThreadPool(Workers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(1 to points)(k => Future(crashAt(k))),
      10.minutes)
    finally pool.shutdown()
    points
  }

  test("writeBase: every crash point leaves no table or the base") {
    val df = (0L until 10L).map(i => (i, s"b$i")).toDF("id", "body")
      .coalesce(1)
    def op(d: String): Unit =
      TableLog.writeBase(spark, df, d, statsKey = Some("id"))
    assert(crashMatrix(None)(op)(
      retry = d => if (TableLog.currentVersion(spark, d) < 0) op(d)) > 5)
  }

  test("upsert and delete: every crash point leaves before or after") {
    assert(crashMatrix(Some(history))(d =>
      TableLog.upsert(spark, d,
        Seq((7L, "u7"), (200L, "n200")).toDF("id", "body"), "id"))() > 5)
    assert(crashMatrix(Some(history))(d =>
      TableLog.delete(spark, d, Seq(30L).toDF("id"), "id"))() > 5)
  }

  test("appendOnce: every crash point leaves before or after, and a " +
      "replay lands the batch once") {
    assert(crashMatrix(Some(history))(d =>
      TableLog.appendOnce(spark, d, Seq((300L, "a300")).toDF("id", "body"),
        "app", 1L))() > 5)
  }

  test("checkpoint: the file, the pointer and the pruning crash " +
      "anywhere and a re-run repairs the pointer") {
    assert(crashMatrix(Some(history))(d => TableLog.checkpoint(spark, d))(
      settled = d => (TableLog.replayCost(spark, d),
        Files.list(java.nio.file.Paths.get(d, "_log")).iterator.asScala
          .map(_.getFileName.toString).filter(_.endsWith(".checkpoint"))
          .toSeq.sorted)) >= 3)
  }

  test("vacuum: no crash point loses a retained version's file") {
    assert(crashMatrix(Some(history))(d =>
      TableLog.vacuum(spark, d, retainVersions = 2))(
      settled = d => TableLog.vacuum(spark, d, retainVersions = 2)) >= 3)
  }

  test("a commit crashed after writing its log temp: a retry plus " +
      "vacuum leaves no temp in _log and reads the after-state") {
    def temps(d: String): Seq[String] =
      Files.list(java.nio.file.Paths.get(d, "_log")).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".tmp")).toSeq
    def upsert(d: String): Unit =
      TableLog.upsert(spark, d, Seq((7L, "u7")).toDF("id", "body"), "id")
    val leftTemps = new AtomicInteger
    assert(crashMatrix(Some(history))(upsert)(
      retry = { d =>
        if (temps(d).nonEmpty) leftTemps.incrementAndGet()
        upsert(d)
        TableLog.vacuum(spark, d, retainVersions = 100)
      },
      settled = temps) > 5)
    assert(leftTemps.get > 0, "no crash point left a temp in _log")
  }

  test("addConstraint: every crash point leaves the old or the new set") {
    def add(d: String): Unit =
      TableLog.addConstraint(spark, d, "id_nonneg", "id >= 0")
    assert(crashMatrix(Some(history))(add)(retry = d =>
      if (!TableLog.constraintsOf(spark, d).exists(_._1 == "id_nonneg"))
        add(d)) >= 3)
  }

  test("an evolving upsert: every crash point, the _schema widen " +
      "included, leaves before or after") {
    assert(crashMatrix(Some(history))(d =>
      TableLog.upsert(spark, d, Seq((8L, "u8", "T")).toDF("id", "body", "tag"),
        "id", allowSchemaEvolution = true))(
      settled = d => TableLog.loggedSchema(spark, d).fieldNames.toSeq) > 5)
  }
}
