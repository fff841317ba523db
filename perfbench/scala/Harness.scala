package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter,
  NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** JVM side of the benchmark: one workload pass in a fresh JVM.
  *
  * Sets up once (session start, warm-up at the sf0.001 tables, session
  * restart), then times whole passes over the workload's queries, one
  * query after another, until `seconds` have passed. Each query is
  * forced by writing its result to parquet; the first pass's files are
  * what `check.py` compares with the DuckDB oracle after this JVM
  * exits. The start of the timed window goes into the result, so the
  * caller can time set-up from the process launch. With `trace` the timed
  * session writes a Spark event log, every query and probe is labelled
  * with `setJobDescription` and recorded as a span, and after the pass
  * [[Probes]] time direct calls into each layer.
  *
  * Usage: `perfbench.Harness DATA WARM OUT SECONDS TRACE Q1,Q2,...`
  * Writes `OUT/result.json` and `OUT/results/<query>/`. With an empty
  * query list it only sets up, which is how the build trains the JVM's
  * class-data archive.
  */
object Harness {
  final case class Span(label: String, start: Long, end: Long)

  val spans = ArrayBuffer.empty[Span]

  /** Time `body` as a labelled span (wall-clock millis, the clock the
    * Spark event log uses). */
  def span[T](spark: SparkSession, label: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(label)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(label, t0, System.currentTimeMillis())
      spark.sparkContext.setJobDescription(null)
    }
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Largest heap occupancy right after a collection since the last
    * [[HeapPeak.reset]], from the collectors' notifications. These
    * arrive on their own thread, so a collection at the very end of a
    * pass may count toward the next one. */
  object HeapPeak extends NotificationListener {
    private val peak = new AtomicLong(0L)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(this, null, null)
        case _ =>
      }

    def reset(): Unit = peak.set(0L)
    def get: Long = peak.get

    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(after, math.max(_, _))
      }
  }

  private def session(eventLogDir: Option[String]): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    eventLogDir.foreach { d =>
      b.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", new File(d).toURI.toString)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Workload-independent warm-up on the sf0.001 tables: a read of the
    * two tables the workloads query, one shuffle, one parquet write. It
    * pays the JVM's and the session's one-time costs (scheduler, parquet
    * reader and writer, codegen of a first aggregate) outside the timed
    * pass. */
  private def warmUp(spark: SparkSession, warm: String, scratch: String)
      : Unit = {
    noop(spark.read.parquet(s"$warm/embeddings.parquet"))
    noop(spark.range(1L << 20).groupBy((col("id") % 64).as("k")).count())
    spark.read.parquet(s"$warm/documents.parquet")
      .groupBy(col("source")).agg(sum(length(col("text"))).as("n"))
      .write.mode("overwrite").parquet(s"$scratch/warmup")
  }

  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  final case class QueryRun(name: String, buildS: Double, execS: Double,
      cpuS: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(data, warm, out, secondsArg, traceArg, queryArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val queries = queryArg.split(",").toSeq.filter(_.nonEmpty)
    val catalog = SparkEntry.queries
    val unknown = queries.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val scratch = s"$out/scratch"

    // set-up: warm-up session, then the timed session
    val warmSession = session(None)
    warmUp(warmSession, warm, scratch)
    stop(warmSession)
    if (queries.isEmpty) return // class-archive training
    val spark = session(if (trace) Some(s"$out/events") else None)
    HeapPeak.install()
    System.gc() // every run's window starts from a collected heap

    // timed window: whole passes until `seconds` have passed
    val passes = ArrayBuffer.empty[(Double, Double, Long, Seq[QueryRun])]
    val windowStartMs = System.currentTimeMillis()
    val windowStart = System.nanoTime()
    while (passes.isEmpty ||
        (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val first = passes.isEmpty
      HeapPeak.reset()
      val runs = queries.map { q =>
        val fn = catalog(q)
        var built: DataFrame = null
        val c0 = cpuNanos()
        val t0 = System.nanoTime()
        val err = try {
          built = span(spark, s"query:$q:build")(fn(spark, data))
          None
        } catch { case e: Throwable => Some(s"build: $e") }
        val t1 = System.nanoTime()
        val err2 = err.orElse(try {
          span(spark, s"query:$q:exec") {
            val w = built.write.mode("overwrite")
            if (first) w.parquet(s"$out/results/$q")
            else w.format("noop").save()
          }
          None
        } catch { case e: Throwable => Some(s"exec: $e") })
        val t2 = System.nanoTime()
        val cpu = (cpuNanos() - c0) / 1e9
        clearCaches(spark)
        err2.foreach(e => System.err.println(s"[perfbench] $q FAILED: $e"))
        QueryRun(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpu, err2)
      }
      val wall = runs.map(r => r.buildS + r.execS).sum
      passes += ((wall, runs.map(_.cpuS).sum, HeapPeak.get, runs))
    }
    val layers = if (trace) Probes.all(spark, data, scratch) else Nil
    stop(spark)

    val json = new StringBuilder
    json ++= "{\"window_start_ms\":" + windowStartMs.toString
    json ++= ",\"oracle_sql\":" + Json.obj(queries.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(s => q -> Json.str(s))))
    json ++= ",\"passes\":" + Json.arr(passes.map { case (w, c, h, rs) =>
      Json.obj(Seq("wall_s" -> Json.num(w), "cpu_s" -> Json.num(c),
        "heap_peak_mb" -> Json.num(h / 1048576.0),
        "queries" -> Json.obj(rs.map(r => r.name -> Json.obj(Seq(
          "build_s" -> Json.num(r.buildS), "exec_s" -> Json.num(r.execS),
          "cpu_s" -> Json.num(r.cpuS),
          "error" -> r.error.map(Json.str).getOrElse("null")))))))
    })
    json ++= ",\"spans\":" + Json.arr(spans.map(s => Json.obj(Seq(
      "label" -> Json.str(s.label), "start_ms" -> s.start.toString,
      "end_ms" -> s.end.toString))))
    json ++= ",\"layers\":" + Json.obj(layers.map { case (k, v) =>
      k -> Json.num(v) })
    json ++= "}"
    Files.writeString(Paths.get(s"$out/result.json"), json.toString)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
