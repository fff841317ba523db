package graft.metrics

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Per-query cost from inside the JVM: a listener that keeps every job
  * whose `spark.job.description` (the query name its runner set) is
  * non-empty and sums its stages and tasks. [[report]] folds each
  * query's jobs into one [[QueryCost.Row]] with the fields and
  * definitions of perfbench's per-query row: a stage counts when it
  * completes and a task when it ends with metrics, both for the first
  * job that listed the stage; `outside_jobs_s` is the query's wall time
  * minus the UNION of its job intervals, so overlapping jobs are never
  * counted twice. `sites` groups the same jobs by short call site
  * (`collect at TableLog.scala:1699`); a SQL job takes its execution's,
  * as its stage is named after a thread-pool frame whenever adaptive
  * execution or a broadcast submitted it. Read the report after
  * `SparkContext.stop()`, which drains the listener bus. */
final class QueryCost extends SparkListener {
  import QueryCost._

  private final class Job(val label: String, val site: String,
      val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0L
    var runMs, cpuNs, gcMs, inputB, shuffleWriteB, shuffleReadRecords,
      spillB = 0L
  }

  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** Call site of each running SQL execution. */
  private val executionSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      shortSite(s.details).foreach(executionSite(s.executionId) = _)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      executionSite.remove(s.executionId)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.nonEmpty).foreach { label =>
        val site = props
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => executionSite.get(id.toLong))
          // else the scheduler's: it names a job's final (highest-id)
          // stage after the job's short call site
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        jobs(e.jobId) = new Job(label, site.getOrElse(""), e.time)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def jobOfStage(stageId: Int): Option[Job] =
    stageJob.get(stageId).flatMap(jobs.get)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { jobOfStage(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) jobOfStage(e.stageId).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inputB += m.inputMetrics.bytesRead
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      j.spillB += m.diskBytesSpilled
    }
  }

  /** Labelled jobs that have started but whose end has not arrived. */
  private[metrics] def openJobs: Int = synchronized(jobs.values.count(_.end < 0))

  /** One row per window, in order; a job whose end never arrived
    * counts as zero length. */
  def report(windows: Seq[Window]): Seq[Row] = synchronized {
    val byLabel = jobs.values.groupBy(_.label)
    windows.map { w =>
      val js = byLabel.getOrElse(w.query, Nil).toSeq
      def endOf(j: Job) = math.max(j.start, j.end)
      val inJobsMs = unionMs(js.map(j =>
        (math.max(w.startMs, j.start), math.min(w.endMs, endOf(j)))))
      val wallMs = w.endMs - w.startMs
      val sites = js.groupBy(_.site).toSeq.map { case (site, sj) =>
        Site(site, sj.size, sj.map(j => endOf(j) - j.start).sum / 1e3)
      }.sortBy(s => (-s.jobWallS, s.site))
      Row(w.query, w.failed, wallMs / 1e3, js.size, js.map(_.stages).sum,
        js.map(_.tasks).sum, (wallMs - inJobsMs) / 1e3,
        js.map(_.runMs).sum / 1e3, js.map(_.cpuNs).sum / 1e9,
        js.map(_.gcMs).sum / 1e3, js.map(_.inputB).sum / MB,
        js.map(_.shuffleWriteB).sum / MB, js.map(_.shuffleReadRecords).sum,
        js.map(_.spillB).sum / MB, sites)
    }
  }
}

object QueryCost {
  private val MB = 1048576.0

  /** A query's run, in epoch ms like Spark's job events. */
  final case class Window(query: String, startMs: Long, endMs: Long,
      failed: Boolean)

  final case class Site(site: String, jobs: Int, jobWallS: Double)

  final case class Row(query: String, failed: Boolean, wallS: Double,
      jobs: Int, stages: Int, tasks: Long, outsideJobsS: Double,
      executorRunS: Double, executorCpuS: Double, gcS: Double,
      inputMb: Double, shuffleWriteMb: Double, shuffleReadRecords: Long,
      spillMb: Double, sites: Seq[Site]) {

    /** One JSON object, keys in perfbench's per-query order. */
    def json: String = compact(render(
      ("query" -> query) ~ ("failed" -> failed) ~ ("wall_s" -> wallS) ~
        ("jobs" -> jobs) ~ ("stages" -> stages) ~ ("tasks" -> tasks) ~
        ("outside_jobs_s" -> outsideJobsS) ~
        ("executor_run_s" -> executorRunS) ~
        ("executor_cpu_s" -> executorCpuS) ~ ("gc_s" -> gcS) ~
        ("input_mb" -> inputMb) ~ ("shuffle_write_mb" -> shuffleWriteMb) ~
        ("shuffle_read_records" -> shuffleReadRecords) ~
        ("spill_mb" -> spillMb) ~
        ("sites" -> sites.map(s => ("site" -> s.site) ~ ("jobs" -> s.jobs) ~
          ("job_wall_s" -> s.jobWallS)))))
  }

  /** Length of the union of intervals; empty and inverted ones (a job
    * wholly outside the window) add nothing. */
  private[metrics] def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  private val Frame = """.*\.([^.(]+)\(([^)]*)\)""".r

  /** `count at X.scala:12` from a call site's long form, whose first
    * two lines are the last Spark frame and the first user frame. */
  private[metrics] def shortSite(longForm: String): Option[String] =
    Option(longForm).toList.flatMap(_.linesIterator.take(2)) match {
      case List(Frame(method, _), Frame(_, where)) =>
        Some(s"$method at $where")
      case _ => None
    }
}
