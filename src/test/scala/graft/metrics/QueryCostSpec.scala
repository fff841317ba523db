package graft.metrics

import java.util.Properties
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.graft.TaskMetricsFixture
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec

class QueryCostSpec extends SparkSpec with Matchers {
  import QueryCost.{Site, Window}

  private val MB = 1L << 20

  private def stage(id: Int, name: String = "map"): StageInfo =
    new StageInfo(id, 0, name, 1, Seq.empty, Seq.empty, "",
      resourceProfileId = 0)

  /** A job in SQL execution `id` whose final (highest-id) stage is
    * named after `site`. */
  private def job(c: QueryCost, id: Int, label: Option[String],
      site: String, start: Long, end: Long, stages: Int*): Unit = {
    val p = new Properties
    label.foreach(p.setProperty("spark.job.description", _))
    p.setProperty("spark.sql.execution.id", id.toString)
    c.onJobStart(SparkListenerJobStart(id, start, stages.map(s =>
      stage(s, if (s == stages.max) site else "map")), p))
    c.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
  }

  private def task(c: QueryCost, stageId: Int,
      m: org.apache.spark.executor.TaskMetrics): Unit =
    c.onTaskEnd(SparkListenerTaskEnd(stageId, 0, "ResultTask", Success,
      null, null, m))

  test("hand-built events: overlaps unioned, unlabelled jobs ignored, " +
      "tasks reach their query through stage -> job") {
    val c = new QueryCost
    val (siteA, siteB) = ("collect at A.scala:1", "save at \"B\".scala:2")
    job(c, 1, Some("qa"), siteA, 1200, 1800, 10, 11)
    // a SQL job takes its execution's call site, not its stage's name
    // (the thread-pool frame adaptive execution submits from)
    c.onOtherEvent(SparkListenerSQLExecutionStart(2L, Some(2L), "qa",
      "org.apache.spark.sql.classic.Dataset.save(Dataset.scala:1500)\n" +
        "graft.B$.run(\"B\".scala:2)", "", null, 0L, Map.empty, Set.empty,
      None))
    job(c, 2, Some("qa"), "$anonfun$withThreadLocalCaptured$2 at " +
      "CompletableFuture.java:1768", 1500, 2500, 12) // overlaps job 1
    c.onOtherEvent(SparkListenerSQLExecutionEnd(2L, 2500L, None))
    job(c, 3, None, "count at C.scala:3", 2600, 2900, 13)
    // ends after qa's window: only its first 300 ms are inside
    job(c, 4, Some("qa"), siteA, 2700, 3200, 10, 14)
    // reuses stage 13, which job 3 (unlabelled) already ran
    job(c, 5, Some("qc"), "show at D.scala:4", 5100, 5400, 13, 15)
    task(c, 10, TaskMetricsFixture(runMs = 100, cpuNs = 50000000L,
      gcMs = 5, inputBytes = MB))
    task(c, 10, TaskMetricsFixture(runMs = 200, cpuNs = 100000000L,
      shuffleWriteBytes = 2 * MB))
    task(c, 12, TaskMetricsFixture(runMs = 300, shuffleReadRecords = 7,
      spillBytes = 3 * MB))
    task(c, 13, TaskMetricsFixture(runMs = 1000))
    task(c, 14, null) // a failed task carries no metrics
    task(c, 14, TaskMetricsFixture(runMs = 400))
    task(c, 15, TaskMetricsFixture(runMs = 50))
    task(c, 99, TaskMetricsFixture(runMs = 7000)) // no known job
    Seq(10, 11, 12, 13, 14, 15).foreach(s =>
      c.onStageCompleted(SparkListenerStageCompleted(stage(s))))

    val Seq(qa, qb, qc) = c.report(Seq(Window("qa", 1000, 3000, false),
      Window("qb", 4000, 4500, true), Window("qc", 5000, 6000, false)))

    (qa.jobs, qa.stages, qa.tasks, qa.shuffleReadRecords) shouldBe
      ((3, 4, 4L, 7L))
    (qa.wallS, qa.executorRunS, qa.gcS, qa.inputMb, qa.shuffleWriteMb,
      qa.spillMb) shouldBe ((2.0, 1.0, 0.005, 1.0, 2.0, 3.0))
    // jobs cover [1200, 2500] ∪ [2700, 3000] = 1600 ms of 2000
    qa.outsideJobsS shouldBe 0.4 +- 1e-9
    qa.executorCpuS shouldBe 0.15 +- 1e-9
    qa.sites shouldBe Seq(Site(siteA, 2, 1.1), Site(siteB, 1, 1.0))

    // zero jobs: the whole window is outside jobs
    (qb.jobs, qb.stages, qb.tasks, qb.failed) shouldBe ((0, 0, 0L, true))
    qb.outsideJobsS shouldBe 0.5

    (qc.jobs, qc.stages, qc.tasks, qc.executorRunS) shouldBe
      ((1, 1, 1L, 0.05))
    qc.outsideJobsS shouldBe 0.7 +- 1e-9

    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(qa.json)
    tree.fieldNames.asScala.toSeq shouldBe Seq("query", "failed", "wall_s",
      "jobs", "stages", "tasks", "outside_jobs_s", "executor_run_s",
      "executor_cpu_s", "gc_s", "input_mb", "shuffle_write_mb",
      "shuffle_read_records", "spill_mb", "sites")
    tree.get("sites").get(1).get("site").asText shouldBe siteB
    tree.get("tasks").asLong shouldBe 4L
    QueryCost.shortSite("no frames here") shouldBe None
  }

  test("interval union: nested, touching and disjoint intervals") {
    QueryCost.unionMs(Seq((0L, 10L), (2L, 5L), (10L, 12L), (20L, 25L),
      (30L, 30L), (40L, 35L))) shouldBe 17L
  }

  test("live: labelled actions on the shared session are reported") {
    val sc = spark.sparkContext
    val c = new QueryCost
    sc.addSparkListener(c)
    try {
      def labelled(q: String)(body: => Unit): Window = {
        sc.setJobDescription(q)
        val t0 = System.currentTimeMillis()
        try body finally sc.setJobDescription(null)
        Window(q, t0, System.currentTimeMillis(), failed = false)
      }
      val a = labelled("query_cost_live_a")(spark.range(1000).count())
      val b = labelled("query_cost_live_b")(
        spark.range(1000).repartition(2).collect())
      // the bus delivers in order: once the fence's job has ended,
      // every earlier event has reached the listener
      val fence = labelled("query_cost_live_fence")(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((c.openJobs > 0 || c.report(Seq(fence)).head.jobs == 0) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val rows = c.report(Seq(a, b))
      rows.foreach { r =>
        withClue(r.json) {
          r.jobs should be >= 1
          r.stages should be >= 1
          r.tasks should be >= 1L
          r.outsideJobsS should (be >= 0.0 and be <= r.wallS)
          r.sites.map(_.site).foreach(_ should include("QueryCostSpec.scala"))
          r.sites.map(_.jobs).sum shouldBe r.jobs
        }
      }
      rows(1).shuffleReadRecords shouldBe 1000L
    } finally sc.removeSparkListener(c)
  }
}
