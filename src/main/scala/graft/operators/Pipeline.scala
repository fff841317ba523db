package graft.operators

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.Column
import org.slf4j.LoggerFactory

/** Ordered, named, logged stage pipeline — the reference's
  * FilterPipeline (DPF/pipelines/filter_pipeline.py:29-165) over an
  * immutable fold instead of shared-mutable processor state.
  *
  * Differences kept deliberately (SURVEY.md §7.4 risk 5): stages log
  * their outcome, not their row counts, because a count forces a job
  * per stage; error policy is per-stage stop/continue like the
  * reference (`filter_pipeline.py:149-165`).
  */
object Pipeline {

  sealed trait OnError
  case object StopOnError extends OnError
  case object ContinueOnError extends OnError

  /** One stage: a named Processor→Processor op with error policy and
    * the reference's skip-if-columns-exist idempotency check
    * (pipeline_stages.py:90-101). */
  final case class Stage(
      name: String,
      op: Processor => Processor,
      onError: OnError = StopOnError,
      skipIfColumnsExist: Seq[String] = Nil)

  // ---- stage constructors mirroring pipelines/pipeline_stages.py ----

  def dataFilterStage(f: DataFilter,
      onError: OnError = StopOnError): Stage =
    Stage(f.name, _.applyDataFilter(f), onError,
      skipIfColumnsExist = f.resultSchema.fields.map(_.name).toSeq)

  def columnFilterStage(f: ColumnFilter,
      onError: OnError = StopOnError): Stage =
    Stage(f.name, _.applyColumnFilter(f), onError,
      skipIfColumnsExist = f.resultColumns.map(_._1))

  def dedupStage(cols: Seq[String]): Stage =
    Stage(s"dedup(${cols.mkString(",")})", _.dedup(cols))

  def shuffleStage(seed: Long): Stage =
    Stage(s"shuffle($seed)", _.shuffle(seed))

  def filterStage(name: String, cond: Column): Stage =
    Stage(name, _.filterRows(cond))

  def transformStage(name: String,
      f: Processor => Processor): Stage = Stage(name, f)

  final case class Result(processor: Processor,
      ran: Seq[String], skipped: Seq[String], failed: Seq[(String, Throwable)])

  private val log = LoggerFactory.getLogger(getClass)

  /** Fold the stages over the processor (filter_pipeline.py:149-165). */
  def run(p: Processor, stages: Seq[Stage]): Result = {
    var cur = p
    val ran = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    val failed = Seq.newBuilder[(String, Throwable)]
    val it = stages.iterator
    var stopped = false
    while (it.hasNext && !stopped) {
      val s = it.next()
      val canSkip = s.skipIfColumnsExist.nonEmpty &&
        s.skipIfColumnsExist.forall(cur.columns.contains)
      if (canSkip) {
        log.info(s"pipeline stage ${s.name}: skipped (columns exist)")
        skipped += s.name
      } else Try(s.op(cur)) match {
        case Success(next) =>
          log.info(s"pipeline stage ${s.name}: ok")
          cur = next
          ran += s.name
        case Failure(e) =>
          log.warn(s"pipeline stage ${s.name} failed: $e")
          failed += s.name -> e
          if (s.onError == StopOnError) stopped = true
      }
    }
    Result(cur, ran.result(), skipped.result(), failed.result())
  }
}
