package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental MATERIALIZED AGGREGATE maintenance over the
  * [[TableLog]] tier: a grouped sum/count view of a versioned source
  * table, kept current by reading only the source's CHANGES since the
  * last maintenance — the classic incremental-view-maintenance move
  * (abelian aggregates absorb a retraction feed), applied to the
  * lakehouse change feed this engine already derives from file diffs.
  *
  * Why this exists at 100 TB: a curation pipeline keeps running
  * aggregates over a mutating corpus (per-source token budgets,
  * per-language quality tallies, dedup-cluster sizes). Recomputing a
  * full groupBy after every MERGE re-scans the corpus; maintaining it
  * from [[TableLog.changesBetween]] touches only the CHURNED files of
  * the source and upserts only the TOUCHED groups of the view — both
  * sides of the work track the delta, not the data.
  *
  * Mechanics per maintain:
  *  1. expanded change feed (`update_preimage`/`update_postimage`, the
  *     public Delta-CDF shape) between the last maintained source
  *     version and its head — an update retracts its pre-image and
  *     applies its post-image, so updates that MOVE a row across
  *     groups adjust both groups;
  *  2. per-group deltas: `Δn = Σ sign`, `Δsum_c = Σ sign·c` — one
  *     shuffle of the change rows, grouped by the view dims;
  *  3. upsert of touched groups only (`new = old + Δ`), keyed on
  *     `gid = xxhash64(to_json(struct(dims)))` — an integral merge
  *     key, so the view's own COW touch-scan prunes by manifest
  *     stats; groups whose count reaches zero DIE in that same
  *     stamped commit (their keys drive the touch-scan but no
  *     replacement row is written — MERGE's delete arm);
  *  4. exactly-once: the upsert carries txn stamp `mv#<srcVersion>`
  *     in the view's own log — a crashed/replayed maintain is a
  *     no-op, and the resume point is [[TableLog.txnHighWater]], so
  *     there is no side-channel watermark file to desync.
  *
  * Contracts: one (source → view) binding per view dir (the recorded
  * `_mv_spec` refuses drift); the source obeys the MERGE unique-key
  * contract; source versions must not be vacuumed faster than the
  * maintenance cadence (a too-old `fromV` fails loudly — rebuild the
  * view). Cost tracks the CHURN — and a source compaction IS churn
  * (every row pre+post, netting to zero): schedule maintains before
  * compactions where possible; either way the metadata-only stamp
  * ensures a compaction window is paid at most once. Group-id collisions are 64-bit-hash rare; the dims
  * themselves are stored in the view, so a collision is detectable.
  * This maintainer never commits `n_rows = 0` rows (deaths fold into
  * the stamped commit), but a view touched by an OLDER maintainer —
  * or a foreign writer — may hold such residue: [[readView]] filters
  * it and the next maintain sweeps it.
  */
object MaterializedAgg {

  /** What a maintain did: `mode` ∈ full | incremental | empty |
    * noop (`empty` = the window's changes netted to zero, the stamp
    * advanced with a metadata-only commit); `srcFrom`/`srcTo` the
    * source-version window applied; `groupsTouched` how many view
    * groups this maintain rewrote (0 for noop/empty; = groupsTotal
    * for full); `groupsTotal` live groups after the maintain — `-1`
    * on the noop and empty paths, which deliberately scan NOTHING
    * beyond the delta (they are the steady-state per-micro-batch
    * paths of a streaming maintainer). */
  case class MaintainStats(mode: String, srcFrom: Int, srcTo: Int,
      groupsTouched: Long, groupsTotal: Long)

  private val App = "mv"

  private def gidCol(dims: Seq[String]): Column =
    xxhash64(to_json(struct(dims.map(col): _*)))

  private def specString(srcKey: String, dims: Seq[String],
      measures: Seq[String]): String =
    s"key=$srcKey\tdims=${dims.mkString(",")}\t" +
      s"sums=${measures.mkString(",")}"

  /** The view relation for consumers: live groups only (tombstones a
    * crashed maintain may have left behind are filtered; the next
    * maintain sweeps them). */
  def readView(spark: SparkSession, viewDir: String): DataFrame =
    TableLog.readVersion(spark, viewDir).filter(col("n_rows") > 0)

  /** Bring `viewDir` current with `srcDir`'s head version. The view
    * holds one row per distinct `dims` tuple: the dims, `gid`,
    * `n_rows`, and `sum_<c>` for every measure column (exact for
    * integral measures; floating measures accumulate the usual
    * addition drift and suit monitoring, not oracles). Idempotent
    * per source version; call after every source commit or on any
    * cadence. */
  def maintain(spark: SparkSession, srcDir: String, srcKey: String,
      viewDir: String, dims: Seq[String], measures: Seq[String],
      checkpointEvery: Int = 16,
      compactAboveFiles: Int = 64): MaintainStats = {
    require(dims.nonEmpty, "MaterializedAgg: no dims")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val head = TableLog.currentVersion(spark, srcDir)
    require(head >= 0, s"MaterializedAgg: no source table at $srcDir")
    val sums = measures.map(c => sum(col(c)).as(s"sum_$c"))
    val fs = TableLog.fsOf(spark, viewDir)
    val specPath = new Path(TableLog.logDir(viewDir), "_mv_spec")
    val spec = specString(srcKey, dims, measures)

    if (TableLog.currentVersion(spark, viewDir) < 0) {
      // FULL BUILD: one grouped pass over the source AT the stamped
      // version (an unpinned read could aggregate a concurrent
      // commit's rows that the next maintain would then re-apply).
      // The spec lands FIRST (exclusive-unless-identical, so a
      // crashed retry passes): a crash after writeBase but before
      // the spec would otherwise brick every later maintain on a
      // perfectly valid view.
      fs.mkdirs(TableLog.logDir(viewDir))
      TableLog.writeMetaExclusive(fs, specPath, spec)
      val full = TableLog.readVersion(spark, srcDir, Some(head))
        .groupBy(dims.map(col): _*)
        .agg(count(lit(1)).as("n_rows"), sums: _*)
        .withColumn("gid", gidCol(dims))
      TableLog.writeBase(spark, full, viewDir,
        statsKey = Some("gid"), txn = Some(s"$App#$head"))
      // a fresh base has no tombstones (every group aggregates ≥ 1
      // source row), so the group total IS the just-written row
      // total — from the footers, no read-back job (round-9)
      val total = TableLog.liveRowsAndMin(spark, viewDir, "n_rows")
        .map(_._1)
        .getOrElse(readView(spark, viewDir).count())
      return MaintainStats("full", -1, head, total, total)
    }

    // spec drift is silent corruption — refuse it loudly
    require(TableLog.readLogFile(fs, specPath).exists(_.trim == spec),
      s"MaterializedAgg: $viewDir was built with a different view " +
        "spec — rebuild into a fresh dir instead of diverging")
    val last = TableLog.txnHighWater(spark, viewDir, App).getOrElse(
      throw new IllegalStateException(
        s"MaterializedAgg: $viewDir has no maintenance stamp — not " +
          "a maintained view")).toInt
    // the noop path scans NOTHING: it runs once per micro-batch in a
    // streaming maintainer, where a per-call view count would defeat
    // "the work tracks the delta"
    if (head <= last)
      return MaintainStats("noop", last, last, 0, -1L)

    // INCREMENTAL: deltas from the SIGNED change feed — the churn is
    // read once, pruned to exactly dims+measures (the keyed CDF must
    // hash every column), map-side partial aggregation folds it, and
    // the only shuffle carries group-sized deltas. Aggregating signed
    // images is algebraically the expanded-CDF fold: insert = +post,
    // delete = −pre, update = −pre +post, carried row = both images
    // cancelling.
    val changes = TableLog.signedChanges(spark, srcDir, last, head)
      .select((dims ++ measures).map(col) :+ col("_sign"): _*)
    val deltas0 = changes
      .groupBy(dims.map(col): _*)
      .agg(sum(col("_sign")).as("_dn"),
        measures.map(c =>
          sum(col(c) * col("_sign")).as(s"_d_$c")): _*)
    // groups whose deltas ALL net to zero are untouched by the window
    // (carried/compacted rows emit both images): folding them would
    // rewrite view groups onto their own values, so a compaction-only
    // window would rewrite the WHOLE view instead of committing the
    // metadata-only "empty" stamp. Dropping them keeps touched =
    // genuinely-changed groups, as the keyed feed's row-level
    // cancellation did.
    val nonZero = measures.map(c =>
        col(s"_d_$c").isNotNull && col(s"_d_$c") =!= 0)
      .foldLeft(col("_dn") =!= 0)(_ || _)
    val deltas = deltas0.filter(nonZero).withColumn("gid", gidCol(dims))
    // old values for the touched groups; the view is group-sized, so
    // this scan is the small side of the work by construction
    val view = TableLog.readVersion(spark, viewDir)
    val joined = deltas.as("d").join(view.as("v"),
      col("d.gid") === col("v.gid"), "left")
    val newRows = joined.select(
      dims.map(c => col(s"d.$c")) ++
      Seq(col("d.gid").as("gid"),
        (coalesce(col("v.n_rows"), lit(0L)) + col("d._dn"))
          .as("n_rows")) ++
      measures.map(c =>
        (coalesce(col(s"v.sum_$c"), lit(0)) + col(s"d._d_$c"))
          .as(s"sum_$c")): _*)
      .persist()
    try {
      // ONE bounded pass over the (persisted, group-sized) delta
      // frame: while the touched-group count fits the IN-filter
      // bound — the steady state; a maintain's churn is group-sized
      // by construction — the pass COLLECTS (gid, n_rows) outright,
      // so the touched count, the divergence check (a negative count
      // means the change feed and the view diverged — foreign
      // writer, vacuumed window, duplicate source keys — corruption
      // to refuse, never to commit), and THIS maintain's tombstone
      // count all fall out locally AND the gids in hand feed the
      // view's upsert below as its key hint (`upsertKnownKeys`; it
      // skips its own distinct-collect job — round-9, guide §2 fixed
      // costs). An oversized delta falls back to the aggregate-only
      // job and unhinted mutations.
      val sample = graft.operators.DriverGate.collectAtMost(
        newRows.select(col("gid"), col("n_rows")), TableLog.InFilterMaxKeys)
      val (touched, neg, deadNow, gidHint) = sample match {
        case Some(rows) =>
          (rows.length.toLong,
            rows.count(_.getLong(1) < 0L).toLong,
            rows.count(_.getLong(1) == 0L).toLong,
            Some(rows.map(_.getLong(0))))
        case None =>
          val pre = newRows.agg(count(lit(1)).as("t"),
            count(when(col("n_rows") < 0, 1)).as("neg"),
            count(when(col("n_rows") === 0, 1)).as("dead")).head
          (pre.getLong(0), pre.getLong(1), pre.getLong(2), None)
      }
      require(neg == 0,
        s"MaterializedAgg: negative group count maintaining $viewDir " +
          s"from $srcDir v$last→v$head — view and change feed " +
          "diverged; rebuild the view")
      if (touched == 0) {
        // a window whose changes net to nothing (a compaction-only
        // window): advance the stamp with a METADATA-ONLY commit, or
        // every later maintain would re-read this window forever.
        // The checkpoint cadence still applies — a maintainer over a
        // source that only ever compacts must not grow the view's
        // log without bound.
        TableLog.commitRebased(spark, viewDir,
          TableLog.currentVersion(spark, viewDir) + 1, adds = Nil,
          removes = Nil, keyed = false, batchKeys = None,
          txn = Some(s"$App#$head"), maxRebases = 2)
        if (TableLog.currentVersion(spark, viewDir) %
            checkpointEvery == 0)
          TableLog.checkpoint(spark, viewDir)
        return MaintainStats("empty", last, head, 0, -1L)
      }
      // touched groups land in ONE stamped version; groups whose
      // count reached zero DIE in that same commit — their gids still
      // drive the touch-scan (resident rows are rewritten away) but
      // no tombstone row lands (`dropBatchWhere`), so the old
      // commit-tombstones-then-sweep version pair collapses into the
      // single stamped commit (round-9: one fewer mutation's worth of
      // jobs per maintain, and no crash window between stamp and
      // sweep at all). The n_rows=0 residue filter below still covers
      // views holding residue from older maintainers.
      TableLog.upsertKnownKeys(spark, viewDir, newRows, "gid", gidHint,
        txn = Some(s"$App#$head"),
        dropBatchWhere =
          if (deadNow > 0) Some(col("n_rows") === 0L) else None)
      // post-state WITHOUT a job in the steady state: the live files'
      // parquet footers give the row total and min(n_rows) on the
      // driver — min > 0 PROVES no tombstone rows exist anywhere (the
      // fused upsert never writes them; residue can only predate this
      // maintainer), so the row total is the live-group total. Any
      // footer refusal or a residue hint (min ≤ 0) falls back to the
      // exact aggregate + sweep, unchanged from before.
      val liveTotal =
        TableLog.liveRowsAndMin(spark, viewDir, "n_rows") match {
          case Some((rows, mn)) if mn > 0 => rows
          case _ =>
            val post = TableLog.readVersion(spark, viewDir)
              .agg(count(when(col("n_rows") > 0, 1)).as("live"),
                count(when(col("n_rows") === 0, 1)).as("dead")).head
            if (post.getLong(1) > 0)
              TableLog.delete(spark, viewDir,
                TableLog.readVersion(spark, viewDir)
                  .filter(col("n_rows") === 0).select("gid"), "gid")
            post.getLong(0)
        }
      // the view's OWN footprint must stay bounded too: a
      // long-running maintainer commits 1-2 versions AND 1-2 small
      // file sets per maintain forever — checkpoint the log on the
      // streaming sink's cadence, and fold the small files back
      // together once they outnumber the threshold (compaction is
      // content-identity; the stamped history is unaffected)
      if (TableLog.liveFiles(spark, viewDir).size > compactAboveFiles)
        TableLog.compact(spark, viewDir, targetBytes = 64L << 20)
      if (TableLog.currentVersion(spark, viewDir) % checkpointEvery == 0)
        TableLog.checkpoint(spark, viewDir)
      MaintainStats("incremental", last, head, touched, liveTotal)
    } finally newRows.unpersist(blocking = false)
  }
}
