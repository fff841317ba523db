package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.metrics.QueryCost

/** Driver-run benchmark: times every catalog query at the configured
  * scale factor and prints ONE JSON line. Queries run in sorted name
  * order (deterministic attribution run-to-run); a small warmup query
  * first absorbs JVM/codegen startup so per-query numbers reflect the
  * plans, not JIT.
  *
  * Queries are forced with a noop-format write, NOT count():
  * count() invites Catalyst to prune every unconsumed column and to
  * eliminate left joins against per-key aggregates — a query whose
  * cost lives in such a branch (e.g. a text-rebuild join) would time
  * as a bare scan. The noop sink consumes every column of every row,
  * so the timed plan is the plan a real consumer pays for. The line
  * is copied to `$SPARK_GRAFT_BENCH_JSON`, and each query's
  * [[graft.metrics.QueryCost]] row to its `.queries.jsonl` sibling. */
object Bench {

  /** Materialize the full result (all columns, all rows) without
    * writing anywhere. */
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
    val selected = if (args.nonEmpty) {
      val unknown = args.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.mkString(", ")} — valid names: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      SparkEntry.queries.filter(kv => args.contains(kv._1))
    } else SparkEntry.queries
    // FULL-CATALOG warm-up before any timed query: every selected
    // query runs once untimed, so JIT, whole-stage-codegen compiles,
    // and first-touch machine noise (concurrent sbt compiles in the
    // same invocation were measured to inflate individual queries up
    // to 13×, NOTES.md) land outside the timed pass. Warm-up runs at
    // the sibling sf0.001 when present — plan compilation is per
    // plan shape, not per data volume — so it adds seconds, not a
    // second full-scale pass.
    val timedSpark = {
      val warmDir = {
        val sibling = new java.io.File(
          new java.io.File(sfDir).getParentFile, "sf0.001")
        if (sibling.isDirectory) sibling.getAbsolutePath
        else {
          // an untimed FULL-SCALE pass doubles wall time — say so,
          // don't let the operator attribute it to the queries
          System.err.println(s"[bench] WARNING: no sf0.001 sibling " +
            s"next to $sfDir — warm-up runs at FULL scale (untimed " +
            "duplicate of the benchmark pass)")
          sfDir
        }
      }
      selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try force(fn(spark, warmDir))
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      // The warm-up exists for JVM-GLOBAL state (JIT, the codegen'd
      // class cache) — but it also leaves SESSION state behind:
      // BlockManager entries, shuffle files, and an old-gen full of
      // warm-up tenure that the first heavy timed queries then pay
      // GC for (BENCH_r05 read untouched iterative queries 1.5-2.5x
      // slow right after warm-up landed). Restart the session so the
      // timed pass starts with a clean executor while keeping the
      // JIT/codegen caches warm-up bought, and give the collector one
      // explicit chance to drop the tenured garbage before timing.
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      System.gc()
      val fresh = session(cpus)
      // absorber: the fresh context's one-time costs (scheduler/
      // backend spin-up, first-job task serialization, Hadoop FS +
      // parquet reader init) would otherwise land on whichever
      // queries sort alphabetically first in the timed pass —
      // measured ~3-5s inflation on the first heavy queries. One
      // cheap shuffle + one small parquet read pays them untimed.
      fresh.range(1L << 20).groupBy((org.apache.spark.sql.functions
        .col("id") % 64).as("k")).count().write
        .format("noop").mode("overwrite").save()
      try fresh.read.parquet(s"$warmDir/region.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      // the restart also emptied the SESSION-scoped file-status and
      // parquet-footer caches; without re-warming them every timed
      // query pays a re-list + schema-infer per table (~0.1-0.2s x
      // 131 queries read as a catalog-wide drift). Touching each
      // table's schema fills both caches without scanning data.
      val sfRoot = new java.io.File(sfDir)
      // listFiles() returns null on listing I/O errors even after a
      // true isDirectory — an unwarmed cache must degrade the numbers,
      // not crash the bench before any timed query
      if (sfRoot.isDirectory)
        Option(sfRoot.listFiles()).getOrElse(Array.empty).filter(f =>
            f.isDirectory && f.getName.endsWith(".parquet"))
          .foreach { t =>
            try fresh.read.parquet(t.getAbsolutePath).schema
            catch { case _: Throwable => () }
          }
      fresh
    }
    // per-query cost, summed from the timed session's job events
    val cost = new QueryCost
    timedSpark.sparkContext.addSparkListener(cost)
    val results = selected.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // label every job with its query: `cost` (and any event-log
        // reader) attributes jobs, stages and tasks per query from ONE
        // full-catalog run. Metadata only — timing methodology
        // unchanged.
        timedSpark.sparkContext.setJobDescription(name)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok =
          try { force(fn(timedSpark, sfDir)); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
        // a failed query is OMITTED from the per-query map (its tiny
        // time-to-failure would read as an absurdly fast pass) and
        // listed by name in a separate "failed" array — no sentinel
        // for downstream consumers to special-case
        val dt = if (ok) Some((System.nanoTime() - t0) / 1e9) else None
        val window = QueryCost.Window(name, startMs,
          System.currentTimeMillis(), failed = !ok)
        // Queries persist() their reused sketch tables; dropping them
        // between queries keeps storage memory from starving later
        // queries' execution memory (isolated, stable numbers).
        timedSpark.catalog.clearCache()
        // clearCache only covers CacheManager entries — localCheckpoint
        // blocks are plain persistent RDDs and would otherwise pile up
        // in the BlockManager across the whole run
        timedSpark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        timedSpark.sparkContext.setJobDescription(null)
        (name, dt, window)
    }
    val qs = results.collect { case (k, Some(v), _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // sidecar copy of the SAME line (additions-only; stdout stays the
    // contract): the round-8 per-query map outgrew the driver's tail
    // capture and the round-over-round comparison was lost — a file
    // the driver can read whole is cheap insurance. Never fatal: the
    // bench's job is the stdout line.
    val sidecar = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_JSON", "/tmp/graft_bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // stop() drains the listener bus, so every event of the timed pass
    // has reached `cost`. One JSON object per selected query goes next
    // to the sidecar (x.json -> x.queries.jsonl); equally never fatal.
    timedSpark.stop()
    try java.nio.file.Files.write(java.nio.file.Paths.get(
        sidecar.stripSuffix(".json") + ".queries.jsonl"),
      cost.report(results.map(_._3)).map(_.json + "\n").mkString
        .getBytes("UTF-8"))
    catch { case _: Throwable => () }
  }
}
