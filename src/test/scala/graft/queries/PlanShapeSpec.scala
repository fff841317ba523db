package graft.queries

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Plan-shape regression guards for the catalog's scale-critical
  * queries: the assertions pin the PHYSICAL strategy (broadcast vs
  * shuffle, window vs self-join) that makes each query viable at
  * 100 TB — a silent planner regression should fail here, not show
  * up as a 10× bench slowdown.
  *
  * Shapes are asserted on `executedPlan` before execution (the
  * initial adaptive plan, after EnsureRequirements placed the
  * exchanges): AQE may collapse exchanges at runtime but never adds
  * any, so an upper bound pinned here is stable across AQE
  * decisions.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countIn(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q_range_join broadcasts the band table (nested-loop, no shuffle join)") {
    val p = plan(Relational.rangeJoinBands(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // only the final small aggregate shuffles
    assert(countIn(p, "Exchange hashpartitioning") == 1, p.take(1500))
  }

  test("q_events_asof is one window pass — no self-join, one shuffle") {
    val p = plan(TimeSeries.eventsAsofAttribution(spark, dir))
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("Window"), p.take(1500))
    assert(countIn(p, "Exchange hashpartitioning") == 1, p.take(1500))
  }

  test("q_group_percentiles runs on the cents histogram — no exact-" +
      "percentile value-map UDAF") {
    val p = plan(Relational.groupPercentiles(spark, dir))
    // Spark's exact percentile() buffers per-group value→count maps
    // (corpus-sized distinct prices at 100×) — must not appear
    assert(!p.toLowerCase.contains("percentile"), p.take(2000))
    // the histogram cumsum runs per-group as a window pass
    assert(p.contains("Window"), p.take(2000))
  }

  test("q_events_rolling: ONE exchange serves the grain aggregate " +
      "and the RANGE window") {
    val p = plan(TimeSeries.eventsRolling(spark, dir))
    assert(p.contains("Window"), p.take(1500))
    // hash(user_id) satisfies both the (user, day) grouping and the
    // window partitioning — a second grain-sized exchange is the
    // measured 2.3× regression (NOTES.md, round-5 work log)
    assert(countIn(p, "Exchange hashpartitioning") == 1, p.take(2000))
  }

  test("q_grouping_sets expands in a single aggregation pass") {
    val p = plan(Relational.groupingSetsAgg(spark, dir))
    assert(p.contains("Expand"), p.take(1500))
    assert(countIn(p, "Exchange hashpartitioning") == 1, p.take(1500))
  }

  test("q_join_star broadcasts the fixed-cardinality dims") {
    val p = plan(Relational.joinStar(spark, dir))
    assert(countIn(p, "BroadcastHashJoin") >= 2, p.take(2000))
  }

  test("q_text_wordcount partial-aggregates before the term shuffle") {
    val p = plan(TextAnalysis.textWordcount(spark, dir))
    // explode feeds a map-side partial HashAggregate, then one
    // exchange on the term key, and the top-k is TakeOrdered (no
    // global sort)
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(firstAgg >= 0 && exchange >= 0, p.take(1500))
  }

  test("q_filter_project pushes filter and projection to the scan") {
    val p = plan(Relational.filterProject(spark, dir))
    assert(p.contains("PushedFilters: ["), p.take(1500))
    assert(p.contains("l_quantity"), p.take(1500))
    // pruned read schema: no column beyond the 6 referenced ones
    assert(!p.contains("l_comment"), p.take(1500))
  }

  test("q_dup_gram_coverage prunes the scan and hashes before shuffling") {
    val df = Dedup.dupGramCoverage(spark, dir)
    val p = plan(df)
    // documents scan reads only (doc_id, text) — no lang/source/n_chars
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
    // the gram STRINGS never ride an exchange: everything after the
    // fan-out shuffles gram HASHES (word_gram_hashes output) or ids
    assert(p.contains("word_gram_hashes"), p.take(2000))
    df.sparkSession.catalog.clearCache()
  }

  test("q_events_gapfill reads raw events once; both branches reuse the cached grain") {
    val df = TimeSeries.eventsGapFill(spark, dir)
    val p = plan(df)
    // the grid-span branch and the join branch must consume the
    // persisted hourly aggregate (different shuffle keys defeat AQE
    // stage reuse, so an uncached plan would scan raw events twice)
    assert(countIn(p, "InMemoryTableScan") >= 2, p.take(2000))
    df.sparkSession.catalog.clearCache()
  }

  test("q_value_quantiles answers every quantile from one aggregation") {
    val p = plan(TimeSeries.eventsValueQuantiles(spark, dir))
    // one full-data shuffle (the histogram groupBy); the quantile
    // resolution adds no further hashpartitioning exchange
    assert(countIn(p, "Exchange hashpartitioning") == 1, p.take(2000))
    assert(countIn(p, "Window") <= 2, p.take(2000))
  }

  test("q_kmeans_update combines map-side before the (cluster, dim) shuffle") {
    val df = Similarity.kmeansUpdate(spark, dir)
    val p = plan(df)
    // the per-dimension explode must feed a partial HashAggregate so
    // the exchange carries ≤ C·D cells per task, not N·D rows
    assert(p.contains("Generate"), p.take(2000))
    assert(countIn(p, "HashAggregate") >= 2, p.take(2000))
    assert(p.contains("Exchange hashpartitioning(cluster"), p.take(2000))
    df.sparkSession.catalog.clearCache()
  }

  test("q_source_overlap joins on the fingerprint — no pair blow-up") {
    val p = plan(Dedup.sourceOverlap(spark, dir))
    // the self-join key is fp (bounded fan-out per key); a planner
    // fallback to a cartesian/nested-loop pairing would be quadratic
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // distinct + pair-count both partial-aggregate before shuffling
    assert(countIn(p, "HashAggregate") >= 4, p.take(2000))
  }

  test("q_window_topk ranks on bounded heaps — no Window, one exchange") {
    val p = plan(Relational.windowTopK(spark, dir))
    assert(p.contains("bounded_topk"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // partial ObjectHashAggregate below the single exchange: the
    // shuffle carries groups·k-row heaps per task, never the orders
    assert(countIn(p, "Exchange hashpartitioning") == 1, p.take(2000))
    val below = p.substring(p.indexOf("Exchange hashpartitioning"))
    assert(below.contains("ObjectHashAggregate"), p.take(2000))
  }

  test("q_events_topk_users ranks the per-user aggregate on bounded heaps") {
    val p = plan(TimeSeries.eventsTopkUsers(spark, dir))
    assert(p.contains("bounded_topk"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("ANN exact scans (bruteforce / sq8 coarse+recall) never window " +
      "corpus-sized per-query partitions") {
    for (df <- Seq(Similarity.annBruteForce(spark, dir),
        Similarity.sq8Recall(spark, dir))) {
      val p = plan(df)
      assert(p.contains("bounded_topk"), p.take(2000))
      assert(!p.contains("Window"), p.take(2000))
      df.sparkSession.catalog.clearCache()
    }
  }

  test("q_ann_sq8_rerank: coarse stage is a bounded-heap aggregate; " +
      "the only Window ranks the coarse·Q candidate set") {
    val df = Similarity.annSq8Rerank(spark, dir)
    val p = plan(df)
    // coarse scan: partial bounded_topk below its exchange — the N·Q
    // distance rows never ride a shuffle (round-5 What's-wrong #2)
    assert(p.contains("bounded_topk"), p.take(3000))
    // exactly one Window exec remains ("Window [" — WindowGroupLimit
    // pushdown nodes for its rank filter don't count): the exact
    // rerank over at most Sq8RerankCoarse·Q joined candidates
    // (bounded by construction)
    assert(countIn(p, "Window [") == 1, p.take(3000))
    df.sparkSession.catalog.clearCache()
  }

  test("q_ann_ivf_sq8: probe-pruned candidates, heap coarse election, " +
      "one bounded rerank Window") {
    val df = Similarity.annIvfSq8(spark, dir)
    val p = plan(df)
    // candidates come from the query's cluster via an equi-join on a
    // broadcast query side — never a cross/cartesian pairing
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // quantized coarse scan elects on bounded heaps (codes only); the
    // single PER-QUERY window function ranks the <= coarse·Q
    // exact-rerank candidates (counted via its windowspecdefinition
    // partition key so the pin survives WindowGroupLimit nodes and
    // any future bounded non-query windows elsewhere in the plan)
    assert(p.contains("bounded_topk"), p.take(3000))
    assert(countIn(p, "windowspecdefinition(query_id") == 1, p.take(3000))
    df.sparkSession.catalog.clearCache()
  }

  test("q_ann_binary_rerank: Hamming coarse on bounded heaps (8-byte " +
      "codes ride the scan); one bounded rerank Window") {
    val df = Similarity.annBinaryRerank(spark, dir)
    val p = plan(df)
    // coarse stage: packed-long codes + bit_count, elected on bounded
    // heaps — never a corpus-sized per-query window, and the double
    // vectors never ride the Hamming scan (they re-attach to the
    // coarse·Q survivors by key join)
    assert(p.contains("bit_pack"), p.take(3000))
    assert(p.contains("bit_count"), p.take(3000))
    assert(p.contains("bounded_topk"), p.take(3000))
    assert(countIn(p, "windowspecdefinition(query_id") == 1, p.take(3000))
    df.sparkSession.catalog.clearCache()
  }

  test("q_ann_trunc_rerank: prefix slice is a map-side projection; " +
      "coarse on bounded heaps, one bounded rerank Window") {
    val df = Similarity.annTruncRerank(spark, dir)
    val p = plan(df)
    assert(p.contains("slice"), p.take(3000))
    assert(p.contains("bounded_topk"), p.take(3000))
    assert(countIn(p, "windowspecdefinition(query_id") == 1, p.take(3000))
    df.sparkSession.catalog.clearCache()
  }

  test("q_binary_recall elects both sides on bounded heaps") {
    val p = plan(Similarity.binaryRecall(spark, dir))
    assert(p.contains("bit_pack"), p.take(3000))
    assert(p.contains("bounded_topk"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    spark.catalog.clearCache()
  }

  test("q_data_profile: per-column two-level branches, no Expand, " +
      "each branch reads exactly one parquet column") {
    val p = plan(Relational.dataProfile(spark, dir))
    // the multi-distinct Expand×12 over every replicated row is the
    // shape this query REMOVED (round-8 optimization): each column
    // now folds to its distinct values map-side in its own branch
    assert(!p.contains("Expand"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    // one one-column FileScan per profiled column, none wider
    val reads = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(reads.nonEmpty, p.take(2000))
    assert(reads.forall(r => !r.contains(",")),
      s"a profile branch read more than one column: $reads")
  }

  test("q_embed_gram reduces through partial vector_gram buffers — " +
      "no explode before the exchange") {
    val p = plan(Spectral.embedGram(spark, dir))
    // partial + final pair: the O(d²) buffer, not rows, crosses the
    // exchange; the 4096-cell expansion happens on ONE row after
    assert(countIn(p, "vector_gram") >= 2, p.take(3000))
    // Generate (the 4096-cell expansion) is DOWNSTREAM of the final
    // aggregate — printed above it in the tree text
    assert(p.indexOf("Generate") < p.indexOf("vector_gram"), p.take(3000))
    assert(p.indexOf("Generate") >= 0, p.take(3000))
  }

  test("q_bloom_prune builds blooms in one map-side-combined aggregate") {
    val p = plan(Layout.bloomPrune(spark, dir))
    assert(countIn(p, "bloom_or_agg") >= 2, p.take(3000)) // partial+final
    assert(p.contains("BroadcastExchange"), p.take(3000)) // verdict join
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_knn_accuracy label joins broadcast the small ranking side") {
    val p = plan(Similarity.knnAccuracy(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    spark.catalog.clearCache()
  }

  test("q_index_drift: batches cross the BROADCAST centroid set and " +
      "elect on heaps — no corpus-sized window, no shuffle join") {
    // round-9 shape: the distributed work is the assignment/election
    // passes (collected to metadata-scale histograms inside the
    // query); the RETURNED verdict is a local relation — two rows,
    // no broadcast-build subtrees left to race (the old all-DataFrame
    // tail re-executed the batch×centroid subtree per AQE build)
    val p = plan(Similarity.indexDrift(spark, dir))
    assert(p.contains("LocalTableScan"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the corpus-sized fragment keeps the broadcast + bounded-heap
    // election shape (no corpus window, no shuffle join)
    val a = plan(Similarity.ivfAssign(spark, dir,
      persistAssign = false))
    assert(a.contains("BroadcastNestedLoopJoin") ||
      a.contains("BroadcastExchange"), a.take(3000))
    assert(a.contains("bounded_topk"), a.take(3000))
    assert(!a.contains("Window"), a.take(3000))
    assert(!a.contains("SortMergeJoin"), a.take(3000))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
