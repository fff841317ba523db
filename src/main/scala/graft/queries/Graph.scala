package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.DriverGate
import graft.queries.Num._

/** Graph analytics over graphs DERIVED from the event stream — the
  * iterative-linear-algebra family (the pairs→clusters closure in
  * [[graft.operators.ConnectedComponents]] is the other graph member;
  * this one is weighted and value-propagating rather than
  * partition-finding).
  *
  * The graph: items (the `k` field of events.props) are nodes; each
  * user's event sequence contributes a directed edge between
  * consecutively visited items, weighted by transition count — the
  * classic item-transition graph behind "importance" ranking of
  * catalog entries, content hubs, or crawl frontiers.
  *
  * Scale design (Pregel shape, no driver state): edges live
  * partitioned by src; one PageRank iteration is
  *   ranks ⋈ edges on src → per-edge contribution → groupBy dst
  * — a single shuffle keyed by node id, map-side combined. Rank state
  * is one long per node. Nothing is corpus-sized on the driver; the
  * only driver value is the iteration COUNT, fixed a priori.
  *
  * Determinism contract: ranks are integers in units of 1/[[PrScale]]
  * (the float mirror exists only in the last projection). Each
  * contribution is `(rank·w·17) div (20·wout)` — damping 0.85 as the
  * rational 17/20, truncating integer division — and integer sums are
  * order-independent, so the full rank state hash-gates exactly
  * (same discipline as the HLL register state / BPE merge tables).
  * Truncation loses ≤1 unit of mass per in-edge per round — at
  * [[PrScale]] = 10⁹ that is a 10⁻⁹-relative semantic choice both
  * engines implement identically, not an error term.
  *
  * Simplifications, pinned identically in the oracle: dangling-node
  * mass is NOT redistributed (it decays — ranks sum to < 1), and
  * self-loop transitions (consecutive events on the same item) count
  * as ordinary edges. Overflow guard: contributions need
  * rank·w·17 < 2⁶³ — with rank ≤ [[PrScale]] = 10⁹ that allows ~5·10⁸
  * transitions on a single edge before the scale constant must drop
  * a decade. */
object Graph {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  /** Fixed-point scale of the integer rank state. */
  val PrScale = 1000000000L
  /** Power-iteration count — fixed, matching the unrolled oracle. */
  val PrIters = 3
  /** Driver fast-path gate: when the WEIGHTED EDGE LIST (already
    * aggregated to ≤ vocab² rows) fits comfortably on the driver,
    * run the iterations as a local integer loop — same license as
    * the ConnectedComponents union-find fast path and a broadcast
    * threshold. The distributed Pregel loop remains the scale-true
    * path and self-selects for big graphs; cross-path equality is
    * spec-pinned (the arithmetic is identical integer ops, so
    * equality is exact, not approximate). */
  val PrFastPathMaxEdges = 100000L

  /** (src, dst, w, wout) weighted edge list with out-weight attached:
    * consecutive items per user ordered by (ts, event_id) — the
    * event_id tiebreak makes simultaneous events deterministic.
    * Returns the joined frame AND the persisted inner edge cache so
    * fully-materializing callers can release it (persist happens
    * BEFORE deriving out-weights: outW is an aggregate OF edges, so
    * without the cut the lead-window over the full event stream runs
    * twice, once per side of the self-join). Lazily-consuming
    * callers (the catalog queries) leave both frames cached under
    * the Verify/Bench per-query-clear license. */
  private def transitionEdges(ks: DataFrame): (DataFrame, DataFrame) = {
    val wSeq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = ks
      .withColumn("dst", lead(col("k"), 1).over(wSeq))
      .filter(col("dst").isNotNull)
      .groupBy(col("k").as("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .persist()
    val outW = edges.groupBy("src").agg(sum(col("w")).as("wout"))
    (edges.join(outW, "src"), edges)
  }

  /** One synchronous PageRank step on the integer rank state. */
  private def prStep(e: DataFrame, nodes: DataFrame, nn: DataFrame,
      r: DataFrame): DataFrame = {
    val contrib = e.join(r.withColumnRenamed("item", "src"), "src")
      .select(col("dst").as("item"),
        expr("(rank * w * 17) div (20 * wout)").as("c"))
      .groupBy("item").agg(sum(col("c")).as("inflow"))
    nodes.crossJoin(broadcast(nn))
      .join(contrib, Seq("item"), "left")
      .select(col("item"),
        (expr(s"(15 * ${PrScale}L) div (100 * n)") +
          coalesce(col("inflow"), lit(0L))).as("rank"))
  }

  /** Weighted PageRank ([[PrIters]] power iterations, damping 17/20)
    * over the item-transition graph. Output: the full integer rank
    * state (`rank_int` — the exact hash-gated value) plus its float
    * reading. */
  def pagerankItems(spark: SparkSession, dir: String): DataFrame =
    pagerankItemsAt(spark, dir, PrFastPathMaxEdges)

  /** `fastPathMaxEdges` exposed for the cross-path equality spec
    * (0 forces the distributed loop). */
  private[queries] def pagerankItemsAt(spark: SparkSession, dir: String,
      fastPathMaxEdges: Long): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val ks = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        graft.functions.GraftFunctions.jsonLong(col("props"), "k").as("k"))
      .filter(col("k").isNotNull)
    // edges and nodes are item-vocabulary-sized — persisted because
    // every iteration consumes them (Verify/Bench clear per query).
    // Node set from the EVENTS, not the edges: an item seen only in
    // single-event user streams is a real (isolated) node with the
    // base rank, identically on both paths — which is also why the
    // fast-path gate must bound BOTH frames: a sparse transition
    // graph over a huge item vocabulary has few edges but collects
    // every node onto the driver.
    val (eJoined, eCache) = transitionEdges(ks)
    val e = eJoined.persist()
    val nodes = ks.select(col("k").as("item")).distinct().persist()
    (for {
      edgeRows <- DriverGate.collectAtMost(e, fastPathMaxEdges)
      nodeRows <- DriverGate.collectAtMost(nodes, fastPathMaxEdges)
    } yield {
      e.unpersist(); eCache.unpersist(); nodes.unpersist()
      driverPagerank(spark, edgeRows, nodeRows)
    }).getOrElse {
      val nn = nodes.agg(count(lit(1)).as("n"))
      val r0 = nodes.crossJoin(broadcast(nn))
        .select(col("item"), expr(s"${PrScale}L div n").as("rank"))
      val rFinal = (1 to PrIters).foldLeft(r0)((r, _) =>
        prStep(e, nodes, nn, r))
      rFinal.select(col("item"), col("rank").as("rank_int"),
        r6(col("rank").cast("double") / lit(PrScale.toDouble)).as("rank"))
    }
  }

  /** Exact local mirror of the distributed loop — the SAME integer
    * ops in the same per-node order-independent sums, so cross-path
    * equality is bit-exact. */
  private def driverPagerank(spark: SparkSession,
      edgeRows: Array[Row], nodeRows: Array[Row]): DataFrame = {
    import spark.implicits._
    val edges = edgeRows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nodes = nodeRows.map(_.getLong(0)).sorted
    if (nodes.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("item", "rank_int", "rank")
    val n = nodes.length.toLong
    val base = 15L * PrScale / (100L * n)
    var rank = nodes.map(_ -> PrScale / n).toMap
    for (_ <- 1 to PrIters) {
      val inflow = new scala.collection.mutable.HashMap[Long, Long]()
      edges.foreach { case (src, dst, w, wout) =>
        inflow(dst) = inflow.getOrElse(dst, 0L) +
          (rank(src) * w * 17) / (20L * wout)
      }
      rank = nodes.map(v => v -> (base + inflow.getOrElse(v, 0L))).toMap
    }
    nodes.toSeq.map(v => (v, rank(v),
      graft.functions.expressions.PqCodes.round6(
        rank(v).toDouble / PrScale.toDouble)))
      .toDF("item", "rank_int", "rank")
  }

  /** Shared SQL prefix: ks (user, ts, event_id, k) and the weighted
    * directed transition edges — one copy for all three graph
    * oracles, so the edge derivation cannot drift between them. */
  private val SqlEdgeCtes: String =
    s"""ks AS (SELECT user_id, ts, event_id,
             json_extract(props, '$$.k')::BIGINT AS k FROM events
           WHERE json_extract(props, '$$.k') IS NOT NULL),
       sq AS (SELECT k AS src,
             lead(k, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS dst
           FROM ks),
       edges AS (SELECT src, dst, count(*)::BIGINT AS w FROM sq
           WHERE dst IS NOT NULL GROUP BY 1, 2)"""

  /** Unrolled-CTE mirror: same integer state, same truncating
    * division (`//` on positives ≡ Spark's `div`). */
  val pagerankItemsSql: String = {
    val steps = (1 to PrIters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT dst AS item,
             sum((rank * w * 17) // (20 * wout))::BIGINT AS inflow
           FROM e JOIN $prev ON e.src = $prev.item GROUP BY 1),
         r$i AS (SELECT nodes.item,
             ((15::BIGINT * $PrScale) // (100 * n)
               + coalesce(inflow, 0))::BIGINT AS rank
           FROM nodes CROSS JOIN nn
           LEFT JOIN c$i ON nodes.item = c$i.item)"""
    }.mkString(",\n       ")
    s"""WITH $SqlEdgeCtes,
       ow AS (SELECT src, sum(w)::BIGINT AS wout FROM edges GROUP BY 1),
       e AS (SELECT edges.src, edges.dst, w, wout
             FROM edges JOIN ow USING (src)),
       nodes AS (SELECT DISTINCT k AS item FROM ks),
       nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
       r0 AS (SELECT item, ($PrScale::BIGINT // n)::BIGINT AS rank
              FROM nodes CROSS JOIN nn),
       $steps
       SELECT item, rank AS rank_int,
         ${sqlR(s"rank / $PrScale.0", 6)} AS rank
       FROM r$PrIters"""
  }

  // ---- triangle counting (compact-forward orientation) ----

  /** Per-item triangle participation on the UNDIRECTED item graph
    * (an edge wherever a transition exists in either direction;
    * self-loops dropped). The classic cohesion/cluster-coefficient
    * numerator, computed compact-forward (Latapy 2008; Suri &
    * Vassilvitskii WWW 2011): orient every edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges
    * only at each vertex's OUT-neighbors, and close them against the
    * oriented edge set. Orientation bounds out-degrees by O(√m), so
    * wedge volume — the only super-linear term — is O(m^{3/2})
    * regardless of hub skew; every join is vertex- or edge-keyed
    * (Pregel-style shuffles, no driver state). Each triangle is
    * found exactly once (at its lowest-ordered apex), then fanned
    * ×3 to its corners for the per-item counts — integers
    * throughout, so the gate is exact. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsAt(spark, dir, PrFastPathMaxEdges)

  /** `fastPathMaxEdges` exposed for the cross-path equality spec. */
  private[queries] def triangleCountsAt(spark: SparkSession, dir: String,
      fastPathMaxEdges: Long): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val ks = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        graft.functions.GraftFunctions.jsonLong(col("props"), "k").as("k"))
      .filter(col("k").isNotNull)
    val wSeq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // canonical undirected edges (u < v), deduped across directions
    val und = ks
      .withColumn("dst", lead(col("k"), 1).over(wSeq))
      .filter(col("dst").isNotNull && col("dst") =!= col("k"))
      .select(least(col("k"), col("dst")).as("u"),
        greatest(col("k"), col("dst")).as("v"))
      .distinct()
      .persist()
    // node set here IS bounded by the edge list (deg derives from
    // und), so — unlike pagerank — the edge gate alone suffices
    val local = DriverGate.collectAtMost(und, fastPathMaxEdges)
    if (local.isDefined) {
      und.unpersist()
      return driverTriangles(spark, local.get)
    }
    val deg = und.select(col("u").as("x")).unionAll(und.select(col("v")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // orient low → high in (degree, id) order
    val dU = deg.select(col("x").as("u"), col("d").as("du"))
    val dV = deg.select(col("x").as("v"), col("d").as("dv"))
    val oriented = und.join(dU, "u").join(dV, "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"))
      .persist()
    // wedges at the common low vertex; close against the oriented set
    val e1 = oriented.select(col("a"), col("b").as("b1"))
    val e2 = oriented.select(col("a"), col("b").as("b2"))
    val tris = e1.join(e2, "a").filter(col("b1") < col("b2"))
      .join(oriented.select(col("a").as("b1"), col("b").as("b2"))
        .unionAll(oriented.select(col("b").as("b1"), col("a").as("b2"))),
        Seq("b1", "b2"), "left_semi")
    // fan each triangle to its three corners
    tris.select(explode(array(col("a"), col("b1"), col("b2"))).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_triangles"))
      .join(deg.select(col("x").as("item"), col("d").as("degree")), "item")
  }

  /** Exact local mirror of the distributed compact-forward count —
    * same orientation, same per-corner fan, bit-exact cross-path
    * equality (spec-pinned; same license as [[driverPagerank]]). */
  private def driverTriangles(spark: SparkSession,
      und: Array[Row]): DataFrame = {
    import spark.implicits._
    val edges = und.map(r => (r.getLong(0), r.getLong(1)))
    val deg = new scala.collection.mutable.HashMap[Long, Long]()
    edges.foreach { case (u, v) =>
      deg(u) = deg.getOrElse(u, 0L) + 1; deg(v) = deg.getOrElse(v, 0L) + 1
    }
    def lowFirst(u: Long, v: Long): (Long, Long) =
      if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) (u, v) else (v, u)
    val out = new scala.collection.mutable.HashMap[Long,
      scala.collection.mutable.TreeSet[Long]]()
    val oriented = new scala.collection.mutable.HashSet[(Long, Long)]()
    edges.foreach { case (u, v) =>
      val (a, b) = lowFirst(u, v)
      out.getOrElseUpdate(a,
        new scala.collection.mutable.TreeSet[Long]()) += b
      oriented += ((a, b))
    }
    val tri = new scala.collection.mutable.HashMap[Long, Long]()
    out.foreach { case (a, nbrs) =>
      val ns = nbrs.toIndexedSeq
      for (i <- ns.indices; j <- (i + 1) until ns.length)
        if (oriented.contains((ns(i), ns(j))) ||
            oriented.contains((ns(j), ns(i)))) {
          Seq(a, ns(i), ns(j)).foreach(x =>
            tri(x) = tri.getOrElse(x, 0L) + 1)
        }
    }
    tri.toSeq.sorted.map { case (item, n) => (item, n, deg(item)) }
      .toDF("item", "n_triangles", "degree")
  }

  val triangleCountsSql: String =
    s"""WITH $SqlEdgeCtes,
       und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
               FROM edges WHERE src <> dst),
       deg AS (SELECT x, count(*)::BIGINT AS d FROM
                 (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
               GROUP BY 1),
       ori AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                        THEN u ELSE v END AS a,
                      CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                        THEN v ELSE u END AS b
               FROM und JOIN deg du ON du.x = und.u
                        JOIN deg dv ON dv.x = und.v),
       tri AS (SELECT e1.a, e1.b AS b1, e2.b AS b2
               FROM ori e1 JOIN ori e2 ON e1.a = e2.a AND e1.b < e2.b
               WHERE EXISTS (SELECT 1 FROM ori c
                 WHERE (c.a = e1.b AND c.b = e2.b)
                    OR (c.a = e2.b AND c.b = e1.b))),
       corners AS (SELECT unnest([a, b1, b2]) AS item FROM tri)
       SELECT item, count(*)::BIGINT AS n_triangles,
         (SELECT d FROM deg WHERE x = item) AS degree
       FROM corners GROUP BY 1"""

  // ---- co-occurrence PMI (the SGNS / item2vec statistic) ----

  /** Minimum transition weight for a PMI row — drops the noise tail
    * where one observation swings the log wildly. */
  val PmiMinW = 3

  /** Directed pointwise mutual information over the transition
    * counts: pmi(a→b) = ln(w_ab·W / (out_a·in_b)) — the association
    * matrix SGNS/item2vec implicitly factorizes (Levy & Goldberg,
    * NeurIPS 2014), i.e. the data-preparation pass of
    * embedding-from-events training. All inputs are integer counts
    * aggregated map-side; the only float op is one ln per surviving
    * edge, r6'd. Scale: edge-keyed aggregates (≤ item-vocab² rows,
    * map-side combined from any corpus size) plus two vocab-sized
    * marginal joins — nothing corpus-sized shuffles twice. */
  def itemPmi(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val ks = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        graft.functions.GraftFunctions.jsonLong(col("props"), "k").as("k"))
      .filter(col("k").isNotNull)
    // lazily consumed (catalog query — per-query-clear license)
    val e = transitionEdges(ks)._1 // (src, dst, w, wout)
    val inW = e.groupBy("dst").agg(sum(col("w")).as("win"))
    val tot = e.agg(sum(col("w")).as("wtot"))
    e.join(inW, "dst").crossJoin(broadcast(tot))
      .filter(col("w") >= PmiMinW)
      .select(col("src"), col("dst"), col("w"), col("wout"), col("win"),
        r6(log(col("w").cast("double") * col("wtot") /
          (col("wout").cast("double") * col("win")))).as("pmi"))
  }

  val itemPmiSql: String =
    s"""WITH $SqlEdgeCtes,
       ow AS (SELECT src, sum(w)::BIGINT AS wout FROM edges GROUP BY 1),
       iw AS (SELECT dst, sum(w)::BIGINT AS win FROM edges GROUP BY 1),
       tt AS (SELECT sum(w)::BIGINT AS wtot FROM edges)
       SELECT src, dst, w, wout, win,
         ${sqlR("ln(w * wtot / (wout::DOUBLE * win))", 6)} AS pmi
       FROM edges JOIN ow USING (src) JOIN iw USING (dst) CROSS JOIN tt
       WHERE w >= $PmiMinW"""

  val queries: Map[String, Q] = Map(
    "q_pagerank" -> (pagerankItems _),
    "q_triangles" -> (triangleCounts _),
    "q_item_pmi" -> (itemPmi _),
  )

  val oracles: Map[String, String] = Map(
    "q_pagerank" -> pagerankItemsSql,
    "q_triangles" -> triangleCountsSql,
    "q_item_pmi" -> itemPmiSql,
  )
}
