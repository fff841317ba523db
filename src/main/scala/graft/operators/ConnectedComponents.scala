package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an undirected edge list —
  * the transitive-closure step that turns verified near-duplicate
  * PAIRS into duplicate CLUSTERS, so corpus dedup can keep exactly
  * one survivor per cluster (pairwise keep-min drops too little:
  * a–b and b–c leave {a, c} both alive even though a~c transitively).
  *
  * Algorithm: hash-min label propagation. Every node starts labeled
  * with itself; each round every node takes the minimum label among
  * itself and its neighbors; convergence when no label changes. The
  * component id is therefore the component's MINIMUM node id — a
  * deterministic, meaningful survivor key.
  *
  * Scale shape: each round is one shuffle-join of the (symmetrized)
  * edge list with the label table on node id plus a groupBy-min —
  * integer rows only, the same id-only discipline as the LSH band
  * joins. Rounds = component diameter. Near-dup clusters are
  * clique-ish (every member collides with most others → diameter
  * ≤ 2–3), so the loop converges in a handful of rounds; for
  * high-diameter graphs (chains), swap in the large-star/small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce
  * and Beyond"), which bounds rounds at O(log n) with the same
  * per-round shape. Lineage is truncated per round with an eager
  * `localCheckpoint` — iterative DataFrame loops otherwise stack
  * plans until the optimizer chokes.
  *
  * The reference has no clustering step (its dedup is exact-hash
  * only, DPF/processor.py dedup paths); this is part of the
  * training-data extension surface.
  */
object ConnectedComponents {

  /** Edge-count gate for the driver-side union-find fast path: the
    * same size-vs-strategy call as a broadcast-join threshold. Under
    * it, collecting the (id, id) pairs and running path-halving
    * union-find on the driver beats ~5 Spark rounds of join+agg job
    * overhead by an order of magnitude; above it, the distributed
    * loop is the only shape that scales. 100k edge rows ≈ 1.6 MB of
    * longs — trivially collectable, and real near-dup graphs at
    * 100 TB blow straight past it so the gate self-selects. */
  val FastPathMaxEdges = 100000L

  /** @param edges one row per undirected edge
    * @param src    source id column (numeric or string — any orderable)
    * @param dst    destination id column
    * @param maxIter hard round cap (diameter bound); the loop stops
    *                earlier at the convergence fixpoint
    * @param fastPathMaxEdges gate for the driver union-find fast path
    *                (tests pin it to 0 / MaxValue to force a path)
    * @return (node, component): every node that appears in an edge,
    *         labeled with the minimum id reachable from it. The frame
    *         may be localCheckpoint-backed, where `unpersist()` is a
    *         no-op — callers release it with [[Caches.release]] once
    *         consumed, or its materialized blocks outlive the query
    *         ([[componentSizes]] does this internally).
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 25,
      fastPathMaxEdges: Long = FastPathMaxEdges): DataFrame = {
    val e = edges.select(col(src).as("u"), col(dst).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one capped collect (DriverGate) picks the path and, under the
    // gate, is the edge list; the distributed loop reuses the cache
    val result = DriverGate.collectAtMost(e, fastPathMaxEdges) match {
      case Some(rows) => driverUnionFind(e, rows)
      case None => distributedHashMin(e, maxIter)
    }
    e.unpersist()
    result
  }

  /** Fast path: exact union-find with path halving + union-by-min on
    * the collected edge list. Same output contract as the distributed
    * loop (component id = minimum member id) — the cross-path
    * equality is spec-pinned. */
  private def driverUnionFind(e: DataFrame, edges: Array[Row]): DataFrame = {
    val spark = e.sparkSession
    // ids are numeric-or-string; JVM boxes all of them as Comparable.
    // Strings must compare in UTF-8 BYTE order to match Spark's min
    // (UTF8String binary order) — Java String.compareTo is UTF-16
    // code-unit order, which diverges for supplementary characters vs
    // U+E000–U+FFFF, and the cross-path equality is spec-pinned.
    def less(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) {
        parent.put(r, parent.get(parent.get(r))) // path halving
        r = parent.get(r)
      }
      r
    }
    edges.foreach { row =>
      val (u, v) = (row.get(0), row.get(1))
      if (!parent.containsKey(u)) parent.put(u, u)
      if (!parent.containsKey(v)) parent.put(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        // union by min keeps the invariant root = component minimum
        if (less(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    import scala.jdk.CollectionConverters._
    val idType = e.schema.fields(0).dataType
    val rows = parent.keySet().asScala.toSeq
      .map(n => Row(n, find(n)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", idType),
      org.apache.spark.sql.types.StructField("component", idType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Distributed path: frontier hash-min label propagation with
    * pointer jumping (see object scaladoc). */
  private def distributedHashMin(e: DataFrame, maxIter: Int): DataFrame = {
    val sym = e
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var checkpointed = sym.select(col("u").as("node")).distinct()
      .withColumn("component", col("node"))
      .withColumn("chg", lit(true)) // every node is frontier at start
      .localCheckpoint(true)
    var labels = checkpointed.drop("chg")
    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      // Delta iteration: only FRONTIER nodes (label changed last
      // round) send their label to neighbors — min is monotone, so
      // settled labels' influence was already applied in the round
      // they changed. Message volume tracks the active frontier, not
      // |V|: clique clusters settle in 2 rounds and drop out while
      // long chains keep only their wavefront active.
      val frontier = checkpointed.filter(col("chg")).drop("chg")
      val nbrMin = sym
        .join(frontier.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node"))
        .agg(min(col("component")).as("nbr_min"))
      // the change flag rides the checkpointed frame, so convergence
      // costs one cheap filter-count over materialized rows instead
      // of a second join against the previous labels; the previous
      // round's checkpoint is dropped eagerly — leaking one cached
      // label table per round starves executor memory on big graphs
      // Pointer jumping: a node also adopts its LABEL's label —
      // component ids are themselves node ids, so label chains halve
      // every round and the round count is O(log diameter), not
      // O(diameter) (the path-halving trick of the MapReduce CC
      // literature). NOTE: unlike the frontier-driven nbrMin above,
      // this self-join scans the FULL |V|-row label table every
      // round (every node must re-emit its row anyway to carry its
      // label forward) — the frontier claim applies to edge-message
      // volume only, the jump side is O(|V| · rounds) by design.
      val jump = labels.select(col("node").as("jnode"),
        col("component").as("jcomp"))
      val next = labels
        .join(nbrMin, Seq("node"), "left")
        .join(jump, col("component") === col("jnode"), "left")
        .select(col("node"),
          least(
            least(col("component"), coalesce(col("nbr_min"), col("component"))),
            coalesce(col("jcomp"), col("component")))
            .as("component"),
          (coalesce(col("nbr_min"), col("component")) < col("component") ||
            coalesce(col("jcomp"), col("component")) < col("component"))
            .as("chg"))
        .localCheckpoint(true)
      converged = next.filter(col("chg")).limit(1).count() == 0
      // real release, not Dataset.unpersist (a no-op on checkpoint-
      // backed frames): `next` is already eagerly materialized, so
      // the previous round's node-sized label table frees NOW instead
      // of at some future driver GC — on big graphs the loop would
      // otherwise hold rounds × |V| rows of executor memory
      Caches.release(checkpointed)
      checkpointed = next
      labels = next.drop("chg")
      round += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a component's diameter exceeds the cap; raise maxIter or use " +
          "star contraction for chain-shaped graphs")
    labels
  }

  /** Cluster summary: one row per component with its size — the
    * "what would dedup delete" accounting view. Component id is the
    * surviving doc id (minimum of the cluster). */
  def componentSizes(edges: DataFrame, src: String, dst: String): DataFrame = {
    val labels = connectedComponents(edges, src, dst)
    // pin the (tiny) summary, release the node-sized label cache —
    // otherwise every call leaks one materialized label table
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true)
    Caches.release(labels)
    sizes
  }
}
