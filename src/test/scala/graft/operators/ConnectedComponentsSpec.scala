package graft.operators

import graft.SparkSpec

/** Hash-min connected components: chains (multi-round propagation),
  * cliques, disjoint components, duplicate/self edges, and the
  * cluster-size summary used by corpus dedup. Every shape runs
  * through BOTH strategies — the size-gated driver union-find fast
  * path and the distributed hash-min loop — and must agree exactly
  * (the gate is a performance decision, never a semantic one).
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** gate=0 forces the distributed loop; gate=MaxValue the fast path */
  private def comps(edges: Seq[(Long, Long)], gate: Long)
      : Map[Long, Long] =
    ConnectedComponents
      .connectedComponents(edges.toDF("a", "b"), "a", "b",
        fastPathMaxEdges = gate)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bothPaths(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val fast = comps(edges, Long.MaxValue)
    val dist = comps(edges, 0L)
    assert(fast == dist,
      s"fast-path/distributed disagreement: $fast vs $dist")
    fast
  }

  test("a chain collapses to its minimum — needs diameter rounds") {
    val m = bothPaths(Seq(5L -> 4L, 4L -> 3L, 3L -> 2L, 2L -> 1L))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint cliques keep separate minima; bridge merges them") {
    val cliqueA = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L)
    val cliqueB = Seq(10L -> 11L, 11L -> 12L, 10L -> 12L)
    val m = bothPaths(cliqueA ++ cliqueB)
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(10L) == 10L && m(11L) == 10L && m(12L) == 10L)
    val bridged = bothPaths(cliqueA ++ cliqueB :+ (3L -> 10L))
    assert(bridged.values.toSet == Set(1L))
  }

  test("self-loops and duplicate edges are harmless") {
    val m = bothPaths(Seq(1L -> 1L, 1L -> 2L, 2L -> 1L, 1L -> 2L))
    assert(m == Map(1L -> 1L, 2L -> 1L))
  }

  test("string ids work on both paths (orderable, not numeric)") {
    val edges = Seq("b" -> "a", "c" -> "b", "x" -> "y")
    def run(gate: Long) = ConnectedComponents
      .connectedComponents(edges.toDF("a", "b"), "a", "b",
        fastPathMaxEdges = gate)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x")
    assert(run(Long.MaxValue) == expected)
    assert(run(0L) == expected)
  }

  test("supplementary-plane string ids: fast path matches Spark's UTF-8 order") {
    // U+10000 (surrogate pair, UTF-16 code units D800 DC00) sorts
    // BELOW U+E000 in Java's String.compareTo but ABOVE it in UTF-8
    // byte order — Spark's min uses the latter, so the union-find
    // path must too or the two strategies emit different component ids
    val lo = "𐀀" // U+10000
    val hi = ""
    assert(lo.compareTo(hi) < 0, "UTF-16 order premise")
    val edges = Seq(lo -> hi)
    def run(gate: Long) = ConnectedComponents
      .connectedComponents(edges.toDF("a", "b"), "a", "b",
        fastPathMaxEdges = gate)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = run(0L)
    assert(run(Long.MaxValue) == dist,
      "fast-path component id diverges from Spark's UTF-8 min")
    // UTF-8 byte order: U+E000 (EE 80 80) < U+10000 (F0 90 80 80)
    assert(dist.values.toSet == Set(hi))
  }

  test("gate above Int.MaxValue clamps instead of wrapping negative") {
    // a wrapped gate would reach limit() negative; DriverGateSpec pins
    // the clamp itself, this pins the labels through it
    val m = comps(Seq(1L -> 2L, 2L -> 3L), Long.MaxValue - 1)
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("random graph: both paths agree on 500 edges") {
    // deterministic pseudo-random edges over 200 nodes: enough
    // collisions for multi-node components AND singleton pairs
    val edges = (0 until 500).map { i =>
      val u = (i * 131) % 200
      val v = (i * 77 + 13) % 200
      (u.toLong, v.toLong)
    }
    bothPaths(edges)
  }

  test("distributed-path labels free their blocks through " +
      "Caches.release: only the caller's pin stays cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = ConnectedComponents.connectedComponents(
      Seq(1L -> 2L, 2L -> 3L, 7L -> 8L).toDF("a", "b"), "a", "b",
      fastPathMaxEdges = 0L)
    // what a dedup caller keeps: the drop list, pinned
    val pin = labels.filter($"node" =!= $"component").select($"node")
      .localCheckpoint(true)
    Caches.release(labels)
    val pinId = pin.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(sc.getPersistentRDDs.keySet.diff(before) == pinId.toSet)
    assert(pin.as[Long].collect().toSet == Set(2L, 3L, 8L))
  }

  test("componentSizes summarizes one row per cluster") {
    val sizes = ConnectedComponents.componentSizes(
      Seq(5L -> 4L, 4L -> 3L, 10L -> 11L).toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(3L -> 3L, 10L -> 2L))
  }
}
