package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Analytics
import graft.model.Primitive.{link, node}
import graft.store.GraphStore

/** Graph analytics on a hand-built micro-graph with known structure:
  * two components (a path and an isolated pair), verifiable by hand.
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // nodes 1-2-3 connected in a path; 4-5 a separate pair; 6 isolated
  lazy val fx = GraphStore.fromSeq(spark, Seq(
    node(1), node(2), node(3), node(4), node(5), node(6),
    link(10, left = 1, right = Some(2)),
    link(11, left = 2, right = Some(3)),
    link(12, left = 4, right = Some(5))))

  test("connected components find the path, the pair, and the singleton") {
    val comp = Analytics.connectedComponents(fx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == comp(2L) && comp(2L) == comp(3L))
    assert(comp(4L) == comp(5L))
    assert(comp(1L) != comp(4L))
    assert(comp(6L) == 6L)
  }

  test("union-find components agree with GraphX") {
    val gx = Analytics.connectedComponents(fx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dsu = Analytics.connectedComponentsStore(fx).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dsu == gx)
  }

  test("k-hop walks both link directions with exact hop counts") {
    val hops = Analytics.kHop(fx, Seq(1L), 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hops == Map(1L -> 0, 2L -> 1, 3L -> 2))
    val hops2 = Analytics.kHop(fx, Seq(3L), 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hops2 == Map(3L -> 0, 2L -> 1, 1L -> 2))
  }

  test("pagerank gives linked-to nodes more mass than sources") {
    val pr = Analytics.pageRank(fx, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(3L) > pr(1L)) // 3 receives from the chain, 1 only emits
    assert(pr(5L) > pr(4L))
  }

  test("pagerank's shuffle regime matches the broadcast regime at 6dp") {
    import org.apache.spark.sql.functions.{col, round}
    def run(): Map[Long, Double] =
      Analytics.pageRankDF(fx, iters = 5)
        .select(col("id"), round(col("pagerank"), 6).as("pr")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bcast = run() // tiny edge set: broadcast regime
    System.setProperty("graft.pr.broadcastMaxRows", "0")
    val shuffled = try run()
    finally System.clearProperty("graft.pr.broadcastMaxRows")
    assert(bcast == shuffled)
    assert(bcast(3L) > bcast(1L)) // sanity: same ordering as pageRank
  }

  test("a regime flip keeps a built PageRank of the other regime on its cache") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, round}
    def ranks(df: DataFrame): Map[Long, Double] =
      df.select(col("id"), round(col("pagerank"), 6).as("pr")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bcast = Analytics.pageRankDF(fx, iters = 5) // built, not run
    System.setProperty("graft.pr.broadcastMaxRows", "0")
    val shuffled = try ranks(Analytics.pageRankDF(fx, iters = 5))
    finally System.clearProperty("graft.pr.broadcastMaxRows")
    assert(bcast.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"),
      "the shuffle-regime build released the broadcast regime's edge cache")
    assert(ranks(bcast) == shuffled)
  }

  test("analytics partition counts derive from data size, not constants") {
    import spark.implicits._
    val floor = math.max(1, spark.sparkContext.defaultParallelism / 4)
    // tiny input: fat-partition floor (a fraction of the scheduler's
    // parallelism), never a hardcoded test-scale constant
    val tiny = Seq((1L, 2L)).toDF("left", "right")
    assert(Analytics.sizedPartitions(tiny) == floor)
    // large input (optimizer-estimated): the count scales with bytes —
    // spark.range stats are exact (8 bytes/row), 16 GiB => ~256
    // partitions at 64 MiB each, far above the floor
    val big = spark.range(2L * 1024 * 1024 * 1024).toDF("id")
    val n = Analytics.sizedPartitions(big)
    assert(n > floor && n >= 200, s"expected size-scaled count, got $n")
  }

  test("triangle count: K4 has 4, square+diagonal has 2, star has 0") {
    import spark.implicits._
    def count(edges: Seq[(Long, Long)]): Long =
      Analytics.triangleCount(edges.toDF("a", "b"))
        .collect().head.getLong(0)
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    assert(count(k4) == 4)
    // square 1-2-3-4 with diagonal 1-3: triangles 123 and 134
    assert(count(Seq((1L,2L),(2L,3L),(3L,4L),(1L,4L),(1L,3L))) == 2)
    assert(count(Seq((1L,2L),(1L,3L),(1L,4L),(1L,5L))) == 0)
    // orientation-independence: reversed/duplicated input edges
    val messy = k4.map { case (a,b) => (b,a) } ++ k4
    assert(Analytics.triangleCount(
      messy.toDF("b", "a").select($"a", $"b")).collect().head.getLong(0) == 4)
  }

  test("co-occurrence edges: shared keys pair members; hub cap drops") {
    import spark.implicits._
    val links = Seq((10L,1L),(10L,2L),(10L,3L),(20L,2L),(20L,3L),(30L,7L))
      .toDF("k", "m")
    val e = Analytics.cooccurrenceEdges(links, "k", "m")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L,2L),(1L,3L),(2L,3L)))
    // cap of 2 drops the 3-member hub key entirely (skew guard)
    val capped = Analytics.cooccurrenceEdges(links, "k", "m", maxPerKey = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((2L,3L)))
  }

  test("star contraction matches DSU on chains, stars, self-loops, isolates") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // worst case for label propagation: a long descending chain (min
    // must travel the full diameter); plus a hub star, a self-loop-only
    // node, a two-cycle, and isolated nodes via the node table
    val chain = (1L to 40L).sliding(2).map(s => (s(1), s(0))).toSeq
    val star = Seq((100L, 101L), (100L, 102L), (100L, 103L))
    val loopy = Seq((200L, 200L), (300L, 301L), (301L, 300L))
    val edges = (chain ++ star ++ loopy).toDF("left", "right")
    val nodes = ((1L to 40L) ++ Seq(100L, 101L, 102L, 103L,
      200L, 300L, 301L, 999L)).toDF("id")
    val expected = Analytics.connectedComponentsDSU(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expected(40L) == 1L && expected(103L) == 100L &&
      expected(200L) == 200L && expected(301L) == 300L &&
      expected(999L) == 999L)
    val direct = Analytics.starComponents(
        edges.select(col("left").as("u"), col("right").as("v"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // star output covers edge-bearing, non-self-loop-only nodes
    assert((expected - 200L - 999L) == direct)
  }

  test("DSU dispatches to the star path past the forest-size threshold") {
    import spark.implicits._
    System.setProperty("graft.cc.starRows", "0")
    try {
      val before = Analytics.starPathRuns.get()
      val nodes = (1L to 12L).toDF("id")
      val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L))
        .toDF("left", "right")
      val out = Analytics.connectedComponentsDSU(nodes, edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Analytics.starPathRuns.get() > before,
        "threshold 0 did not engage the star path")
      assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
      assert(out(5L) == 5L && out(6L) == 5L)
      assert(out(7L) == 7L) // self-loop only
      assert((8L to 12L).forall(i => out(i) == i)) // isolated
    } finally System.clearProperty("graft.cc.starRows")
  }

  test("direct fan-in and the forced ladder label identically") {
    import spark.implicits._
    // a multi-partition forest whose components span partitions, so
    // the fan-in actually has merging to do either way
    val edges = ((1L to 200L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((500L, 600L), (600L, 700L))).toDF("left", "right")
      .repartition(8)
    val nodes = ((1L to 200L) ++ Seq(500L, 600L, 700L, 900L)).toDF("id")
    // fanIn=2 so the forced ladder genuinely runs intermediate levels
    // (8 -> 4 -> 2 -> 1); with the default fanIn=16 an 8-partition
    // forest collapses to 1 in a single step either way and the test
    // would compare identical executions
    def run(): Map[Long, Long] =
      Analytics.connectedComponentsDSU(nodes, edges, fanIn = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = run() // small forest: takes the single-level path
    System.setProperty("graft.cc.directFanInRows", "0")
    val laddered = try run()
    finally System.clearProperty("graft.cc.directFanInRows")
    assert(direct == laddered)
    assert(direct(200L) == 1L && direct(700L) == 500L && direct(900L) == 900L)
  }
}
