package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Memo
import graft.store.GraphStore

/** Graph analytics over the primitives graph (the capability layer the
  * reference never had — its nested-loop reads stop at fixed-depth
  * traversal; BASELINE.json's north star adds whole-graph analytics
  * via GraphX/Pregel).
  *
  * Vertices = current nodes; edges = current links (left → right,
  * attributed with typeguid). Pregel supersteps shuffle per round, so
  * iterative algorithms cache the graph and bound iterations.
  */
object Analytics {

  /** Partition count sized to the DATA, not a test-scale constant:
    * enough partitions to keep each under ~bytesPerPartition of the
    * optimizer's size estimate, floored at a quarter of the
    * scheduler's parallelism (iterative supersteps pay per-partition
    * scheduling every round, so fat partitions win until size forces
    * more). A 100x input grows the count linearly instead of
    * funnelling through a constant.
    */
  private[graft] def sizedPartitions(df: DataFrame,
      bytesPerPartition: Long = 64L << 20): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val par = df.sparkSession.sparkContext.defaultParallelism
    val floor = math.max(1, par / 4)
    // Catalyst's size estimate on a deep join tree multiplies
    // selectivities and can explode to absurdity (observed 7e21
    // "bytes" on a 3-way join of 15k rows — which sized a 65k-
    // partition range exchange of pure scheduler overhead). Estimates
    // past 1 PiB-per-job are treated as garbage and fall back to a
    // couple of tasks per core; sane estimates still cap at 64 tasks
    // per core — beyond that extra partitions add no parallelism for
    // this session (a cluster deployment sizes its shuffle
    // partitioning explicitly anyway).
    if (bytes > BigInt(1L << 50)) math.max(floor, par * 2)
    else {
      val cap = math.max(64, par * 64)
      val bySize = (bytes / bytesPerPartition).min(BigInt(cap)).toInt + 1
      math.max(floor, bySize)
    }
  }

  /** current nodes/links → GraphX graph (node id = vertex id) */
  def toGraphX(store: GraphStore): Graph[Long, Long] = {
    val nodeDf = store.nodes.select(col("id"))
    val edgeDf = store.links
      .filter(col("right").isNotNull)
      .select(col("left"), col("right"), coalesce(col("typeguid"), lit(0L)))
    val nodes = nodeDf.rdd
      .map(r => (r.getLong(0): VertexId, r.getLong(0)))
      .coalesce(sizedPartitions(nodeDf))
    val edges = edgeDf
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getLong(2)))
      .coalesce(sizedPartitions(edgeDf))
    Graph(nodes, edges, defaultVertexAttr = 0L,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  /** connected components (GraphX Pregel under the hood) →
    * (id, component) where component = min vertex id in the component.
    */
  def connectedComponents(store: GraphStore): DataFrame = {
    val g = toGraphX(store)
    val spark = store.spark
    import spark.implicits._
    g.connectedComponents().vertices
      .map { case (id, comp) => (id, comp) }
      .toDF("id", "component")
  }

  /** Forest-row count above which [[connectedComponentsDSU]] hands the
    * contracted forest to [[starComponents]] instead of fanning in to
    * one partition. The dispatch is a MEMORY bound, not a wall-clock
    * crossover: the fan-in tail ends with a SINGLE task holding a
    * ~V-entry hash map (~80 B/entry of java.util.HashMap overhead), so
    * past the threshold that one task outgrows a standard executor
    * heap — 64M entries ≈ 5 GB is about what a 16 GB executor absorbs.
    * Below it DSU's tail is measurably cheaper than star's per-round
    * shuffles: the r11 sf10 probe (76.6M edges, ~50M forest rows, 96g
    * one-box heap) read DSU 82 s steady vs star 122 s, with DSU
    * ~7.3x/decade (sf1 11.2 s) and star ~2.5x/decade (sf1 48.7 s) —
    * star's flat rounds win only where the DSU map no longer fits,
    * which on a real cluster is exactly this threshold, one decade
    * past sf10. r10's "16.3x/decade DSU" figure that motivated the
    * star path reproduced at 82 s here — the 170.6 s sample was
    * cache-thrash noise, but the path it bought is the right one for
    * the decade where the bound is memory, not time.
    *
    * The default is DERIVED from the deployment's executor memory, not
    * a constant: 64M rows is only safe where one task can hold ~5 GB,
    * i.e. a ~16 GB executor — a 4 GB-executor cluster routing a 60M-row
    * forest to the DSU tail would OOM. The derivation gives the one
    * tail task ~30% of the executor heap at ~80 B/entry (16 GB → ~64M
    * rows, matching the measured box; 4 GB → ~16M). Override with
    * -Dgraft.cc.starRows.
    */
  private[graft] def starRowsThreshold(spark: SparkSession): Long =
    sys.props.get("graft.cc.starRows").map(_.toLong).getOrElse {
      val conf = spark.sparkContext.getConf
      val execMem =
        if (conf.contains("spark.executor.memory"))
          conf.getSizeAsBytes("spark.executor.memory")
        else if (spark.sparkContext.isLocal) Runtime.getRuntime.maxMemory()
        else 1L << 30 // Spark's executor-memory default when unset
      math.max(8L << 20, (execMem * 0.3 / 80.0).toLong)
    }

  /** how many times the star path engaged (test probe) */
  private[graft] val starPathRuns =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Large-star/small-star alternation over a canonical (u > v) pair
    * set — the O(log n)-round MapReduce CC of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC'14), as pure
    * DataFrame algebra. Every round costs exactly three exchanges:
    * each phase clusters its input once (hash(n), then hash(u)) and
    * the min-aggregate and the join back both ride that layout
    * shuffle-free, while the closing dedup is folded into the sized
    * repartition (hash(u) clusters the (u,v) dedup key). NO task ever
    * holds more than its hash partition, so the per-round work stays
    * flat as V grows — the property the DSU fan-in tail loses at
    * scale.
    *
    *  - large-star: for each node n, connect every LARGER neighbor to
    *    m = min(N(n) ∪ n). Emitted pairs stay canonical (nbr > n >= m).
    *  - small-star: orient edges large→small; for each u, connect its
    *    smaller neighbors and u itself to m = min(N_small(u)).
    *
    * Both steps preserve connectivity and monotonically shrink a
    * potential function; the fixpoint is a forest of stars centered at
    * component minima, read off as (leaf → center) labels. Fixpoint
    * detection compares an order-independent checksum (count,
    * bit_xor(h), decimal-sum(h)) of consecutive small-star outputs —
    * one extra aggregation per round, collision-proof in practice.
    *
    * Input: (u, v) pairs, any orientation, self-loops allowed (dropped
    * here). Output: (id, component-min) for every node WITH an edge;
    * the caller joins isolated nodes back.
    */
  private[graft] def starComponents(pairs: DataFrame,
      maxIters: Int = 64): DataFrame = {
    starPathRuns.incrementAndGet()
    // every exchange in the round loop uses this width, so it must
    // never drop below one task per core: sizedPartitions targets
    // 64 MB scan partitions, which under-parallelizes the CPU-bound
    // iterative work on small-but-not-tiny forests (8 partitions on
    // 32 cores measured ~1.7x slower at sf1). At real scale the size
    // term dominates and the floor is a no-op.
    val parts = math.max(sizedPartitions(pairs),
      pairs.sparkSession.sparkContext.defaultParallelism)
    // orient, drop self-loops, dedup — as ONE exchange: the sized
    // hash(u) repartition clusters every (u,v) key (hash(u) is a
    // subset of the dedup key), so the dropDuplicates aggregate rides
    // it shuffle-free and e leaves canon already laid out for the
    // checkpoint — no separate distinct + repartition pair
    def canon(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .repartition(parts, col("u"))
      .dropDuplicates("u", "v")
    def checksum(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
      val h = xxhash64(col("u"), col("v"))
      val r = df.agg(count(lit(1)), bit_xor(h),
        sum(h.cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) java.math.BigDecimal.ZERO
        else r.getDecimal(2))
    }
    var e = canon(pairs).localCheckpoint()
    var sig = checksum(e)
    var it = 0
    var converged = sig._1 == 0L
    while (!converged && it < maxIters) {
      // Each round is exactly THREE exchanges (the r11 shape paid ~7):
      // each phase clusters its input once and lets the aggregate AND
      // the join reuse that layout — an agg over clustered input needs
      // no shuffle of its own, and the min table it produces is
      // co-partitioned with the same input for the join back (sort-only
      // SMJ whose build side is one row per key, so hub nodes stream
      // instead of buffering).
      // large-star: connect every LARGER neighbor of n to
      // m = min(N(n) ∪ n). Output (nbr, m) is canonical by
      // construction (nbr > n >= m), and each canonical edge of e
      // emits exactly one pair, so it needs NO dedup pass: duplicates
      // cannot arise, and the downstream mins wouldn't care if they did.
      val sym = e.select(explode(array(
          struct(col("u").as("n"), col("v").as("nbr")),
          struct(col("v").as("n"), col("u").as("nbr")))).as("p"))
        .select(col("p.n").as("n"), col("p.nbr").as("nbr"))
        .repartition(parts, col("n")) // exchange 1 of 3
      val mins = sym.groupBy(col("n"))
        .agg(min(col("nbr")).as("mn"))
        .select(col("n"), least(col("mn"), col("n")).as("m"))
      val large = sym.filter(col("nbr") > col("n"))
        .join(mins, "n")
        .select(col("nbr").as("u"), col("m").as("v"))
        .repartition(parts, col("u")) // exchange 2 of 3
      // small-star on the canonical large-star output: orient
      // large→small and connect u's smaller neighbors, and u itself,
      // to m = min(N_small(u)); minsS and the join reuse exchange 2,
      // and canon's folded repartition+dedup is exchange 3.
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = canon(
        large.join(minsS, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(minsS.select(col("u"), col("m").as("v"))))
        .localCheckpoint()
      val nextSig = checksum(small)
      converged = nextSig == sig
      e = small
      sig = nextSig
      it += 1
    }
    if (!converged && sig._1 > 0L)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIters rounds")
    // stars: every edge is (leaf, component-min); centers label themselves
    e.select(col("u").as("id"), col("v").as("component"))
      .unionByName(
        e.select(col("v").as("id"), col("v").as("component")).distinct())
  }

  // one DSU pass over each partition of (a,b) pairs → (node, root)
  private def dsuContract(pairs: Dataset[(Long, Long)])
      : Dataset[(Long, Long)] = {
    import pairs.sparkSession.implicits._
    pairs.mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) { // path halving
            val gp = parent.getOrDefault(p, p)
            parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
          }
          x
        }
        def union(a: Long, b: Long): Unit = {
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        it.foreach { case (a, b) =>
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b); union(a, b)
        }
        val out = Vector.newBuilder[(Long, Long)]
        parent.keySet.forEach(k => out += (k -> find(k)))
        out.result().iterator
      }
  }

  /** Connected components by union-find contraction — the path every
    * gate runs; GraphX [[connectedComponents]] is the reference it is
    * tested against.
    *
    * Level k: each partition runs an in-memory disjoint-set union over
    * its edge block with union-by-min (the smaller root wins), then
    * emits one (node → root) spanning-forest pair per distinct node it
    * saw. That contracts a block of E edges to ≤ V_block pairs while
    * preserving "root = min id seen so far", so unioning pairs across
    * levels keeps converging on the global min of each component.
    * Levels repeat with the partition count divided by `fanIn` until
    * one block remains; the last block's DSU yields the final labels.
    *
    * Work is O(E α(V)) total across ~log_fanIn(P) rounds — no
    * per-round full-graph shuffle, no diameter dependence (label
    * propagation pays a round per hop the min label must travel; this
    * pays a round per contraction level). At cluster scale the first
    * level runs on every input split in parallel and each level
    * shrinks data ~E/V-fold, the same shape as GraphFrames' big-star
    * contraction. mapPartitions is warranted here: DSU is genuinely
    * per-partition imperative state with no declarative equivalent.
    */
  def connectedComponentsDSU(nodes: DataFrame, edges: DataFrame,
      fanIn: Int = 16): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // materialize the first contraction: the edge plan may be
    // arbitrarily expensive (e.g. a similarity self-join feeding
    // dedup clustering), and both the level loop below and the final
    // label join would otherwise re-evaluate it once per reference
    var forest = dsuContract(edges.select(col("left").as("a"), col("right").as("b"))
      .as[(Long, Long)]).localCheckpoint()
    // DISPATCH: the fan-in tail below ends in ONE task whose hash map
    // holds every surviving node — a MEMORY bound, not a time
    // crossover (see starRowsThreshold: DSU measured FASTER than star
    // through sf10; star wins the decade where the one-task map no
    // longer fits an executor heap). Past the threshold the contracted
    // forest (already <= V pairs, connectivity-equivalent to the input)
    // goes to the star alternation, whose per-task state is one hash
    // partition at every scale.
    // the dispatch count scans the just-checkpointed blocks, not the
    // edge plan (localCheckpoint is eager): measured <1% of a02 at
    // sf0.1 and sf10 both — not worth an estimate-based skip
    val forestRows = forest.count()
    val roots =
      if (forestRows > starRowsThreshold(spark))
        starComponents(forest.toDF("u", "v")).toDF("id", "component")
      else {
        // ADAPTIVE ladder depth: intermediate fan-in levels exist only
        // to shrink the duplicate (node -> root) rows the final serial
        // task must stream (a node touched by k partitions appears k
        // times; a level collapses that toward one row per node) — the
        // final task's MAP is ~V entries either way, which the star
        // dispatch above already bounds. When the whole forest is
        // small enough that the single task streams it in well under a
        // stage's fixed cost (~50M rows/s measured for the DSU pass vs
        // ~0.2 s per extra stage + checkpoint), the intermediate level
        // is pure overhead: fan straight to one partition. Override
        // with -Dgraft.cc.directFanInRows.
        val directRows = sys.props.get("graft.cc.directFanInRows")
          .map(_.toLong).getOrElse(4L << 20)
        var parts = forest.rdd.getNumPartitions
        while (parts > 1) {
          parts = if (forestRows <= directRows) 1
                  else math.max(1, parts / fanIn)
          forest = dsuContract(forest.repartition(parts)).localCheckpoint()
        }
        forest.toDF("id", "component")
      }
    // isolated vertices (no edges) are their own component
    nodes.join(roots, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** store-level components over current nodes/links via union-find
    * contraction (see connectedComponentsDSU). The GraphX Pregel
    * variant above remains for pipelines that want a vertex-program
    * formulation.
    */
  def connectedComponentsStore(store: GraphStore): DataFrame =
    connectedComponentsDSU(
      store.nodes.select(col("id")),
      store.links.filter(col("right").isNotNull).select(col("left"), col("right")))

  /** PageRank over the link structure */
  def pageRank(store: GraphStore, iters: Int = 10, reset: Double = 0.15): DataFrame = {
    val g = toGraphX(store)
    val spark = store.spark
    import spark.implicits._
    g.staticPageRank(iters, reset).vertices
      .map { case (id, pr) => (id, pr) }
      .toDF("id", "pagerank")
  }

  /** PageRank as pure DataFrame iterations: init 1.0, then
    * r' = reset + (1-reset)·Σ_incoming r/outdeg (dangling mass dropped
    * — the classic static formulation). Declarative per-iteration plan:
    * one shuffle on dst per round; at cluster scale the edge table is
    * bucketed by dst so rounds are exchange-free, and AQE handles
    * fan-in skew (celebrity nodes). Exactly mirrorable in SQL, which
    * GraphX's internal formulation is not — so this variant is the one
    * wired into the DuckDB oracle gate.
    */
  /** the weighted-edge table's memo, keyed per regime: repeat calls
    * (bench reps, chained consumers) share one materialization and
    * skip the materializing count, and LRU eviction releases the cache
    * instead of the raw .cache() accumulating one pinned edge table per
    * distinct store forever
    */
  private val prEdgeMemo = Memo.frames[(Long, Int, Boolean)]

  /** Edge-count bound for PageRank's per-round rank attach. At or
    * under it each round BROADCASTS the rank vector (in-sum rows ≤
    * distinct dst ≤ E) and rides the dst-partitioned edge cache
    * exchange-free — but the broadcast relation is built single-
    * threaded ON THE DRIVER every round, so its cost grows linearly
    * with V while everything else stays parallel (measured at sf10:
    * the five per-round driver builds dominate the warm query), and
    * past ~hundreds of MB it stops being a sane broadcast at all
    * (8 GB / 512M-row hard cap). Past the bound the rounds switch to
    * the shuffle formulation: edges cached hash(src) so the per-round
    * rank join is a shuffled-hash join of ONE rank exchange (V rows)
    * against the cached layout, plus one narrow (dst, c) contribution
    * exchange for the aggregate — per-round network linear in E, no
    * driver-side structure anywhere. 32M edges ≈ a worst-case ~1.5 GB
    * built relation: the last point the broadcast is defensible.
    * Override with -Dgraft.pr.broadcastMaxRows (0 forces shuffle).
    */
  private[graft] def prBroadcastMaxRows: Long =
    sys.props.get("graft.pr.broadcastMaxRows").map(_.toLong)
      .getOrElse(32L << 20)

  def pageRankDF(store: GraphStore, iters: Int, reset: Double = 0.15,
      materializeRounds: Boolean = false): DataFrame = {
    // weighted edges (src, dst, 1/outdeg) computed ONCE and cached —
    // the per-iteration plan is then a single join + aggregation; the
    // same pre-join a cluster deployment would bake into a bucketed
    // edge table
    val edges = store.links.filter(col("right").isNotNull)
      .select(col("left").as("src"), col("right").as("dst"))
    // carry od and divide (not multiply by 1/od): bit-identical to the
    // oracle's sum(rank/od) term ordering-insensitive at 6dp rounding.
    // REGIME DISPATCH (see prBroadcastMaxRows): the memoized edge
    // count is the proxy for the rank vector's size. Broadcast regime:
    // cache hash(dst) — every round's groupBy(dst) then needs NO
    // exchange (the cached partitioning satisfies the agg's
    // distribution and the broadcast join preserves it). Shuffle
    // regime: cache hash(src) — the per-round rank join rides the
    // cached layout instead (one V-row exchange of the rank side), and
    // the aggregate pays one narrow contribution exchange.
    val eRows = Memo.count(edges)
    val useBroadcast = eRows <= prBroadcastMaxRows
    val partCol = if (useBroadcast) "dst" else "src"
    val parts = sizedPartitions(edges)
    val cedges = prEdgeMemo.getOrElseUpdate(
      (Memo.planKey(edges), parts, useBroadcast), {
        val ce = edges
          .join(edges.groupBy("src").agg(count(lit(1)).as("od")), "src")
          .repartition(parts, col(partCol))
          .cache()
        // MATERIALIZE the cache before composing the rounds: an
        // un-materialized cached plan under AQE reports unknown output
        // partitioning (its final shuffle layout is only fixed once the
        // cached stages actually run), so every round's groupBy(dst)
        // would plan a defensive ENSURE_REQUIREMENTS exchange —
        // measured five extra shuffles per 5-round query. Materialized
        // first, the scan advertises hash(partCol, n) and each round
        // plans against the known layout. The count is work round 1
        // pays anyway — moved, not added (a memo hit skips it).
        ce.count()
        Memo.Frame(ce, Seq(ce))
      }).df
    // Iterate over the in-sum table only — vertices with no in-edges
    // hold the constant rank `reset` after round 1 and never need to be
    // materialized per round: r(s) = reset + (1-reset)·in_sum(s), with
    // in_sum absent ⇒ 0. The in-sum table is |{v: indeg>0}| rows.
    // Broadcast regime: each round is a map-side join over the cached
    // edge table plus one partial-agg shuffle. Shuffle regime: the
    // rank side is exchanged to the cache's hash(src) layout and
    // joined as a SHUFFLED-HASH join (hint — sort-merge would re-sort
    // the cached E-row side every round), then the (dst, c)
    // contributions aggregate through one narrow exchange.
    // The rounds compose into ONE lazy plan: each round's in-sum feeds
    // the next round through an exchange subtree, so the whole
    // iteration executes as a single query instead of `iters`
    // driver-blocking materializations. Five rounds keep the logical
    // tree small enough that analysis cost is negligible; unbounded
    // iteration counts would reintroduce a checkpoint every ~10 rounds.
    def mat(df: DataFrame): DataFrame =
      if (materializeRounds) df.localCheckpoint() else df
    def attach(rank: DataFrame): DataFrame =
      if (useBroadcast) broadcast(rank) else rank.hint("shuffle_hash")
    var inSum = mat(cedges
      .groupBy("dst").agg(sum(lit(1.0) / col("od")).as("in_sum")))
    for (_ <- 2 to iters) {
      val asRank = inSum.select(col("dst").as("src"),
        (lit(reset) + lit(1 - reset) * col("in_sum")).as("pagerank"))
      inSum = mat(cedges
        .join(attach(asRank), Seq("src"), "left_outer")
        .select(col("dst"),
          (coalesce(col("pagerank"), lit(reset)) / col("od")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_sum")))
    }
    val verts = store.nodes.select(col("id"))
    verts.join(attach(inSum), verts("id") === inSum("dst"), "left_outer")
      .select(verts("id"),
        (lit(reset) + lit(1 - reset) * coalesce(col("in_sum"), lit(0.0)))
          .as("pagerank"))
  }

  /** k-hop neighborhood via iterative DataFrame self-joins (each hop is
    * a pair of directional equi-join probes on the link table —
    * Catalyst broadcasts the frontier; undirected expansion like the
    * reference's linkage traversal).
    *
    * Probing the (memory-resident) link table directly in both
    * directions is the dataflow form of the reference's gmap left/right
    * index lookups — it avoids building and caching a doubled symmetric
    * edge copy that a point-source traversal would only graze. At
    * cluster scale the two probes read the same bucketed linkage table
    * that fan-in joins use, so no extra materialization there either.
    */
  def kHop(store: GraphStore, sources: Seq[Long], k: Int): DataFrame = {
    val links = store.links.filter(col("right").isNotNull)
      .select(col("left"), col("right"))
    val spark = store.spark
    import spark.implicits._
    var frontier = sources.toDF("id").withColumn("hops", lit(0))
    var seen = frontier
    for (h <- 1 to k) {
      // frontier and the seen-set are tiny relative to the link table:
      // broadcast them so each hop is a map-side probe over links
      val f = broadcast(frontier.select(col("id")))
      val next = links.join(f, links("left") === f("id"))
        .select(col("right").as("id"))
        .unionByName(links.join(f, links("right") === f("id"))
          .select(col("left").as("id")))
        .distinct()
        .join(broadcast(seen.select("id")), Seq("id"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint() // truncate the growing iterative plan
      seen = seen.unionByName(next)
      frontier = next
    }
    seen
  }

  /** Undirected co-occurrence edges from a (key, member) link table:
    * two members that share a key get one canonical (a < b) edge.
    * Per-key member lists are capped (default 256) BEFORE the pair
    * self-join — one hub key with a million members would otherwise
    * emit half a trillion pairs; the cap keeps the blowup bounded at
    * cap^2/2 per key, the same skew guard the LSH candidate
    * generation uses.
    */
  private val cooccurMemo = Memo.frames[(Long, String, String, Int)]

  def cooccurrenceEdges(links: DataFrame, keyCol: String, memberCol: String,
      maxPerKey: Int = 256): DataFrame =
    cooccurMemo.getOrElseUpdate(
      (Memo.planKey(links), keyCol, memberCol, maxPerKey), {
        val base = links.select(col(keyCol).as("k"), col(memberCol).as("m"))
          .distinct()
        // CACHED: the pair self-join reads the capped membership from
        // both sides — uncached, Catalyst re-derives the whole
        // distinct + df-cap chain (2 aggregation shuffles over the raw
        // link scan) once per side, per call. The OUTPUT is cached too
        // (the LSH-memo pattern): repeat actions on the memoized edge
        // set (a04's edge feed, repeated gates, bench reps) read the
        // materialized pairs instead of re-running the self-join and
        // the pair-distinct shuffle every time.
        val capped = graft.operators.Dedup
          .capBuckets(base, Seq("k"), maxPerKey).cache()
        val l = capped.toDF("k", "a")
        val r = capped.toDF("k", "b")
        val out = l.join(r, l("k") === r("k") && col("a") < col("b"))
          .select(col("a"), col("b")).distinct().cache()
        Memo.Frame(out, Seq(capped, out))
      }).df

  /** Global triangle count by DEGREE-ORDERED ORIENTATION — the
    * standard scalable formulation: orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one, enumerate
    * wedges only from each vertex's OUT-edges, and close them against
    * the oriented edge set. Orientation bounds every vertex's
    * out-degree by O(sqrt(|E|)), so hub vertices — whose naive wedge
    * count is quadratic in degree — never fan out; the whole job is
    * two equi-join shuffles over the edge list, no adjacency
    * collection anywhere.
    */
  private val triMemo = Memo.frames[(Long, String)]

  def triangleCount(edges: DataFrame): DataFrame =
    triMemo.getOrElseUpdate(
      // schema rides in the key like the sibling memos — the bare
      // 32-bit plan hash alone is too collision-prone to be a cache key
      (Memo.planKey(edges),
        edges.columns.mkString(",")),
      triangleOnce(edges)).df

  private def triangleOnce(edges: DataFrame): Memo.Frame = {
    // canonicalize to a < b (either input orientation), drop loops.
    // CACHED: the edge set feeds the degree table, the orientation
    // join, and the wedge-closing join — uncached, Catalyst replicates
    // the whole derivation subplan (a capped co-occurrence self-join
    // upstream of a04) into every consumer, and at corpus scale that
    // is 4 re-derivations of the edge list per count
    val e = edges.select(
        least(col("a"), col("b")).cast("long").as("a"),
        greatest(col("a"), col("b")).cast("long").as("b"))
      .filter(col("a") < col("b")).distinct()
      .cache()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient: u -> w iff (d_u, u) < (d_w, w)
    val withDeg = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    // cached for the same reason as `e`: the wedge self-join reads it
    // from both sides
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .cache()
    // wedges from shared out-vertex u: (v1, v2) with v1 < v2 by the
    // orientation order is not guaranteed, so close against BOTH
    // orientations via the canonical undirected form
    val o1 = oriented.toDF("u", "v1")
    val o2 = oriented.toDF("u", "v2")
    val wedges = o1.join(o2, Seq("u")).filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"))
    val out = wedges
      .join(e, wedges("v1") === e("a") && wedges("v2") === e("b"))
      .agg(count(lit(1)).as("triangles"))
    Memo.Frame(out, Seq(e, oriented))
  }
}
