package graft.serve

import org.apache.spark.sql.functions._

import graft.gql.{ChildPointsToParent, Constraint, CountBounds, Parser}
import graft.store.GraphStore

/** Shard router over [[PointServer]] snapshots — the serving tier's
  * scale-out story. One snapshot holds one shard's hot set (the
  * reference itself caps a database at 16G primitives,
  * libaddb/addb-istore.h:22); past that the corpus hash-partitions by
  * id across serving nodes and a router scatter-gathers.
  *
  * Locality contract: shard `s` OWNS primitives with `id % n == s` and
  * additionally HOLDS every link whose left/right endpoint it owns
  * (the VIP co-location move: a posting lives with the node it points
  * at), so the servable query class — root predicates plus bounds-only
  * 1-hop children — never needs another shard to check a candidate.
  * Each shard answers only rows it owns (`Index.home`), the router
  * merges by ascending id and applies start/pagesize globally. The
  * type-name vocabulary (tiny, global) is resolved once and broadcast
  * into every shard.
  *
  * Routed queries: the point-read class (the qps benchmark class —
  * "names containing herman"), sorted or not. Each shard answers its
  * slice in the query's order (PointServer pre-computes the
  * comparator keys); the router k-way-merges the per-shard streams
  * and takes the global page, capping every shard at the page prefix.
  */
object ShardRouter {

  final case class Shards(shards: Vector[PointServer.Index], n: Int)

  /** Build `n` shard snapshots from the store. Each shard's collect is
    * ~1/n of the corpus (plus owned-endpoint link duplicates) — the
    * per-serving-node memory bound that makes the tier horizontal. On
    * a cluster each build runs against the shard's partition of the
    * table; the predicates below push into the scan.
    */
  def build(store: GraphStore, n: Int): Shards = {
    require(n >= 1)
    val globalTypes = PointServer.build(store).types
    // shard the globally-resolved CURRENT view: version currency is a
    // per-lineage property and lineage members hash to different
    // shards, so newest/live resolution must happen before the split
    val currentView = store.copy(source = store.view.source, versioned = false)
    val shards = (0 until n).map { s =>
      // null endpoints must NOT default into shard 0 (a coalesce-to-0
      // here would hand shard 0 every NODE in the corpus and break the
      // 1/n per-shard memory bound); only real link endpoints co-locate
      val owned = pmod(col("id"), lit(n)) === s ||
        (col("left").isNotNull && pmod(col("left"), lit(n)) === s) ||
        (col("right").isNotNull && pmod(col("right"), lit(n)) === s)
      val shardStore = currentView.copy(source = currentView.source.filtered(
        owned, p => p.id % n == s || p.left.exists(_ % n == s) ||
          p.right.exists(_ % n == s)))
      PointServer.build(shardStore)
        .withTypes(globalTypes)
        .withHome(id => id % n == s)
    }.toVector
    Shards(shards, n)
  }

  /** The scatter plan the router derives once per query shape: the
    * per-shard constraint (un-started, prefix-capped), the flattened
    * result pattern, and the merge's sort directions. Cached per query
    * string in [[StatementCache]] on its first routed use — on the
    * point-read hot path the locality analysis + vetting below costs
    * ~2.4µs against a ~2.9µs per-shard probe (`perfbench/run.py
    * --workload serve --trace 1` reports the probe as `serve.probe_us`).
    */
  final case class RoutedPlan(shardC: Constraint, flat: Seq[graft.gql.Pattern],
      sorted: Boolean, dirs: Array[Boolean],
      wordKeys: Seq[Seq[Either[String, String]]],
      /** column names, derived once per statement — per-query repeat
        * work on the point-read hot path */
      cols: Seq[String])

  def serve(sh: Shards, query: String): Option[PointServer.Served] = {
    val p = StatementCache.prepared(query)
    p.routed.flatMap(r => serveRouted(sh, p.c, r))
  }

  def serve(sh: Shards, c: Constraint): Option[PointServer.Served] =
    routedPlan(c).flatMap(r => serveRouted(sh, c, r))

  /** None = not a routed query class; fall back to the full plan.
    *
    * Shard locality covers root predicates + left/right fan-in
    * children ONLY: a shard holds every link whose left/right
    * endpoint it owns, so those postings are complete. Everything
    * else is non-local:
    *  - `left->(...)` children read the node AT an endpoint —
    *    possibly foreign — as do linkage-less children (the point
    *    server infers a parent->child direction for them);
    *  - `<-typeguid` / `<-scope` fan-ins count postings co-located
    *    by their OWN endpoints, not by typeguid/scope, so a shard
    *    sees only a fraction of them;
    *  - 2-hop children chain further.
    * Root count BOUNDS are a global property; the router only
    * answers bounds-free roots (count RESULTS aggregate fine).
    */
  private[serve] def routedPlan(c: Constraint): Option[RoutedPlan] = {
    if (c.effectiveCount != CountBounds()) return None
    def shardLocal(sub: Constraint): Boolean = sub.effectiveLinkage match {
      case Some(ChildPointsToParent(f)) => f == "left" || f == "right"
      case _ => false
    }
    if (c.subs.exists(sub => sub.subs.nonEmpty || !shardLocal(sub)))
      return None
    // shards answer un-started but PREFIX-capped: the global page
    // [start, start+pagesize) can draw at most start+pagesize rows
    // from any single shard, so each shard materializes only that
    // prefix of ITS order (ascending id unsorted; comparator keys
    // sorted — PointServer emits the keys so the router's merge uses
    // the exact per-shard compare, never re-deriving them)
    val prefix = c.pagesize.map(ps => c.start.getOrElse(0L) + ps)
    val shardC = c.copy(start = None, pagesize = prefix)
    // validate + flatten the result pattern ONCE; per-shard calls take
    // the vetted fast entry
    if (!PointServer.servableFor(shardC)) return None
    PointServer.flatFor(shardC).map(proj =>
      RoutedPlan(shardC, proj.flat, c.sort.nonEmpty,
        c.sort.map(_.ascending).toArray,
        PointServer.wordProbeKeys(shardC), proj.cols))
  }

  /** Failure contract: the scatter is ALL-OR-NOTHING. Any shard probe
    * that throws propagates as a request-level failure — the router
    * never merges a partial shard set (a silently short page is worse
    * than an error). Callers retry the whole request; per-shard
    * answers carry no cross-request state, so a retry against healthy
    * shards returns the byte-exact answer (pinned by the
    * ShardRouterSpec chaos case).
    */
  private[serve] def serveRouted(sh: Shards, c: Constraint, r: RoutedPlan)
      : Option[PointServer.Served] = {
    // per-shard answers are POSITION SLICES, not materialized rows:
    // the merge below picks the global page's winners first and only
    // then materializes their row arrays, so a k-shard scatter
    // allocates one page of rows total instead of k prefix-pages —
    // the ~3x per-query garbage the 32-thread scatter tax measured
    val n = sh.shards.length
    val pos = new Array[Array[Int]](n)
    val keys = new Array[Array[Array[String]]](n)
    var s = 0
    while (s < n) {
      PointServer.positionsVetted(sh.shards(s), r.shardC, r.flat,
          r.wordKeys) match {
        case Some((p, k)) => pos(s) = p; keys(s) = k
        case None => return None
      }
      s += 1
    }
    if (r.flat == Seq(graft.gql.CountPat)) {
      var total = 0L
      var i = 0
      while (i < n) { total += pos(i).length; i += 1 }
      return Some(PointServer.Served(Seq("count"), Seq(Array[Any](total))))
    }
    Some(kWayMerge(sh, pos, keys, c, r))
  }

  /** n-way merge of per-shard position slices (each already in the
    * query's global order) into the requested page — no union re-sort,
    * no materialization past start+pagesize, row arrays allocated for
    * WINNERS only. Compare mirrors PointServer's: per sort key
    * nulls-last, direction per spec, id tiebreak; unsorted reads merge
    * by ascending id through a SPECIALIZED primitive-long loop (no
    * comparator indirection, no per-row tuple — this is every
    * scatter-gather point read's tail).
    */
  private def kWayMerge(sh: Shards, pos: Array[Array[Int]],
      keys: Array[Array[Array[String]]], c: Constraint, r: RoutedPlan)
      : PointServer.Served = {
    val n = pos.length
    val dirs = r.dirs
    val cursors = new Array[Int](n)
    var total = 0
    var t = 0
    while (t < n) { total += pos(t).length; t += 1 }
    // clamp in Long BEFORE narrowing: a start past 2^31 must clamp to
    // `total` (an empty suffix), not wrap negative and return a bogus
    // full page — same drop semantics as the single-snapshot path
    val start = math.min(c.start.getOrElse(0L), total.toLong).toInt
    val wanted = c.pagesize.fold(total - start)(ps =>
      math.min(ps.toInt, total - start)).max(0)
    val outIds = new Array[Long](wanted)
    val outRows = new Array[Array[Any]](wanted)
    val sorted = dirs.length > 0
    val flat = r.flat
    val width = flat.length
    def lt(s: Int, i: Int, u: Int, j: Int): Boolean = {
      val rc = PointServer.keyCompare(keys(s)(i), keys(u)(j), dirs)
      if (rc != 0) rc < 0
      else sh.shards(s).ids(pos(s)(i)) < sh.shards(u).ids(pos(u)(j))
    }
    var taken = 0
    while (taken < start + wanted) {
      var best = -1
      var bestId = Long.MaxValue
      var s = 0
      while (s < n) {
        val cs = cursors(s)
        if (cs < pos(s).length) {
          if (!sorted) {
            val id = sh.shards(s).ids(pos(s)(cs))
            if (id < bestId) { best = s; bestId = id }
          } else if (best < 0 || lt(s, cs, best, cursors(best))) best = s
        }
        s += 1
      }
      val i = cursors(best)
      cursors(best) += 1
      if (taken >= start) {
        val ix = sh.shards(best)
        val p = pos(best)(i)
        val row = new Array[Any](width)
        var f = 0
        while (f < width) {
          row(f) = PointServer.fieldOf(ix, flat(f), p)
          f += 1
        }
        outIds(taken - start) = ix.ids(p)
        outRows(taken - start) = row
      }
      taken += 1
    }
    PointServer.Served(r.cols,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(outRows),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(outIds))
  }
}
