package graft.serve

import java.util.concurrent.ConcurrentHashMap

import graft.gql.{Constraint, Parser}

/** Prepared-statement cache for the serving tier: raw query text →
  * parsed AST + vetted serving plans.
  *
  * A miss costs one parse of the text (~4µs for a ~70-char serve
  * read, `gql.parse_us` in `perfbench/run.py --workload serve
  * --trace 1`) plus the servability vetting and the word-key analysis,
  * against a ~7–9µs snapshot probe (`serve.probe_us`) — a
  * steady-state server answering repeated query shapes (the
  * reference's serving regime, doc/a-brief-tour-of-graphd.md:197-204)
  * would re-derive the same AST and the same vetting millions of
  * times. One lookup replaces parse + servableFor + result-pattern
  * flattening + the router's locality analysis. Everything cached is
  * an immutable AST, safe to share across client threads.
  *
  * Bounded by EPOCH FLUSH rather than LRU: hits are lock-free
  * (ConcurrentHashMap.get); when the map passes `cap`
  * ([[cap]], 64k entries) the whole epoch drops. A
  * serving tier prefers a rare re-parse burst over taking an eviction
  * lock on every hit — with 32 clients at ~1M q/s a synchronized LRU
  * would serialize the hot path on exactly the queries it exists to
  * speed up.
  */
private[graft] object StatementCache {
  private final val cap = 1 << 16

  /** one parse, every serving plan derived from it:
    *  - `single`: the snapshot tier's result leaves and column names
    *    (None = not servable there; run the Catalyst plan)
    *  - `routed`: the shard router's scatter plan (None = non-local
    *    query class; fall back to the single snapshot / Catalyst),
    *    derived on first use, so a statement only the single snapshot
    *    serves never pays the router's analysis
    */
  final class Prepared(
      val c: Constraint,
      val single: Option[PointServer.Projection],
      /** word/prefix probe keys — the regex-heavy constraint analysis
        * the candidate producer needs, derived once per query shape */
      val wordKeys: Seq[Seq[Either[String, String]]]) {
    lazy val routed: Option[ShardRouter.RoutedPlan] = ShardRouter.routedPlan(c)
  }

  private val map = new ConcurrentHashMap[String, Prepared]()

  def prepared(q: String): Prepared = {
    val hit = map.get(q)
    if (hit != null) hit
    else {
      val c = Parser.parseRead(q)
      val single =
        if (PointServer.servableFor(c)) PointServer.flatFor(c) else None
      val p = new Prepared(c, single, PointServer.wordProbeKeys(c))
      if (map.size >= cap) map.clear()
      map.put(q, p)
      p
    }
  }
}
