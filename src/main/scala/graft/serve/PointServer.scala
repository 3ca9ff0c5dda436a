package graft.serve

import graft.functions.GraphdText
import graft.gql._
import graft.model.Primitive
import graft.store.{GraphStore, TypeVocab}

/** Point-read serving tier.
  *
  * The reference is a single-node server answering ~200k simple
  * queries/minute from memory-resident indexes (mmap'd istore tiles +
  * gmap/hmap id-arrays, doc/a-brief-tour-of-graphd.md:197-204). A Spark
  * job — cluster or local — pays tens of milliseconds of scheduling per
  * query, which is the right trade for analytics and exactly the wrong
  * one for OLTP-style point reads (BASELINE.json's north star calls
  * this out: "the serving layer does not [map to Spark]").
  *
  * This tier is the architectural answer: a compact immutable snapshot
  * of the CURRENT view (newest live versions) built FROM the Spark
  * store — same derivation a `foreachBatch` refresh would run — holding
  * the same access paths the reference serves from:
  *
  *   - dense column arrays addressed by position (istore analog)
  *   - id → position binary search (the istore's id addressing)
  *   - typeguid / left / right postings (gmap + VIP analog)
  *   - sorted word → postings map over value words (WORD/PREFIX hmap)
  *
  * Reads that fit the simple-query class (a constraint tree of
  * intrinsic predicates + bounds-only/contents children — the
  * reference's own benchmark class, "all people who are authors whose
  * names contain 'herman'") are answered directly from the snapshot
  * with the SAME comparator/match semantics (shared GraphdText code);
  * anything else returns None and the caller falls back to the full
  * Catalyst plan. Correctness is gated by ServeSpec: every servable
  * query must answer identically through both paths.
  *
  * Callers: the serving entry points below and [[ShardRouter]], and
  * `ReadPlanner.plan`, which answers servable reads on a store that
  * carries the driver-resident mirror from the store's own snapshot
  * ([[graft.store.Source.View.pointIndex]]) instead of running a Spark
  * job.
  *
  * Scale: one snapshot holds one shard's hot set (the reference itself
  * caps a database at 16G primitives, libaddb/addb-istore.h:22). At
  * 100 TB the same structure shards by id-range/type across serving
  * nodes, each fed by its partition of the Spark table; nothing here
  * assumes a global view beyond the shard it serves.
  */
object PointServer {

  final class Index(
      val ids: Array[Long], // sorted ascending (current view)
      val typeguid: Array[Long], // -1 = null
      val name: Array[String],
      val value: Array[String],
      val left: Array[Long], // -1 = null
      val right: Array[Long],
      val scope: Array[Long],
      val datatype: Array[Byte],
      val timestamp: Array[Long],
      val byType: java.util.HashMap[Long, Array[Int]],
      val byLeft: java.util.HashMap[Long, Array[Int]],
      val byRight: java.util.HashMap[Long, Array[Int]],
      val byScope: java.util.HashMap[Long, Array[Int]],
      val words: java.util.TreeMap[String, Array[Int]],
      /** `type=` resolution and the `type` result */
      val types: TypeVocab,
      /** home-shard predicate: a sharded snapshot holds FOREIGN rows
        * for locality (links live in their endpoints' shards too, so
        * 1-hop child checks never leave the shard) but only answers
        * for rows it OWNS — the router's dedup contract
        */
      val home: Long => Boolean = _ => true) {
    def size: Int = ids.length
    def posOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    def withTypes(t: TypeVocab): Index =
      new Index(ids, typeguid, name, value, left, right, scope, datatype,
        timestamp, byType, byLeft, byRight, byScope, words, t, home)
    def withHome(h: Long => Boolean): Index =
      new Index(ids, typeguid, name, value, left, right, scope, datatype,
        timestamp, byType, byLeft, byRight, byScope, words, types, h)
  }

  /** Build the snapshot from the store's current view. A store that
    * carries the driver-resident mirror hands over its own snapshot
    * ([[graft.store.Source.View.pointIndex]], no Spark job); any other
    * store pays one collect of the columns the serving paths need (the
    * materialized-view refresh; on a cluster this is the per-shard
    * executor-side build).
    */
  def build(store: GraphStore): Index = store.view.pointIndex.getOrElse {
    import org.apache.spark.sql.functions.col
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    // the current view is newest and live; the version columns the
    // snapshot does not carry take their defaults
    val rows = store.current
      .select(col("id"), col("typeguid"), col("name"), col("value"),
        col("left"), col("right"), col("scope"), col("datatype"),
        col("timestamp"))
      .collect()
      .map(r => Primitive(r.getLong(0), opt(r, 1), Option(r.getString(2)),
        if (r.isNullAt(7)) 0 else r.getByte(7), Option(r.getString(3)),
        opt(r, 6), live = true, archival = false, txstart = false,
        if (r.isNullAt(8)) 0L else r.getLong(8), opt(r, 4), opt(r, 5),
        prev = None, lineage = r.getLong(0)))
      .toIndexedSeq
    of(rows, TypeVocab.of(rows))
  }

  /** The row-array core: the snapshot of current primitives (any
    * order) resolving types through `types` — the collect above, or a
    * mirror-backed store's own [[graft.store.Source.View.pointIndex]].
    */
  private[graft] def of(rows0: IndexedSeq[Primitive], types: TypeVocab): Index = {
    val inOrder = rows0.iterator.zip(rows0.iterator.drop(1)).forall(p => p._1.id < p._2.id)
    val rows = if (inOrder) rows0 else rows0.sortBy(_.id)
    val n = rows.length
    val ids = new Array[Long](n)
    val tg = new Array[Long](n); val lf = new Array[Long](n)
    val rt = new Array[Long](n); val sc = new Array[Long](n)
    val nm = new Array[String](n); val vl = new Array[String](n)
    val dt = new Array[Byte](n); val ts = new Array[Long](n)
    var i = 0
    rows.foreach { p =>
      ids(i) = p.id
      tg(i) = p.typeguid.getOrElse(-1L)
      nm(i) = p.name.orNull
      vl(i) = p.value.orNull
      lf(i) = p.left.getOrElse(-1L)
      rt(i) = p.right.getOrElse(-1L)
      sc(i) = p.scope.getOrElse(-1L)
      dt(i) = p.datatype
      ts(i) = p.timestamp
      i += 1
    }
    def postings(keyAt: Int => Long): java.util.HashMap[Long, Array[Int]] = {
      val acc = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuilder.ofInt]()
      var j = 0
      while (j < n) {
        val k = keyAt(j)
        if (k >= 0) {
          var b = acc.get(k)
          if (b == null) { b = new scala.collection.mutable.ArrayBuilder.ofInt; acc.put(k, b) }
          b += j
        }
        j += 1
      }
      val out = new java.util.HashMap[Long, Array[Int]](acc.size())
      acc.forEach((k, b) => out.put(k, b.result()))
      out
    }
    // word postings: tokenize locally with the engine's own segmenter
    // (libpdb/pdb-word.c semantics) — positions ascending by build order
    val wacc = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
    i = 0
    while (i < n) {
      if (vl(i) != null) {
        GraphdText.words(vl(i)).distinct.foreach { w =>
          var b = wacc.get(w)
          if (b == null) { b = new scala.collection.mutable.ArrayBuilder.ofInt; wacc.put(w, b) }
          b += i
        }
      }
      i += 1
    }
    val words = new java.util.TreeMap[String, Array[Int]]()
    wacc.forEach((w, b) => words.put(w, b.result()))
    new Index(ids, tg, nm, vl, lf, rt, sc, dt, ts,
      postings(j => tg(j)), postings(j => lf(j)), postings(j => rt(j)),
      postings(j => sc(j)), words, types)
  }

  /** A servable read answered from the snapshot: column names + rows.
    * None = not servable here; run the Catalyst plan instead.
    */
  final case class Served(columns: Seq[String], rows: Seq[Array[Any]],
      /** candidate id per row (empty for count results) — the shard
        * router's merge key */
      rowIds: Seq[Long] = Nil,
      /** per-row comparator sort keys (only when the query sorts AND
        * the caller asked — the shard router's k-way merge keys; each
        * inner array has one pre-computed key per sort spec, null
        * meaning nulls-last) */
      sortKeys: Seq[Array[String]] = Nil)

  /** text entry — parse + vetting come from the prepared-statement
    * cache (StatementCache): a steady-state server re-answers the same
    * query shapes, and a miss's parse and vetting cost about as much
    * as the ~7µs probe
    */
  def serve(ix: Index, query: String): Option[Served] = {
    val p = StatementCache.prepared(query)
    p.single match {
      case Some(proj) =>
        serveVetted(ix, p.c, proj, emitSortKeys = false, p.wordKeys)
      case None => None
    }
  }

  def serve(ix: Index, c: Constraint): Option[Served] =
    serve(ix, c, emitSortKeys = false)

  def serve(ix: Index, c: Constraint, emitSortKeys: Boolean)
      : Option[Served] = {
    if (!servableFor(c)) return None
    flatFor(c) match {
      case Some(proj) => serveVetted(ix, c, proj, emitSortKeys)
      case None => None
    }
  }

  /** Compare two pre-computed sort-key rows under the sort directions:
    * nulls sort LAST under EITHER direction (the Spark path's
    * asc_nulls_last/desc_nulls_last) — only the non-null comparison
    * inverts for descending keys. 0 = equal; callers tiebreak by id.
    * The ONE ordering shared by the snapshot's own sort and the shard
    * router's k-way merge — two copies would drift.
    */
  private[serve] def keyCompare(ka0: Array[String], kb0: Array[String],
      dirs: Array[Boolean]): Int = {
    var r = 0; var k = 0
    while (r == 0 && k < ka0.length) {
      val ka = ka0(k); val kb = kb0(k)
      r =
        if (ka == null && kb == null) 0
        else if (ka == null) 1
        else if (kb == null) -1
        else {
          val c0 = ka.compareTo(kb)
          if (dirs(k)) c0 else -c0
        }
      k += 1
    }
    r
  }

  /** query-level servability, index-independent (router and
    * ReadPlanner pre-check)
    */
  private[graft] def servableFor(c: Constraint): Boolean = servableRoot(c)

  /** A servable result pattern's leaves and their column names
    * ([[ResultColumns]]), worked out once per query shape.
    */
  final case class Projection(flat: Seq[Pattern], cols: Seq[String])

  /** the projection if every result leaf is servable (router and
    * ReadPlanner pre-check; shared with the single-snapshot entry)
    */
  private[graft] def flatFor(c: Constraint): Option[Projection] = {
    val flat = ResultColumns.leaves(c.result.getOrElse(ResultColumns.default))
    // the Catalyst plan renders a link's meta against the root's own
    // linkage ("<-" under a `(<- ...)` root); fieldOf renders "->"
    def meta(p: Pattern): Boolean = p match {
      case FieldPat("meta") => true
      case PickPat(items) => items.exists(meta)
      case _ => false
    }
    val rightLinked = c.effectiveLinkage.contains(ChildPointsToParent("right"))
    if (flat.exists(p => !servablePat(p) || (rightLinked && meta(p)))) None
    else Some(Projection(flat, ResultColumns.names(flat)))
  }

  /** the per-shard entry: query-level servability and result-pattern
    * flattening already done ONCE by the caller (the shard router
    * fans one query out to n shards — per-shard re-validation is pure
    * overhead on the point-read hot path)
    */
  private[serve] def serveVetted(ix: Index, c: Constraint,
      proj: Projection, emitSortKeys: Boolean,
      wordKeys: Seq[Seq[Either[String, String]]] = null): Option[Served] = {
    val flat = proj.flat
    positionsVetted(ix, c, flat, wordKeys).map { case (out, keyed) =>
      if (flat == Seq(CountPat))
        Served(Seq("count"), Seq(Array[Any](out.length.toLong)))
      else {
        val rows = out.toSeq.map(p => flat.map(f => fieldOf(ix, f, p)).toArray)
        val sks =
          if (emitSortKeys && keyed != null) keyed.toSeq
          else Nil
        Served(proj.cols, rows, out.toSeq.map(p => ix.ids(p)), sks)
      }
    }
  }

  /** Stage 1 of [[serveVetted]]: accepted snapshot POSITIONS in final
    * (sorted, paged) order, plus the per-row comparator keys when the
    * query sorts — no row materialization. The shard router merges on
    * these and materializes ONLY the global page's winners, so a
    * scatter over k shards allocates one page of row arrays instead of
    * k prefix-pages (the allocation term the 32-thread scatter tax
    * measured). None = not servable from this snapshot.
    */
  private[serve] def positionsVetted(ix: Index, c: Constraint,
      flat: Seq[Pattern],
      wordKeys: Seq[Seq[Either[String, String]]] = null)
      : Option[(Array[Int], Array[Array[String]])] = {
    val wk = if (wordKeys != null) wordKeys else wordProbeKeys(c)
    // unsorted paged reads are FULLY LAZY: candidates pull through the
    // and-cursor (leapfrog intersect) and the accept loop stops at
    // start+pagesize accepted rows — the reference's iterator
    // next-loop semantics. Neither the posting intersection nor the
    // accept checks run past the page (a fat predicate behind
    // `pagesize=100` pays for 100 rows, not the corpus). Counts and
    // sorted reads still consume every candidate eagerly.
    val isCount = flat == Seq(CountPat)
    var out =
      if (!isCount && c.sort.isEmpty && c.pagesize.isDefined) {
        val cap = math.max(
          math.min(c.start.getOrElse(0L) + c.pagesize.get,
            Int.MaxValue.toLong).toInt, 0)
        val buf = new scala.collection.mutable.ArrayBuilder.ofInt
        var n = 0
        val producers = producersOf(ix, c, wk)
        if (producers.isEmpty) {
          // no index prunes: bounded scan of the snapshot
          var p = 0
          while (p < ix.size && n < cap) {
            if (ix.home(ix.ids(p)) && accepts(ix, c, p)) { buf += p; n += 1 }
            p += 1
          }
        } else {
          val cur = new AndCursor(producers.toArray)
          var p = cur.next()
          while (p >= 0 && n < cap) {
            if (ix.home(ix.ids(p)) && accepts(ix, c, p)) { buf += p; n += 1 }
            p = cur.next()
          }
        }
        buf.result()
      } else {
        val cand = candidates(ix, c, wk) match {
          case Some(ps) => ps
          case None => return None
        }
        cand.filter(p => ix.home(ix.ids(p)) && accepts(ix, c, p))
      }
    // root count result: candidate count, pre-sort/pre-page
    if (isCount) return Some((out, null))
    // sort: comparator keys over value/name, id tiebreak. Keys are
    // MATERIALIZED once per row before sorting — a sortWith that calls
    // the comparator normalization per COMPARISON would recompute each
    // row's key O(log n) times on the serving hot path.
    var keyed: Array[Array[String]] = null // parallel to out, post-sort
    if (c.sort.nonEmpty || c.pagesize.isDefined || c.start.isDefined) {
      val keys = c.sort.map { sk =>
        val cmp = sk.comparator.getOrElse(c.comparator)
        sk.pat match {
          case FieldPat("value") => (p: Int) => keyOrNull(cmp, ix.value(p))
          case FieldPat("name") => (p: Int) => keyOrNull(cmp, ix.name(p))
          case FieldPat("guid") => (p: Int) => f"${ix.ids(p)}%019d"
          case FieldPat("timestamp") => (p: Int) => f"${ix.timestamp(p)}%019d"
          case _ => return None
        }
      }.toArray
      if (c.sort.nonEmpty) {
        var rows = out.map(p => (p, keys.map(_(p))))
        // number-comparator sorts over string fields drop rows whose
        // key is null or non-decoding ("~"-prefixed) from the sorted
        // set — mirror of ReadPlanner.shapeRoot's filter
        // (sortnumber/david_10)
        c.sort.zipWithIndex.foreach { case (sk, k) =>
          val cmp = sk.comparator.getOrElse(c.comparator)
          val stringField = sk.pat match {
            case FieldPat("value") | FieldPat("name") => true
            case _ => false
          }
          if (cmp == "number" && stringField)
            rows = rows.filter { case (_, ks) =>
              ks(k) != null && !ks(k).startsWith("~")
            }
        }
        val dirs = c.sort.map(_.ascending).toArray
        val sorted = rows.sortWith { case ((a, ka0), (b, kb0)) =>
          val r = keyCompare(ka0, kb0, dirs)
          if (r != 0) r < 0 else ix.ids(a) < ix.ids(b)
        }
        out = sorted.map(_._1)
        keyed = sorted.map(_._2)
      }
    }
    c.start.foreach { s =>
      out = out.drop(s.toInt)
      if (keyed != null) keyed = keyed.drop(s.toInt)
    }
    c.pagesize.foreach { ps =>
      out = out.take(ps.toInt)
      if (keyed != null) keyed = keyed.take(ps.toInt)
    }
    Some((out, keyed))
  }

  // ---------- eligibility ----------

  /** the snapshot bakes in the default newest/live view; anything
    * touching versions, tombstones, time travel, cursors, variables,
    * or-branches, or nested contents consumption falls back to Spark
    */
  private def servableRoot(c: Constraint): Boolean =
    servableNode(c) && c.asof.isEmpty && c.asofTs.isEmpty &&
      c.cursorTok.isEmpty && c.datelineMin.isEmpty && c.countlimit.isEmpty

  private def servableNode(c: Constraint): Boolean =
    c.orBranches.isEmpty && c.assignments.isEmpty &&
      c.live == MustBeTrue && c.archival == DontCare &&
      c.newestMin.contains(0L) && c.newestMax.contains(0L) &&
      c.oldestEq.isEmpty && !c.isFalse &&
      c.guid.forall(!_.lineage) &&
      // lineage linkage (left~=G): the snapshot has no lineage table
      // to expand other generations of G — full plan
      c.linkFields.values.forall(_.forall(!_.lineage)) &&
      // dateline horizons are id-range views the snapshot doesn't
      // carry (root OR child level) — full plan
      c.datelineMin.isEmpty && c.datelineMax.isEmpty &&
      c.previous.isEmpty && c.next.isEmpty && // version-chain: full plan
      c.uniqueFields.isEmpty && c.keyFields.isEmpty && !c.anchorFlag &&
      // children must be bounds-only (existence class) and linked
      c.subs.forall(s => s.effectiveLinkage.isDefined && boundsOnly(s) &&
        servableNode(s))

  /** child consumed for nothing but its count bounds (the reference's
    * linksto/without probe)
    */
  private def boundsOnly(c: Constraint): Boolean =
    c.result.isEmpty && c.sort.isEmpty && c.pagesize.isEmpty &&
      c.start.isEmpty && c.assignments.isEmpty

  private def servablePat(p: Pattern): Boolean = p match {
    // version-chain and archival renderings need columns the snapshot
    // doesn't carry (fieldOf would fabricate archival=true /
    // generation=0 / previous=null on a versioned store) — Spark path
    case FieldPat("archival" | "generation" | "previous" | "next") => false
    case FieldPat(_) | LiteralPat(_, _) | CountPat | NonePat => true
    case PickPat(items) => items.forall(servablePat)
    case _ => false // contents/cursor/estimate/vars → Spark path
  }

  // ---------- candidate generation ----------

  /** sorted-distinct union of posting arrays (positions ascending) */
  private def mergePostings(lists: Seq[Array[Int]]): Array[Int] = {
    val nonEmpty = lists.filter(_.nonEmpty)
    if (nonEmpty.isEmpty) Array.empty[Int]
    else if (nonEmpty.length == 1) nonEmpty.head
    else {
      val all = new Array[Int](nonEmpty.map(_.length).sum)
      var off = 0
      nonEmpty.foreach { a =>
        System.arraycopy(a, 0, all, off, a.length); off += a.length
      }
      java.util.Arrays.sort(all)
      // in-place dedup
      var w = 0; var r = 0
      while (r < all.length) {
        if (w == 0 || all(r) != all(w - 1)) { all(w) = all(r); w += 1 }
        r += 1
      }
      java.util.Arrays.copyOf(all, w)
    }
  }

  /** intersection of two sorted position arrays (the reference's
    * sorted-idarray intersect, libaddb/addb-idarray-intersect.c — which
    * likewise switches to binary probing when one side is much
    * smaller). Balanced inputs take the linear merge; when one side is
    * 8x+ longer, GALLOP: for each element of the small array,
    * exponential-probe + binary-search the big one from a moving lower
    * bound — O(small * log(big)) instead of O(big). This is the serving
    * tier's hot loop: a selective type list intersecting a fat word
    * posting list (fatter still per shard, where co-located links
    * duplicate postings) must pay for the SMALL side, or the scatter
    * path's per-shard cost tracks corpus size instead of shard size.
    */
  private def intersectSorted(a0: Array[Int], b0: Array[Int]): Array[Int] = {
    val (a, b) = if (a0.length <= b0.length) (a0, b0) else (b0, a0)
    val out = new Array[Int](a.length)
    var w = 0
    if (a.length > 0 && b.length / a.length >= 8) {
      var i = 0; var lo = 0
      while (i < a.length && lo < b.length) {
        val x = a(i)
        if (b(lo) >= x) {
          if (b(lo) == x) { out(w) = x; w += 1; lo += 1 }
        } else {
          // Long probe bound: an Int doubling wraps negative once the
          // big array passes 2^30 elements with every probed value
          // below x, and `lo + bound` would index negative
          var bound = 1L
          while (lo + bound < b.length && b((lo + bound).toInt) < x)
            bound <<= 1
          val idx = java.util.Arrays.binarySearch(
            b, lo + (bound >> 1).toInt,
            math.min(lo + bound + 1, b.length.toLong).toInt, x)
          if (idx >= 0) { out(w) = x; w += 1; lo = idx + 1 }
          else lo = -idx - 1
        }
        i += 1
      }
    } else {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { out(w) = x; w += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    java.util.Arrays.copyOf(out, w)
  }

  /** intersect every available access path — the reference's
    * and-iterator over index streams (graphd/graphd-iterator-and.c):
    * each producer is a sorted id stream, the AND is their merge; the
    * per-candidate check then re-verifies everything exactly
    */
  /** Word/prefix index probe keys for the value predicates — one list
    * of keys per pred that can prune soundly (Left = exact word,
    * Right = prefix range). Constraint-only (regex segmentation of the
    * pattern, no index access), so the prepared-statement cache
    * derives it ONCE per query shape instead of once per shard per
    * call on the scatter hot path.
    */
  private[serve] def wordProbeKeys(c: Constraint)
      : Seq[Seq[Either[String, String]]] = {
    val fromMatch = c.value.filter(_.op == OpMatch).flatMap { p =>
      // a null alternative admits NULL-VALUED rows, which no word
      // posting contains — index pruning is unsound for the pred
      if (p.values.exists(_.isEmpty)) None
      else {
        val keys = p.values.flatten.map(pat =>
          GraphdText.firstIndexWord(pat).map(Left(_))
            .orElse(GraphdText.firstIndexPrefix(pat).map(Right(_))))
        if (keys.nonEmpty && keys.forall(_.isDefined)) Some(keys.flatten)
        else None
      }
    }
    val fromEq =
      if (Seq("default", "case-insensitive")
          .contains(c.valueComparator.getOrElse(c.comparator)))
        c.value.filter(_.op == OpEq).flatMap { p =>
          // fractional decimals compare NORMALIZED under these
          // comparators (sortKey("0.5")==sortKey(".50")) but the word
          // index holds raw digit runs (words(".50")=["50"]) — no
          // sound index key exists; same guard as firstIndexWord
          val ws = p.values.map(_.flatMap(v =>
            if (GraphdText.hasFractionalDigit(v)) None
            else GraphdText.words(v).headOption))
          if (ws.nonEmpty && ws.forall(_.isDefined)) Some(ws.flatten.map(Left(_)))
          else None
        }
      else Nil
    fromMatch ++ fromEq
  }

  /** the sorted posting lists the constraint's index-sound predicates
    * produce — the and-iterator's producer set. Empty = no index can
    * prune; the caller scans the snapshot.
    */
  private def producersOf(ix: Index, c: Constraint,
      wordKeys: Seq[Seq[Either[String, String]]])
      : scala.collection.mutable.ArrayBuffer[Array[Int]] = {
    val producers = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    def offer(a: Array[Int]): Unit = producers += a
    // explicit guid set
    c.guid.find(g => g.include && g.serials.nonEmpty).foreach { g =>
      offer(g.serials.flatten.map(ix.posOf).filter(_ >= 0).sorted.toArray)
    }
    // word/prefix index for value~= / normalized value=
    wordKeys.foreach { keys =>
      offer(mergePostings(keys.map {
        case Left(w) =>
          val p = ix.words.get(w); if (p == null) Array.empty[Int] else p
        case Right(pre) =>
          import scala.jdk.CollectionConverters._
          mergePostings(ix.words.subMap(pre, pre + "￿").values.asScala.toSeq)
      }))
    }
    // endpoint postings (gmap analog — the reference indexes all four
    // linkages incl. scope, PDB_LINKAGE_SCOPE)
    for (f <- Seq("left", "right", "typeguid", "scope")) {
      c.linkFields.get(f).foreach { preds =>
        // a pred mixing null with ids (left=(null 5)) also matches
        // null-left rows, which no postings list surfaces — only
        // all-id preds are sound producers; the rest stay as checks
        preds.filter(p => p.include && p.serials.nonEmpty &&
            p.serials.forall(_.isDefined)).foreach { p =>
          val posts = f match {
            case "left" => ix.byLeft
            case "right" => ix.byRight
            case "typeguid" => ix.byType
            case "scope" => ix.byScope
          }
          offer(mergePostings(p.serials.flatten.map { id =>
            val a = posts.get(id); if (a == null) Array.empty[Int] else a
          }))
        }
      }
    }
    // type postings (VIP/typeguid gmap analog); a pred admitting the
    // typeless primitive (null / empty list) can't produce soundly
    c.typePreds.filterNot(v => v.isEmpty || v.contains(None)).foreach { vals =>
      val tids = vals.flatten.flatMap(ix.types.idsOf)
      offer(mergePostings(tids.map { id =>
        val a = ix.byType.get(id); if (a == null) Array.empty[Int] else a
      }))
    }
    producers
  }

  private def candidates(ix: Index, c: Constraint,
      wordKeys: Seq[Seq[Either[String, String]]]): Option[Array[Int]] = {
    val producers = producersOf(ix, c, wordKeys)
    if (producers.nonEmpty) {
      // smallest-first so each merge shrinks the running set fastest
      val sorted = producers.sortBy(_.length)
      var acc = sorted.head
      var k = 1
      while (k < sorted.length && acc.nonEmpty) {
        acc = intersectSorted(acc, sorted(k)); k += 1
      }
      Some(acc)
    }
    // full scan of the snapshot — correct, but not a point read; only
    // sensible for small shards
    else Some(Array.range(0, ix.size))
  }

  /** Pull-based sorted intersect over the candidate producers — the
    * reference's and-iterator next-loop (graphd-iterator-and.c's
    * producer/checker contract; libaddb/addb-idarray-intersect.c is
    * its batch analog). Leapfrog with galloping advance: each next()
    * costs O(producers · log(posting)) amortized, so an early-
    * terminating consumer (an unsorted paged read) pays for the PAGE,
    * not for materializing the full intersection — at a 100 TB shard's
    * posting sizes the eager intersect would dominate every paged
    * point read.
    */
  private[graft] final class AndCursor(producers: Array[Array[Int]]) {
    private val pos = new Array[Int](producers.length)
    /** next common element in ascending order, or -1 when drained */
    def next(): Int = {
      val n = producers.length
      if (n == 0 || pos(0) >= producers(0).length) return -1
      var cand = producers(0)(pos(0))
      var agree = 1 // producers verified to contain cand, starting at #0
      var k = if (n == 1) 0 else 1
      while (agree < n) {
        val arr = producers(k)
        var i = pos(k)
        if (i >= arr.length) return -1
        if (arr(i) < cand) {
          // gallop to the first element >= cand (Long bound: cannot wrap)
          var bound = 1L
          while (i + bound < arr.length && arr((i + bound).toInt) < cand)
            bound <<= 1
          val idx = java.util.Arrays.binarySearch(arr, i + (bound >> 1).toInt,
            math.min(i + bound + 1, arr.length.toLong).toInt, cand)
          i = if (idx >= 0) idx else -idx - 1
          pos(k) = i
          if (i >= arr.length) return -1
        }
        if (arr(i) == cand) agree += 1
        else { cand = arr(i); agree = 1 } // new frontier; re-verify the rest
        k += 1; if (k == n) k = 0
      }
      // all producers sit AT cand; step everyone past it
      var j = 0
      while (j < n) { pos(j) += 1; j += 1 }
      cand
    }
  }

  // ---------- per-candidate check (graphd-match.c analog) ----------

  private def accepts(ix: Index, c: Constraint, p: Int): Boolean = {
    if (c.isFalse) return false
    c.meta match {
      case NodeOnly => if (ix.left(p) >= 0 || ix.right(p) >= 0) return false
      case _ =>
    }
    c.guid.foreach { g =>
      val in = g.serials.exists {
        case Some(s) => s == ix.ids(p)
        case None => false
      }
      if (g.include != in) return false
    }
    for ((f, preds) <- c.linkFields; pr <- preds) {
      val v = f match {
        case "left" => ix.left(p); case "right" => ix.right(p)
        case "typeguid" => ix.typeguid(p); case "scope" => ix.scope(p)
      }
      val in = pr.serials.exists {
        case Some(s) => v == s
        case None => v < 0
      }
      if (pr.include != in) return false
    }
    c.typePreds.foreach { vals =>
      val tids = vals.flatten.flatMap(ix.types.idsOf)
      val hasNull = vals.contains(None) || vals.isEmpty
      val tg = ix.typeguid(p)
      if (!((hasNull && tg < 0) || tids.contains(tg))) return false
    }
    c.datatype.foreach(d => if (ix.datatype(p) != d) return false)
    c.timestampMin.foreach { case (m, incl) =>
      if (if (incl) ix.timestamp(p) < m else ix.timestamp(p) <= m) return false
    }
    c.timestampMax.foreach { case (m, incl) =>
      if (if (incl) ix.timestamp(p) > m else ix.timestamp(p) >= m) return false
    }
    if (!strOk(c.name, ix.name(p), c.comparator)) return false
    if (!strOk(c.value, ix.value(p),
        c.valueComparator.getOrElse(c.comparator))) return false
    // children: bounds-only existence probes over the postings
    c.subs.forall(sub => childOk(ix, c, sub, p))
  }

  private def childOk(ix: Index, parent: Constraint, sub: Constraint, p: Int): Boolean = {
    val b = sub.effectiveCount
    val linkage = sub.effectiveLinkage.orElse(parent.effectiveLinkage match {
      case Some(ChildPointsToParent("right")) => Some(ParentPointsToChild("left"))
      case Some(ChildPointsToParent("left")) => Some(ParentPointsToChild("right"))
      case _ => None
    })
    linkage match {
      case Some(ChildPointsToParent(f)) =>
        val posts = f match {
          case "left" => ix.byLeft.get(ix.ids(p))
          case "right" => ix.byRight.get(ix.ids(p))
          case "typeguid" => ix.byType.get(ix.ids(p))
          case "scope" => ix.byScope.get(ix.ids(p))
        }
        var n = 0L
        val arr = if (posts == null) Array.empty[Int] else posts
        val needMax = b.max.getOrElse(Long.MaxValue)
        var i = 0
        while (i < arr.length && n <= needMax) {
          if (accepts(ix, sub, arr(i))) n += 1
          i += 1
        }
        n >= b.min && b.max.forall(n <= _)
      case Some(ParentPointsToChild(f)) =>
        val endpoint = f match {
          case "left" => ix.left(p); case "right" => ix.right(p)
          case "typeguid" => ix.typeguid(p); case "scope" => ix.scope(p)
        }
        val n =
          if (endpoint < 0) 0L
          else {
            val cp = ix.posOf(endpoint)
            if (cp >= 0 && accepts(ix, sub, cp)) 1L else 0L
          }
        n >= b.min && b.max.forall(n <= _)
      case None => false
    }
  }

  private def strOk(preds: Seq[StrPred], v: String, comparator: String): Boolean =
    preds.forall { p =>
      p.op match {
        case OpEq => p.values.exists {
          case Some(lit) => v != null && eqTest(comparator, v, lit)
          case None => v == null
        }
        case OpNe => p.values.forall {
          case Some(lit) => v == null || !eqTest(comparator, v, lit)
          case None => v != null
        }
        case OpMatch =>
          // a null alternative (value~=null / value~=(null "x")) admits
          // the null-valued row — mirrors ReadPlanner.strFilter
          p.values.exists {
            case None => v == null
            case Some(pat) =>
              v != null && GraphdText.matchesCmp(comparator, v, pat)
          }
        case rangeOp =>
          val lits = p.values.flatten
          if (lits.isEmpty) false
          else if (v == null)
            // alpha-bounded default > / >= walks into the null-value
            // pseudo-bin (david_5 id=8; mirrors ReadPlanner.strFilter)
            comparator == "default" && (rangeOp == OpGt || rangeOp == OpGe) &&
              lits.head.dropWhile(_.isWhitespace).headOption
                .exists(ch => ch < 0x80 && ch.isLetter)
          else {
            val key = GraphdText.sortKey(comparator, v)
            val vk = GraphdText.sortKey(comparator, lits.head)
            val typedOk = !((comparator == "number" || comparator == "datetime") &&
              key.startsWith("~"))
            // the inclusive lower bound admits the boundary's whole
            // HMAP bucket, decodable or not (numberequal r6; mirrors
            // ReadPlanner.strFilter)
            val bucketOk = comparator == "number" && rangeOp == OpGe &&
              key.startsWith("~") && {
                val canon = GraphdText.numberCanon(lits.head)
                canon != null && GraphdText.valueNormalize(v).equalsIgnoreCase(canon)
              }
            (typedOk && (rangeOp match {
              case OpLt => key < vk
              case OpLe => key <= vk
              case OpGt => key > vk
              case OpGe => key >= vk
              case _ => true
            })) || bucketOk
          }
      }
    }

  private def eqKey(cmp: String, s: String): String =
    if (cmp == "octet") s else GraphdText.sortKey(cmp, s)

  /** default-comparator equality candidates come through the value
    * HMAP: normalized keys must match AND fuzzycmp must agree —
    * " .50" is not value=".5" even though the fuzzy keys tie
    * (mirrors ReadPlanner.strFilter eqTest; numberequal r1/r8)
    */
  private def eqTest(cmp: String, v: String, lit: String): Boolean = {
    val base = eqKey(cmp, v) == eqKey(cmp, lit)
    val canon = if (cmp == "default") GraphdText.numberCanon(lit) else null
    if (canon != null)
      base && GraphdText.valueNormalize(v).equalsIgnoreCase(canon)
    else base
  }

  private def keyOrNull(cmp: String, s: String): String =
    if (s == null) null else GraphdText.sortKey(cmp, s)

  private def nullsLastCompare(a: String, b: String): Int =
    if (a == null && b == null) 0
    else if (a == null) 1
    else if (b == null) -1
    else a.compareTo(b)

  // ---------- projection ----------

  private[serve] def fieldOf(ix: Index, p: Pattern, pos: Int): Any = p match {
    case FieldPat("guid") => ix.ids(pos)
    case FieldPat("typeguid") => if (ix.typeguid(pos) < 0) null else ix.typeguid(pos)
    case FieldPat("name") => ix.name(pos)
    case FieldPat("value") => ix.value(pos)
    case FieldPat("left") => if (ix.left(pos) < 0) null else ix.left(pos)
    case FieldPat("right") => if (ix.right(pos) < 0) null else ix.right(pos)
    case FieldPat("scope") => if (ix.scope(pos) < 0) null else ix.scope(pos)
    case FieldPat("datatype") | FieldPat("valuetype") => ix.datatype(pos)
    case FieldPat("timestamp") => ix.timestamp(pos)
    case FieldPat("live") => true // MustBeTrue-constrained, so sound
    case FieldPat("meta") =>
      // root constraints have no parent: links render "->"
      // (graphd/graphd-pattern.c:419-431)
      if (ix.left(pos) < 0 && ix.right(pos) < 0) "node" else "->"
    case FieldPat("type") =>
      val tg = ix.typeguid(pos)
      if (tg < 0) null else ix.types.display(tg)
    case LiteralPat(s, _) => s
    case NonePat => null
    case PickPat(items) =>
      items.view.map(fieldOf(ix, _, pos)).collectFirst { case v if v != null => v }.orNull
    case _ => null
  }
}
