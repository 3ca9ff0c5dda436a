package graft.plan

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.GraphStore

/** Resumable pagination — the reference's opaque `cursor="..."` tokens
  * (graphd/graphd-read-set-cursor.c:22-61).
  *
  * Two wire families are spoken here:
  *  - SORT cursors (graphd-sort.c:1462 graphd_sort_cursor_get):
  *    `sort:[o:offset][n:horizon]<serialized last-row sort values>g<guid>`
  *    where values use graphd_value_serialize tags (graphd-value.c:970:
  *    s<len>:<bytes>, t<timestamp>, g<guid>, b0/b1, d<n>., #<n>., n).
  *    These freeze a keyset — resume is a lexicographic
  *    strictly-after predicate, O(1) to apply and stable under the
  *    pinned horizon. Emitted byte-identically to the reference.
  *  - iterator cursors (`cursor:XXXX:[o:..][n:..]all:LO-HI/POS/`,
  *    `fixed:N:a,b,c/POS/`): frozen iterator positions. Parsed and
  *    resumed exactly; emission for the id-ordered case uses this
  *    engine's own opaque keyset token (the XXXX constraint-signature
  *    checksum is not reproduced).
  *  - `null:` — the reference's exhausted cursor.
  */
object Cursor {

  /** a sort-key value frozen into a token, tagged with its
    * graphd_value_serialize type tag: 's' string, 'a' atom,
    * 't' timestamp, 'g' guid, 'b' boolean, 'd' datatype, '#' number.
    * None = null ('n' / '-' on the wire).
    */
  final case class SortKeyVal(tag: Char, v: String)

  /** `keys` non-empty = a SORT cursor; `offset` counts rows consumed
    * so far ([o:N]); `horizon` pins the snapshot ([n:N]).
    */
  final case class Token(lastId: Long, horizon: Long,
      keys: Seq[Option[SortKeyVal]] = Nil, offset: Long = 0L,
      // positional resume (gmap/isa iterator cursors): skip N
      // candidates in id order instead of a keyset predicate
      skip: Int = 0)

  /** replay-harness hook: emit the reference's SIGNED iterator cursor
    * for an unsorted page instead of the engine token. Args: root
    * constraint (cursorTok still attached when resuming), snapshot
    * horizon, [o:] offset consumed, page size, the page's row ids
    * (ps+1 probed — one past the page when more rows follow).
    * None = engine format.
    */
  @volatile var refIterCursor:
      Option[(graft.gql.Constraint, Long, Long, Long, Seq[Long]) => Option[String]] = None

  /** replay-harness hook: mint a CHILD-level positioned cursor (a
    * subconstraint with `result=(cursor ...)` and pagesize — the
    * reference freezes the per-parent fan-in set as a fixed iterator,
    * cursor6.sh). Args: the subconstraint (cursorTok attached when
    * resuming) and the parent's full ordered candidate id list.
    */
  @volatile var refChildCursor:
      Option[(graft.gql.Constraint, Seq[Long]) => String] = None

  /** guid wire rendering/parsing hooks — the session replay harness
    * swaps these for the reference database-id forms
    */
  @volatile var renderGuid: Long => String = id => graft.model.Guid.render(id)
  @volatile var parseGuidId: String => Long =
    h => graft.model.Guid.parse(h).map(_._2).getOrElse(0L)

  private def b64(s: String): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getUrlDecoder.decode(s), StandardCharsets.UTF_8)

  /** freeze one raw sort value under its pattern-derived tag; runtime
    * type refines a generic 's' tag (variables carry any type)
    */
  def frozenKey(v: Any, tag: Char): Option[SortKeyVal] = v match {
    case null => None
    case ts: Long if tag == 't' =>
      Some(SortKeyVal('t', graft.model.GTimestamp.render(ts)))
    case id: Long if tag == 'g' => Some(SortKeyVal('g', renderGuid(id)))
    case b: Byte if tag == 'd' => Some(SortKeyVal('d', b.toString))
    case b: Boolean => Some(SortKeyVal('b', if (b) "1" else "0"))
    case l: Long => Some(SortKeyVal('#', l.toString))
    case i: Int => Some(SortKeyVal('#', i.toString))
    case s: String => Some(SortKeyVal(if (tag == 'a') 'a' else 's', s))
    case other => Some(SortKeyVal('s', other.toString))
  }

  /** graphd_value_serialize (graphd-value.c:970) */
  def serializeKey(k: Option[SortKeyVal]): String = k match {
    case None => "n"
    case Some(SortKeyVal('s', v)) => s"s${v.length}:$v"
    case Some(SortKeyVal('a', v)) => s"a${v.length}:$v"
    case Some(SortKeyVal('t', v)) => s"t$v"
    case Some(SortKeyVal('g', v)) => s"g$v"
    case Some(SortKeyVal('b', v)) => if (v == "1" || v == "true") "b1" else "b0"
    case Some(SortKeyVal('d', v)) => s"d$v."
    case Some(SortKeyVal('#', v)) => s"#$v."
    case Some(SortKeyVal(_, v)) => s"s${v.length}:$v"
  }

  def encode(t: Token): String =
    if (t.keys.nonEmpty)
      s"sort:[o:${t.offset}][n:${t.horizon}]" +
        t.keys.map(serializeKey).mkString +
        "g" + renderGuid(t.lastId)
    else b64(s"graft:${t.lastId}:${t.horizon}:${t.offset}")

  // `[o:N]` / `[n:N]` bookkeeping prefixes before a frozen iterator
  // or a sort cursor body
  private val prefixRe = """^\[([on]):(\d+)\]""".r

  // frozen iterator positions (graphd-iterator-*.c freeze forms)
  private val allRe = """^all:(\d+)-(\d+)/(\d+)/?$""".r
  private val fixedRe = """^fixed:(\d+)(?::([\d,]*))?/(\d+)/?.*$""".r
  private val gmapRe = """^gmap:(\d+)-(\d+):\w+->\d+/(\d+)/?$""".r
  private val hmapRe = """^hmap:(\d+)-(\d+):\w+:\w+:\d+:.*?/(\d+)/?$""".r
  // subtractive iterator (without.sh): producer minus checker with a
  // trailing frozen-state suffix; resume is positional over the
  // producer (the all-iterator id space)
  private val withoutRe = """^without:\(all:(\d+)-(\d+)\)#\(.*?\)/(\d+)/.*$""".r
  // composite and-/or-iterators (slip.sh, isa.sh): intersection/union
  // of sub-iterators with optional [psz:][ov:][pro:][pp:] bookkeeping,
  // a /pos/ that is the LAST-RETURNED candidate id, and an @resource
  // tail holding the reference's adaptive check-cache — state this
  // engine does NOT carry (AQE replaces the hand-rolled cost model,
  // SURVEY §4); resume re-plans from the id keyset (id > pos), which
  // reproduces the id-ordered production exactly
  private val andRe = """^and:#?(\d+)-(\d+):\d+:.*/(\d+)(?:\[pp:\d+\])?/(?:@.*)?$""".r
  private val orRe = """^or:\(.*\)/(\d+)/(?:@.*)?$""".r
  // isa iterator (isa.sh): endpoints of a sub-iterator's matches via a
  // linkage, frozen with its producer position, duplicate-test state
  // ([sp:]) and sampled cost stats; the [o:] offset is the candidates
  // consumed — resume skips that many in production (id) order
  private val isaRe = """^isa:(\d+)-(\d+):\w+<-\(.*$""".r
  // materialized fixed iterator carrying its SOURCE signature instead
  // of an id list (colors3: fixed:(fixed-isa:lo-hi:l<-(vip:...))/pos/
  // [cache:@res]); resume is positional over the sorted candidate
  // array. The freeze encodes linkages as single letters (l<- r+);
  // spelled-out linkage names don't thaw — the reference answers
  // EMPTY "not found" for such a cursor (colors3's last read).
  private val fixedSigRe = """^fixed:\((.*)\)/(\d+)/(?:\[cache:@[^\]]*\])?$""".r
  // a spelled-out linkage name right after an iterator's `lo-hi:` bounds
  private val spelledLinkageRe = """\d+-\d+:(left|right|typeguid|scope)(<-|->|\+)""".r

  def decode(s0: String): Token = {
    var s = s0
    // strip the iterator-cursor signature prefix (cursor:XXXX:)
    if (s.toLowerCase.startsWith("cursor:")) {
      val rest = s.substring("cursor:".length)
      val colon = rest.indexOf(':')
      if (colon >= 0) s = rest.substring(colon + 1) else s = rest
    }
    if (s == "null:") return Token(Long.MaxValue, Long.MaxValue)
    if (s.toLowerCase.startsWith("sort:")) return decodeSort(s.substring(5))
    // [o:N][n:N] prefixes before a frozen iterator
    var offset = 0L; var horizon = Long.MaxValue
    var changed = true
    while (changed) {
      changed = false
      val m = prefixRe.findFirstMatchIn(s)
      m.foreach { mm =>
        if (mm.group(1) == "o") offset = mm.group(2).toLong
        else horizon = mm.group(2).toLong
        s = s.substring(mm.matched.length); changed = true
      }
    }
    s match {
      case withoutRe(lo, hi, pos) =>
        Token(pos.toLong, if (horizon != Long.MaxValue) horizon else hi.toLong,
          Nil, offset)
      // /pos/ is the last-returned candidate in the reference's serial
      // space; engine ids are serial+1 (parseGuidId convention)
      case andRe(lo, hi, pos) =>
        Token(pos.toLong + 1,
          if (horizon != Long.MaxValue) horizon else hi.toLong,
          Nil, offset)
      case orRe(pos) =>
        Token(pos.toLong + 1, horizon, Nil, offset)
      case isaRe(lo, hi) =>
        Token(Long.MinValue,
          if (horizon != Long.MaxValue) horizon else hi.toLong,
          Nil, offset, skip = offset.toInt)
      case fixedSigRe(sig, pos) =>
        // linkage tokens in a freeze are single letters right after an
        // iterator's `lo-hi:` bounds (colors3: `608-620:l<-`, vip
        // `630-642:r+`); a spelled-out name in that position is a
        // freeze the engine cannot thaw. Anchoring on the bounds keeps
        // the scan inside the parenthesized source signature — a
        // serialized value or the @resource tail that merely contains
        // a substring like "3:left<-" must not misclassify the cursor.
        if (spelledLinkageRe.findFirstIn(sig).isDefined)
          throw new IllegalArgumentException("EMPTY: not found")
        Token(Long.MinValue, horizon, Nil, offset, skip = pos.toInt)
      case allRe(lo, hi, pos) =>
        Token(pos.toLong, if (horizon != Long.MaxValue) horizon else hi.toLong,
          Nil, offset)
      case gmapRe(lo, hi, pos) =>
        // typeguid-postings iterator: resume is positional over the
        // candidate set in id order
        Token(Long.MinValue,
          if (horizon != Long.MaxValue) horizon else hi.toLong,
          Nil, offset, skip = pos.toInt)
      case hmapRe(lo, hi, pos) =>
        // value/name-hash iterator (3692: hmap:0-1:pool:name:H:key/1/)
        // — positional resume like gmap
        Token(Long.MinValue,
          if (horizon != Long.MaxValue) horizon else hi.toLong,
          Nil, offset, skip = pos.toInt)
      case fixedRe(_, idsCsv, pos) =>
        val serials = Option(idsCsv).filter(_.nonEmpty)
          .map(_.split(",").map(_.toLong).toSeq).getOrElse(Nil)
        val p = pos.toInt
        val lastId =
          if (p <= 0 || serials.isEmpty) Long.MinValue
          else serials(math.min(p, serials.length) - 1) + 1
        Token(lastId, horizon, Nil, offset)
      case _ =>
        unb64(s0) match {
          case t if t.startsWith("graft:") =>
            val parts = t.split(":", -1)
            Token(parts(1).toLong, parts(2).toLong, Nil,
              if (parts.length > 3 && parts(3).nonEmpty) parts(3).toLong else 0L)
          case other => throw new IllegalArgumentException(s"bad cursor $other")
        }
    }
  }

  /** parse `[o:..][n:..]<values>g<guid>` (sort cursor body) */
  private def decodeSort(body0: String): Token = {
    var s = body0
    var offset = 0L; var horizon = Long.MaxValue
    var changed = true
    while (changed) {
      changed = false
      val m = prefixRe.findFirstMatchIn(s)
      m.foreach { mm =>
        if (mm.group(1) == "o") offset = mm.group(2).toLong
        else horizon = mm.group(2).toLong
        s = s.substring(mm.matched.length); changed = true
      }
    }
    val keys = scala.collection.mutable.ArrayBuffer.empty[Option[SortKeyVal]]
    var lastId = Long.MinValue
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case 'n' => keys += None; i += 1
        case '-' => keys += None; i += 1
        case c @ ('s' | 'a') =>
          val colon = s.indexOf(':', i + 1)
          val len = s.substring(i + 1, colon).toInt
          keys += Some(SortKeyVal(c, s.substring(colon + 1, colon + 1 + len)))
          i = colon + 1 + len
        case 'g' =>
          val hex = s.substring(i + 1, i + 33)
          val id = parseGuidId(hex)
          if (i + 33 >= s.length) { lastId = id; i += 33 } // trailing tiebreak
          else { keys += Some(SortKeyVal('g', hex)); i += 33 }
        case 't' =>
          // timestamp runs to the 'Z' (reference wire form)
          val z = s.indexOf('Z', i)
          val end = if (z < 0) s.length else z + 1
          keys += Some(SortKeyVal('t', s.substring(i + 1, end)))
          i = end
        case 'b' =>
          keys += Some(SortKeyVal('b', if (s.charAt(i + 1) == '1') "1" else "0"))
          i += 2
        case c @ ('d' | '#') =>
          val dot = s.indexOf('.', i + 1)
          keys += Some(SortKeyVal(if (c == 'd') 'd' else '#',
            s.substring(i + 1, dot)))
          i = dot + 1
        case _ => i += 1 // unknown byte: skip defensively
      }
    }
    Token(lastId, horizon, keys.toSeq, offset)
  }

  /** one page in id order, resuming after `cursor` (None = first page) */
  def page(store: GraphStore, cursor: Option[String], pagesize: Int): DataFrame = {
    val token = cursor.map(decode)
    val horizon = token.map(_.horizon)
      .getOrElse(graft.streaming.Replica.dateline(store.primitives))
    val after = token.map(_.lastId).getOrElse(Long.MinValue)
    store.asOf(horizon).current
      .filter(col("id") > after)
      .orderBy(col("id").asc)
      .limit(pagesize)
  }

  /** token resuming after the given page (None when the page was short:
    * end of results — the reference's empty final cursor)
    */
  def next(store: GraphStore, pageDf: DataFrame, cursor: Option[String],
      pagesize: Int): Option[String] = {
    val ids = pageDf.select(max(col("id")), count(lit(1))).head()
    if (ids.isNullAt(0) || ids.getLong(1) < pagesize) None
    else {
      val horizon = cursor.map(decode(_).horizon)
        .getOrElse(graft.streaming.Replica.dateline(store.primitives))
      Some(encode(Token(ids.getLong(0), horizon)))
    }
  }
}
