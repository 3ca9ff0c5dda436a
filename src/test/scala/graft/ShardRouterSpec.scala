package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraphdText
import graft.gql.{Constraint, FieldPat, Parser}
import graft.model.Primitive
import graft.serve.PointServer

/** Partition gate for the point-read snapshot: split the current view
  * into n contiguous id ranges, answer a read on each range's own
  * snapshot, and merge the answers the way a scatter/gather router
  * would (each shard returns its first start+pagesize rows, counts add,
  * sorted pages merge on comparator keys with ties in id order). The
  * merged answer must equal the single snapshot's for every shard count.
  *
  * Every text here decides each row from that row alone, so the answer
  * must compose over any partition of the rows; a difference points at
  * the snapshot's paging, counting or sort leaking state across
  * candidates. The router itself lives only in this spec: `src/main`
  * answers point reads from one snapshot.
  */
class ShardRouterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val store = graft.store.GraphAdapter.store(spark, "/root/testdata/sf0.001")
  lazy val single: PointServer.Index = PointServer.build(store)

  private val queries = Seq(
    """read (type="customer" value~="42" result=((guid value)))""",
    """read (type="customer" result=count)""",
    """read (type="part" value~="gea*" result=((guid value)))""",
    """read (any value~="special" result=((guid value)) pagesize=7)""",
    """read (type="supplier" result=((guid value)) start=3 pagesize=5)""")

  /** sorted reads: the comparator-key merge of the shards' sorted pages
    * must reproduce the single snapshot's global order AND page
    */
  private val sortedQueries = Seq(
    """read (type="customer" sort=value pagesize=3 result=((value)))""",
    """read (type="supplier" sort=-value result=((guid value)))""",
    """read (type="part" sort=(value guid) start=2 pagesize=6 result=((guid value)))""",
    """read (type="customer" sort-comparator=number sort=value result=((guid value)))""",
    """read (any value~="special" sort=-guid pagesize=5 result=((guid value)))""")

  /** the single snapshot's rows cut into `n` id ranges, each its own
    * snapshot resolving `type=` through the whole view's vocabulary
    */
  private def shards(n: Int): Seq[PointServer.Index] = {
    val ix = single
    def opt(v: Long): Option[Long] = if (v < 0) None else Some(v)
    val rows = (0 until ix.size).map { p =>
      Primitive(ix.ids(p), opt(ix.typeguid(p)), Option(ix.name(p)),
        ix.datatype(p), Option(ix.value(p)), opt(ix.scope(p)), live = true,
        archival = false, txstart = false, ix.timestamp(p), opt(ix.left(p)),
        opt(ix.right(p)), prev = None, lineage = ix.ids(p))
    }
    (0 until n).map(s => PointServer.of(rows.slice(s * rows.size / n, (s + 1) * rows.size / n), ix.types))
  }

  /** scatter `q` over `parts` in id order and gather one answer */
  private def route(parts: Seq[PointServer.Index], q: String): Option[PointServer.Served] = {
    val c = Parser.parseRead(q)
    val start = c.start.getOrElse(0L)
    val perShard: Constraint = c.copy(start = None, pagesize = c.pagesize.map(_ + start))
    val answers = parts.map(PointServer.serve(_, perShard))
    if (answers.exists(_.isEmpty)) return None
    val columns = answers.head.get.columns
    if (columns == Seq("count")) {
      val total = answers.map(_.get.rows.head(0).asInstanceOf[Long]).sum
      return Some(PointServer.Served(columns, Seq(Array[Any](total))))
    }
    val gathered = answers.flatMap(_.get.rows)
    val ordered = if (c.sort.isEmpty) gathered else {
      // comparator keys from the answer's own columns, nulls last in
      // either direction; the sort is stable, so ties keep shard order,
      // which is id order
      val keyed = c.sort.map { sk =>
        val cmp = sk.comparator.getOrElse(c.comparator)
        sk.pat match {
          case FieldPat(f) =>
            val at = columns.indexOf(f)
            assert(at >= 0, s"sort field $f is not a result column: $q")
            val key: Array[Any] => String = f match {
              case "guid" => r => f"${r(at).asInstanceOf[Long]}%019d"
              case _ => r => Option(r(at)).map(v => GraphdText.sortKey(cmp, v.toString)).orNull
            }
            (key, sk.ascending)
          case other => fail(s"unsupported sort key $other: $q")
        }
      }
      def before(a: Array[Any], b: Array[Any]): Boolean =
        keyed.iterator.map { case (key, asc) =>
          (key(a), key(b)) match {
            case (null, null) => 0
            case (null, _) => 1
            case (_, null) => -1
            case (ka, kb) => if (asc) ka.compareTo(kb) else kb.compareTo(ka)
          }
        }.find(_ != 0).exists(_ < 0)
      gathered.sortWith(before)
    }
    val page = ordered.drop(start.toInt)
    Some(PointServer.Served(columns, c.pagesize.fold(page)(ps => page.take(ps.toInt))))
  }

  private def guids(s: PointServer.Served): Seq[Long] = {
    val at = s.columns.indexOf("guid")
    if (at < 0) Nil else s.rows.map(_(at).asInstanceOf[Long])
  }

  for (n <- Seq(1, 3, 5)) {
    lazy val sharded = shards(n)
    test(s"router answers match the single snapshot at n=$n") {
      assert(sharded.map(_.size).sum == single.size, "shards must partition the view")
      queries.foreach { q =>
        val one = PointServer.serve(single, q)
        val many = route(sharded, q)
        assert(one.isDefined, s"single snapshot declined: $q")
        assert(many.isDefined, s"router declined: $q")
        assert(many.get.columns == one.get.columns, q)
        assert(many.get.rows.map(_.toSeq) == one.get.rows.map(_.toSeq),
          s"rows differ at n=$n: $q")
        // unsorted answers come in id order: merged ids strictly increase
        val ids = guids(many.get)
        assert(ids.lazyZip(ids.drop(1)).forall(_ < _), s"dup/unsorted ids: $q")
      }
    }
    test(s"router sorted reads match the single snapshot at n=$n") {
      sortedQueries.foreach { q =>
        val one = PointServer.serve(single, q)
        val many = route(sharded, q)
        assert(one.isDefined, s"single snapshot declined: $q")
        assert(many.isDefined, s"router declined: $q")
        assert(many.get.columns == one.get.columns, q)
        assert(many.get.rows.map(_.toSeq) == one.get.rows.map(_.toSeq),
          s"rows differ at n=$n: $q")
        val ids = guids(many.get)
        assert(ids.distinct.size == ids.size, s"dup ids: $q")
      }
    }
  }
}
