package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Primitive
import graft.model.Primitive.{link, node}
import graft.plan.ReadPlanner
import graft.serve.PointServer
import graft.store.GraphStore

/** Serving-tier equivalence gate: every query PointServer claims to
  * serve must answer EXACTLY like the Catalyst plan (same rows, same
  * order when sorted). The snapshot and the plan share comparator /
  * match code, but candidate generation, bounds probes, and projection
  * are independent implementations — this spec is what makes the fast
  * path safe to put in front of the engine.
  *
  * `ReadPlanner.plan` itself answers servable reads on a mirror-backed
  * store from the store's snapshot, so the Catalyst side always plans
  * on the same rows as a distributed frame, and every query also runs
  * through the routed `ReadPlanner.plan`, held to the same Catalyst
  * answer.
  */
class ServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** a mirror-backed store, its snapshot, and the same rows as a
    * distributed frame (always the Catalyst plan)
    */
  final class Fixture(prims: Seq[Primitive]) {
    lazy val store: GraphStore =
      GraphStore.fromSeq(spark, prims).copy(versioned = false)
    lazy val catalyst: GraphStore =
      GraphStore.fromDf(spark, store.primitives, store.versioned)
    lazy val ix: PointServer.Index = PointServer.build(store)
  }

  // people/books/authorship: the reference's benchmark query class
  // ("all people who are authors whose names contain 'herman'")
  lazy val main = new Fixture(
      Seq(node(1, name = Some("person")), node(2, name = Some("book")),
        node(3, name = Some("wrote"))) ++
        Seq("Herman Melville", "Herman Hesse", "Toni Morrison",
          "Ursula K. Le Guin", "James Baldwin", "herman miller").zipWithIndex
          .map { case (nm, i) => node(10 + i, typeguid = Some(1L), value = Some(nm)) } ++
        Seq("Moby-Dick", "Steppenwolf", "Beloved", "The Dispossessed")
          .zipWithIndex
          .map { case (t, i) => node(20 + i, typeguid = Some(2L), value = Some(t)) } ++
        Seq( // authorship links: left=author right=book
          link(30, 10, Some(20), typeguid = Some(3L)),
          link(31, 11, Some(21), typeguid = Some(3L)),
          link(32, 12, Some(22), typeguid = Some(3L)),
          link(33, 13, Some(23), typeguid = Some(3L)),
          // values with numbers/punctuation for comparator coverage
          link(34, 10, Some(21), typeguid = Some(3L), value = Some("co-wrote v2"))) ++
        Seq(node(40, value = Some("42.5")), node(41, value = Some("42.5000")),
          node(42, value = Some("x9")), node(43, value = Some("x10")),
          node(44, value = Some("2008-01-02")), node(45, value = Some("2007")),
          // fractional decimals whose word sets share nothing with the
          // normalized-equal query literal (".5" / "\n.5")
          node(46, value = Some("0.50")), node(47, value = Some(" .50")),
          // scope-linked primitives (PDB_LINKAGE_SCOPE coverage)
          node(51, value = Some("note-a")).copy(scope = Some(10L)),
          node(52, value = Some("note-b")).copy(scope = Some(10L))))
  def ix: PointServer.Index = main.ix

  // a reference-bootstrapped type system: HAS_KEY and its naming links,
  // a type node only a link names, a named one a link renames, an
  // unnamed one, and a typeguid with no node at all
  lazy val typed = new Fixture(Seq(
    node(1, name = Some("HAS_KEY")), node(2, name = Some("ns")),
    node(3), node(4), node(5, name = Some("Book")),
    link(6, 2, Some(3), typeguid = Some(1L), value = Some("Author")),
    link(7, 2, Some(5), typeguid = Some(1L), value = Some("Tome")),
    node(10, typeguid = Some(3L), value = Some("Herman Melville")),
    node(11, typeguid = Some(4L), value = Some("untyped")),
    node(12, typeguid = Some(5L), value = Some("Moby-Dick")),
    node(13, typeguid = Some(99L), value = Some("dangling"))))

  private def check(q: String, expectServable: Boolean = true,
      on: Fixture = main): Unit =
    checkC(graft.gql.Parser.parseRead(q), q, expectServable, on)

  /** the served answer and the routed `ReadPlanner.plan` answer, each
    * against the Catalyst plan, as value matrices (order-sensitive
    * when the query sorts, multiset otherwise)
    */
  private def checkC(c: graft.gql.Constraint, q: String,
      expectServable: Boolean = true, on: Fixture = main): Unit = {
    val df = ReadPlanner.plan(on.catalyst, c)
    val dRows = rowsOf(df)
    def same(rows: Seq[Seq[Any]], what: String): Unit =
      if (c.sort.nonEmpty) assert(rows == dRows, s"$what: sorted rows differ: $q")
      else assert(rows.groupBy(identity).view.mapValues(_.size).toMap ==
        dRows.groupBy(identity).view.mapValues(_.size).toMap, s"$what: rows differ: $q")
    val served = PointServer.serve(on.ix, c)
    if (expectServable) {
      assert(served.isDefined, s"not served: $q")
      assert(served.get.columns == df.columns.toSeq, s"columns differ: $q")
      same(served.get.rows.map(_.toSeq.map(norm)), "served")
    } else assert(served.isEmpty, s"unexpectedly served: $q")
    val routed = ReadPlanner.plan(on.store, c)
    assert(isLocal(routed) == expectServable, s"route taken: ${isLocal(routed)}: $q")
    assert(typesOf(routed) == typesOf(df), s"routed schema differs: $q")
    same(rowsOf(routed), "routed")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map(norm))

  private def typesOf(df: org.apache.spark.sql.DataFrame) =
    df.schema.map(f => (f.name, f.dataType))

  /** answered from the snapshot: a bare local relation, no Catalyst
    * operator over the primitives
    */
  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def norm(v: Any): Any = v match {
    case b: Byte => b.toLong
    case i: Int => i.toLong
    case other => other
  }

  test("value word match with type filter") {
    check("""read (type="person" value~="herman" result=((guid value)))""")
  }

  test("prefix match") {
    check("""read (type="person" value~="her*" result=((guid value)))""")
  }

  test("anchored and multi-word match") {
    check("""read (type="person" value~="^herman" result=((guid value)))""")
    check("""read (value~="herman melville" result=((guid value)))""")
  }

  test("existence child: authors (people who wrote something)") {
    check("""read (type="person" result=((guid value)) (<-left typeguid=3))""")
  }

  test("absence child: people who wrote nothing") {
    check("""read (type="person" result=((guid value)) (<-left typeguid=3 count=0))""")
  }

  test("two-hop: authors of a book matching 'moby'") {
    check("""read (type="person" result=((guid value))
      (<-left typeguid=3 right->(value~="moby")))""")
  }

  test("existence + word match combined (baseline simple-query class)") {
    check("""read (type="person" value~="herman" result=((guid value))
      (<-left typeguid=3))""")
  }

  test("value equality is comparator-normalized") {
    check("""read (any value="42.5" result=((guid value)))""")
    check("""read (any value="42.5000" result=((guid value)))""")
  }

  test("ranges under comparators") {
    check("""read (any value-comparator="number" value>"42" value<"43" result=((value)))""")
    check("""read (any value>="x10" result=((value)) sort=(value))""")
  }

  test("sorted page with start/pagesize") {
    check("""read (type="person" sort=(value) pagesize=3 result=((guid value)))""")
    check("""read (type="person" sort=(-value) start=1 pagesize=2 result=((guid value)))""")
  }

  test("and-cursor leapfrog equals the eager sorted intersection") {
    // the pull-based intersect behind unsorted paged reads must yield
    // EXACTLY the eager intersection, in ascending order, for any
    // producer mix (empty lists, single producer, skewed sizes)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val n = 1 + rnd.nextInt(4)
      val producers = Array.fill(n) {
        val size = rnd.nextInt(60)
        val max = 1 + rnd.nextInt(120)
        Array.fill(size)(rnd.nextInt(max)).distinct.sorted
      }
      val expect = producers.map(_.toSet).reduce(_ intersect _).toSeq.sorted
      val cur = new PointServer.AndCursor(producers)
      val got = Iterator.continually(cur.next()).takeWhile(_ >= 0).toList
      assert(got == expect,
        producers.map(_.mkString("[", ",", "]")).mkString(" "))
    }
  }

  test("unsorted page early-termination returns the eager prefix; counts stay full") {
    // the paged accept loop stops at start+pagesize accepted rows — the
    // result must be exactly the eager (filter-everything) prefix, and
    // a count result must NOT be clipped by a page bound
    def serve(q: String) =
      PointServer.serve(ix, graft.gql.Parser.parseRead(q)).get
    val all = serve("""read (type="person" result=((guid value)))""")
    val paged = serve("""read (type="person" pagesize=2 result=((guid value)))""")
    assert(paged.rows.map(_.toSeq) == all.rows.take(2).map(_.toSeq))
    val started =
      serve("""read (type="person" start=1 pagesize=2 result=((guid value)))""")
    assert(started.rows.map(_.toSeq) == all.rows.slice(1, 3).map(_.toSeq))
    val counted = serve("""read (type="person" pagesize=2 result=count)""")
    assert(counted.rows.head(0) == all.rows.length.toLong)
  }

  test("fixture-corpus point reads: snapshot answers match the Catalyst plan") {
    // the point-read class at sf0.001 — word and prefix matches, counts,
    // start/pagesize pages, and sorts under comparators, directions and
    // two keys — on a distributed store, so `ReadPlanner.plan` is the
    // Catalyst plan
    val store = graft.store.GraphAdapter.store(spark, "/root/testdata/sf0.001")
    val snap = PointServer.build(store)
    Seq(
      """read (type="customer" value~="42" result=((guid value)))""",
      """read (type="customer" result=count)""",
      """read (type="part" value~="gea*" result=((guid value)))""",
      """read (any value~="special" result=((guid value)) pagesize=7)""",
      """read (type="supplier" result=((guid value)) start=3 pagesize=5)""",
      """read (type="customer" sort=value pagesize=3 result=((value)))""",
      """read (type="supplier" sort=-value result=((guid value)))""",
      """read (type="part" sort=(value guid) start=2 pagesize=6 result=((guid value)))""",
      """read (type="customer" sort-comparator=number sort=value result=((guid value)))""",
      """read (any value~="special" sort=-guid pagesize=5 result=((guid value)))"""
    ).foreach { q =>
      val served = PointServer.serve(snap, q)
      assert(served.isDefined, s"not served: $q")
      val df = ReadPlanner.plan(store, q)
      assert(!isLocal(df), s"planned from a snapshot: $q")
      assert(served.get.columns == df.columns.toSeq, s"columns differ: $q")
      val got = served.get.rows.map(_.toSeq.map(norm))
      val want = rowsOf(df)
      if (graft.gql.Parser.parseRead(q).sort.nonEmpty) assert(got == want, s"sorted rows differ: $q")
      else assert(got.sortBy(_.toString) == want.sortBy(_.toString), s"rows differ: $q")
    }
  }

  test("count result") {
    check("""read (type="person" result=count)""")
    check("""read (typeguid=3 result=count)""")
  }

  test("guid point lookup") {
    check("""read (guid=10 result=((guid value type)))""")
  }

  test("linkage endpoint candidates") {
    check("""read (left=10 result=((guid right value)))""")
    check("""read (right=21 result=((guid left)))""")
  }

  test("meta and datatype filters") {
    check("""read (node value~="herman" result=((guid value meta)))""")
  }

  test("pick and literal patterns") {
    check("""read (guid=10 result=((guid literal="x" name)))""")
    check("""read (guid=10 result=((guid pick(name value) pick(left scope) none)))""")
    // a repeated field: the Catalyst plan names the repeat value__dup2
    check("""read (guid=10 result=((guid value value)))""")
  }

  test("unsupported shapes fall back to Spark") {
    check("""read (type="person" result=((guid contents)) (<-left))""",
      expectServable = false)
    check("""read (any newest>=1 result=((guid)))""", expectServable = false)
    check("""read (any live=dontcare result=((guid)))""", expectServable = false)
    check("""read (value="a" || value="b")""", expectServable = false)
  }

  test("timestamp range") {
    check("""read (any timestamp>1970-01-01T00:00:00.0000Z result=count)""")
  }

  test("scope postings: candidates and scope-linked child") {
    check("""read (scope=10 result=((guid value)))""")
    check("""read (type="person" result=((guid value)) (<-scope))""")
    check("""read (type="person" result=((guid value)) (<-scope count=0))""")
  }

  test("mixed null+id endpoint pred is not used as a producer") {
    // matches every node (null left) plus links with left=10; a
    // postings-only producer would drop all the null-left rows
    check("""read (left=(null 10) result=((guid value)))""")
    check("""read (right=(null 21) result=((guid value)))""")
  }

  test("fractional-decimal equality bypasses the word-index producer") {
    // sortKey(".5") == sortKey("0.50") == sortKey(" .50") under the
    // default comparator, but words(".5")=["5"] shares nothing with
    // words("0.50")=["0","50"] — an unguarded eq-producer returns 0 rows
    check("""read (any value=".5" result=((guid value)))""")
    // newline before the fractional digit: a non-DOTALL `.*\.\d.*`
    // guard misses this form and the producer drops comparator-equal rows
    val c = graft.gql.Parser.parseRead("""read (any value="x" result=((guid value)))""")
    checkC(c.copy(value = Seq(graft.gql.StrPred(graft.gql.OpEq, Seq(Some("\n.5"))))),
      """read (any value="\n.5" ...)""")
  }

  test("descending sorts keep nulls LAST, like the Spark path") {
    // nodes 1-3 and links carry null values; under sort=(-value) the
    // old negated comparator floated them to the front of the page
    check("""read (any sort=(-value) pagesize=4 result=((guid value)))""")
    check("""read (any sort=(-value) result=((guid value)))""")
  }

  test("number-comparator sorts drop null/non-decoding keys from the set") {
    // "x9"/"x10"/names don't decode as numbers; the planner filters
    // them from the sorted set and the snapshot must match
    check("""read (any sort=(value) comparator="number" result=((guid value)))""")
    check("""read (any sort=(-value) comparator="number" pagesize=3 result=((guid value)))""")
  }

  test("a null alternative in ~= admits null-valued rows") {
    // value~=null matches the unvalued nodes; the word-index producer
    // must stand down (no posting contains a null-valued row)
    val base = graft.gql.Parser.parseRead("""read (any result=((guid value)))""")
    checkC(base.copy(value = Seq(graft.gql.StrPred(graft.gql.OpMatch,
      Seq(None)))), "read (any value~=null ...)")
    checkC(base.copy(value = Seq(graft.gql.StrPred(graft.gql.OpMatch,
      Seq(None, Some("herman"))))), "read (any value~=(null \"herman\") ...)")
  }

  test("dateline horizons and version-chain result fields fall back") {
    check("""read (any dateline>"12" result=((guid)))""",
      expectServable = false)
    check("""read (any result=((guid archival)))""", expectServable = false)
    check("""read (any result=((guid previous)))""", expectServable = false)
  }

  test("type= matches a has_key naming link in any case") {
    check("""read (type="author" result=((guid value)))""", on = typed)
    check("""read (type="TOME" result=((guid value)))""", on = typed)
    check("""read (type="Book" result=((guid value)))""", on = typed)
  }

  test("type result: naming links win; unnamed and absent type nodes render the marker") {
    check("""read (any result=((guid type)))""", on = typed)
    check("""read (any value~="untyped" result=((value type typeguid)))""", on = typed)
  }

  test("a root linked by its right keeps the Catalyst meta arrow") {
    check("""read (<- value~="co-wrote" result=((guid meta)))""",
      expectServable = false)
    check("""read (<- value~="co-wrote" result=((guid value)))""")
  }

  // the session workload's store: notes with tag links, persons with
  // knows links, built row by row like the Writer's mirror
  lazy val session = new Fixture(
    Seq("amber basil cedar", "amber delta ember", "fjord amber kelp",
      "lumen maple nectar").zipWithIndex.flatMap { case (v, i) =>
      Seq(node(100 + 2 * i, name = Some("note"), value = Some(v)),
        link(101 + 2 * i, 100 + 2 * i, None, name = Some("tag"), value = Some(s"t$i")))
    } ++ Seq(node(200, name = Some("person"), value = Some("p1")),
      node(201, name = Some("person"), value = Some("p2")),
      link(202, 201, Some(200), name = Some("knows"))))
  private val sessionReads = Seq(
    """read (name="note" value~="amber" sort=value pagesize=2 result=((value)))""",
    """read (name="person" value="p2" result=((guid)) (<-left name="knows"))""")

  test("mirror-backed session reads run no Spark job") {
    sessionReads.foreach { q =>
      val (rows, jobs) = TestSpark.jobsDuring(ReadPlanner.plan(session.store, q).collect())
      assert(jobs == 0, q)
      assert(rows.toSeq.map(_.toSeq) ==
        ReadPlanner.plan(session.catalyst, q).collect().toSeq.map(_.toSeq), q)
    }
    val (_, catalystJobs) = TestSpark.jobsDuring(
      ReadPlanner.plan(session.catalyst, sessionReads(1)).collect())
    assert(catalystJobs > 0, "the counter sees the Catalyst plan's jobs")
  }

  test("PointServer.build reuses a mirror-backed store's snapshot: no Spark job") {
    val st = GraphStore.fromSeq(spark,
      Seq(node(1, name = Some("person")), node(2, typeguid = Some(1L), value = Some("x"))))
    val (built, jobs) = TestSpark.jobsDuring(PointServer.build(st))
    assert(jobs == 0)
    assert(built eq st.view.pointIndex.get)
    val (_, collectJobs) = TestSpark.jobsDuring(PointServer.build(
      GraphStore.fromDf(spark, st.primitives, st.versioned)))
    assert(collectJobs > 0)
  }

  test("reads the snapshot does not serve keep the Catalyst plan") {
    val st = session.store
    val word = """read (name="note" value~="amber" pagesize=2 result=((value)))"""
    assert(isLocal(ReadPlanner.plan(st, word)))
    assert(!isLocal(ReadPlanner.plan(st,
      """read (name="note" value~="amber" asof=150 result=((value)))""")))
    val first = ReadPlanner.plan(st,
      """read (name="note" pagesize=2 result=(cursor (value)))""")
    assert(!isLocal(first))
    val tok = ReadPlanner.lastRootCursorTok.get
    assert(!isLocal(ReadPlanner.plan(st,
      s"""read (name="note" pagesize=2 cursor="$tok" result=((value)))""")))
    assert(!isLocal(ReadPlanner.plan(st,
      """read (name="person" result=((guid contents)) (<-left name="knows"))""")))
    assert(!isLocal(ReadPlanner.plan(
      GraphStore.fromDf(spark, st.primitives, versioned = false), word)))
    val hook = graft.plan.Cursor.refIterCursor
    graft.plan.Cursor.refIterCursor = Some((_, _, _, _, _) => None)
    try assert(!isLocal(ReadPlanner.plan(st, word)))
    finally graft.plan.Cursor.refIterCursor = hook
  }

  test("a read on an empty mirror answers no rows with the Catalyst schema") {
    val empty = GraphStore.fromSeq(spark, Nil)
    (sessionReads :+ """read (any result=((guid type meta datatype literal="x")))""")
      .foreach { q =>
        val routed = ReadPlanner.plan(empty, q)
        assert(isLocal(routed), q)
        assert(routed.collect().isEmpty, q)
        assert(typesOf(routed) ==
          typesOf(ReadPlanner.plan(
            GraphStore.fromDf(spark, empty.primitives, empty.versioned), q)), q)
      }
  }

  test("write-only keywords in a read still fail validation ahead of the route") {
    val msg = intercept[graft.gql.Parser.ParseError](
      ReadPlanner.plan(session.store, "read (key=(name))")).getMessage
    assert(msg == intercept[graft.gql.Parser.ParseError](
      ReadPlanner.plan(session.catalyst, "read (key=(name))")).getMessage)
    assert(msg.contains("\"key=\" only works with \"write\""))
  }
}
