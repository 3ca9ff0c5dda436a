package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.gql._
import graft.model.{Datatype, Primitive}
import graft.plan.ReadPlanner
import graft.store.GraphStore

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener after the listener bus has drained
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.bridge.drainListenerBus(sc, 10000)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.bridge.drainListenerBus(sc, 10000)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** Golden-style engine tests mirroring the reference's unit corpus
  * (FIXTURES.md §2; test/unit/sort1.sh, count1.sh, version*.sh,
  * the Arnold pattern from doc/a-brief-tour-of-graphd.md:120-140).
  */
class EngineSpec extends AnyFunSuite {
  import Primitive.{link, node}

  lazy val spark = TestSpark.spark

  // ---------- fixtures ----------

  /** sort1: 4 nodes (name,value) = (d,4) (b,2) (a,1) (c,3) */
  lazy val sortFixture = GraphStore.fromSeq(spark, Seq(
    node(1, name = Some("d"), value = Some("4")),
    node(2, name = Some("b"), value = Some("2")),
    node(3, name = Some("a"), value = Some("1")),
    node(4, name = Some("c"), value = Some("3"))))

  /** count1: hub + 3 fan-in links */
  lazy val starFixture = GraphStore.fromSeq(spark, Seq(
    node(1, value = Some("bottle of beer on the wall")),
    link(2, left = 1, right = None, value = Some("one")),
    link(3, left = 1, right = None, value = Some("two")),
    link(4, left = 1, right = None, value = Some("three"))))

  /** Arnold: person node + height link via a type node */
  lazy val arnoldFixture = GraphStore.fromSeq(spark, Seq(
    node(1, name = Some("height")), // type node
    node(2, value = Some("Arnold Schwarzenegger")),
    link(3, left = 2, right = None, typeguid = Some(1), value = Some("1.88"),
      datatype = Datatype.Float),
    node(4, value = Some("Maria Shriver")),
    link(5, left = 4, right = None, typeguid = Some(1), value = Some("1.65"),
      datatype = Datatype.Float)))

  /** version chain P1 <- P2(prev=1) <- P3(prev=2), plus live=false tombstone */
  lazy val versionFixture = GraphStore.fromSeq(spark, Seq(
    node(1, value = Some("v0")),
    Primitive(2, None, None, Datatype.String, Some("v1"), None, true, true,
      false, 0L, None, None, Some(1L), 0L),
    Primitive(3, None, None, Datatype.String, Some("v2"), None, true, true,
      false, 0L, None, None, Some(2L), 0L),
    node(4, value = Some("standalone")),
    Primitive(5, None, None, Datatype.String, None, None, false, true,
      false, 0L, None, None, Some(4L), 0L))) // tombstone of 4

  // ---------- parser ----------

  test("parser: conjuncts, nesting, lists, sort, result") {
    val c = Parser.parseRead(
      """read (value="a" name="n" pagesize=10 start=2 sort=(-value name)
        |  result=((guid value contents))
        |  (<-left type="height" result=((value))))""".stripMargin)
    assert(c.value == Seq(StrPred(OpEq, Seq(Some("a")))))
    assert(c.name == Seq(StrPred(OpEq, Seq(Some("n")))))
    assert(c.pagesize.contains(10L) && c.start.contains(2L))
    assert(c.sort == Seq(SortKey(FieldPat("value"), false), SortKey(FieldPat("name"), true)))
    assert(c.subs.size == 1)
    val sub = c.subs.head
    assert(sub.linkage.contains(ChildPointsToParent("left")))
    assert(sub.typeNames.contains(Seq("height")))
  }

  test("parser: guid forms, value lists, ranges, flags") {
    val c = Parser.parseRead(
      """(guid=5 left=null value=("a" "b") value>"m" live=dontcare
        |  datatype=integer timestamp>=2020-01-01 optional count<=3)""".stripMargin)
    assert(c.guid == Seq(GuidPred(true, Seq(Some(5L)))))
    assert(c.linkFields("left") == Seq(GuidPred(true, Seq(None))))
    assert(c.value.contains(StrPred(OpEq, Seq(Some("a"), Some("b")))))
    assert(c.value.contains(StrPred(OpGt, Seq(Some("m")))))
    assert(c.live == DontCare)
    assert(c.datatype.contains(Datatype.Integer))
    assert(c.timestampMin.exists(_._2))
    assert(c.optional && c.count.max.contains(3L))
  }

  test("parser: rejects garbage") {
    intercept[Parser.ParseError](Parser.parseRead("read (unknownkw=3)"))
    intercept[Parser.ParseError](Parser.parseRead("read (value="))
    intercept[Parser.ParseError](Parser.parseRead("(value=\"unterminated)"))
  }

  test("parser: unbalanced braces are syntax errors") {
    intercept[Parser.ParseError](Parser.parseRead("""read (value="x" }})"""))
    intercept[Parser.ParseError](Parser.parseRead("""read (value="x" { )"""))
    intercept[Parser.ParseError](Parser.parseRead("""read ({ value="a" || } })"""))
    // balanced braces still parse (or2/or4 golden shape)
    val ok = Parser.parseRead("""read (value="a" || {})""")
    assert(ok.orBranches.length == 1)
  }

  test("parser: sort-comparator in an earlier or-branch segment applies") {
    // the modifier is written before '||'; the sort keys after — the
    // snapshot must not drop the comparator from the merged constraint
    val c = Parser.parseRead(
      """(sort-comparator=("number") value="a" || value="b" sort=(value))""")
    assert(c.sort.headOption.flatMap(_.comparator).contains("number"))
    // both in the first segment, keys in the second
    val c2 = Parser.parseRead(
      """(value="a" sort=(value) sort-comparator=("datetime") || value="b")""")
    assert(c2.sort.headOption.flatMap(_.comparator).contains("datetime"))
  }

  // ---------- planner ----------

  test("sort1: multi-key sort over values") {
    val rows = ReadPlanner.plan(sortFixture,
      "read (node sort=(value) result=((name value)))")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("a", "1"), ("b", "2"), ("c", "3"), ("d", "4")))

    val desc = ReadPlanner.plan(sortFixture,
      "read (node sort=(-name) result=((name)))")
      .collect().map(_.getString(0)).toSeq
    assert(desc == Seq("d", "c", "b", "a"))
  }

  test("count1: fan-in count and contents") {
    val n = ReadPlanner.plan(starFixture,
      "read (value=\"bottle of beer on the wall\" result=count (<-left))")
      .collect().head.getLong(0)
    assert(n == 1L)

    // contents of the hub: the three links' values
    val rows = ReadPlanner.plan(starFixture,
      """read (value~="bottle" result=((guid contents))
        |  (<-left result=((value))))""".stripMargin).collect()
    assert(rows.length == 1)
    val contents = rows.head.getSeq[Row](1).map(_.getString(0))
    assert(contents.toSet == Set("one", "two", "three"))
  }

  test("count constraint filters parents by child cardinality") {
    // hub has 3 fan-in links; standalone nodes have 0
    val hubs = ReadPlanner.plan(starFixture,
      "read (node result=((value)) (<-left count=3))").collect()
    assert(hubs.map(_.getString(0)).toSeq == Seq("bottle of beer on the wall"))

    val none = ReadPlanner.plan(starFixture,
      "read (node result=((value)) (<-left count=2))").collect()
    assert(none.isEmpty)
  }

  test("arnold: 1-hop property read through a type node") {
    val rows = ReadPlanner.plan(arnoldFixture,
      """read (value~="arnold" result=((value contents))
        |  (<-left type="height" result=((value))))""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "Arnold Schwarzenegger")
    assert(rows.head.getSeq[Row](1).map(_.getString(0)) == Seq("1.88"))
  }

  test("anti-join: people WITHOUT a height property") {
    val rows = ReadPlanner.plan(arnoldFixture,
      """read (node result=((name value)) (<-left type="height" count=0))"""
    ).collect()
    // only the type node itself has no height link
    assert(rows.map(_.getString(0)).toSeq == Seq("height"))
  }

  test("versioning: newest wins, tombstones hidden, asof time-travels") {
    // default view: newest live versions only
    val cur = ReadPlanner.plan(versionFixture,
      "read (node result=((value)))").collect().map(_.getString(0)).toSet
    assert(cur == Set("v2")) // v0,v1 superseded; standalone tombstoned

    // newest>=0 live=dontcare: all versions incl. tombstone
    val all = ReadPlanner.plan(versionFixture,
      "read (newest>=0 live=dontcare result=count)").collect().head.getLong(0)
    assert(all == 5L)

    // oldest=0: original versions
    val oldest = ReadPlanner.plan(versionFixture,
      "read (oldest=0 live=dontcare result=((value)))")
      .collect().map(_.getString(0)).toSet
    assert(oldest == Set("v0", "standalone"))

    // asof id<=2: v1 is newest, node 4 not yet written
    val asof = ReadPlanner.plan(versionFixture.asOf(2),
      "read (node result=((value)))").collect().map(_.getString(0)).toSet
    assert(asof == Set("v1"))

    // guid~=1 resolves the whole lineage
    val lin = ReadPlanner.plan(versionFixture,
      "read (guid~=1 newest>=0 result=count)").collect().head.getLong(0)
    assert(lin == 3L)
  }

  test("value ranges use the comparator sort key") {
    val rows = ReadPlanner.plan(sortFixture,
      "read (value>=\"2\" value<\"4\" sort=(value) result=((value)))")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("2", "3"))

    // number comparator: "10" > "9" numerically
    val numFixture = GraphStore.fromSeq(spark, Seq(
      node(1, value = Some("9")), node(2, value = Some("10")),
      node(3, value = Some("100"))))
    val num = ReadPlanner.plan(numFixture,
      "read (comparator=\"number\" value>\"9\" sort=(value) result=((value)))")
      .collect().map(_.getString(0)).toSeq
    assert(num == Seq("10", "100"))
  }

  test("pagination: pagesize + start with stable order") {
    val page = ReadPlanner.plan(sortFixture,
      "read (node sort=(value) pagesize=2 start=1 result=((value)))")
      .collect().map(_.getString(0)).toSeq
    assert(page == Seq("2", "3"))
  }

  test("variables: child value bubbles to parent sort") {
    val rows = ReadPlanner.plan(arnoldFixture,
      """read (node result=(($h value)) sort=(-$h)
        |  (<-left type="height" $h=value))""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("1.88", "Arnold Schwarzenegger"), ("1.65", "Maria Shriver")))
  }

  test("optional child keeps parents without matches") {
    val rows = ReadPlanner.plan(arnoldFixture,
      """read (node result=((value)) (<-left optional result=((value))))"""
        .stripMargin).collect()
    assert(rows.length == 3) // type node + 2 people
  }

  test("asof request modifier time-travels through the query language") {
    val asof = ReadPlanner.plan(versionFixture,
      "read (node asof=2 result=((value)))").collect().map(_.getString(0)).toSet
    assert(asof == Set("v1"))
  }

  test("contents honor multi-key child sorts with mixed directions") {
    // children share a primary value, so the DESCENDING secondary key
    // decides the order inside the contents array
    val st = GraphStore.fromSeq(spark, Seq(
      node(1, value = Some("parent")),
      link(2, left = 1, right = None, name = Some("a"), value = Some("x")),
      link(3, left = 1, right = None, name = Some("c"), value = Some("x")),
      link(4, left = 1, right = None, name = Some("b"), value = Some("x")),
      link(5, left = 1, right = None, name = Some("z"), value = Some("w"))))
    val row = ReadPlanner.plan(st,
      """read (value="parent" result=(contents)
        |  (<-left sort=(value -name) result=((name))))""".stripMargin)
      .collect().head
    val names = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    // primary: value asc (w before x); secondary: name DESC within x
    assert(names == Seq("z", "c", "b", "a"), s"got $names")
  }

  test("child result=count yields per-parent cardinality as contents") {
    val rows = ReadPlanner.plan(starFixture,
      """read (value~="bottle" result=((value contents))
        |  (<-left result=count))""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "bottle of beer on the wall")
    assert(rows.head.getLong(1) == 3L)
  }

  test("isa hop restricts by pointed-to node") {
    val fx = GraphStore.fromSeq(spark, Seq(
      node(1, name = Some("status_t")),   // type node for orders? not needed
      node(2, value = Some("F")), node(3, value = Some("O")), // "orders"
      node(4, value = Some("c1")), node(5, value = Some("c2")), // "customers"
      link(10, left = 2, right = Some(4), typeguid = Some(1)), // F order -> c1
      link(11, left = 3, right = Some(5), typeguid = Some(1)))) // O order -> c2
    val ast = Parser.parseRead(
      """read (node value~="c*" result=((value))
        |  (<-right type="status_t" left->(value="F")))""".stripMargin)
    val rows = ReadPlanner.plan(fx, ast).collect().map(_.getString(0)).toSeq
    assert(rows == Seq("c1"))
  }
}
