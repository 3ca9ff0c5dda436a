package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Datatype, Primitive}
import graft.plan.{Cursor, ReadPlanner}
import graft.store.{DumpRestore, GraphStore}
import graft.write.Writer
import graft.write.Writer.{Spec, WriteError}

/** Write path (unique/key/anchor upserts, versioning, tombstones),
  * dump/restore round-trip, and cursor pagination — mirroring the
  * reference's unique/keyburn/anchor/dump/cursor test families.
  */
class WriteSpec extends AnyFunSuite {
  import Primitive.node

  lazy val spark = TestSpark.spark

  def freshStore: GraphStore = GraphStore.fromSeq(spark, Seq(
    node(1, name = Some("color")),
    node(2, value = Some("red")),
    node(3, value = Some("blue"))))

  test("append mints dense ids and frames the batch") {
    val (st, ids) = Writer.append(freshStore, Seq(
      Spec(value = Some("green")), Spec(value = Some("yellow"))))
    assert(ids == Seq(4L, 5L))
    val rows = st.primitives.filter(col("id") >= 4).orderBy("id").collect()
    assert(rows.head.getAs[Boolean]("txstart")) // first of txn
    assert(!rows.last.getAs[Boolean]("txstart"))
    assert(st.current.count() == 5)
  }

  test("versioning: pessimistic guid=G rejects stale heads") {
    val (st1, v2) = Writer.versionOf(freshStore, 2L, Spec(value = Some("crimson")))
    // current shows crimson, not red
    val cur = st1.current.filter(col("lineage") === 2L).collect()
    assert(cur.length == 1 && cur.head.getAs[String]("value") == "crimson")
    // versioning the stale id 2 again must fail (OUTDATED)
    val e = intercept[WriteError](
      Writer.versionOf(st1, 2L, Spec(value = Some("pink"))))
    assert(e.code == "OUTDATED")
    // ...but opportunistic guid~=2 versions the current head
    val (st2, _) = Writer.versionOf(st1, 2L, Spec(value = Some("pink")),
      opportunistic = true)
    assert(st2.current.filter(col("lineage") === 2L)
      .head().getAs[String]("value") == "pink")
    assert(st2.all.filter(col("lineage") === 2L).count() == 3)
  }

  test("tombstone hides from reads, remains in history") {
    val (st, _) = Writer.tombstone(freshStore, 3L)
    assert(st.current.filter(col("lineage") === 3L).count() == 0)
    assert(st.all.filter(col("lineage") === 3L).count() == 2)
    // live=dontcare still sees the tombstone via the engine
    val n = ReadPlanner.plan(st, "read (live=false result=count)")
      .head().getLong(0)
    assert(n == 1L)
  }

  test("unique: second identical write errors EXISTS") {
    val spec = Spec(value = Some("red"), typeguid = Some(1L))
    val (st1, _) = Writer.writeUnique(freshStore, spec, Seq("value", "typeguid"))
    val e = intercept[WriteError](
      Writer.writeUnique(st1, spec, Seq("value", "typeguid")))
    assert(e.code == "EXISTS")
  }

  test("key: insert, no-op, version-the-diff (keyburn)") {
    val k = Seq("name", "typeguid")
    val (st1, id1, s1) = Writer.writeKeyed(freshStore,
      Spec(name = Some("size"), typeguid = Some(1L), value = Some("5")), k)
    assert(s1 == "inserted")
    val (st2, id2, s2) = Writer.writeKeyed(st1,
      Spec(name = Some("size"), typeguid = Some(1L), value = Some("5")), k)
    assert(s2 == "unchanged" && id2 == id1)
    val (st3, id3, s3) = Writer.writeKeyed(st2,
      Spec(name = Some("size"), typeguid = Some(1L), value = Some("6")), k)
    assert(s3 == "versioned" && id3 != id1)
    val cur = st3.current.filter(col("name") === "size").collect()
    assert(cur.length == 1 && cur.head.getAs[String]("value") == "6")
    // burn it again — still exactly one current row (keyburn invariant)
    val (st4, _, _) = Writer.writeKeyed(st3,
      Spec(name = Some("size"), typeguid = Some(1L), value = Some("7")), k)
    assert(st4.current.filter(col("name") === "size").count() == 1)
  }

  test("anchor: exactly-one matching semantics") {
    assert(Writer.anchor(freshStore, Spec(value = Some("red")), Seq("value")) == 2L)
    // zero and ambiguous matches both answer EMPTY, as the reference
    // does (test/unit/anchor.sh: id="toomany" gets error EMPTY)
    assert(intercept[WriteError](
      Writer.anchor(freshStore, Spec(value = Some("nope")), Seq("value")))
      .code == "EMPTY")
    val (st, _) = Writer.append(freshStore, Seq(Spec(value = Some("red"))))
    assert(intercept[WriteError](
      Writer.anchor(st, Spec(value = Some("red")), Seq("value")))
      .code == "EMPTY")
  }

  /** One write script, run on a mirror-backed store and on the same
    * rows as a distributed frame. The two sources answer the write
    * path's lookups with separate code (the mirror's per-field
    * predicates and the frame's filters), so every returned id, error
    * code and current row must agree.
    */
  test("write path answers alike on a mirror and on a distributed frame") {
    val seed = Seq(
      node(1, name = Some("color")),
      node(2, value = Some("red")),
      node(3, value = Some("blue")))
    type Step = (GraphStore, IndexedSeq[Seq[Long]]) => (GraphStore, Seq[Long])
    def gql(q: IndexedSeq[Seq[Long]] => String): Step =
      (st, ids) => Writer.write(st, q(ids))
    val steps: Seq[Step] = Seq(
      // template appends minting types, a link to an existing node
      gql(_ => """write (type="person" value="ann")"""),
      gql(ids => s"""write (type="person" value="bob"
        |  (<-left type="knows" right=${ids(0).head}))""".stripMargin),
      gql(_ => """write (type="person" value="cy")"""),
      // key=: insert, no-op, version the diff
      gql(_ => """write (name="size" value="5" key=(name))"""),
      gql(_ => """write (name="size" value="5" key=(name))"""),
      gql(_ => """write (name="size" value="6" key=(name))"""),
      // a keyed root with a keyed link child, twice
      gql(ids => s"""write (name="person" value="p1" key=(name value)
        |  (<-left name="knows" right=${ids(0).head} key=(name left right)))""".stripMargin),
      gql(ids => s"""write (name="person" value="p1" key=(name value)
        |  (<-left name="knows" right=${ids(0).head} key=(name left right)))""".stripMargin),
      // unique=: EXISTS, then a fresh insert
      gql(_ => """write (value="red" unique=(value))"""),
      gql(_ => """write (value="green" unique=(value))"""),
      // anchor: a hit, then EMPTY
      gql(_ => """write (anchor value="blue")"""),
      gql(_ => """write (anchor value="nope")"""),
      // guid=: versions the head, then OUTDATED on the stale id
      gql(ids => s"""write (guid=${ids(1).head} value="bobby")"""),
      gql(ids => s"""write (guid=${ids(1).head} value="robert")"""),
      // guid~=: versions whatever the head now is
      gql(ids => s"""write (guid~=${ids(1).head} value="robert")"""),
      // a typed write after versions resolves the existing type
      gql(_ => """write (type="person" value="dee")"""),
      // tombstones: the template form and the API form
      gql(ids => s"""write (guid=${ids(2).head} live=false)"""),
      (st, _) => { val (s2, id) = Writer.tombstone(st, 3L); (s2, Seq(id)) },
      (st, ids) => {
        val (s2, id) = Writer.versionOf(st, ids(14).head, Spec(value = Some("x")))
        (s2, Seq(id))
      })

    def run(st0: GraphStore): (Seq[Either[String, Seq[Long]]], Seq[Seq[Any]]) = {
      var st = st0
      val ids = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      val out = steps.map { step =>
        val r =
          try { val (s2, got) = step(st, ids.toIndexedSeq); st = s2; Right(got) }
          catch { case e: WriteError => Left(e.code) }
        ids += r.getOrElse(Nil)
        r
      }
      // timestamps come from the wall clock, so each run has its own
      val rows = st.current.drop("timestamp").orderBy("id").collect()
        .map(_.toSeq).toSeq
      (out, rows)
    }
    val (mirrorOut, mirrorRows) = run(GraphStore.fromSeq(spark, seed))
    val (frameOut, frameRows) = run(GraphStore.fromDf(spark,
      GraphStore.fromSeq(spark, seed).primitives))
    assert(mirrorOut == frameOut)
    assert(mirrorRows == frameRows)
    // the script reached every outcome it names
    assert(mirrorOut.collect { case Left(code) => code }.toSet ==
      Set("EXISTS", "EMPTY", "OUTDATED"))
    assert(mirrorOut(4) == mirrorOut(3) && mirrorOut(5) != mirrorOut(3))
    assert(mirrorOut(7) == mirrorOut(6))
  }

  test("versioned writes and tombstones on a mirror-backed store fire no Spark job") {
    val (_, jobs) = TestSpark.jobsDuring {
      val (st1, _) = Writer.write(freshStore, """write (guid=2 value="crimson")""")
      assert(intercept[WriteError](
        Writer.write(st1, """write (guid=2 value="pink")""")).code == "OUTDATED")
      val (st2, _) = Writer.write(st1, """write (guid~=2 value="pink")""")
      val (st3, _) = Writer.versionOf(st2, 3L, Spec(value = Some("navy")))
      Writer.tombstone(st3, 1L)
    }
    assert(jobs == 0)
  }

  test("a write template resolves each distinct type once on a distributed store") {
    // on a distributed store one type resolution is a current-view
    // window plus a collect (two jobs), and minting a missing type is
    // an append (two more)
    def jobs(q: String): Int = TestSpark.jobsDuring(Writer.write(
      GraphStore.fromDf(spark, freshStore.primitives), q))._2
    val one = jobs("""write (value="a")""")
    val two = jobs("""write (value="a" (<-left value="b"))""")
    assert(jobs("""write (type="color" value="a")""") == one + 2)
    assert(jobs("""write (type="person" value="a" (<-left type="pet" value="b"))""") ==
      two + 8)
    assert(jobs("""write (type="person" value="a" (<-left type="person" value="b"))""") ==
      two + 4)
  }

  test("dump/restore round-trips exactly, including escapes") {
    val (st, _) = Writer.append(freshStore, Seq(
      Spec(value = Some("tab\tand%percent"), name = Some("tricky"))))
    val dumped = DumpRestore.dump(st)
    assert(dumped.count() == 4)
    val restored = DumpRestore.restoreStore(spark, dumped)
    val a = st.primitives.orderBy("id").collect().toSeq
    val b = restored.primitives.orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("cursor pagination walks the full set exactly once") {
    val (st, _) = Writer.append(freshStore,
      (1 to 20).map(i => Spec(value = Some(s"v$i"))))
    var cursor: Option[String] = None
    var seen = Vector.empty[Long]
    var pages = 0
    var done = false
    while (!done && pages < 20) {
      val p = Cursor.page(st, cursor, 7)
      val ids = p.collect().map(_.getAs[Long]("id"))
      seen ++= ids
      cursor = Cursor.next(st, p, cursor, 7)
      pages += 1
      done = cursor.isEmpty
    }
    assert(seen == seen.sorted && seen.distinct == seen)
    assert(seen.length == 23) // 3 fixture + 20 appended
  }
}
