package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Primitive.node
import graft.store.GraphStore
import graft.write.{BulkMerge, Writer}

/** BulkMerge must agree record-for-record with the sequential
  * per-request upsert path (Writer.writeKeyed / writeUnique), which is
  * itself pinned to the reference's golden sessions (keyburn*, unique*,
  * spacematch, octet). The cross-check: apply the same batch both ways
  * and compare outcomes plus the resulting current view.
  */
class BulkMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def baseStore(): GraphStore = GraphStore.fromSeq(spark, Seq(
    node(1, name = Some("doc:1"), value = Some("alpha")),
    node(2, name = Some("doc:2"), value = Some("beta  text")),
    node(3, name = Some("doc:3"), value = Some("gamma")),
    node(4, name = Some("doc:3"), value = Some("gamma dup")), // higher id, same key
    node(5, name = Some("other"), value = Some("unrelated"))))

  private def batchDf(rows: Seq[(String, String)]) = {
    import spark.implicits._
    rows.toDF("name", "value")
  }

  test("both candidate-prune shapes classify identically (size gate)") {
    // the batch-keys semi-join prune is size-gated (small stores skip
    // it); forcing it ON for this tiny store must not change one
    // outcome or the merged view — pins the 100TB shape ≡ small shape
    val batch = Seq("doc:1" -> "alpha", "doc:3" -> "gamma2",
      "doc:9" -> "fresh")
    def run(conf: Conf) = {
      val r = BulkMerge.mergeKeyed(baseStore().copy(conf = conf), batchDf(batch),
        Seq("name"))
      (r.outcomes.select("name", "outcome").collect()
         .map(x => (x.getString(0), x.getString(1))).toSet,
       r.store.current.select("name", "value").collect()
         .map(x => (x.getString(0), x.getString(1))).toSet)
    }
    val gated = run(Conf())
    assert(run(Conf(smallStoreBytes = 0)) == gated) // force the prune path
  }

  test("mergeKeyed classifies insert / unchanged / versioned like the sequential path") {
    val batch = Seq(
      "doc:1" -> "alpha",        // identical → unchanged
      "doc:2" -> "beta text",    // normalized-identical (whitespace) → unchanged
      "doc:3" -> "gamma2",       // differs → versioned (lowest id 3 wins)
      "doc:9" -> "fresh")        // absent → inserted

    val r = BulkMerge.mergeKeyed(baseStore(), batchDf(batch), Seq("name"))
    assert(r.inserted == 1 && r.unchanged == 2 && r.versioned == 1)

    val out = r.outcomes.select("name", "outcome", "matched_id")
      .collect().map(x => x.getString(0) -> (x.getString(1),
        if (x.isNullAt(2)) -1L else x.getLong(2))).toMap
    assert(out("doc:1") == ("unchanged", 1L))
    assert(out("doc:2") == ("unchanged", 2L))
    assert(out("doc:3") == ("versioned", 3L))
    assert(out("doc:9") == ("inserted", -1L))

    // sequential reference run over the same batch
    var st = baseStore()
    val seqOutcomes = batch.map { case (n, v) =>
      val (st2, id, outcome) = Writer.writeKeyed(st,
        Writer.Spec(name = Some(n), value = Some(v)), Seq("name"))
      st = st2
      n -> outcome
    }.toMap
    seqOutcomes.foreach { case (n, o) => assert(out(n)._1 == o, s"key $n") }

    // current views agree (ids may differ in assignment order; compare
    // the visible state)
    def view(s: GraphStore) = s.current
      .select("name", "value", "live").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(view(r.store) == view(st))

    // the version chains: doc:3's head carries prev=3, lineage=3
    val head = r.store.current.filter(col("name") === "doc:3")
      .select("prev", "lineage").head()
    assert(head.getLong(0) == 3L && head.getLong(1) == 3L)
  }

  test("every advertised key field resolves, including scope") {
    import spark.implicits._
    val st = GraphStore.fromSeq(spark, Seq(
      node(1, name = Some("n1"), value = Some("x")).copy(scope = Some(7L)),
      node(2, name = Some("n1"), value = Some("x")).copy(scope = None)))
    val batch = Seq((Some(7L), "n1", "x"), (None: Option[Long], "n1", "y"))
      .toDF("scope", "name", "value")
    val r = BulkMerge.mergeKeyed(st, batch, Seq("name", "scope"))
    // scoped row identical → unchanged; null-scope row differs → version
    assert(r.unchanged == 1 && r.versioned == 1 && r.inserted == 0)
  }

  test("mergeKeyed with key=() inserts everything") {
    val r = BulkMerge.mergeKeyed(baseStore(),
      batchDf(Seq("doc:1" -> "alpha", "doc:1" -> "alpha")), Seq.empty)
    assert(r.inserted == 2 && r.unchanged == 0 && r.versioned == 0)
    assert(r.store.current.filter(col("name") === "doc:1").count() == 3)
  }

  test("mergeKeyed dedups batch keys by seqCol, last occurrence wins") {
    import spark.implicits._
    val batch = Seq(
      (1L, "doc:7", "first"),
      (2L, "doc:7", "second"),
      (3L, "doc:1", "alpha patched"))
      .toDF("seq", "name", "value")
    val r = BulkMerge.mergeKeyed(baseStore(), batch, Seq("name"),
      seqCol = Some("seq"))
    assert(r.inserted == 1 && r.versioned == 1)
    val vals = r.store.current.filter(col("name").isin("doc:7", "doc:1"))
      .select("name", "value").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(vals("doc:7") == "second")
    assert(vals("doc:1") == "alpha patched")
  }

  test("unspecified columns don't version; explicit values do") {
    // batch carries only the key field: restating the key of a
    // primitive with extra fields is a no-op (octet golden semantics)
    import spark.implicits._
    val onlyKeys = Seq("doc:1", "doc:2").toDF("name")
    val r = BulkMerge.mergeKeyed(baseStore(), onlyKeys, Seq("name"))
    assert(r.unchanged == 2 && r.versioned == 0 && r.inserted == 0)
  }

  test("mergeUnique inserts absent, reports exists, writes nothing for present") {
    val before = baseStore()
    val nBefore = before.current.count()
    val r = BulkMerge.mergeUnique(before,
      batchDf(Seq("doc:1" -> "whatever", "doc:8" -> "new")), Seq("name"))
    assert(r.inserted == 1 && r.existing == 1)
    assert(r.store.current.count() == nBefore + 1)
    // sequential cross-check: writeUnique errors EXISTS on doc:1
    intercept[Writer.WriteError] {
      Writer.writeUnique(before,
        Writer.Spec(name = Some("doc:1"), value = Some("whatever")), Seq("name"))
    }
  }

  test("outcomes carry resolved ids for every record") {
    val r = BulkMerge.mergeKeyed(baseStore(),
      batchDf(Seq("doc:1" -> "alpha", "doc:3" -> "gamma2", "doc:9" -> "fresh")),
      Seq("name"))
    val byName = r.outcomes.select("name", "outcome", "id").collect()
      .map(x => x.getString(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(byName("doc:1") == ("unchanged", 1L)) // matched head
    // versioned/inserted rows resolve to their newly assigned ids
    // (6 and 7 in some order — the two appended rows after max id 5)
    assert(byName("doc:3")._1 == "versioned" && byName("doc:9")._1 == "inserted")
    assert(Set(byName("doc:3")._2, byName("doc:9")._2) == Set(6L, 7L))
    val curIds = r.store.current.select("id").collect().map(_.getLong(0)).toSet
    assert(curIds(byName("doc:3")._2) && curIds(byName("doc:9")._2))
  }

  test("two-level cluster ingest composes from flat merges") {
    // the batch analog of key CLUSTERS (doc/gr-protocol.txt:744-813):
    // child nodes merge first, their resolved ids join into the link
    // batch's endpoint columns, then the links merge keyed on the
    // endpoints — three flat passes, no per-record reads
    import spark.implicits._
    var st = baseStore()
    val chunks = Seq("chunk:a" -> "text a", "chunk:b" -> "text b")
    val r1 = BulkMerge.mergeKeyed(st, batchDf(chunks), Seq("name"))
    st = r1.store
    // link each chunk to existing doc:1 (id 1)
    val links = r1.outcomes.select(
      col("id").as("right"),
      lit(1L).as("left"),
      lit("has_chunk").as("name"))
    val r2 = BulkMerge.mergeKeyed(st, links, Seq("name", "left", "right"))
    st = r2.store
    assert(r1.inserted == 2 && r2.inserted == 2)
    // re-ingesting the same cluster is a full no-op (idempotent)
    val r1b = BulkMerge.mergeKeyed(st, batchDf(chunks), Seq("name"))
    val links2 = r1b.outcomes.select(col("id").as("right"),
      lit(1L).as("left"), lit("has_chunk").as("name"))
    val r2b = BulkMerge.mergeKeyed(r1b.store, links2, Seq("name", "left", "right"))
    assert(r1b.unchanged == 2 && r2b.unchanged == 2)
    assert(r2b.store.current.filter(col("name") === "has_chunk").count() == 2)
  }

  test("word index maintained incrementally across a merge") {
    val st0 = baseStore().copy(useWordIndex = true)
    val before = st0.valueWordIndex.count() // force + cache the base
    val r = BulkMerge.mergeKeyed(st0,
      batchDf(Seq("doc:50" -> "zephyr quartz", "doc:3" -> "gamma revised")),
      Seq("name"))
    val st1 = r.store
    // the merged store's index is base + delta, not a full rebuild
    assert(st1.wordIndexBase.isDefined)
    // new words are discoverable through the ~= index path
    val hits = graft.plan.ReadPlanner.plan(st1,
      """read (value~="zephyr" result=((value)))""").collect()
    assert(hits.length == 1 && hits.head.getString(0) == "zephyr quartz")
    // the versioned doc's new text is indexed too; the superseded
    // version stays in the index (candidate superset — the exact
    // match re-check prunes it)
    val hits2 = graft.plan.ReadPlanner.plan(st1,
      """read (value~="revised" result=((value)))""").collect()
    assert(hits2.map(_.getString(0)).toSeq == Seq("gamma revised"))
    assert(st1.valueWordIndex.count() > before)
  }

  test("randomized cross-check: bulk merge ≡ sequential writeKeyed") {
    // seeded random batches against seeded random stores — outcome
    // classification and the resulting current view must agree with
    // the sequential reference path on every draw
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 4) {
      val keys = (1 to 8).map(i => s"k$i")
      val storeRows = (1L to 6L).map { i =>
        node(i, name = Some(keys(rnd.nextInt(keys.length))),
          value = Some(s"v${rnd.nextInt(4)}"))
      }
      val st0 = GraphStore.fromSeq(spark, storeRows)
      // distinct batch keys (the bulk contract); random values
      val batch = rnd.shuffle(keys).take(5)
        .map(k => k -> s"v${rnd.nextInt(4)}")
      val r = BulkMerge.mergeKeyed(st0, batchDf(batch), Seq("name"))
      val bulkOut = r.outcomes.select("name", "outcome").collect()
        .map(x => x.getString(0) -> x.getString(1)).toMap

      var st = st0
      val seqOut = batch.map { case (k, v) =>
        val (st2, _, o) = Writer.writeKeyed(st,
          Writer.Spec(name = Some(k), value = Some(v)), Seq("name"))
        st = st2
        k -> o
      }.toMap
      assert(bulkOut == seqOut, s"round $round: $bulkOut vs $seqOut")

      def view(s: GraphStore) = s.current.select("name", "value")
        .collect().map(x => (x.getString(0), x.getString(1))).toSeq.sorted
      assert(view(r.store) == view(st), s"round $round view")
    }
  }

  test("ids are dense from nextId; lineage roots correct") {
    val st0 = baseStore()
    val base = st0.source.nextId
    val r = BulkMerge.mergeKeyed(st0,
      batchDf(Seq("n1" -> "a", "n2" -> "b", "doc:1" -> "changed")), Seq("name"))
    val ids = r.store.primitives.filter(col("id") >= base)
      .select("id", "prev", "lineage").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1), x.getLong(2)))
      .sortBy(_._1)
    assert(ids.map(_._1).toSeq == (base until base + 3).toSeq)
    ids.foreach { case (id, prev, lin) =>
      if (prev == -1L) assert(lin == id) else assert(prev == 1L && lin == 1L)
    }
  }

  test("datatype key field without a datatype column still resolves ids") {
    // the merge join derives an unspecified datatype from value
    // presence (String / Null); the outcome-id rebuild must derive the
    // SAME key, not a null literal, or inserts resolve to a null id
    val st0 = baseStore()
    val r = BulkMerge.mergeKeyed(st0,
      batchDf(Seq("doc:1" -> "alpha", "dk:new" -> "fresh")),
      Seq("name", "datatype"))
    val out = r.outcomes.select("name", "outcome", "id").collect()
      .map(x => x.getString(0) ->
        (x.getString(1), if (x.isNullAt(2)) -1L else x.getLong(2))).toMap
    assert(out("doc:1") == ("unchanged", 1L))
    assert(out("dk:new")._1 == "inserted" && out("dk:new")._2 > 0L,
      s"inserted row must resolve its assigned id, got ${out("dk:new")}")
  }
}
