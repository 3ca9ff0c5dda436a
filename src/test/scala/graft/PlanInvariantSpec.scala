package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SimpleMode

/** Physical-plan invariants for the gate queries — the automated
  * rendition of PlanAudit's manual checklist. These are the properties
  * that make the plans survive a 100 TB scale-up; a regression here is
  * a scale bug even while row counts stay correct:
  *
  *  - no accidental cartesian products (the one intentional
  *    all-pairs plan is s01's brute-force KNN baseline);
  *  - predicate pushdown reaches the parquet scans (PushedFilters);
  *  - column pruning reaches the scans (ReadSchema carries only the
  *    referenced columns, not the full table width);
  *  - small dimension joins broadcast instead of shuffling;
  *  - aggregations have a map-side partial phase.
  */
class PlanInvariantSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(SimpleMode)

  // streaming mains, the dump/restore round-trip, and the write gates
  // (w01-w03 execute the merge/compaction eagerly) run side effects at
  // plan-build time — and their interesting plans are internal to the
  // operator, not the returned view; covered by their own specs
  private val planOnly = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(Set("st01_stream_type_counts", "st02_windowed_events",
      "st03_stream_upsert", "st04_stream_filter", "st05_stream_dedup",
      "dr01_dump_restore",
      "w01_bulk_upsert", "w02_bulk_unique", "w03_compact"))

  test("no gate query plans a cartesian product") {
    planOnly.foreach { q =>
      assert(!physical(q).contains("CartesianProduct"),
        s"$q plans a cartesian product")
    }
  }

  /** BNLJ nodes whose OWN build-side subtree does not cap at one row.
    * A BNLJ over a provably-<=1-row build is Catalyst's rewrite of a
    * CONSTANT-key semi-join into an existence probe (a05's salted
    * hot-key branch joins on literal 0), or a scalar-broadcast
    * crossJoin (t10's corpus total) — O(n) against a <=1-row
    * broadcast, not an all-pairs join. The bound is established by a
    * ROOT-DOWN walk that recurses only through row-preserving nodes
    * (project/filter/sort/coalesce/exchange) until it finds a
    * Limit(<=1) or an ungrouped aggregate — an anywhere-in-subtree
    * scan would wrongly exempt a big build that merely CONTAINS a
    * one-row branch, and a flat-string window around the node name
    * can be fooled by an unrelated `LocalLimit 1` in the explain text.
    */
  private def multiRowBnljs(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.{CoalesceExec, FilterExec,
      GlobalLimitExec, LocalLimitExec, ProjectExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def capsAtOneRow(p: SparkPlan): Boolean = p match {
      case l: LocalLimitExec => l.limit <= 1
      case g: GlobalLimitExec => g.limit <= 1
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty ||
        capsAtOneRow(a.child) // grouped agg over <=1 row stays <=1
      case n @ (_: ProjectExec | _: FilterExec | _: SortExec |
                _: CoalesceExec | _: Exchange) =>
        capsAtOneRow(n.children.head)
      case _ => false // anything else (incl. Generate/Expand) may grow rows
    }
    plan.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        if (capsAtOneRow(build)) None else Some(j.simpleString(120))
    }.flatten
  }

  test("nested-loop joins only where all-pairs is the semantics (s01)") {
    planOnly.filterNot(_ == "s01_knn_brute").foreach { q =>
      val bad = multiRowBnljs(
        SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan)
      assert(bad.isEmpty,
        s"$q plans a nested-loop join over a multi-row build side:\n" +
          bad.mkString("\n"))
    }
  }

  test("the BNLJ checker catches a multi-row build planted next to an existence probe") {
    import org.apache.spark.sql.functions.broadcast
    val big = spark.range(100).toDF("n")
    val one = spark.range(5).toDF("m").limit(1)
    val multi = spark.range(3).toDF("k")
    val probe = big.crossJoin(broadcast(one)) // exempt: <=1-row build
    assert(multiRowBnljs(probe.queryExecution.sparkPlan).isEmpty,
      "the existence-probe shape must stay exempt")
    // the old regex window would excise everything between the planted
    // BNLJ and the probe's LocalLimit 1 and miss the violation
    val planted = big.crossJoin(broadcast(multi))
      .crossJoin(broadcast(one))
    assert(multiRowBnljs(planted.queryExecution.sparkPlan).nonEmpty,
      "a planted multi-row-build BNLJ must be caught")
  }

  test("filter pushdown and column pruning reach the lineitem scan (q01)") {
    val p = physical("q01_scan_filter")
    assert("""PushedFilters: \[[^\]]""".r.findFirstIn(p).isDefined,
      "no pushed filters on the scan")
    // lineitem has 16 columns; the projection needs 4 — a scan that
    // reads the full width is a pruning regression
    val read = """ReadSchema: struct<([^>]*)>""".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.nonEmpty && read.split(",").length <= 6,
      s"scan reads too many columns: $read")
  }

  test("dimension join broadcasts; aggregate has a partial phase (q03)") {
    val p = physical("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), "dimension join does not broadcast")
    assert(p.contains("HashAggregate"), "no hash aggregation")
    assert("""PushedFilters: \[[^\]]""".r.findFirstIn(p).isDefined)
  }

  test("semi/anti joins plan as joins, not subquery re-scans (q04, q05)") {
    assert(physical("q04_semi_join").contains("Semi"))
    assert(physical("q05_anti_join").contains("Anti"))
  }

  test("top-k plans TakeOrderedAndProject, not a global sort (q10)") {
    val p = physical("q10_topk_offset")
    assert(p.contains("TakeOrderedAndProject"),
      "limit+orderBy should collapse to TakeOrderedAndProject")
  }

  test("per-parent top-k aggregates with a partial phase, no window (q20)") {
    val p = physical("q20_topk_per_parent")
    assert(!p.contains("Window"),
      "sort-root rewrite regressed to a full window")
    assert(p.contains("boundedtopk") || p.contains("BoundedTopK"),
      s"expected the bounded-top-k aggregate in:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "bounded top-k should plan as a typed aggregate")
  }

  // Index routing is cost-gated like the reference's and-iterator
  // producer choice (check-cost vs next-cost): a store under
  // Conf.smallStoreBytes answers `~=` fastest by scanning (one
  // cached columnar stage), a big one routes through the inverted
  // index — and the routed probe has two shapes
  // (ReadPlanner.applyCandidates, graphd-iterator-fixed.c collapse):
  // a small posting list inlines as an id IN-set pushed into the scan
  // (single stage + row-group pruning, the 100 TB point-read shape);
  // a large one broadcast-semi-joins. Tests pin each shape on the
  // adapter store under a Conf that forces the gate and the collapse;
  // g07/g10 are the gate queries' GQL texts.
  private def routed(fixedMax: Int) = graft.store.GraphAdapter.store(spark, dir)
    .copy(conf = Conf(smallStoreBytes = 0, fixedMax = fixedMax))
  private lazy val inlined = routed(Conf().fixedMax)
  private lazy val joined = routed(fixedMax = 0)
  private val g07 = """read (type="part" value~="gear" result=((guid value)))"""
  private val g10 = """read (type="part" value~="gea*" result=((guid value)))"""
  private def physical(st: graft.store.GraphStore, q: String): String =
    graft.plan.ReadPlanner.plan(st, q).queryExecution.explainString(SimpleMode)

  test("~= on a small store scans — the cost gate skips the index (g07)") {
    val p = physical("g07_gql_match")
    assert(!p.contains("LeftSemi"),
      s"sub-threshold store should scan+filter, not index-join:\n$p")
  }

  test("~= word match collapses index candidates into the scan (g07)") {
    val p = physical(inlined, g07)
    assert(p.contains("id#") && (p.contains(" IN ") || p.contains("INSET")),
      s"expected an inlined candidate id IN-set in:\n$p")
    assert(!p.contains("LeftSemi"),
      "small posting list should collapse, not join")
  }

  test("~= word match falls back to the index semi-join past the cap (g07)") {
    val p = physical(joined, g07)
    assert(p.contains("LeftSemi"),
      s"expected an index-candidate semi-join in:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      "index probe should scan the cached word index")
  }

  test("prefix glob routes through the prefix index (g10)") {
    val p = physical(inlined, g10)
    assert(p.contains("id#") && (p.contains(" IN ") || p.contains("INSET")),
      s"expected an inlined candidate id IN-set in:\n$p")
    val pj = physical(joined, g10)
    assert(pj.contains("LeftSemi"),
      s"expected a prefix-index semi-join in:\n$pj")
    assert(pj.contains("StartsWith") || pj.contains("prefix#") ||
      pj.contains("prefix ="), s"prefix probe missing in:\n$pj")
  }

  test("decontamination joins broadcast the benchmark side (d06)") {
    val p = physical("d06_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingle set should broadcast:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "per-document hit count should hash-aggregate")
  }

  test("two-sided vrange routes through the binned value index") {
    // PDB_HASH_BIN analog (pdb-bins.c): a bounded range under the
    // number comparator prunes candidates to the contiguous bin range
    // before the exact sort-key compare; results must be identical to
    // the unrouted scan
    val st = graft.store.GraphAdapter.store(spark, dir)
    val q = """read (type="placed_by" comparator="number"
              |  value>="100000" value<="200000"
              |  result=((guid value)))""".stripMargin
    val unrouted = graft.plan.ReadPlanner.plan(st, q).collect()
      .map(_.toString).sorted.toSeq
    val df = graft.plan.ReadPlanner.plan(inlined, q)
    val p = df.queryExecution.explainString(SimpleMode)
    assert(p.contains(" IN ") || p.contains("INSET") ||
      p.contains("LeftSemi"),
      s"expected bin-index candidate pruning in:\n$p")
    assert(df.collect().map(_.toString).sorted.toSeq == unrouted,
      "bin-routed result diverged from the scan result")
  }

  test("sequence packing never plans a global window (p03)") {
    // the two-pass prefix sum replaces the single-partition
    // ORDER-BY-everything window the oracle SQL uses; the returned
    // plan must be a per-partition map over a BY-NUM range exchange
    // whose width derives from data size (at this test SF that width
    // is legitimately 1; the scale property is that it is a
    // sizedPartitions count, never a hardwired SinglePartition window)
    val p = physical("p03_pack_sequences")
    assert(!p.contains("Window"),
      s"packing regressed to a window formulation:\n$p")
    assert(p.contains("MapPartitions"),
      s"expected the per-partition prefix-sum pass:\n$p")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    if (graft.graph.Analytics.sizedPartitions(docs) > 1)
      assert(!p.contains("Exchange SinglePartition"),
        s"packing funnels through one partition:\n$p")
  }

  test("vocabulary top-K plans a heap, not a full sort (p07)") {
    val p = physical("p07_vocabulary")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab global order should collapse to a top-K heap:\n$p")
  }

  test("PII redaction is a map-only scan — zero exchanges (p05)") {
    val p = physical("p05_redact_pii")
    assert(!p.contains("Exchange"), s"redaction should not shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("mixture resample broadcasts the rate table and keeps the filter map-side (p10)") {
    val p = physical("p10_mixture_resample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the domain-rate table must broadcast, never shuffle the corpus:\n$p")
    // the only aggregation shuffle allowed is over the DOMAIN table;
    // the corpus side must not window
    assert(!p.contains("SortMergeJoin"),
      s"corpus side got shuffled for the rate join:\n$p")
  }

  test("quality-retention dedup is one aggregation, no per-group window (d07)") {
    val p = physical("d07_dedup_best_quality")
    assert(!p.contains("Window"),
      s"argmax must be max_by partial aggregation, not a window:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"), s"expected one aggregation:\n$p")
  }

  test("datetime sort projects its key once and keeps TakeOrdered (q22)") {
    val p = physical("q22_datetime_sort")
    assert(p.contains("TakeOrderedAndProject"))
    // the sort key must be an attribute of the child projection, not
    // an expression re-evaluated per heap comparison
    assert("""TakeOrderedAndProject.*graphdsortkey""".r.findFirstIn(p).isEmpty,
      "sort_key leaked into the TakeOrdered ordering")
  }
}
