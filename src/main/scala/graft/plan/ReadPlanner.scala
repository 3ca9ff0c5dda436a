package graft.plan

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraphdFunctions.{gmatch, sort_key}
import graft.gql._
import graft.model.Guid
import graft.serve.PointServer
import graft.store.{GraphStore, TypeVocab}

/** Constraint tree → DataFrame plan (SURVEY.md §3.1 Spark mapping).
  *
  * The reference evaluates a constraint tree as an optimized
  * nested-loop join over index iterators
  * (doc/a-brief-tour-of-graphd.md:179-189, graphd/graphd-read-set.c:21).
  * Here every constraint becomes a filtered scan of the primitives
  * table and every parent-child linkage becomes an equi-join on a Long
  * column, aggregated per parent for `contents`/`count` — Catalyst
  * picks the physical join (broadcast/shuffle-hash/sort-merge) and AQE
  * re-plans at runtime, replacing the reference's hand-rolled
  * cost-model ("and"-iterator statistics, graphd-iterator-and-statistics.c).
  *
  * Iterator-zoo mapping:
  *  - and-iterator          → conjunct Column predicates (one scan)
  *  - isa / linksto         → the two join directions below
  *  - or-iterator           → union of branch plans (value lists here)
  *  - without               → count=0 anti-join
  *  - fixed / idset         → `isin` literal sets
  *  - vrange                → range predicate on `sort_key(value, cmp)`
  *  - prefix/word `~=`      → GraphdMatch predicate (inverted-index
  *                            candidate pruning is a later optimization)
  */
object ReadPlanner {

  /** Plan a read and shape the root result. `asof=` on the root caps
    * the visible id range before anything else (time travel,
    * doc/gr-protocol.txt:203-221).
    */
  /** the root cursor token minted by the most recent plan() on this
    * thread — read by renderers for pages with no rows to carry the
    * "cursor" column (a pagesize=0 read still answers a positioned
    * cursor, brendan4.sh)
    */
  private val lastRootCursorTok0 =
    new ThreadLocal[Option[String]] { override def initialValue = None }
  def lastRootCursorTok: Option[String] = lastRootCursorTok0.get()

  def plan(store: GraphStore, root: Constraint): DataFrame = {
    lastRootCursorTok0.set(None)
    // write-only keywords are rejected in reads, like the reference's
    // semantic phase (anchor.sh: `read (key=())` answers SYNTAX)
    def rejectWriteOnly(c: Constraint): Unit = {
      if (c.keyFields.isDefined)
        throw Parser.ParseError("SYNTAX: \"key=\" only works with \"write\"", 0)
      if (c.uniqueFields.isDefined)
        throw Parser.ParseError("SYNTAX: \"unique=\" only works with \"write\"", 0)
      if (c.anchorFlag)
        throw Parser.ParseError(
          "SYNTAX: \"anchor\" flag cannot be used in a \"read\" command", 0)
      // contents needs subconstraints to splice (nick1)
      def hasContents(p: Pattern): Boolean = p match {
        case ContentsPat => true
        case ListPat(items) => items.exists(hasContents)
        case PickPat(items) => items.exists(hasContents)
        case _ => false
      }
      if (c.subs.isEmpty && c.orBranches.isEmpty && c.result.exists(hasContents))
        throw Parser.ParseError("can't use \"contents\" return instruction " +
          "in template without contained templates", 0)
      c.subs.foreach(rejectWriteOnly)
      c.orBranches.foreach(rejectWriteOnly)
    }
    rejectWriteOnly(root)
    val rootN = normalizeVars(root)
    fromSnapshot(store, rootN).getOrElse(planCatalyst(store, rootN))
  }

  /** The point-read route. On a store that carries the driver-resident
    * mirror, a read [[PointServer]] can serve is answered from the
    * store's snapshot ([[graft.store.Source.View.pointIndex]]) as a
    * local DataFrame, so `collect()` runs no Spark job — the reference
    * likewise answers simple reads in-process from memory-resident
    * indexes (doc/a-brief-tour-of-graphd.md:197-204). Persisted and `fromDf`
    * stores, `asof`, cursors, contents, variables, a result whose
    * Catalyst type has no name here, and session replay's id-ordered
    * reads (`Cursor.refIterCursor` set) take the Catalyst plan.
    * ServeSpec gates both as answering alike.
    */
  private def fromSnapshot(store: GraphStore, c: Constraint): Option[DataFrame] =
    if (Cursor.refIterCursor.isDefined) None
    else for {
      proj <- PointServer.vet(c)
      ix <- store.view.pointIndex
      schema <- snapshotSchema(proj)
      served <- PointServer.answer(ix, c, proj, PointServer.wordProbeKeys(c))
    } yield {
      val rows = new java.util.ArrayList[Row](served.rows.length)
      served.rows.foreach(r => rows.add(Row.fromSeq(r.toSeq)))
      store.spark.createDataFrame(rows, schema)
    }

  /** the Catalyst plan's schema for a servable projection: names as
    * [[ResultColumns]] gives them, types and nullability as
    * [[fieldExpr]] types them over the primitive columns
    */
  private def snapshotSchema(proj: PointServer.Projection): Option[StructType] =
    if (proj.flat == Seq(CountPat))
      Some(StructType(Seq(StructField("count", LongType, nullable = false))))
    else {
      val types = proj.flat.map(snapshotType)
      Option.when(proj.flat.nonEmpty && types.forall(_.isDefined)) {
        StructType(proj.cols.zip(types.flatten).map { case (n, (t, nullable)) =>
          StructField(n, t, nullable)
        })
      }
    }

  /** (type, nullable) of a result leaf the route can name; None keeps
    * the read on the Catalyst plan
    */
  private def snapshotType(p: Pattern): Option[(DataType, Boolean)] = p match {
    case FieldPat("guid" | "timestamp") => Some((LongType, false))
    case FieldPat("typeguid" | "left" | "right" | "scope") => Some((LongType, true))
    case FieldPat("name" | "value" | "type") => Some((StringType, true))
    case FieldPat("datatype" | "valuetype") => Some((ByteType, false))
    case FieldPat("live") => Some((BooleanType, false))
    case FieldPat("meta") | LiteralPat(_, _) => Some((StringType, false))
    case NonePat | CountPat => Some((NullType, true))
    case PickPat(items) =>
      // coalesce: one common type, nullable only if every item is
      val ts = items.map(snapshotType)
      if (ts.exists(_.isEmpty)) None
      else ts.flatten.map(_._1).filter(_ != NullType).distinct match {
        case Seq() => Some((NullType, true))
        case Seq(t) => Some((t, ts.flatten.forall(_._2)))
        case _ => None
      }
    case _ => None
  }

  private def planCatalyst(store: GraphStore, rootN: Constraint): DataFrame = {
    var st = rootN.asof.map(store.asOf).getOrElse(store)
    rootN.asofTs.foreach(ts => st = st.asOfTimestamp(ts))
    // cursor="tok" resumes a prior id-ordered page: pin the snapshot
    // horizon and skip everything at or before the last-seen id
    var pinned: Option[Long] = None
    val after: Option[Cursor.Token] = rootN.cursorTok.map { t =>
      val tok = Cursor.decode(t)
      if (tok.horizon != Long.MaxValue) { st = st.asOf(tok.horizon); pinned = Some(tok.horizon) }
      tok
    }
    var solved = solve(st, rootN, 0)
    var shapeRoot_c = rootN
    after.foreach { tok =>
      if (tok.skip > 0)
        // positional iterator cursor (gmap): skip consumed candidates
        // in id order — applied as a start offset after ordering
        shapeRoot_c = rootN.copy(cursorTok = None, start = Some(tok.skip))
      else solved = solved.filter(
        if (tok.keys.nonEmpty) keysetAfter(st, rootN, tok)
        else col("id") > tok.lastId)
    }
    // a fresh cursor pins the store's current dateline so later pages
    // are stable under concurrent appends (frozen-cursor semantics,
    // graphd/graphd-read-set-cursor.c; Cursor.page does the same)
    def horizonForNewCursor: Long =
      pinned.getOrElse(graft.streaming.Replica.dateline(st.primitives))
    shapeRoot(st, solved, shapeRoot_c, horizonForNewCursor _,
      resumeOffset = after.filter(_.skip > 0).map(_.offset).getOrElse(0L),
      resumeTok = after.filter(_.skip > 0).flatMap(_ => rootN.cursorTok))
  }

  def plan(store: GraphStore, query: String): DataFrame =
    plan(store, Parser.parseRead(query))

  /** Plan and EXECUTE under the request's `timeout=` / `cost=` budgets
    * (doc/gr-protocol.txt:182-260): returns the rows plus the measured
    * cost report ("tr=.. tu=.. ts=.. dr=.."). A request past its
    * budget has its Spark jobs cancelled and raises
    * CostGuard.CostLimitExceeded — the request dies, the session
    * survives (the reference's timeout contract).
    */
  def collectWithCost(store: GraphStore,
      query: String): (Array[org.apache.spark.sql.Row], String) = {
    val root = Parser.parseRead(query)
    val limit = root.costLimit.flatMap(s =>
      graft.plan.CostGuard.parseCostLimit(s).toOption)
    val budget: Option[Long] = (root.timeoutMillis.toSeq ++
      limit.flatMap(graft.plan.CostGuard.budgetMillis)).minOption
    val cpuBudget = limit.flatMap(graft.plan.CostGuard.cpuBudgetMillis)
    CostGuard.run(store.spark, budget, cpuBudget)(
      plan(store, root).collect())
  }

  /** `iterate` self-test (graphd/graphd-iterate.c:16-19 — "a variant
    * of graphd-read that doesn't actually read anything, but instead
    * runs a set of trials on the cursor generated for a constraint"):
    * verifies the iterator contract over the constraint's candidate
    * set —
    *  - production order is strictly increasing by id (the istore
    *    order every index iterator must respect);
    *  - find(x) trials: re-planning with the keyset predicate
    *    `id >= x` lands exactly on x for members and on x's successor
    *    for gaps (pdb_iterator_find_nonstep semantics);
    *  - resume trials: a frozen position at a sampled boundary
    *    reproduces exactly the remaining suffix (freeze/thaw
    *    round-trip).
    * Returns one row per trial (trial, detail, pass); any pass=false
    * row is an engine bug. `samples` bounds the re-planned find/resume
    * probes; the candidate collect is capped at `maxIds`.
    */
  def iterate(store: GraphStore, query: String, samples: Int = 8,
      maxIds: Int = 100000): DataFrame = {
    import store.spark.implicits._
    val root = Parser.parseRead(query).copy(
      result = Some(ListPat(Seq(ListPat(Seq(FieldPat("guid")))))),
      pagesize = None, start = None, sort = Nil, cursorTok = None)
    def idsOf(c: Constraint): Seq[Long] =
      plan(store, c).select(col("guid").cast("long"))
        .orderBy(col("guid")).limit(maxIds).collect().map(_.getLong(0)).toSeq
    val ids = idsOf(root)
    // idsOf caps its collect at maxIds; past the cap the suffix trials
    // compare PREFIXES (the resumed stream legitimately extends beyond
    // the truncated candidate list)
    val truncated = ids.length >= maxIds
    // the query under test may carry its own dateline horizon — trial
    // predicates intersect with it (max), never replace it
    def withKeyset(x: Long): Constraint =
      root.copy(datelineMin =
        Some(math.max(root.datelineMin.getOrElse(Long.MinValue), x)))
    val trials = scala.collection.mutable.ArrayBuffer.empty[(String, String, Boolean)]
    // duplicate-freedom of the candidate id set (physical production
    // order belongs to Catalyst; the keyset contract below is what
    // cursor paging actually relies on)
    trials += (("production-set", s"n=${ids.length}",
      ids.lazyZip(ids.drop(1)).forall(_ < _)))
    if (ids.nonEmpty) {
      val step = math.max(1, ids.length / math.max(1, samples))
      val probes = ids.indices.by(step).take(samples)
      probes.foreach { i =>
        val x = ids(i)
        // find(x): the engine-side keyset `id > x-1` (the dateline
        // predicate — exactly what a thawed cursor applies) must land
        // on x first, member or gap alike
        val found = idsOf(withKeyset(x - 1))
        trials += (("find", s"id=$x", found.headOption.contains(x)))
        // resume after x: the keyset `id > x` must reproduce exactly
        // the remaining suffix (prefix-compare when the candidate
        // list itself was truncated at maxIds)
        val resumed = idsOf(withKeyset(x))
        val expect = ids.drop(i + 1)
        val ok =
          if (truncated) resumed.take(expect.length) == expect
          else resumed == expect
        trials += (("resume-suffix", s"after=$x", ok))
      }
    }
    trials.toSeq.toDF("trial", "detail", "pass")
  }

  /** Variable semantic phase (the reference's graphd-semantic.c
    * variable checks, exercised by sort7/sort20/varerrs/vars2/cvt):
    * validates in the reference's error order — used-but-unset,
    * circular, assigned-twice, assigned-but-unused — then inlines
    * same-level assignment chains ($foo=$bar $bar=value) into the
    * patterns that reference them and drops the fully-inlined
    * assignments. Idempotent, so the session harness can normalize for
    * rendering and plan() may normalize again.
    */
  private[graft] def normalizeVars(root: Constraint): Constraint = {
    def varsInPat(p: Pattern): Seq[String] = p match {
      case VarPat(v) => Seq(v)
      case ListPat(items) => items.flatMap(varsInPat)
      case PickPat(items) => items.flatMap(varsInPat)
      case _ => Nil
    }
    def kids(c: Constraint): Seq[Constraint] = c.subs ++ c.orBranches
    def usesAt(c: Constraint): Seq[String] =
      c.result.toSeq.flatMap(varsInPat) ++
        c.sort.flatMap(k => varsInPat(k.pat)) ++
        c.assignments.flatMap(a => varsInPat(a.pat))
    def assignedIn(c: Constraint): Seq[String] =
      c.assignments.map(_.variable) ++ kids(c).flatMap(assignedIn)
    def err(msg: String): Nothing = throw Parser.ParseError(msg, 0)
    def checkUnset(c: Constraint): Unit = {
      val avail = assignedIn(c).toSet
      usesAt(c).find(!avail(_)).foreach(v => err(
        s"SYNTAX: variable $$$v is returned, but not set in the " +
          "constraint or any subconstraint"))
      kids(c).foreach(checkUnset)
    }
    checkUnset(root)
    def checkCycles(c: Constraint): Unit = {
      val rhs: Map[String, Seq[String]] =
        c.assignments.groupBy(_.variable).view
          .mapValues(_.flatMap(a => varsInPat(a.pat))).toMap
      c.assignments.map(_.variable).foreach { v0 =>
        var seen = Set.empty[String]
        def reach(v: String): Boolean =
          rhs.getOrElse(v, Nil).exists(n =>
            n == v0 || (!seen(n) && { seen += n; reach(n) }))
        if (reach(v0))
          err(s"SYNTAX: circular assignment of $$$v0 to itself")
      }
      kids(c).foreach(checkCycles)
    }
    checkCycles(root)
    def checkDouble(c: Constraint): Unit = {
      val dup = c.assignments.map(_.variable)
        .diff(c.assignments.map(_.variable).distinct)
      dup.headOption.foreach(v =>
        err(s"SYNTAX: variable $$$v is assigned to twice"))
      kids(c).foreach(checkDouble)
    }
    checkDouble(root)
    def checkUnused(c: Constraint, above: Set[String]): Unit = {
      val here = above ++ usesAt(c)
      c.assignments.map(_.variable).find(!here(_)).foreach(v => err(
        s"SYNTAX: variable $$$v is assigned, but not returned in this " +
          "or any containing constraint"))
      kids(c).foreach(checkUnused(_, here))
    }
    checkUnused(root, Set.empty)
    // inline same-level chains; keep assignments still referenced
    // anywhere (cross-level uses resolve through __var_ columns)
    def substitute(c: Constraint): Constraint = {
      // an or-carrier's own assignments are branch-0-scoped: they bind
      // only when branch 0 matches (or4 first-match-wins), so they
      // must stay runtime columns, never inline
      val m =
        if (c.orBranches.nonEmpty) Map.empty[String, Pattern]
        else c.assignments.map(a => a.variable -> a.pat).toMap
      def subst(p: Pattern): Pattern = p match {
        case VarPat(v) if m.contains(v) => subst(m(v))
        case ListPat(items) => ListPat(items.map(subst))
        case PickPat(items) => PickPat(items.map(subst))
        case other => other
      }
      c.copy(
        result = c.result.map(subst),
        sort = c.sort.map(k => k.copy(pat = subst(k.pat))),
        // RHS chains dissolve too ($foo=$bar $bar=value ⇒ $foo=value),
        // so a fully-inlined variable leaves no dangling reference
        // (cycles were rejected above, so substitution terminates)
        assignments = c.assignments.map(a => a.copy(pat = subst(a.pat))),
        subs = c.subs.map(substitute),
        orBranches = c.orBranches.map(substitute))
    }
    var out = substitute(root)
    def referenced(c: Constraint): Seq[String] = usesAt(c) ++
      kids(c).flatMap(referenced)
    val live = referenced(out).toSet
    def prune(c: Constraint): Constraint = c.copy(
      assignments = c.assignments.filter(a => live(a.variable)),
      subs = c.subs.map(prune),
      orBranches = c.orBranches.map(prune))
    out = prune(out)
    // sort keys that survive substitution must be sortable
    def checkSort(c: Constraint): Unit = {
      c.sort.foreach { k =>
        k.pat match {
          case _: ListPat => err("SYNTAX: cannot sort by nested lists.")
          case CountPat => err("cannot sort by count")
          case CursorPat => err("cannot sort by cursor")
          case EstimateCountPat => err("cannot sort by estimate-count")
          case EstimatePat => err("cannot sort by estimate")
          case IteratorPat => err("cannot sort by iterator")
          case LiteralPat(s, _) => err(s"""cannot sort by \"$s\"""")
          case _ => ()
        }
      }
      kids(c).foreach(checkSort)
    }
    checkSort(out)
    // result lists nest at most two levels deep, one nested list per
    // list (sort7 / vars2)
    def renderPat(p: Pattern): String = p match {
      case FieldPat(f) => f
      case VarPat(v) => "$" + v
      case LiteralPat(s, true) => s"literal=$s"
      case LiteralPat(s, false) => "\"" + s + "\""
      case ContentsPat => "contents"
      case CountPat => "count"
      case CursorPat => "cursor"
      case EstimateCountPat => "estimate-count"
      case IteratorPat => "iterator"
      case EstimatePat => "estimate"
      case NonePat => "none"
      case ListPat(items) => items.map(renderPat).mkString("(", " ", ")")
      case PickPat(items) => items.map(renderPat).mkString("pick(", " ", ")")
    }
    def checkDepth(p: Pattern, d: Int): Unit = p match {
      case ListPat(items) =>
        if (d >= 2)
          err(s"result expression \"${renderPat(p)}\" nests lists " +
            "more than two levels deep")
        if (items.count(_.isInstanceOf[ListPat]) > 1)
          err("SYNTAX: can only have one nested list per result list - " +
            "(x (y)) and ((x y)) work, ((x) (y)) doesn't.")
        items.foreach(checkDepth(_, d + 1))
      case PickPat(items) => items.foreach(checkDepth(_, d))
      case _ => ()
    }
    def checkResults(c: Constraint): Unit = {
      c.result.foreach(checkDepth(_, 0))
      kids(c).foreach(checkResults)
    }
    checkResults(out)
    out
  }

  // ------------------------------------------------------------------
  // per-constraint evaluation
  // ------------------------------------------------------------------

  /** DataFrame of primitives satisfying constraint `c` (its own
    * intrinsics AND its subconstraints), with variable columns
    * (`__var_*`) and a per-child contents column (`__contents_i`).
    */
  private def solve(store: GraphStore, c: Constraint, depth: Int): DataFrame = {
    // `||` alternatives (the reference's or-iterator,
    // graphd/graphd-iterator-or.c): a candidate is in the set if ANY
    // branch accepts it, and its bindings (variables, contents) come
    // from the FIRST branch that does — branch order is observable
    // (test/unit/or4.sh: `... || {}` binds $a where the real branch
    // matches, `{} || ...` never binds it). Planned as: union of
    // branch id-sets, one left join per branch carrying its payload
    // as a struct, then a per-column CASE on the first matching index.
    if (c.orBranches.nonEmpty) {
      val planned = (c.copy(orBranches = Nil) +: c.orBranches)
        .map(b => solve(store, b.copy(orBranches = Nil), depth))
      // contents/count columns merge across branches only when the set
      // actually consumes them — branches with structurally different
      // children carry incompatible contents structs (or2), and the
      // first-match CASE can't type a column nobody reads anyway
      val keepAux = usesContents(c)
      val extras: Seq[Seq[String]] = planned.map(_.columns.filter(n =>
        n != "id" && (keepAux ||
          !(n.startsWith("__contents_") || n.startsWith("__count_")))).toSeq)
      val wrapped = planned.zipWithIndex.map { case (p, i) =>
        val payload =
          if (extras(i).isEmpty) struct(lit(true).as("__t"))
          else struct(extras(i).map(col): _*)
        p.select(col("id"), payload.as(s"__b_$i"))
      }
      val ids = planned.map(_.select("id")).reduce(_ union _).distinct()
      var joined = ids
      wrapped.foreach(w => joined = joined.join(w, Seq("id"), "left_outer"))
      val first = coalesce(planned.indices.map(i =>
        when(col(s"__b_$i").isNotNull, lit(i))): _*)
      joined = joined.withColumn("__first", first)
      // stable output column order: branch-0's columns, then extras
      // introduced only by later branches
      val outNames = extras.foldLeft(Seq.empty[String])(
        (acc, e) => acc ++ e.filterNot(acc.contains))
      val outCols = outNames.map { nm =>
        planned.indices.reverse.foldLeft(lit(null): Column) { (els, i) =>
          val v = if (extras(i).contains(nm)) col(s"__b_$i").getField(nm)
            else lit(null)
          when(col("__first") === i, v).otherwise(els)
        }.as(nm)
      }
      return joined.select(col("id") +: outCols: _*)
    }
    var df = base(store, c)

    // subconstraints: join + per-parent aggregation
    c.subs.zipWithIndex.foreach { case (sub, i) =>
      df = attachChild(store, df, sub, c, i, depth)
    }

    // variables assigned at THIS level (from own fields); LIST-pattern
    // assignments ($x=((value)) — sort5/7/8) aggregate over this
    // constraint's matched rows at the parent join, like contents
    // $foo=$bar chains resolve after their dependencies (sort7)
    val (dep, plain) = c.assignments.partition(_.pat.isInstanceOf[VarPat])
    (plain ++ dep).foreach { a =>
      a.pat match {
        case _: ListPat => () // collected in attachChild
        case CountPat => () // per-parent cardinality, set in attachChild
        case VarPat(o) if !df.columns.contains(varCol(o)) =>
          df = df.withColumn(varCol(a.variable), lit(null))
        case p => df = df.withColumn(varCol(a.variable), fieldExpr(store, p, c))
      }
    }
    df
  }

  /** version-chain view columns over a generation-windowed frame:
    * `__next` = successor id within the lineage, `__generation` = age
    * from the OLDEST version (the result-field convention, version3).
    * Attached before any generation filtering so successors survive.
    */
  private def withChain(g: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lineage")).orderBy(col("id").asc)
    g.withColumn("__next", lead(col("id"), 1).over(w))
      .withColumn("__generation", col("age_oldest"))
  }

  /** intrinsic predicates only — the reference's per-candidate check
    * (graphd/graphd-match.c) expressed as one conjunctive filter.
    */
  private def base(store: GraphStore, c0: Constraint): DataFrame = {
    // a non-null NEXT constraint implies the row has a successor, so
    // it cannot be the lineage newest: newest>0 becomes the implicit
    // generation window when the user left the default (guid2)
    val c =
      if (c0.next.exists(_.serials.flatten.nonEmpty) &&
          c0.newestMin == Some(0L) && c0.newestMax == Some(0L))
        c0.copy(newestMin = Some(1L), newestMax = None)
      else c0
    // generation / liveness view
    var df =
      if (!store.versioned) {
        // single-version store (known at ingest): generation is always
        // 0, so any generation constraint either keeps all or nothing —
        // skips the per-lineage window entirely.
        val genOk = c.oldestEq.forall(_ == 0L) &&
          c.newestMin.forall(_ <= 0L) && c.newestMax.forall(_ >= 0L)
        if (genOk) store.all else store.all.filter(lit(false))
      } else if (c.oldestEq.isDefined || c.newestMin != Some(0L) || c.newestMax != Some(0L)) {
        val g = withChain(GraphStore.withGeneration(store.all))
        val byOldest = c.oldestEq.map(n => g.filter(col("age_oldest") === n))
        val byNewest = byOldest.getOrElse {
          var x = g
          c.newestMin.foreach(n => x = x.filter(col("generation") >= n))
          c.newestMax.foreach(n => x = x.filter(col("generation") <= n))
          x
        }
        byNewest.drop("generation", "age_oldest")
      } else withChain(GraphStore.withGeneration(store.all))
        .filter(col("generation") === 0).drop("generation", "age_oldest")

    // previous= / next= version-chain predicates (guid2).
    // previous filters on the row's own prev pointer; next matches
    // rows whose SUCCESSOR is one of the targets — i.e. this id
    // appears as a target's prev.
    c.previous.foreach { p =>
      val targets =
        if (p.lineage) store.source.lineageMembers(p.serials.flatten)
        else p.serials.flatten
      val hasNull = p.serials.contains(None) || p.serials.isEmpty
      val incl = {
        val byId = if (targets.nonEmpty)
          Seq(col("prev").isin(targets.map(Long.box): _*)) else Nil
        val byNull = if (hasNull) Seq(col("prev").isNull) else Nil
        (byId ++ byNull).reduceOption(_ || _).getOrElse(lit(false))
      }
      df = df.filter(if (p.include) incl else !coalesce(incl, lit(false)))
    }
    c.next.foreach { p =>
      val targets =
        if (p.lineage) store.source.lineageMembers(p.serials.flatten)
        else p.serials.flatten
      val hasNull = p.serials.contains(None) || p.serials.isEmpty
      def allPrevs = store.primitives.filter(col("prev").isNotNull)
        .select(col("prev").as("__succ_prev"))
      if (targets.nonEmpty && !hasNull) {
        val succs = store.primitives
          .filter(col("id").isin(targets.map(Long.box): _*))
          .filter(col("prev").isNotNull)
          .select(col("prev").as("__succ_prev"))
        df = df.join(succs, col("id") === col("__succ_prev"),
          if (p.include) "left_semi" else "left_anti")
      } else if (targets.isEmpty && hasNull) {
        // next=null: no successor (this id is nobody's prev);
        // next!=null: HAS a successor — the mirror semi-join (was
        // silently unfiltered)
        df = df.join(allPrevs, col("id") === col("__succ_prev"),
          if (p.include) "left_anti" else "left_semi")
      } else if (targets.nonEmpty && hasNull) {
        // mixed next=(null G): successor-of-G OR no-successor — two
        // outer-join flags, non-null boolean predicate (the previous=
        // arm's alternative-union semantics)
        val gSucc = store.primitives
          .filter(col("id").isin(targets.map(Long.box): _*))
          .filter(col("prev").isNotNull)
          .select(col("prev").as("__nx_g")).distinct()
        val aSucc = allPrevs.select(col("__succ_prev").as("__nx_a")).distinct()
        val flagged = df
          .join(gSucc, col("id") === col("__nx_g"), "left_outer")
          .join(aSucc, col("id") === col("__nx_a"), "left_outer")
        val cond = col("__nx_g").isNotNull || col("__nx_a").isNull
        df = flagged.filter(if (p.include) cond else !cond)
          .drop("__nx_g", "__nx_a")
      }
    }
    df = c.live match {
      case MustBeTrue => df.filter(col("live"))
      case MustBeFalse => df.filter(!col("live"))
      case DontCare => df
    }
    df = c.archival match {
      case MustBeTrue => df.filter(col("archival"))
      case MustBeFalse => df.filter(!col("archival"))
      case DontCare => df
    }
    if (c.isFalse) df = df.filter(lit(false))

    df = c.meta match {
      case NodeOnly => df.filter(col("left").isNull && col("right").isNull)
      // bare `<-` / `->` are linkage sugar, compiled into parent/child
      // endpoint defaults and never a match-time filter
      // (graphd-semantic.c:668-728; con_meta is consumed nowhere else)
      case ForwardLink | BackwardLink => df
      case AnyMeta => df
    }

    // guid constraints (graphd/graphd-guid-constraint.c)
    c.guid.foreach { g =>
      val serials = g.serials.flatten
      if (g.lineage) {
        // guid~=G : any version in G's lineage — resolve G's lineage ids
        val lineages = store.all.filter(col("id").isin(serials.map(Long.box): _*))
          .select(col("lineage")).distinct()
        df = df.join(lineages, df("lineage") === lineages("lineage"),
          if (g.include) "left_semi" else "left_anti")
      } else {
        val pred = col("id").isin(serials.map(Long.box): _*)
        df = df.filter(if (g.include) pred else !pred)
      }
    }

    // linkage-field constraints (left= right= typeguid= scope=)
    // linkage guid sets (guidlist3 semantics): include predicates
    // intersect (null admitted only where listed); excludes drop the
    // listed targets (an explicit `!=null` requires presence); a field
    // constrained ONLY by excludes must be present at all
    c.linkFields.foreach { case (f, preds) =>
      // `left~=G`: any generation of G's lineage (typeguid = ~=)
      def expand(p: GuidPred): Seq[Long] =
        if (p.lineage) store.source.lineageMembers(p.serials.flatten)
        else p.serials.flatten
      val (incls, excls) = preds.partition(_.include)
      incls.foreach { p =>
        val in = expand(p)
        val base =
          if (in.nonEmpty) col(f).isin(in.map(Long.box): _*) else lit(false)
        df = df.filter(
          // an EMPTY include set matches the absent linkage, like
          // type=() (guidlist3 "typeguid = ~= null": typeguid~=())
          if (p.serials.contains(None) || p.serials.isEmpty)
            col(f).isNull || base
          else base)
      }
      excls.foreach { p =>
        val ex = expand(p)
        val pass =
          if (ex.nonEmpty) !col(f).isin(ex.map(Long.box): _*) else lit(true)
        df = df.filter(
          if (p.serials.contains(None)) col(f).isNotNull && pass
          else col(f).isNull || pass)
      }
      if (incls.isEmpty && excls.nonEmpty)
        df = df.filter(col(f).isNotNull)
    }

    // type="name" → resolve names to type-node ids at plan time, like
    // the reference's semantic phase (graphd/graphd-read.c:28-37);
    // an unresolvable name short-circuits to the empty set (con_false,
    // graphd/graphd.h:1235-1251 → PropagateEmptyRelation). Each
    // type=(...) pred applies independently (intersection), and null /
    // an empty list match the TYPELESS primitive (group.sh).
    c.typePreds.foreach { vals =>
      val ids = store.view.resolveTypeIds(vals.flatten)
      val hasNull = vals.contains(None) || vals.isEmpty
      val base =
        if (ids.nonEmpty) col("typeguid").isin(ids.map(Long.box): _*)
        else lit(false)
      df = df.filter(if (hasNull) col("typeguid").isNull || base else base)
    }

    c.datatype.foreach(dt => df = df.filter(col("datatype") === dt))

    df = strFilter(df, col("name"), c.name, c.comparator)
    // ~= on value: prune candidates via the inverted word index first
    // (semi-join on the rarest-available literal pattern word), then
    // apply the exact match predicate — SURVEY §4's word-candidate
    // rewrite (graphd/graphd-iterator-prefix.c:22).
    if (store.indexRouteWorthwhile) {
      // Apply an index-candidate id set to the primitive scan. Two
      // shapes, chosen by candidate cardinality exactly like the
      // reference's fixed-iterator collapse (graphd-iterator-fixed.c:
      // a small index posting list becomes an in-memory sorted id
      // array probed for free):
      //  - ≤ conf.fixedMax ids: inline them as an IN-set predicate —
      //    the query stays ONE stage and the id set pushes into the
      //    parquet scan (row-group min/max pruning). The collect is a
      //    limit over the CACHED index — bounded driver traffic even
      //    when the posting list is huge.
      //  - larger: broadcast semi-join against the candidate frame —
      //    one shuffle-free BroadcastHashJoin stage (no distinct —
      //    semi-join dedups by construction). A shuffle plan here
      //    writes hundreds of tiny spill files per point query and
      //    throttles sustained read throughput.
      def applyCandidates(base: DataFrame, cand0: DataFrame): DataFrame = {
        val cand = cand0.select(col("id").as("__cand_id"))
        val fixedMax = store.conf.fixedMax
        val small = Option.when(fixedMax > 0) {
          cand.limit(fixedMax + 1).collect()
        }.filter(_.length <= fixedMax)
        small match {
          case Some(ids) =>
            base.filter(col("id").isin(ids.map(r => Long.box(r.getLong(0))).toSeq: _*))
          case None =>
            // the broadcast must stay bounded: an UNSELECTIVE probe
            // (common word, wide vrange) can admit a large fraction of
            // the store, and broadcasting that id set OOMs the driver
            // at scale. Past routeMax candidates the plain scan + the
            // exact predicate below IS the cheaper plan — the same
            // check-cost-vs-next-cost call the reference's and-
            // iterator producer choice makes. The probe count is a
            // limit over the cached index: bounded work either way.
            val routeMax = 1L << 19
            val selective =
              cand.limit((routeMax + 1).toInt).count() <= routeMax
            if (selective)
              base.join(broadcast(cand),
                base("id") === cand("__cand_id"), "left_semi")
            else base
        }
      }
      // normalized equality candidates: a value that key-equals the
      // literal necessarily shares its first word (the key preserves
      // word structure under default/case folding), so an index
      // probe prunes the scan before the per-row key compare.
      // Unsound for the number/datetime comparators (".5" = "0.5").
      if (Seq("default", "case-insensitive")
          .contains(c.valueComparator.getOrElse(c.comparator))) {
        c.value.filter(_.op == OpEq).foreach { p =>
          // fractional literals equal values under NUMBER normalization
          // ("0.5" = ".50") whose indexed digit-run words share nothing
          // with the literal's — no sound index key exists (the same
          // hasFractionalDigit guard firstIndexWord applies)
          val firstWords = p.values.map(
            _.flatMap(v =>
              if (graft.functions.GraphdText.hasFractionalDigit(v)) None
              else graft.functions.GraphdText.words(v).headOption))
          if (firstWords.forall(_.isDefined)) {
            val cand = store.valueWordIndex
              .filter(col("word").isin(firstWords.flatten: _*))
              .select(col("id"))
            df = applyCandidates(df, cand)
          }
        }
      }
      c.value.filter(_.op == OpMatch).foreach { p =>
        // each alternative pattern needs a word (exact) or prefix
        // (`lit*`) index key, else pruning is unsound for this pred
        val keys: Seq[Option[Either[String, String]]] = p.values.flatten.map { pat =>
          graft.functions.GraphdText.firstIndexWord(pat).map(Left(_))
            .orElse(graft.functions.GraphdText.firstIndexPrefix(pat).map(Right(_)))
        }
        // a null alternative (value~=null) matches unindexed rows —
        // index pruning would be unsound for the whole predicate
        if (p.values.forall(_.isDefined) && keys.forall(_.isDefined)) {
          val exact = keys.flatten.collect { case Left(w) => w }
          val prefixes = keys.flatten.collect { case Right(pre) => pre }
          // exact pattern words probe the WORD index; `lit*` prefixes
          // probe the PREFIX index (PDB_HASH_PREFIX, libpdb/pdb-prefix.c:
          // keys are the first <=5 word characters, so a long query
          // prefix is an equality probe on its 5-char key and a short
          // one is the startsWith range the reference walks as a
          // bmap hash range) — never a startsWith scan over the full
          // word table
          val wordCand = Option.when(exact.nonEmpty)(
            store.valueWordIndex
              .filter(exact.map(w => col("word") === w).reduce(_ || _))
              .select(col("id")))
          val prefCand = Option.when(prefixes.nonEmpty)(
            store.valuePrefixIndex
              .filter(prefixes.map { pre =>
                if (pre.length >= 5) col("prefix") === pre.substring(0, 5)
                else col("prefix").startsWith(pre)
              }.reduce(_ || _))
              .select(col("id")))
          val cand = (wordCand.toSeq ++ prefCand.toSeq)
            .reduce(_ unionByName _)
          df = applyCandidates(df, cand)
        }
      }
      // vrange candidates (PDB_HASH_BIN analog — libpdb/pdb-bins.c,
      // graphd-iterator-vrange.c:28-37): a BOUNDED value range probes
      // the binned value index; bins are the 2-byte sort-key prefix,
      // so [lo,hi] maps to the contiguous bin range
      // [bin(lo),bin(hi)] and the exact key predicate below re-checks
      // boundary bins. Two-sided ranges only — that is the selective
      // case the reference's vrange accelerates; a half-open range
      // admits ~half the bins and the scan wins.
      locally {
        val cmp = c.valueComparator.getOrElse(c.comparator)
        val ranges = c.value.collect {
          case StrPred(op, vs)
              if Seq(OpLt, OpLe, OpGt, OpGe).contains(op) &&
                vs.flatten.nonEmpty => (op, vs.flatten.head)
        }
        val lo = ranges.collectFirst { case (OpGt | OpGe, v) => v }
        val hi = ranges.collectFirst { case (OpLt | OpLe, v) => v }
        if (lo.isDefined && hi.isDefined) {
          def bin(v: String) =
            graft.functions.GraphdText.sortKey(cmp, v).take(2)
          val cand = store.valueBinIndex(cmp)
            .filter(col("bin") >= bin(lo.get) && col("bin") <= bin(hi.get))
            .select(col("id"))
          df = applyCandidates(df, cand)
        }
      }
    }
    df = strFilter(df, col("value"), c.value,
      c.valueComparator.getOrElse(c.comparator))

    // dateline > horizon: only primitives written after — a pure id
    // predicate, so parquet min/max + id_part partition pruning both
    // engage on a persisted store (the mirror image of asOf).
    c.datelineMin.foreach(h => df = df.filter(col("id") > h))
    c.datelineMax.foreach(h => df = df.filter(col("id") <= h))

    c.timestampMin.foreach { case (m, incl) =>
      df = df.filter(if (incl) col("timestamp") >= m else col("timestamp") > m)
    }
    c.timestampMax.foreach { case (m, incl) =>
      df = df.filter(if (incl) col("timestamp") <= m else col("timestamp") < m)
    }
    df
  }

  private def strFilter(df0: DataFrame, column: Column, preds: Seq[StrPred],
      comparator: String): DataFrame = {
    var df = df0
    // equality is comparator-normalized (except raw octet): under the
    // default comparator "A  B" equals "A B" and "42.5000" equals
    // "42.5" — the reference's value-index normalization
    // (test/unit/spacematch, test/unit/compare goldens).
    def eqKey(c: Column): Column =
      if (comparator == "octet") c else sort_key(c, comparator)
    // default-comparator equality against a NUMBER literal reaches
    // candidates through the number HMAP: both sides must share the
    // canonical number key AND compare equal under fuzzycmp. That
    // excludes " 1" from value="1" (" 1" word-normalizes to "1", not
    // "1e0") while " 0" still matches value="0" (both normalize "0").
    // A non-number literal goes through the word index instead, where
    // fuzzy-equal candidates always surface ("x" finds "   x   ",
    // david_5 id=10; numberequal r1 vs r8; pdb_hmap_value_normalize)
    def eqTest(v: String): Column = {
      val base = eqKey(column) === eqKey(lit(v))
      val canon =
        if (comparator == "default") graft.functions.GraphdText.numberCanon(v)
        else null
      if (canon != null)
        base && lower(graft.functions.GraphdFunctions.value_norm(column)) ===
          lit(canon.toLowerCase)
      else base
    }
    preds.foreach { p =>
      val pred: Column = p.op match {
        case OpEq =>
          // `name=()` matches the NULL name (group.sh: ok ((null)))
          if (p.values.isEmpty) column.isNull
          else p.values.map {
            case Some(v) => eqTest(v)
            case None => column.isNull
          }.reduce(_ || _)
        case OpNe =>
          // `name!=()` keeps every named row (ne.sh: ok (("a") ("b")))
          if (p.values.isEmpty) column.isNotNull
          else p.values.map {
            case Some(v) => !(coalesce(eqTest(v), lit(false)))
            case None => column.isNotNull
          }.reduce(_ && _)
        case OpMatch =>
          // number and case comparators have no glob engine
          // (cmp_glob = NULL; graphd-comparator-number.c:68, -case.c:49)
          if (comparator == "number")
            throw Parser.ParseError(
              "cannot use ~= with comparator=\"number\"", 0)
          if (comparator == "case-insensitive")
            throw Parser.ParseError(
              "SYNTAX: cannot use ~= with comparator=\"case\"", 0)
          // `value~=null` (and an empty alternative list) matches the
          // NULL value (guidlist2: value~=() / ~=null / ~=(null))
          if (p.values.flatten.isEmpty) column.isNull
          else p.values.map {
            case Some(v) => gmatch(column, lit(v), comparator)
            case None => column.isNull
          }.reduce(_ || _)
        case rangeOp if p.values.flatten.isEmpty =>
          // a range against an empty value list matches nothing
          // (value.sh golden: value>=() answers EMPTY)
          lit(false)
        case rangeOp =>
          val v = p.values.flatten.headOption.getOrElse("")
          val key = sort_key(column, comparator)
          val vk = sort_key(lit(v), comparator)
          val cmp: Column = rangeOp match {
            case OpLt => key < vk
            case OpLe => key <= vk
            case OpGt => key > vk
            case OpGe => key >= vk
            case _ => lit(true)
          }
          // typed comparators scan only their own value space: a
          // non-number never satisfies a number-comparator range even
          // though its '~' key sorts above all numbers (the reference's
          // vrange walks number bins only — numberequal golden: "." is
          // not >= "0"). EXCEPT: the inclusive lower bound seeds the
          // scan from the boundary value's HMAP bucket, which admits
          // every value sharing its normalized key — including ones
          // that don't decode (" 0" normalizes to "0", so value>="0"
          // returns it while value<="0" does not; numberequal r5/r6)
          if (comparator == "number" || comparator == "datetime") {
            val typed = cmp && !key.startsWith("~")
            val canon =
              if (comparator == "number" && rangeOp == OpGe)
                Option(graft.functions.GraphdText.numberCanon(v))
              else None
            canon match {
              case Some(c0) => typed ||
                (key.startsWith("~") &&
                  graft.functions.GraphdFunctions.value_norm(column) === lit(c0))
              case None => typed
            }
          } else if (comparator == "default" &&
              (p.op == OpGt || p.op == OpGe) &&
              v.dropWhile(_.isWhitespace).headOption
                .exists(ch => ch < 0x80 && ch.isLetter)) {
            // the default vrange's upper walk ends on the NULL-value
            // pseudo-bin when the lower bound sits in the alpha bins:
            // `value>"sam"` returns the no-value rows too (david_5
            // id=8, david_6 value>"lark"); a digit/punct bound does
            // not (numberequal r3/r7)
            cmp || column.isNull
          } else cmp
      }
      df = df.filter(pred)
    }
    df
  }

  // ------------------------------------------------------------------
  // parent-child join + contents aggregation
  // ------------------------------------------------------------------

  private def varCol(name: String) = s"__var_$name"

  /** Join child constraint `sub` (index i) to `parent`, enforcing count
    * bounds and attaching `__contents_i`, `__count_i` and bubbled
    * variable columns. (graphd/graphd-read-set.c nested-loop → join.)
    */
  private def attachChild(store: GraphStore, parent: DataFrame, sub: Constraint,
      parentC: Constraint, i: Int, depth: Int): DataFrame = {
    val child0 = solve(store, sub, depth + 1)
    val bounds = sub.effectiveCount
    val childVars = child0.columns.filter(_.startsWith("__var_")).toSeq
    // list-pattern variables of this child: one array column per var,
    // built like contents but shaped by the assignment's own pattern
    val listVars: Seq[(String, ListPat)] = sub.assignments.collect {
      case Assignment(v, lp: ListPat) => (varCol(v), lp)
    }
    // $x=count in a child: the per-parent cardinality as a variable
    // (sort17/sort18/cvt ordinal variables); parents without matches
    // read 0, so the column coalesces after the outer join
    val countVars: Seq[String] = sub.assignments.collect {
      case Assignment(v, CountPat) => varCol(v)
    }

    // contents ordering: rank over ALL child sort keys with per-key
    // direction (sort=(value -name) honors the descending second key),
    // id tiebreak for determinism (graphd/graphd-sort.c multi-key
    // semantics). A window rank collapses the multi-key order into one
    // ascending Int, so sort_array over the collected structs needs no
    // per-key inversion; the window partitions on the same key the
    // following groupBy shuffles on, so no extra exchange at scale.
    val childOrdCols: Seq[Column] =
      sub.sort.map(sk =>
        if (sk.ascending) sortExpr(store, sk, sub).asc_nulls_last
        else sortExpr(store, sk, sub).desc_nulls_last) :+ col("id").asc

    def ranked(df: DataFrame, partKey: String): DataFrame =
      df.withColumn("__ord", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(partKey)).orderBy(childOrdCols: _*)))

    def contentsStructOf(df: DataFrame): Column = struct(
      col("__ord") +:
        resultFields(store, sub).map { case (n, e) =>
          // child-level cursor: per-parent minted token (see below)
          if (n == "cursor" && df.columns.contains("__childcur"))
            col("__childcur").as(n)
          else e.as(n)
        }: _*)

    val resultNames = resultFields(store, sub).map(_._1)
    // per-row leaves of a list-var pattern, positionally (the renderer
    // re-applies the pattern shape over these)
    def varLeafFields(lp: ListPat): Seq[(String, Column)] =
      ResultColumns.leaves(lp).zipWithIndex.map { case (p, idx) =>
        (s"f$idx", fieldExpr(store, p, sub))
      }
    def listVarAggs: Seq[Column] = listVars.map { case (cn, lp) =>
      val leaves = varLeafFields(lp)
      val st2 = struct(col("__ord") +: leaves.map { case (n, e) => e.as(n) }: _*)
      // the child's start=/pagesize bound its collected frames, same
      // as contents (sort10; start-unsorted: per-child page window)
      val limited = pageWindow(sub, st2)
      val sorted = sort_array(collect_list(limited), asc = true)
      transform(sorted, x =>
        struct(leaves.map { case (n, _) => x.getField(n).as(n) }: _*)).as(cn)
    }
    // a child with result=count contributes its per-parent cardinality
    // as the contents value (count1.sh shape), not a tuple list
    val childIsCount = sub.result.map(ResultColumns.leaves).contains(Seq(CountPat))
    def contentsAgg(ranked: DataFrame): Column =
      if (childIsCount) count(lit(1)).cast("long")
      else sortedContents(contentsStructOf(ranked), resultNames, sub)

    // a bare (...) child inside a LINK constraint defaults to the
    // link's free endpoint: `("A" (<- ("B")))` makes the link's right
    // point at A and its left at the B node (optional.sh structure)
    val linkageEff = sub.effectiveLinkage.orElse(freeEndpointOf(parentC))

    // EXISTENCE FAST PATH: when the parent consumes nothing from this
    // child (no contents in its result/assignments, no bubbled
    // variables) and the count bounds are pure existence/absence, the
    // whole window + contents aggregation is dead weight — plan a raw
    // semi/anti join on the linkage key instead (the reference's
    // linksto/without iterators produce exactly an id-set probe here,
    // SURVEY §2.3). At scale this removes a per-parent groupBy shuffle
    // and an unbounded collect_list from every EXISTS-shaped query.
    val childConsumed = childVars.nonEmpty || listVars.nonEmpty ||
      countVars.nonEmpty || usesContents(parentC)
    if (!childConsumed && linkageEff.isDefined) {
      val (keyExpr, parentKey) = linkageEff.get match {
        case ChildPointsToParent(f) => (col(f), parent("id"))
        case ParentPointsToChild(f) => (col("id"), parent(f))
      }
      val childKeys = child0.filter(keyExpr.isNotNull)
        .select(keyExpr.as(s"__pk_$i"))
      if (bounds.max.contains(0L))
        return parent.join(childKeys, parentKey === col(s"__pk_$i"), "left_anti")
      if (bounds.min == 1L && bounds.max.isEmpty)
        return parent.join(childKeys, parentKey === col(s"__pk_$i"), "left_semi")
      if (bounds.min == 0L && bounds.max.isEmpty)
        return parent // optional child, nothing consumed: a no-op
    }

    linkageEff match {
      case Some(ChildPointsToParent(f)) =>
        // child is a link whose `f` endpoint is the parent (fan-in —
        // the reference's linksto join, graphd-iterator-linksto.c).
        // A child-level resume cursor drops the consumed candidates
        // before ranking (cursor6: `(<- cursor="fixed:..." ...)`).
        val childTok = sub.cursorTok.map(graft.plan.Cursor.decode)
        val child0r = childTok
          .filter(t => t.lastId != Long.MinValue && t.lastId != Long.MaxValue)
          .map(t => child0.filter(col("id") > t.lastId))
          .getOrElse(child0)
        var child = ranked(child0r.filter(col(f).isNotNull), f)
        // child `result=(cursor ...)`: mint the per-parent positioned
        // token over the full ordered candidate set via the
        // harness-installed hook; engine runs carry null (the root
        // keyset cursor is the engine's own pagination surface)
        val wantsChildCursor =
          sub.result.exists(p => ResultColumns.leaves(p).contains(CursorPat))
        if (wantsChildCursor && graft.plan.Cursor.refChildCursor.isDefined) {
          val subRef = sub
          val mint = udf((ids: Seq[Long]) =>
            graft.plan.Cursor.refChildCursor.get.apply(subRef, ids))
          val full = collect_list(col("id")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(f)).orderBy(col("__ord"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.unboundedFollowing))
          child = child.withColumn("__childcur", mint(full))
        }
        val aggCols: Seq[Column] =
          Seq(count(lit(1)).as(s"__count_$i"),
            contentsAgg(child).as(s"__contents_$i")) ++
            // a scalar variable bubbled from a multi-row child takes
            // the FIRST child's value under the child's sort order
            // (sort8: sort=($x) with $x=value follows the child sort)
            childVars.map(v => min(struct(col("__ord"), col("id"), col(v)))
              .getField(v).as(v)) ++
            countVars.map(v => count(lit(1)).cast("long").as(v)) ++
            listVarAggs
        val agg = child
          .groupBy(col(f).as(s"__pk_$i"))
          .agg(aggCols.head, aggCols.tail: _*)
        var out = joinWithBounds(parent, agg, parent("id") === agg(s"__pk_$i"), bounds, i)
        countVars.foreach(v =>
          out = out.withColumn(v, coalesce(col(v), lit(0L))))
        out = coalesceListVars(out, listVars.map(_._1))
        out

      case Some(ParentPointsToChild(f)) =>
        // parent's `f` endpoint must be a child match (the reference's
        // isa join, graphd-iterator-isa.c) — at most one per parent,
        // so contents ordering is trivial.
        val child = child0.withColumn("__ord", lit(1))
        val aggCols: Seq[Column] =
          Seq(count(lit(1)).as(s"__count_$i"),
            contentsAgg(child).as(s"__contents_$i")) ++
            childVars.map(v => first(col(v)).as(v)) ++
            countVars.map(v => count(lit(1)).cast("long").as(v)) ++
            listVarAggs
        val agg = child
          .groupBy(col("id").as(s"__pk_$i"))
          .agg(aggCols.head, aggCols.tail: _*)
        var out = joinWithBounds(parent, agg, parent(f) === agg(s"__pk_$i"), bounds, i)
        countVars.foreach(v =>
          out = out.withColumn(v, coalesce(col(v), lit(0L))))
        out = coalesceListVars(out, listVars.map(_._1))
        out

      case None =>
        // a child with no way to relate to its parent is a semantic
        // error, as in the reference (nodenode.sh golden:
        // `read (node (node))` answers SEMANTICS, not a cross join)
        throw Parser.ParseError("unknown subconstraint linkage", 0)
    }
  }

  /** a reached parent row SATISFIED the child bounds, so a null
    * collected list means "matched zero" — the reference renders that
    * as the empty list (nullcontent), while a null from a non-matching
    * or-branch stays null (or4). Coalesce here, at the join.
    */
  private def coalesceListVars(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, cn) =>
      d.withColumn(cn, coalesce(col(cn),
        array().cast(d.schema(cn).dataType)))
    }

  /** collect children ordered by their precomputed multi-key rank
    * (leading `__ord` Int drives sort_array ascending), then strip the
    * ordering field (graphd contents ordering, graphd/graphd-sort.c).
    * A per-level pagesize filters on the rank BEFORE collection
    * (collect_list skips nulls), so at most `pagesize` structs per
    * parent ever enter the aggregation buffer — the reference's
    * incremental top-k sorter (graphd-sort.c:21, keeps 2×pagesize)
    * rather than a collect-everything-then-slice plan that would
    * buffer unbounded fan-in at scale.
    */
  /** the child's page window over its rank: frames with
    * start < __ord <= start + pagesize survive collection
    * (start-unsorted: `(<-left start=2 pagesize=1 ...)` keeps only the
    * third frame; collect_list skips the nulls)
    */
  private def pageWindow(sub: Constraint, frame: Column): Column = {
    val lo = sub.start.getOrElse(0L)
    val cond: Option[Column] = (sub.start, sub.pagesize) match {
      case (None, None) => None
      case (s, ps) =>
        val lower = s.map(v => col("__ord") > v.toInt)
        val upper = ps.map(v => col("__ord") <= (lo + v).toInt)
        Some((lower.toSeq ++ upper.toSeq).reduce(_ && _))
    }
    cond.map(when(_, frame)).getOrElse(frame)
  }

  private def sortedContents(contentsStruct: Column, resultNames: Seq[String],
      sub: Constraint): Column = {
    val limited = pageWindow(sub, contentsStruct)
    val sorted = sort_array(collect_list(limited), asc = true)
    transform(sorted, x =>
      struct(resultNames.map(n => x.getField(n).as(n)): _*))
  }

  private def joinWithBounds(parent: DataFrame, agg: DataFrame, cond: Column,
      bounds: CountBounds, i: Int): DataFrame = {
    val cnt = coalesce(col(s"__count_$i"), lit(0L))
    if (bounds.min == 0 && bounds.max.isEmpty) {
      // optional → left outer, no filter
      parent.join(agg, cond, "left_outer").drop(s"__pk_$i")
    } else if (bounds.max.contains(0L)) {
      // count=0 → anti-join (reference: without-iterator)
      parent.join(agg, cond, "left_anti")
    } else if (bounds.min == 1 && bounds.max.isEmpty) {
      // plain existence: inner join against aggregated child
      parent.join(agg, cond, "inner").drop(s"__pk_$i")
    } else {
      parent.join(agg, cond, "left_outer")
        .filter(boundsPred(cnt, bounds)).drop(s"__pk_$i")
    }
  }

  /** does this constraint's result/assignment surface reference its
    * children's contents? (drives the existence fast path above)
    */
  private def usesContents(c: Constraint): Boolean = {
    def rec(p: Pattern): Boolean = p match {
      case ContentsPat => true
      case ListPat(items) => items.exists(rec)
      case PickPat(items) => items.exists(rec)
      case _ => false
    }
    c.result.exists(rec) || c.assignments.exists(a => rec(a.pat))
  }

  /** if `c` is a link bound to ITS parent through left/right, the other
    * endpoint is where a linkage-less child attaches
    */
  private def freeEndpointOf(c: Constraint): Option[Linkage] =
    c.effectiveLinkage match {
      case Some(ChildPointsToParent("right")) => Some(ParentPointsToChild("left"))
      case Some(ChildPointsToParent("left")) => Some(ParentPointsToChild("right"))
      case _ => None
    }

  private def boundsPred(cnt: Column, b: CountBounds): Column = {
    val lo = cnt >= b.min
    b.max.map(m => lo && cnt <= m).getOrElse(lo)
  }

  // ------------------------------------------------------------------
  // result shaping
  // ------------------------------------------------------------------

  /** result fields for a constraint (used when it is aggregated into a
    * parent's contents); defaults to ((guid contents)) per
    * doc/gr-protocol.txt:876-880 — here: value then guid, flat.
    */
  private def resultFields(store: GraphStore, c: Constraint): Seq[(String, Column)] =
    ResultColumns(ResultColumns.leaves(c.result.getOrElse(ResultColumns.default))) {
      case (ContentsPat, _) =>
        // count=0 children are planned as anti-joins and never carry a
        // __contents_i column; they also can't contribute contents
        contributingSubs(c).map(i => s"contents_$i" -> col(s"__contents_$i"))
      case (CursorPat, _) => Seq("cursor" -> lit(null)) // filled at root
      // set-level iterator/estimate dumps carry no row columns — the
      // session renderer derives them from the constraint (iterator1)
      case (IteratorPat | EstimatePat, _) => Nil
      case (p, name) => Seq(name -> fieldExpr(store, p, c))
    }

  /** indices of children that can contribute contents tuples (everything
    * except count=0 anti-join children) — the renderer mirrors this
    */
  def contributingSubs(c: Constraint): Seq[Int] =
    c.subs.zipWithIndex.collect {
      case (s, i) if !s.effectiveCount.max.contains(0L) => i
    }

  /** pattern → Column over a solved constraint frame */
  private def fieldExpr(store: GraphStore, p: Pattern, c: Constraint): Column = p match {
    case FieldPat("guid") => col("id")
    case FieldPat("type") =>
      // `type` echoes the type node's NAME (substring2/atleast goldens:
      // `result=((value type))` prints the written type string); the
      // raw guid is the `typeguid` pattern below
      // a typeguid whose node has no resolvable name displays as
      // "#<guid>" (rerestore golden) — emitted here as a marker the
      // session renderer rewrites into the wire guid space
      val unnamed = concat(lit(TypeVocab.unnamed), col("typeguid").cast("string"))
      val tn = store.view.typeNamesById
      if (tn.isEmpty)
        when(col("typeguid").isNull, lit(null).cast("string"))
          .otherwise(unnamed)
      else when(col("typeguid").isNull, lit(null).cast("string"))
        .otherwise(coalesce(element_at(
          map(tn.flatMap { case (id, n) => Seq(lit(id), lit(n)) }: _*),
          col("typeguid")), unnamed))
    case FieldPat("typeguid") => col("typeguid")
    case FieldPat("valuetype") | FieldPat("datatype") => col("datatype")
    case FieldPat("generation") =>
      // the RESULT field counts from the OLDEST version (version3:
      // first version renders generation 0); newest= windows count
      // from the new end and live on a different column
      if (store.versioned) col("__generation") else lit(0L)
    case FieldPat("previous") => col("prev")
    case FieldPat("next") =>
      if (store.versioned) col("__next") else lit(null).cast("long")
    case FieldPat("meta") =>
      // the reference renders link rows as their arrow relative to the
      // parent: `<-` when this constraint's linkage is "my right points
      // at parent", else `->` (graphd/graphd-pattern.c:419-431)
      val arrow =
        if (c.effectiveLinkage.contains(ChildPointsToParent("right"))) "<-"
        else "->"
      when(col("left").isNull && col("right").isNull, "node").otherwise(arrow)
    case FieldPat(f) => col(f) // name value timestamp left right scope live archival
    case LiteralPat(s, _) => lit(s)
    case VarPat(v) => col(varCol(v))
    case PickPat(items) => coalesce(items.map(fieldExpr(store, _, c)): _*)
    case NonePat => lit(null)
    case ContentsPat => col("__contents_0")
    case CountPat => lit(null) // set-level; handled at root
    case other => throw new IllegalArgumentException(s"bad field pattern $other")
  }

  /** strictly-after predicate for a sorted keyset cursor: first key
    * strictly past the frozen value, or tied and the next key past, …,
    * or all tied and id past — with per-key direction and nulls-last
    * ("after a non-null under asc = bigger values or nulls").
    */
  private def keysetAfter(store: GraphStore, c: Constraint,
      tok: graft.plan.Cursor.Token): Column = {
    val keyCols = c.sort.map(sk => sortExpr(store, sk, c))
    // frozen keys carry RAW wire values (reference sort-cursor form);
    // normalize to the same domain sortExpr compares in
    def litOf(i: Int, k: graft.plan.Cursor.SortKeyVal): Column = k.tag match {
      case 's' | 'a' =>
        val sk = c.sort(i)
        sk.pat match {
          case FieldPat("value") | FieldPat("name") =>
            sort_key(lit(k.v), sortKeyCmp(sk, c))
          case _ => lit(k.v)
        }
      case 't' => lit(graft.model.GTimestamp.parse(k.v).getOrElse(0L))
      case 'g' => lit(graft.plan.Cursor.parseGuidId(k.v))
      case 'b' => lit(k.v == "1" || k.v == "true")
      case 'd' => lit(k.v.toInt)
      case '#' => lit(k.v.toLong)
      case _ => lit(k.v)
    }
    def past(i: Int, v: Option[graft.plan.Cursor.SortKeyVal], asc: Boolean): Column =
      v match {
        case None => lit(false) // nulls sort last: nothing after a null key
        case Some(k) =>
          (if (asc) keyCols(i) > litOf(i, k) else keyCols(i) < litOf(i, k)) ||
            keyCols(i).isNull
      }
    def same(i: Int, v: Option[graft.plan.Cursor.SortKeyVal]): Column =
      v match {
        case None => keyCols(i).isNull
        case Some(k) => keyCols(i) === litOf(i, k)
      }
    val n = math.min(keyCols.length, tok.keys.length)
    val allSame = (0 until n).map(j => same(j, tok.keys(j)))
      .foldLeft(lit(true))(_ && _)
    (0 until n).map { i =>
      val prefix = (0 until i).map(j => same(j, tok.keys(j)))
        .foldLeft(lit(true))(_ && _)
      prefix && past(i, tok.keys(i), c.sort(i).ascending)
    }.foldLeft(allSame && col("id") > tok.lastId)(_ || _)
  }

  /** the pattern a variable is bound to anywhere in c's subtree */
  private def varAssignPat(c: Constraint, v: String): Option[Pattern] =
    c.assignments.collectFirst { case Assignment(`v`, p) => p }
      .orElse(c.subs.view.flatMap(varAssignPat(_, v)).headOption)
      .orElse(c.orBranches.view.flatMap(varAssignPat(_, v)).headOption)

  /** effective comparator for a sort key: per-key sort-comparator=,
    * then comparator=. value-comparator= does NOT reach sorts
    * (david_8 r3: value-comparator="octet" sort=(value) still sorts
    * under the default comparator)
    */
  private def sortKeyCmp(sk: SortKey, c: Constraint): String =
    sk.comparator.getOrElse(c.comparator)

  private def sortExpr(store: GraphStore, sk: SortKey, c: Constraint): Column = {
    val cmp = sortKeyCmp(sk, c)
    sk.pat match {
      case FieldPat("value") => sort_key(col("value"), cmp)
      case FieldPat("name") => sort_key(col("name"), cmp)
      case VarPat(v) =>
        // a variable bound to a string field sorts under the
        // comparator, like the field itself would (timesort/sort10);
        // one bound to a list sorts element-wise on its leaves;
        // $b=$a chains resolve to the underlying pattern (david_9)
        def resolved(p: Option[Pattern], seen: Set[String]): Option[Pattern] =
          p match {
            case Some(VarPat(o)) if !seen(o) =>
              resolved(varAssignPat(c, o), seen + o)
            case other => other
          }
        resolved(varAssignPat(c, v), Set(v)) match {
          case Some(FieldPat("value") | FieldPat("name")) =>
            sort_key(col(varCol(v)), cmp)
          case Some(lp: ListPat) =>
            val leafPats = ResultColumns.leaves(lp)
            transform(col(varCol(v)), x => struct(
              leafPats.zipWithIndex.map { case (p, idx) =>
                val f = x.getField(s"f$idx")
                p match {
                  case FieldPat("value") | FieldPat("name") => sort_key(f, cmp)
                  case _ => f
                }
              }: _*))
          case _ => col(varCol(v))
        }
      case ContentsPat =>
        // sort=contents orders rows by their child frames: compare the
        // collected contents arrays element-wise, string fields under
        // the comparator (sort9: children sort by grandchild value)
        contributingSubs(c).headOption match {
          case Some(i) =>
            val sub = c.subs(i)
            val fields = resultFields(store, sub).map(_._1)
            val strings = resultFields(store, sub).collect {
              case (n, e) if isStringField(e) => n
            }.toSet
            transform(col(s"__contents_$i"), x => struct(
              fields.map(n =>
                if (strings(n)) sort_key(x.getField(n), cmp).as(n)
                else x.getField(n).as(n)): _*))
          case None => lit(null)
        }
      case other => fieldExpr(store, other, c)
    }
  }

  /** best-effort: does this result field hold a raw string value?
    * (value/name columns — the ones a comparator normalizes)
    */
  private def isStringField(e: Column): Boolean = {
    val s = e.toString
    s == "value" || s == "name" || s.endsWith(".value") || s.endsWith(".name")
  }

  /** RAW value to freeze into a sort cursor + its wire type tag
    * (graphd_value_serialize) — sortExpr's normalized key is
    * re-derived from this at resume
    */
  private def freezeExpr(store: GraphStore, sk: SortKey, c: Constraint): (Column, Char) =
    sk.pat match {
      case FieldPat("value") => (col("value"), 's')
      case FieldPat("name") => (col("name"), 's')
      case FieldPat("timestamp") => (col("timestamp"), 't')
      case FieldPat("guid") => (col("id"), 'g')
      case FieldPat(f @ ("left" | "right" | "typeguid" | "scope")) => (col(f), 'g')
      case FieldPat("datatype") | FieldPat("valuetype") => (col("datatype"), 'd')
      case FieldPat(f @ ("live" | "archival")) => (col(f), 'b')
      case other => (fieldExpr(store, other, c), 's')
    }

  private def shapeRoot(store: GraphStore, df: DataFrame, c: Constraint,
      cursorHorizon: () => Long = () => Long.MaxValue,
      // [o:] rows consumed so far, carried from a POSITIONAL resume
      // whose token was consumed into a start offset before this call
      resumeOffset: Long = 0L,
      // the RAW token of that consumed positional resume — re-freeze
      // hooks pass sampled state fields through from it
      resumeTok: Option[String] = None): DataFrame = {
    // set-level count result (result=count → one row); countlimit stops
    // counting past N (the reference returns TOOMANY beyond — callers
    // detect overflow by count == countlimit+1, graphd/graphd.h:1305).
    val pat = c.result.getOrElse(ResultColumns.default)
    if (ResultColumns.leaves(pat) == Seq(CountPat)) {
      val limited = c.countlimit.map(n => df.limit(n.toInt + 1)).getOrElse(df)
      return limited.agg(count(lit(1)).as("count"))
    }
    // estimate-count: optimizer statistics, no execution
    // (graphd/graphd-read-set-estimate.c:21 → Catalyst plan stats)
    if (ResultColumns.leaves(pat) == Seq(EstimateCountPat)) {
      val spark = df.sparkSession
      import spark.implicits._
      // the reference's estimate for an unconstrained read is the
      // iterator's candidate count — pdb_primitive_n for `all`
      // (estimate-count.sh: 1 primitive -> 1, 5 -> 5); Catalyst plan
      // statistics replace the per-iterator guesses otherwise
      val est =
        if (c.guid.isEmpty && c.linkFields.isEmpty && c.typePreds.isEmpty &&
            c.name.isEmpty && c.value.isEmpty && c.subs.isEmpty)
          store.all.count()
        else df.queryExecution.optimizedPlan.stats.rowCount
          .map(_.toLong)
          .getOrElse(df.count())
      return Seq(est).toDF("estimate_count")
    }

    var out = df
    // root sort (graphd/graphd-sort.c) with id tiebreak for
    // determinism — only when ordering is observable (explicit sort,
    // paging, or a cursor): an unconditional global sort costs a
    // shuffle stage on every point read for an order nobody consumes
    // session replay (refIterCursor hook set) always orders by id: the
    // reference's unsorted production order IS the istore/index id
    // order, and set-level values (contents splicing, variable
    // bubbling) read the first row. Engine/bench paths keep unsorted
    // reads exchange-free.
    val needsOrder = c.sort.nonEmpty || c.pagesize.isDefined ||
      c.start.isDefined || c.cursorTok.isDefined ||
      ResultColumns.leaves(pat).contains(CursorPat) ||
      graft.plan.Cursor.refIterCursor.isDefined
    if (needsOrder) {
      // a sort under the NUMBER comparator is produced by the number
      // vrange iterator, which only walks number bins — rows whose
      // key value doesn't decode (including nulls) never surface
      // (sortnumber r3/r6, david_10 r15: non-numbers and nulls are
      // dropped from the sorted set, not sorted into a tail bucket)
      c.sort.foreach { sk =>
        val cmp = sortKeyCmp(sk, c)
        val stringField = sk.pat match {
          case FieldPat("value") | FieldPat("name") => true
          case _ => false
        }
        if (cmp == "number" && stringField) {
          val key = sortExpr(store, sk, c)
          out = out.filter(key.isNotNull && !key.startsWith("~"))
        }
      }
      val orderCols: Seq[Column] =
        c.sort.map(sk => if (sk.ascending) sortExpr(store, sk, c).asc_nulls_last
          else sortExpr(store, sk, c).desc_nulls_last) :+ col("id").asc
      out = out.orderBy(orderCols: _*)
    }
    // a resume cursor already encodes the position — re-applying
    // start= would skip start-N rows on every subsequent page
    // (reference cursors subsume the original offset)
    if (c.cursorTok.isEmpty)
      c.start.foreach(n => out = out.offset(n.toInt))
    val preLimit = out // for the trailing-row probe below
    c.pagesize.foreach(n => out = out.limit(n.toInt))

    // `result=(cursor (...))`: attach the resume token as a constant
    // column — "null:" when nothing follows this page (the reference
    // emits the empty cursor whenever there is no trailing row,
    // graphd-sort.c:1480), else the frozen keyset.
    val wantsCursor = ResultColumns.leaves(pat).contains(CursorPat)
    val cursorTok: Option[String] =
      if (!wantsCursor) None
      else c.pagesize.map { ps =>
        val off = c.cursorTok.map(t => graft.plan.Cursor.decode(t).offset)
          .getOrElse(resumeOffset)
        if (c.sort.isEmpty) {
          val ids = preLimit.select(col("id")).limit(ps.toInt + 1).collect()
          if (ids.length <= ps) "null:"
          else graft.plan.Cursor.refIterCursor
            // sign the constraint as WRITTEN: a positional resume
            // consumed its token into an injected start offset, which
            // must not leak into the cursor signature
            .flatMap(h => h(
              if (resumeOffset > 0)
                // start strips (it would leak into the signature); the
                // consumed token re-attaches so the hook can pass its
                // opaque sampled-state fields through (signed() strips
                // cursorTok before signing)
                c.copy(start = None,
                  cursorTok = resumeTok.orElse(c.cursorTok))
              else c,
              cursorHorizon(), off, ps, ids.map(_.getLong(0)).toSeq))
            .getOrElse {
              // pagesize=0 still answers a POSITIONED cursor
              // (brendan4): nothing was consumed, so the token resumes
              // from the start of the set (id > -1, offset unchanged)
              if (ps.toInt == 0)
                graft.plan.Cursor.encode(graft.plan.Cursor.Token(
                  -1L, cursorHorizon(), Nil, off))
              else graft.plan.Cursor.encode(graft.plan.Cursor.Token(
                ids(ps.toInt - 1).getLong(0), cursorHorizon(), Nil, off + ps))
            }
        } else {
          // SORT cursor (reference "sort:..." wire form): freeze the
          // last page row's RAW sort values + guid tiebreak; resume is
          // the keyset predicate in keysetAfter — no offset re-scan,
          // stable under the pinned horizon
          val frozen = c.sort.map(sk => freezeExpr(store, sk, c))
          val rows = preLimit
            .select(frozen.map(_._1) :+ col("id"): _*)
            .limit(ps.toInt + 1).collect()
          if (rows.length <= ps) "null:"
          else if (ps.toInt == 0)
            // pagesize=0: no row consumed — resume from the start
            graft.plan.Cursor.encode(graft.plan.Cursor.Token(
              -1L, cursorHorizon(), Nil, off))
          else {
            val last = rows(ps.toInt - 1)
            val keys = c.sort.indices.map(i =>
              graft.plan.Cursor.frozenKey(last.get(i), frozen(i)._2))
            graft.plan.Cursor.encode(graft.plan.Cursor.Token(
              last.getLong(c.sort.length), cursorHorizon(), keys, off + ps))
          }
        }
      }

    val cols = resultFields(store, c).collect {
      case (n, e) if n != "cursor" => e.as(n)
    }
    val shaped = out.select(cols: _*)
    lastRootCursorTok0.set(cursorTok)
    cursorTok.map(t => shaped.withColumn("cursor", lit(t))).getOrElse(shaped)
  }
}
