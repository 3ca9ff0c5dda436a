package graft.write

import org.apache.spark.sql.Row

import graft.model.{Datatype, Primitive}
import graft.store.GraphStore

/** Write-side operators (SURVEY.md §2.9): append, versioning,
  * tombstones, and the unique/key/anchor upsert machinery
  * (doc/gr-protocol.txt:661-857; graphd/graphd-write.c,
  * graphd-write-check-unique.c, graphd-write-annotate-keyed.c,
  * graphd-write-annotate-anchor.c).
  *
  * Semantics:
  *  - writes never mutate: "modify" appends a new primitive whose
  *    `prev` points at the replaced one; "delete" appends a live=false
  *    tombstone (doc/a-brief-tour-of-graphd.md:61-69).
  *  - `unique`: the matching cluster must NOT exist → error EXISTS.
  *  - `key`: declarative upsert — insert if absent, no-op if identical,
  *    version-the-diff otherwise.
  *  - `anchor`: must match exactly one existing primitive; reuse its id.
  *
  * Scale: existence checks are anti/semi joins against the current
  * view; batch writes append a whole DataFrame at once (the engine's
  * unit of atomicity is the batch, like the reference's txstart
  * framing).
  */
object Writer {

  final case class WriteError(code: String, msg: String)
      extends Exception(s"$code: $msg")

  /** Field template for one new primitive. `left`/`right`/`typeguid`
    * may reference ids returned earlier in the same batch.
    */
  final case class Spec(
      name: Option[String] = None,
      value: Option[String] = None,
      datatype: Byte = Datatype.String,
      typeguid: Option[Long] = None,
      left: Option[Long] = None,
      right: Option[Long] = None,
      scope: Option[Long] = None,
      live: Boolean = true,
      archival: Boolean = true,
      prev: Option[Long] = None,
      comparator: String = "default",
      // explicit per-primitive timestamp (restore path); rows without
      // one draw from the writer clock
      timestamp: Option[Long] = None,
      // explicit transaction bit (restore v6 carries one per tuple)
      txstart: Option[Boolean] = None)

  /** unique monotone per-writer timestamps — the reference guarantees
    * "unique per local system, monotone per writer"
    * (doc/gr-model.txt:53-60); two writes in the same millisecond must
    * not collide or timestamp sorts become nondeterministic.
    */
  private val lastTs = new java.util.concurrent.atomic.AtomicLong(0L)
  /** the shared monotone clock reading — BulkMerge stamps its batches
    * through HERE so bulk and sequential writes share one monotone
    * timeline (asOfTimestamp's id-monotonicity contract)
    */
  private[write] def nextMonotoneMicros(): Long =
    lastTs.updateAndGet(prev =>
      Math.max(System.currentTimeMillis() * 1000L, prev + 1))
  /** replay hook: a deterministic tick (the reference's test mode
    * stamps writes 1970-01-01T00:00:00.0000Z, .0001Z, ... so golden
    * sessions are byte-reproducible — rungraphd -t). When set, each
    * append draws ticks of 100µs from here instead of the wall clock.
    */
  @volatile private[graft] var tickMicros: Option[java.util.concurrent.atomic.AtomicLong] = None
  private def now(): Long = tickMicros match {
    case Some(t) => t.getAndAdd(100L)
    case None => nextMonotoneMicros()
  }

  /** Append a batch of specs atomically; returns (new store, new ids).
    * Lineage: a spec with prev=P inherits P's lineage (chain heads are
    * resolved against the existing store — no full recompute).
    */
  /** request-scoped txstart (the reference's transaction bit marks the
    * FIRST primitive of a write/restore request, even when the engine
    * materializes the request as several appends — bootstrap + type
    * mints + template are one transaction). The replay harness clears
    * this before each command; outside refBootstrap every append is
    * its own transaction, as before.
    */
  @volatile private[graft] var txContOpen: Boolean = false

  def append(store: GraphStore, specs: Seq[Spec],
      timestamp: Option[Long] = None): (GraphStore, Seq[Long]) = {
    // Primitive size ceiling (pdb-primitive-alloc.c:88-116,170-182):
    // the name length field is 2 bytes, the value length field 3, and
    // the encoded primitive must fit one 32 KiB tile. Checked before
    // any mutation, so a TOOBIG write consumes no ids (big.sh/big1.sh).
    specs.foreach { s =>
      val nameLen = s.name.map(_.getBytes("UTF-8").length).getOrElse(0)
      val valueLen = s.value.map(_.getBytes("UTF-8").length).getOrElse(0)
      if (nameLen >= (1 << 16))
        throw WriteError("TOOBIG", "name too long")
      if (valueLen >= (1 << 24) - (13 + nameLen))
        throw WriteError("TOOBIG", "value too long")
      val prLen = 11L + s.prev.map(_ => 10).getOrElse(0) +
        (if (nameLen > 0) nameLen + 2 else 0) +
        (if (valueLen > 0) valueLen + 3 else 0) +
        Seq(s.typeguid, s.left, s.right, s.scope).flatten.size * 16
      if (prLen > 32L * 1024)
        throw WriteError("TOOBIG", "primitive too big")
    }
    val base = store.source.nextId
    val txFirst = !(refBootstrap && txContOpen)
    if (refBootstrap) txContOpen = true
    // deterministic tick mode stamps each primitive its own tick (the
    // reference's test clock is per-primitive, not per-request), so the
    // clock stays in lockstep with the id sequence; rows with explicit
    // timestamps (restore) do not consume ticks
    val needTicks = specs.count(_.timestamp.isEmpty)
    val perRow = timestamp.isEmpty && tickMicros.isDefined
    val ts = timestamp.getOrElse(tickMicros match {
      case Some(t) => t.getAndAdd(100L * needTicks)
      case None => now()
    })
    val prevIds = specs.flatMap(_.prev)
    val lineageOf: Map[Long, Long] =
      if (prevIds.isEmpty) Map.empty else store.source.lineageOf(prevIds)

    var tick = 0
    val rows = specs.zipWithIndex.map { case (s, i) =>
      val id = base + i
      s.prev.foreach { p =>
        if (!lineageOf.contains(p))
          throw WriteError("SEMANTICS", s"not found: cannot read predecessor record $p")
      }
      val rowTs = s.timestamp.getOrElse {
        val v = if (perRow) ts + tick * 100L else ts
        if (perRow) tick += 1
        v
      }
      Primitive(id, s.typeguid, s.name, s.datatype, s.value, s.scope,
        s.live, s.archival,
        txstart = s.txstart.getOrElse(i == 0 && txFirst),
        rowTs, s.left, s.right, s.prev,
        s.prev.map(lineageOf).getOrElse(id))
    }
    // the first version chain written into an unversioned store (e.g.
    // a freshly compacted one) turns the lineage window back on
    (store.copy(source = store.source.appended(rows),
      versioned = store.versioned || rows.exists(_.prev.isDefined)),
      rows.map(_.id))
  }

  /** `guid=G` pessimistic versioning: G must still be the newest of its
    * lineage, else error OUTDATED (doc/gr-protocol.txt:531-554).
    * `guid~=G` (opportunistic) versions whatever the current newest is.
    */
  def versionOf(store: GraphStore, target: Long, spec: Spec,
      opportunistic: Boolean = false): (GraphStore, Long) = {
    val (st, ids) = append(store,
      Seq(spec.copy(prev = Some(headFor(store, target, opportunistic)))))
    (st, ids.head)
  }

  /** the lineage head a write naming `g` versions: `g` must exist, and
    * unless `opportunistic` (`guid~=`) it must still be the head, else
    * OUTDATED (doc/gr-protocol.txt:531-554; asof.sh golden)
    */
  private def headFor(st: GraphStore, g: Long, opportunistic: Boolean): Long = {
    val head = st.source.lineageHead(g).getOrElse(throw WriteError(
      "SEMANTICS", s"not found: cannot read predecessor record $g"))
    if (!opportunistic && head != g)
      throw WriteError("OUTDATED",
        "\"" + graft.plan.Cursor.renderGuid(g) + "\" has been versioned")
    head
  }

  /** the id a template root versions and whether opportunistically:
    * `guid=G` (pessimistic), `guid~=G` (the lineage head, whatever it
    * is now); previous=G is the same request as guid=G (guid2)
    */
  private def versionTarget(c: graft.gql.Constraint): Option[(Long, Boolean)] =
    (c.guid ++ c.previous).collectFirst {
      case graft.gql.GuidPred(true, serials, lineage) if serials.flatten.nonEmpty =>
        (serials.flatten.head, lineage)
    }

  /** delete = tombstone version (live=false) */
  def tombstone(store: GraphStore, target: Long): (GraphStore, Long) =
    versionOf(store, target,
      Spec(live = false, datatype = Datatype.Null), opportunistic = true)

  // ------------------------------------------------------------------
  // reference type bootstrap (physical layout)
  // ------------------------------------------------------------------

  /** When true, first-use type names mint the reference's physical
    * primitive layout (graphd/graphd-type.c:899 graphd_type_bootstrap;
    * :656 make_node_has_key): a 7-primitive core type system on the
    * first typed write, then per name an unnamed node plus a `has_key`
    * naming link whose value is the name. Engine ids then coincide
    * with the reference's istore serials — the session replay harness
    * depends on that. Default off: library users get the compact
    * single-node type registry.
    */
  @volatile private[graft] var refBootstrap: Boolean = false

  private[graft] object Boot {
    val CoreScope = "CORE_SCOPE"
    val RootNs = "ROOT_NAMESPACE"
    val HasKey = "HAS_KEY"
    val Anchor = "Metaweb_Bootstrap_Anchor"
  }

  /** (coreScope, rootNamespace, hasKey) node ids when the store
    * carries the reference bootstrap (graphd_type_bootstrap_read)
    */
  private def bootCore(st: GraphStore): Option[(Long, Long, Long)] = {
    val m = st.view.nodesNamed(Seq(Boot.CoreScope, Boot.RootNs, Boot.HasKey))
    for (cs <- m.get(Boot.CoreScope); rn <- m.get(Boot.RootNs);
         hk <- m.get(Boot.HasKey)) yield (cs, rn, hk)
  }

  /** the seven bootstrap primitives, ids base..base+6
    * (graphd/graphd-type.c:899-1035)
    */
  private def bootstrapSpecs(base: Long): Seq[Spec] = {
    val cs = base; val rn = base + 1; val hk = base + 2; val ns = base + 3
    Seq(
      Spec(name = Some(Boot.CoreScope), datatype = Datatype.Null),
      Spec(name = Some(Boot.RootNs), scope = Some(cs), datatype = Datatype.Null),
      Spec(name = Some(Boot.HasKey), scope = Some(cs), datatype = Datatype.Null),
      Spec(scope = Some(cs), datatype = Datatype.Null),
      Spec(left = Some(rn), right = Some(ns), typeguid = Some(hk),
        scope = Some(cs), value = Some("boot")),
      Spec(left = Some(ns), right = Some(rn), typeguid = Some(hk),
        scope = Some(cs), value = Some("root_namespace")),
      Spec(left = Some(ns), right = Some(hk), typeguid = Some(hk),
        scope = Some(cs), name = Some(Boot.Anchor), value = Some("has_key")))
  }

  /** write the core type system if absent (restore v1 bootstraps
    * unconditionally — graphd-restore.c:79-87)
    */
  private[graft] def ensureBootstrap(st: GraphStore): GraphStore =
    if (bootCore(st).isDefined) st
    else append(st, bootstrapSpecs(st.source.nextId))._1

  /** resolve-or-mint one type under refBootstrap (upsert path: each
    * mint is its own append)
    */
  private[graft] def refTypeIdOf(st0: GraphStore, names: Seq[String])
      : (GraphStore, Long) = {
    var st = st0
    var core = bootCore(st)
    val existing = core.flatMap { case (_, _, hk) =>
      names.view.map(n => st.view.refTypeId(hk, n))
        .collectFirst { case Some(id) => id }
    }
    existing match {
      case Some(id) => (st, id)
      case None =>
        if (core.isEmpty) {
          val (st2, ids) = append(st, bootstrapSpecs(st.source.nextId))
          st = st2
          core = Some((ids(0), ids(1), ids(2)))
        }
        val (cs, rn, hk) = core.get
        val base = st.source.nextId
        val (st2, ids) = append(st, Seq(
          Spec(scope = Some(cs), datatype = Datatype.Null),
          Spec(left = Some(rn), right = Some(base), typeguid = Some(hk),
            scope = Some(cs), value = Some(names.head))))
        (st2, ids.head)
    }
  }

  /** Write a parsed `write (...)` template: one primitive per
    * constraint node, children wired to parents through their linkage
    * — `(<-left ...)` children get left=parent, `right->(...)` children
    * become the parent's right, etc. (doc/gr-protocol.txt:435-478,
    * graphd/graphd-write.c). `type="t"` resolves against existing type
    * nodes. Returns the new store and the created ids in template
    * (pre-)order.
    */
  def writeTemplate(store: GraphStore, template: graft.gql.Constraint)
      : (GraphStore, Seq[Long]) = {
    if (refBootstrap) return writeTemplateRef(store, template)
    import graft.gql._
    var st = store
    // pre-resolve/create all type nodes (depth-first, same order as
    // spec building) BEFORE computing the batch base id; each distinct
    // name list resolves once, and `build` reads the ids found here
    val typeIds = scala.collection.mutable.Map.empty[Seq[String], Long]
    def typeId(names: Seq[String]): Long = typeIds.getOrElseUpdate(names, {
      val (st2, id) = typeIdOf(st, names); st = st2; id
    })
    def preResolve(c: Constraint): Unit = {
      c.typeNames.foreach(typeId)
      c.subs.foreach(preResolve)
    }
    preResolve(template)

    val base = st.source.nextId
    val specs = scala.collection.mutable.ArrayBuffer.empty[Spec]

    def build(c: Constraint): Int = {
      val idx = specs.length
      specs += specOf(c, c.typeNames.map(typeId))
      c.subs.foreach { sub =>
        linkOf(c, sub) match {
          case Some(ChildPointsToParent(f)) =>
            val ci = build(sub); specs(ci) = withField(specs(ci), f, base + idx)
          case Some(ParentPointsToChild(f)) =>
            val ci = build(sub); specs(idx) = withField(specs(idx), f, base + ci)
          case None => build(sub)
        }
      }
      idx
    }

    build(template)

    // `write (guid~=G ...)`/`write (guid=G ...)`: the root becomes a
    // new version of G's lineage head
    versionTarget(template).foreach { case (g, opportunistic) =>
      specs(0) = specs(0).copy(prev = Some(headFor(st, g, opportunistic)))
    }

    append(st, specs.toSeq)
  }

  /** writeTemplate under refBootstrap: one batch whose allocation
    * order is the reference's (graphd-write.c) — at each constraint
    * visit, first-use type pairs mint in place, then the subtrees the
    * constraint points at, then the constraint itself, then the links
    * into it; a first typed write prepends the 7-primitive bootstrap.
    */
  private def writeTemplateRef(store: GraphStore,
      template: graft.gql.Constraint): (GraphStore, Seq[Long]) = {
    import graft.gql._
    var st = store
    def namesDfs(c: Constraint): Seq[String] =
      c.typeNames.getOrElse(Nil) ++ c.subs.flatMap(namesDfs)
    val wanted = namesDfs(template).distinct
    val typeId = scala.collection.mutable.Map.empty[String, Long]
    var core = bootCore(st)
    core.foreach { case (_, _, hk) =>
      wanted.foreach(n => st.view.refTypeId(hk, n).foreach(typeId(n) = _))
    }

    val specs = scala.collection.mutable.ArrayBuffer.empty[Spec]
    val base = st.source.nextId
    val idOf = new java.util.IdentityHashMap[Constraint, java.lang.Long]()

    def mintType(t: String): Unit = {
      // first typed CONSTRAINT VISIT creates the core type system —
      // lazily, mid-batch: an untyped root allocates BEFORE the
      // bootstrap its typed grandchildren trigger (sort11: root=0,
      // mom=1, then the 7 bootstrap primitives, then type "kid").
      // Same transaction, one contiguous id range.
      if (core.isEmpty) {
        val b0 = base + specs.length
        specs ++= bootstrapSpecs(b0)
        core = Some((b0, b0 + 1, b0 + 2))
      }
      val (cs, rn, hk) = core.get
      val nodeId = base + specs.length
      specs += Spec(scope = Some(cs), datatype = Datatype.Null)
      specs += Spec(left = Some(rn), right = Some(nodeId), typeguid = Some(hk),
        scope = Some(cs), value = Some(t))
      typeId(t) = nodeId
    }

    def alloc(c: Constraint, parentField: Option[(String, Long)]): Long = {
      val names = c.typeNames.getOrElse(Nil)
      // an already-known name wins; otherwise the head name is minted
      val pick = names.find(typeId.contains).getOrElse(names.headOption.orNull)
      names.foreach(t => if (!typeId.contains(t)) mintType(t))
      val (pointed, into) = c.subs.partition(sub =>
        linkOf(c, sub).exists(_.isInstanceOf[ParentPointsToChild]))
      val pointedId = pointed.map(sub => sub -> alloc(sub, None))
      var spec = specOf(c, Option(pick).map(typeId))
      parentField.foreach { case (f, pid) => spec = withField(spec, f, pid) }
      pointedId.foreach { case (sub, cid) =>
        val f = linkOf(c, sub).get.asInstanceOf[ParentPointsToChild].field
        spec = withField(spec, f, cid)
      }
      val myId = base + specs.length
      specs += spec
      idOf.put(c, myId)
      into.foreach { sub =>
        linkOf(c, sub) match {
          case Some(ChildPointsToParent(f)) => alloc(sub, Some((f, myId)))
          case _ => alloc(sub, None)
        }
      }
      myId
    }

    alloc(template, None)

    // guid=G / guid~=G versioning of the root (same as the legacy path)
    val rootIdx = (idOf.get(template).longValue - base).toInt
    versionTarget(template).foreach { case (g, opportunistic) =>
      specs(rootIdx) = specs(rootIdx).copy(prev = Some(headFor(st, g, opportunistic)))
    }

    val (st2, _) = append(st, specs.toSeq)
    def pre(c: Constraint): Seq[Long] =
      idOf.get(c).longValue +: c.subs.flatMap(pre)
    (st2, pre(template))
  }

  /** parse-and-write convenience: `write (value="x" (<-left ...))`.
    * Templates carrying unique/key/anchor markers go through the
    * upsert executor; plain templates append directly.
    */
  def write(store: GraphStore, gqlText: String): (GraphStore, Seq[Long]) = {
    val t = graft.gql.Parser.parseRead(gqlText)
    checkLinkageMix(t)
    checkWriteSemantics(store, t)
    def hasUpsert(c: graft.gql.Constraint): Boolean =
      c.uniqueFields.isDefined || c.keyFields.isDefined || c.anchorFlag ||
        c.subs.exists(hasUpsert)
    if (hasUpsert(t)) upsertTemplate(store, t) else writeTemplate(store, t)
  }

  /** `timestamp=T` written in a template pins the primitive's
    * timestamp (timestamp.sh) — parsed as an equality bound
    */
  private def explicitTs(c: graft.gql.Constraint): Option[Long] =
    (c.timestampMin, c.timestampMax) match {
      case (Some((lo, true)), Some((hi, true))) if lo == hi => Some(lo)
      case _ => None
    }

  private def firstEq(preds: Seq[graft.gql.StrPred]): Option[String] =
    preds.collectFirst {
      case graft.gql.StrPred(graft.gql.OpEq, vs) => vs.flatten.headOption
    }.flatten

  /** the `f=G` id a template constraint pins */
  private def linkSerial(c: graft.gql.Constraint, f: String): Option[Long] = {
    c.linkFields.get(f).foreach(_.foreach { p =>
      if (p.serials.length > 1)
        throw WriteError("SEMANTICS",
          "multiple GUID values are only allowed in read requests")
    })
    c.linkFields.get(f).flatMap(_.collectFirst {
      case graft.gql.GuidPred(true, serials, false) => serials.flatten.headOption
    }.flatten)
  }

  private def withField(s: Spec, f: String, id: Long): Spec = f match {
    case "left" => s.copy(left = Some(id))
    case "right" => s.copy(right = Some(id))
    case "typeguid" => s.copy(typeguid = Some(id))
    case "scope" => s.copy(scope = Some(id))
    case other => throw WriteError("SYNTAX", s"bad linkage $other")
  }

  /** a child's linkage, where a linkage-less child of a LINK attaches
    * to the link's free endpoint (the planner's defaulting — optional.sh)
    */
  private def linkOf(parent: graft.gql.Constraint,
      sub: graft.gql.Constraint): Option[graft.gql.Linkage] = {
    import graft.gql.{ChildPointsToParent, ParentPointsToChild}
    sub.effectiveLinkage.orElse(parent.effectiveLinkage match {
      case Some(ChildPointsToParent("right")) => Some(ParentPointsToChild("left"))
      case Some(ChildPointsToParent("left")) => Some(ParentPointsToChild("right"))
      case _ => None
    })
  }

  /** the primitive a template constraint writes, typed `typeguid` or
    * by its own `typeguid=G`
    */
  private def specOf(c: graft.gql.Constraint, typeguid: Option[Long]): Spec =
    Spec(
      name = firstEq(c.name),
      value = firstEq(c.value),
      // `value=null` is an explicit STRING-typed null (nullvalue.sh)
      datatype = c.datatype.getOrElse(
        if (c.value.nonEmpty) Datatype.String else Datatype.Null),
      typeguid = typeguid.orElse(linkSerial(c, "typeguid")),
      left = linkSerial(c, "left"),
      right = linkSerial(c, "right"),
      scope = linkSerial(c, "scope"),
      live = c.live != graft.gql.MustBeFalse,
      archival = c.archival != graft.gql.MustBeFalse, // flags-1/flags-2
      comparator = c.comparator,
      timestamp = explicitTs(c))

  /** Resolve-or-mint a template's type: the lowest-id node named any of
    * `names`, else a new one (the reference mints type primitives on
    * first use — test/unit/version1.sh writes new type strings freely).
    * Returns the store after any mint.
    */
  private def typeIdOf(st: GraphStore, names: Seq[String]): (GraphStore, Long) =
    if (refBootstrap) refTypeIdOf(st, names)
    else st.view.nodesNamed(names).values.minOption match {
      case Some(id) => (st, id)
      case None =>
        // the minted node carries the type name as BOTH name and value:
        // the reference's type machinery registers the name in a
        // value-carrying has_key primitive, and sessions find it by
        // value (or.sh: write ("foo") then read (value="foo") matches)
        val (st2, ids) = append(st,
          Seq(Spec(name = names.headOption, value = names.headOption)))
        (st2, ids.head)
    }

  /** Write-side template validation, mirroring the reference's
    * semantic phase for write requests (graphd-ast.c / graphd-write.c
    * checks exercised by the error-path sessions named below).
    */
  private def checkWriteSemantics(store: GraphStore,
      root: graft.gql.Constraint): Unit = {
    import graft.gql._
    // a write root may carry a meta arrow but not an explicit linkage
    // (linklink4: `write (<-left ...)`)
    if (root.linkage.isDefined)
      throw WriteError("SEMANTICS",
        "can't use (<-left ..) on the outermost constraint - " +
          "do you mean left=GUID?")
    def walk(c: Constraint): Unit = {
      // a non-null NEXT constraint is meaningless in a write — the
      // new primitive has nothing after it (guid2)
      c.next.foreach { p =>
        p.serials.flatten.headOption.foreach { g =>
          val opTxt = if (p.lineage) "~=" else "="
          throw WriteError("SEMANTICS",
            s"can't use NEXT$opTxt${graft.plan.Cursor.renderGuid(g)} " +
              "in a write request!")
        }
      }
      if (c.typeNames.isDefined &&
          c.linkFields.get("typeguid").exists(_.exists(_.include)))
        throw WriteError("SEMANTICS",
          "can't have a type and a typeguid in the same write request.")
      if (c.name.length > 1)
        throw WriteError("SYNTAX", "more than one value for \"name\"") // yesno
      if (c.value.length > 1)
        throw WriteError("SYNTAX", "more than one value for \"value\"")
      (c.name ++ c.value).foreach { p =>
        if (p.op == OpNe)
          throw WriteError("SEMANTICS",
            "'!=': operator cannot be used in write requests") // ne
        if (p.op == OpMatch)
          throw WriteError("SEMANTICS",
            "'~=': operator cannot be used in write requests")
      }
      if (c.isFalse)
        throw WriteError("SEMANTICS",
          "'false': constraint can only be used in read requests")
      if (c.optional)
        throw WriteError("SEMANTICS",
          "'optional': constraint can only be used in read requests")
      if (c.keyFields.isDefined && c.guid.exists(_.lineage))
        throw WriteError("SYNTAX",
          "cannot mix \"key=\" and \"guid~=\" constraints - " +
            "did you mean \"unique\"?") // keyburn5
      if (c.datelineMin.isDefined || c.datelineMax.isDefined)
        throw WriteError("SEMANTICS",
          "dateline constraints cannot be used in write requests") // dateline-1
      def patHasContents(p: Pattern): Boolean = p match {
        case ContentsPat => true
        case ListPat(items) => items.exists(patHasContents)
        case PickPat(items) => items.exists(patHasContents)
        case _ => false
      }
      if (c.subs.isEmpty && c.result.exists(patHasContents))
        throw WriteError("SEMANTICS",
          "can't use \"contents\" return instruction in template " +
            "without contained templates") // nick1 (write side)
      c.subs.foreach(walk)
    }
    walk(root)
    // explicitly referenced endpoints must exist (link2, 3323)
    val refs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def collect(c: Constraint): Unit = {
      c.linkFields.foreach { case (f, preds) =>
        preds.foreach { p =>
          if (p.include) p.serials.flatten.foreach(s => refs += ((f, s)))
        }
      }
      c.subs.foreach(collect)
    }
    collect(root)
    if (refs.nonEmpty) {
      val wanted = refs.map(_._2).distinct.toSeq
      val present = store.source.present(wanted)
      refs.find(r => !present(r._2)).foreach { case (f, s) =>
        throw WriteError("SEMANTICS", s"$f=$s: not found")
      }
    }
  }

  /** Write-side linkage conflict checks (graphd-write.c:438-478): a
    * SUBconstraint may not both BE a link through endpoint L (`<-L` /
    * `<-` / `->` meta) and pin L with an explicit guid (`L=G`), nor
    * may a parent point at a child through L while also pinning L. The
    * root is exempt — con_linkage is only assigned to subconstraints
    * (unique2.sh: `write (-> left=G right=G unique=...)` is legal).
    */
  private def checkLinkageMix(c: graft.gql.Constraint,
      isRoot: Boolean = true): Unit = {
    import graft.gql._
    if (!isRoot) c.effectiveLinkage match {
      case Some(ChildPointsToParent(f)) if c.linkFields.get(f)
          .exists(_.exists(_.include)) =>
        throw WriteError("SEMANTICS", s"cannot mix <-$f and $f=...")
      case _ =>
    }
    c.subs.foreach { sub =>
      sub.linkage match {
        case Some(ParentPointsToChild(f)) if c.linkFields.get(f)
            .exists(_.exists(_.include)) =>
          throw WriteError("SEMANTICS", s"cannot mix $f->() and $f=")
        case _ =>
      }
      checkLinkageMix(sub, isRoot = false)
    }
  }

  /** Upsert executor for templates with unique/key/anchor markers
    * (doc/gr-protocol.txt:661-857; the reference's write-annotate
    * phases graphd-write-annotate-keyed.c / -anchor.c / -pointed.c).
    *
    * Semantics implemented (root + one level of linked children — the
    * shape of the unique/keyburn test corpus):
    *  - `key=(fields)`: match on the fields → reuse if identical,
    *    version-the-diff if not, insert if absent.
    *  - `unique=(fields)`: EXISTS error on any match.
    *  - `anchor`: exactly one match required; its id is reused.
    *  - pointed reuse: when a keyed child matches an existing link, an
    *    UNKEYED parent reuses that link's endpoint instead of minting a
    *    duplicate (doc/gr-protocol.txt:801-807).
    */
  def upsertTemplate(st0: GraphStore, template: graft.gql.Constraint)
      : (GraphStore, Seq[Long]) = {
    import graft.gql._
    var st = st0
    // each distinct type-name list resolves (or mints) once per template
    val typeIds = scala.collection.mutable.Map.empty[Seq[String], Long]
    def typeId(names: Seq[String]): Long = typeIds.getOrElseUpdate(names, {
      val (st2, id) = typeIdOf(st, names); st = st2; id
    })
    def typedSpec(c: Constraint): Spec = specOf(c, c.typeNames.map(typeId))

    def matchOne(s: Spec, fields: Seq[String]) =
      st.view.matchRows(s, fields, limit = 2).headOption

    /** Resolve one constraint subtree recursively. The subtrees this
      * constraint points at resolve first (their ids wire into its
      * spec); then the constraint itself (anchor/unique/key, pointed
      * reuse inside a keyed cluster, or a fresh append); then the
      * links into it. Returns (id, preorder ids of the subtree).
      */
    // ---- unique clusters (graphd-write-check-unique.c) -------------
    // the unique check is CLUSTER-wide: a read built from only the
    // unique-set fields, with subconstraints included when their
    // connection is part of the unique set; EXISTS only when that
    // whole structure matches. A guid~=/guid= on a cluster member
    // excludes the versioned lineage head from the match (unique3).
    def connectionInUnique(parent: Constraint, sub: Constraint): Boolean =
      linkOf(parent, sub) match {
        case Some(ParentPointsToChild(f)) =>
          parent.uniqueFields.exists(_.contains(f))
        case Some(ChildPointsToParent(f)) =>
          sub.uniqueFields.exists(_.contains(f))
        case _ => false
      }
    def clusterDup(c: Constraint, keepLinkage: Boolean): Constraint = {
      val unq = c.uniqueFields.getOrElse(Nil).toSet
      val excl = c.guid.collectFirst {
        case GuidPred(true, serials, _) => serials.flatten.headOption
      }.flatten.map(g => GuidPred(include = false,
        Seq(Some(headFor(st, g, opportunistic = true)))))
      Constraint(
        linkage = if (keepLinkage) c.linkage else None,
        guid = excl.toSeq,
        name = if (unq("name")) c.name else Nil,
        value = if (unq("value")) c.value else Nil,
        comparator = c.comparator,
        typeNames = if (unq("typeguid")) c.typeNames else None,
        datatype =
          if (unq("datatype") || unq("valuetype")) c.datatype else None,
        timestampMin = if (unq("timestamp")) c.timestampMin else None,
        timestampMax = if (unq("timestamp")) c.timestampMax else None,
        linkFields = c.linkFields.filter { case (f, _) => unq(f) },
        subs = c.subs.filter(connectionInUnique(c, _)).map { s =>
          // an anchor child is not a cluster member — it resolves to
          // ONE existing primitive, and the cluster read pins its
          // guid (anchor4: unique=(typeguid) typeguid->(anchor ...))
          if (s.anchorFlag)
            Constraint(linkage = s.linkage,
              guid = Seq(GuidPred(include = true, Seq(Some(anchorIdOf(s))))))
          else clusterDup(s, keepLinkage = true)
        })
    }
    /** EXISTS precheck at a unique-cluster root; parentLink wires the
      * already-resolved parent id into the query (the reference's
      * annotated parent guid, unique6)
      */
    def checkUniqueCluster(c: Constraint,
        parentLink: Option[(String, Long)]): Unit = {
      var q = clusterDup(c, keepLinkage = false)
      parentLink.foreach { case (f, pid) =>
        if (c.uniqueFields.exists(_.contains(f)))
          q = q.copy(linkFields = q.linkFields +
            (f -> (q.linkFields.getOrElse(f, Nil) :+
              GuidPred(include = true, Seq(Some(pid))))))
      }
      if (graft.plan.ReadPlanner.plan(st, q).limit(1).count() > 0)
        throw WriteError("EXISTS", "unique cluster already present")
    }
    def versionPrev(c: Constraint, spec0: Spec): Spec =
      c.guid.collectFirst {
        case GuidPred(true, serials, lineage) =>
          serials.flatten.headOption.map(g => (g, lineage))
      }.flatten match {
        case Some((g, opportunistic)) =>
          spec0.copy(prev = Some(headFor(st, g, opportunistic)))
        case None => spec0
      }

    def rowOf(id: Long): Option[Row] = st.view.currentRowOf(id)

    /** anchor resolution: the anchor READ includes the whole subtree
      * below the anchor (gr-protocol 6.1.12) — `(anchor (<-right
      * value="x"))` must match through its link children (anchor4)
      */
    def anchorIdOf(c: Constraint,
        parentLink: Option[(String, Long)] = None): Long = {
      def strip(x: Constraint): Constraint = x.copy(
        anchorFlag = false, keyFields = None, uniqueFields = None,
        // anchor=local anchors THIS primitive only — subconstraints
        // stay out of the read (anchor3 W2: guid=0 anchor=local with
        // a brand-new link subtree still matches)
        subs = if (x.anchorLocal) Nil else x.subs.map(strip))
      var q = strip(c).copy(linkage = None,
        result = Some(ListPat(Seq(ListPat(Seq(FieldPat("guid")))))))
      // a link child's anchor read is bound to its already-resolved
      // parent (anchor2 W4: only the CURRENT head's link matches)
      parentLink.foreach { case (f, pid) =>
        q = q.copy(linkFields = q.linkFields +
          (f -> (q.linkFields.getOrElse(f, Nil) :+
            GuidPred(include = true, Seq(Some(pid))))))
      }
      val rows = graft.plan.ReadPlanner.plan(st, q).limit(2).collect()
      if (rows.length != 1)
        throw WriteError("EMPTY", "anchor constraint not found")
      rows.head.getLong(0)
    }

    /** does the key CLUSTER rooted at `c` match primitive `bid`? —
      * c's key fields match, and every keyed pointed child connected
      * through a key-covered endpoint matches the row's endpoint
      * recursively (gr-protocol 6.1.10.1: the cluster read matches as
      * a whole or not at all — keyburn2 round 5)
      */
    def keyClusterMatches(c: Constraint, bid: Long): Boolean = {
      val keyFs = c.keyFields.getOrElse(Nil)
      if (keyFs.isEmpty) return false
      val s = typedSpec(c)
      val kids = c.subs.flatMap(sub => linkOf(c, sub) match {
        case Some(ParentPointsToChild(f))
            if keyFs.contains(f) && sub.keyFields.isDefined => Some((f, sub))
        case _ => None
      })
      val unkeyedEndpoints = c.subs.flatMap(sub => linkOf(c, sub) match {
        case Some(ParentPointsToChild(f))
            if keyFs.contains(f) && !sub.keyFields.isDefined => Some(f)
        case _ => None
      }).toSet
      val ok = st.view.matchIsId(s, keyFs,
        kids.map(_._1).toSet ++ unkeyedEndpoints, bid)
      ok && rowOf(bid).exists(r => kids.forall { case (f, sub) =>
        !r.isNullAt(r.fieldIndex(f)) &&
          keyClusterMatches(sub, r.getAs[Long](f))
      })
    }

    def resolve(c: Constraint, parentLink: Option[(String, Long)],
        inCluster: Boolean, parentC: Option[Constraint] = None,
        boundId: Option[Long] = None, forceNew: Boolean = false,
        versionTarget: Option[(Long, Boolean)] = None)
        : (Long, Seq[Long]) = {
      // unique-cluster ROOT: run the whole-cluster EXISTS check before
      // any member (including pointed children) is minted
      if (c.uniqueFields.isDefined && !parentC.exists(p =>
          p.uniqueFields.isDefined && connectionInUnique(p, c)))
        checkUniqueCluster(c, parentLink)
      var spec = typedSpec(c)
      parentLink.foreach { case (f, pid) => spec = withField(spec, f, pid) }
      val pointedIds = scala.collection.mutable.Map.empty[Int, (Long, Seq[Long])]
      // members of a UNIQUE cluster never reuse existing primitives —
      // the cluster precheck said the structure is absent, so every
      // member mints fresh (uniquecluster: `right->()` under
      // unique=(name right) allocates a new node); pointed reuse is
      // key/anchor cluster behavior (doc/gr-protocol.txt:801-807)
      val clusterKeys = c.anchorFlag || c.keyFields.isDefined
      // fields this member is IDENTIFIED by — a pointed endpoint in
      // the identity must resolve before matching (keyburn:
      // key=(value right) needs the right node first); any other
      // pointed endpoint binds STRUCTURALLY from the matched row, or
      // mints fresh when this member is new (trailer: new links under
      // a key-matched root mint fresh "lola" nodes, never reusing the
      // first write's)
      val identity: Seq[String] =
        if (c.anchorFlag) anchorMatchFields(spec)
        else if (c.keyFields.isDefined) c.keyFields.get
        else if (c.uniqueFields.isDefined) c.uniqueFields.get
        else anchorMatchFields(spec)
      val deferred = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Constraint)]
      val clusterKids = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Constraint)]
      c.subs.zipWithIndex.foreach { case (sub, i) =>
        linkOf(c, sub) match {
          case Some(ParentPointsToChild(f)) =>
            // KEYED pointed children behind a key-covered endpoint are
            // cluster members — they bind together with this member or
            // not at all (keyburn2 round 5); other keyed/unique
            // children resolve eagerly as independent clusters; plain
            // pointed children bind STRUCTURALLY below (trailer)
            val clusterMember = c.keyFields.isDefined &&
              c.keyFields.get.contains(f) && sub.keyFields.isDefined
            if (clusterMember && boundId.isEmpty)
              clusterKids += ((i, f, sub))
            else if (boundId.isEmpty && (hasKeys(sub) ||
                c.uniqueFields.isDefined ||
                (identity.contains(f) && !clusterKeys) ||
                !(inCluster || clusterKeys))) {
              val r = resolve(sub, None, inCluster || clusterKeys, Some(c),
                forceNew = forceNew)
              spec = withField(spec, f, r._1)
              pointedIds(i) = r
            } else deferred += ((i, f, sub))
          case _ => ()
        }
      }
      // does the pointed subtree of `sub` match the primitive `bid`?
      // (field-level identity + recursive pointed endpoints — the
      // whole-cluster READ the reference's keyed annotation runs)
      def pointedMatches(sub: Constraint, bid: Long): Boolean =
        rowOf(bid).exists { r =>
          val s = typedSpec(sub)
          st.view.matchIsId(s, anchorMatchFields(s), Set.empty, bid) &&
            sub.subs.forall(ss => linkOf(sub, ss) match {
              case Some(ParentPointsToChild(f2)) =>
                !r.isNullAt(r.fieldIndex(f2)) &&
                  pointedMatches(ss, r.getAs[Long](f2))
              case _ => true // links into it resolve structurally later
            })
        }
      // the row this member binds to, when it exists: candidates match
      // the populated fields, and every deferred pointed subtree must
      // match the candidate's endpoints
      val deferredFields = deferred.map(_._2).toSet
      val matchedRow: Option[Row] = boundId match {
        case Some(bid) => rowOf(bid)
        case None if forceNew => None
        case None =>
          if (c.anchorFlag) rowOf(anchorIdOf(c, parentLink))
          else if (c.keyFields.isDefined)
            // a keyed member matches on its key fields alone —
            // deferred endpoints as presence, keyed cluster kids as a
            // joint all-or-nothing read (keyburn2 rounds 1.2 and 5);
            // key=() has no identity: always insert (keyburn6)
            if (c.keyFields.get.isEmpty) None
            else st.view.findMatchPaged(spec, c.keyFields.get,
                presentOnly = ((deferredFields ++ clusterKids.map(_._2) ++
                  parentLink.map(_._1)) & c.keyFields.get.toSet))(
                r => clusterKids.forall { case (_, f, sub) =>
                  !r.isNullAt(r.fieldIndex(f)) &&
                    keyClusterMatches(sub, r.getAs[Long](f))
                })
          else if (c.uniqueFields.isDefined) None
          else if (inCluster)
            // unkeyed pointed reuse requires the WHOLE requested form
            // (6.1.10.2): every deferred pointed subtree must match
            st.view.findMatchPaged(spec, anchorMatchFields(spec))(
              r => deferred.forall { case (_, f, sub) =>
                !r.isNullAt(r.fieldIndex(f)) &&
                  pointedMatches(sub, r.getAs[Long](f))
              })
          else None
      }
      // keyed cluster kids: bind to the matched row's endpoints, or
      // mint the ENTIRE subtree fresh when the cluster read missed —
      // a cluster member never reuses its individual match (keyburn2
      // 5.3: existing Suki is not picked up, a new pair appears)
      clusterKids.foreach { case (i, f, sub) =>
        val r = matchedRow match {
          case Some(row) =>
            resolve(sub, None, inCluster = true, Some(c),
              boundId = Some(row.getAs[Long](f)))
          case None =>
            resolve(sub, None, inCluster = false, Some(c), forceNew = true)
        }
        spec = withField(spec, f, r._1)
        pointedIds(i) = r
      }
      // structural binding of deferred pointed children: bind when the
      // matched row's endpoint already holds the requested form, else
      // mint the subtree fresh (the parent versions the diff)
      deferred.foreach { case (i, f, sub) =>
        val bound = matchedRow.filter(r => !r.isNullAt(r.fieldIndex(f)))
          .map(_.getAs[Long](f)).filter(pointedMatches(sub, _))
        val r = bound match {
          case Some(bid) =>
            resolve(sub, None, inCluster = true, Some(c), boundId = Some(bid))
          case None =>
            resolve(sub, None, inCluster = false, Some(c))
        }
        spec = withField(spec, f, r._1)
        pointedIds(i) = r
      }
      val selfId: Long =
        if (versionTarget.isDefined && !hasKeys(c)) {
          // guid~= (opportunistic) reuses the head when the requested
          // state already holds (anchor2 W4 answers the existing ids);
          // guid= (pessimistic) ALWAYS writes a new version (anchor3
          // W5 versions even a field-identical template)
          val (target, opportunistic) = versionTarget.get
          val row = rowOf(target).getOrElse(
            throw WriteError("SEMANTICS",
              s"not found: cannot read predecessor record $target"))
          if (opportunistic) {
            val (st2, id, _) = keyedApply(st, spec, row)
            st = st2; id
          } else {
            val (st2, ids) = append(st, Seq(spec.copy(prev = Some(target))))
            st = st2; ids.head
          }
        } else if (boundId.isDefined) boundId.get
        else if (forceNew) {
          val (st2, ids) = append(st, Seq(spec))
          st = st2; ids.head
        } else if (c.anchorFlag)
          matchedRow.map(_.getAs[Long]("id")).getOrElse(
            throw WriteError("EMPTY", "anchor constraint not found"))
        else if (c.uniqueFields.isDefined) {
          // cluster precheck passed — mint fresh, versioning a guid
          // target when the template names one (unique3)
          val (st2, ids) = append(st, Seq(versionPrev(c, spec)))
          st = st2; ids.head
        } else if (c.keyFields.isDefined) {
          matchedRow match {
            case Some(row) =>
              val (st2, id, _) = keyedApply(st, spec, row)
              st = st2; id
            case None =>
              val (st2, ids) = append(st, Seq(spec))
              st = st2; ids.head
          }
        } else if (inCluster) {
          // pointed reuse: an unkeyed member of a keyed/anchored
          // cluster reuses an existing primitive matching all its
          // populated fields (doc/gr-protocol.txt:801-807)
          matchedRow match {
            case Some(row) => row.getAs[Long]("id")
            case None =>
              val (st2, ids) = append(st, Seq(spec))
              st = st2; ids.head
          }
        } else {
          val (st2, ids) = append(st, Seq(spec))
          st = st2; ids.head
        }
      // links INTO a keyed member are not part of its cluster unless
      // they carry their own keys: "the unkeyed constraint is always
      // instantiated — even if both match exactly" (keyburn2 round 3).
      // Anchors differ: an anchor implicitly includes the subtree
      // below it (gr-protocol 6.1.12), so its links keep matching.
      val keyed =
        if (c.anchorFlag) true
        else if (c.keyFields.isDefined) false
        else clusterKeys || inCluster
      val intoIds = c.subs.zipWithIndex.map { case (sub, i) =>
        pointedIds.get(i).map(_._2).getOrElse {
          val f = linkOf(c, sub) match {
            case Some(ChildPointsToParent(x)) => x
            case other => throw WriteError("SYNTAX",
              s"upsert child must relate to its parent (got $other)")
          }
          resolve(sub, Some((f, selfId)), keyed, Some(c))._2
        }
      }
      (selfId, selfId +: intoIds.flatten)
    }

    def hasKeys(c: Constraint): Boolean =
      c.anchorFlag || c.uniqueFields.isDefined || c.keyFields.isDefined

    // the ROOT may be identified by a keyed/anchored child that points
    // at it ("pointed root reuse": the bob-link anchor names the node
    // it hangs off — anchor.sh). Peek those children before deciding
    // the root is fresh.
    val rootHasKeys = hasKeys(template)
    // a root carrying guid=/previous= MUST route through the rootVer
    // block below — the pointed-reuse hint would skip the OUTDATED
    // check and silently discard the root's own versioned fields
    val rootHasGuid =
      (template.guid ++ template.previous).exists(p =>
        p.include && p.serials.flatten.nonEmpty)
    if (!rootHasKeys && !rootHasGuid) {
      val hint = template.subs.flatMap { sub =>
        linkOf(template, sub) match {
          case Some(ChildPointsToParent(f)) if hasKeys(sub) =>
            val spec = typedSpec(sub)
            val fields =
              if (sub.anchorFlag) anchorMatchFields(spec)
              else sub.keyFields.getOrElse(sub.uniqueFields.getOrElse(Nil))
                .filter(_ != f)
            matchOne(spec, fields)
              .filter(r => !r.isNullAt(r.fieldIndex(f)))
              .map(_.getAs[Long](f))
          case _ => None
        }
      }.headOption
      hint match {
        case Some(rootId) =>
          // root exists: resolve the whole tree as a keyed cluster
          // around it
          var spec = typedSpec(template)
          val pointedIds = scala.collection.mutable.Map.empty[Int, Seq[Long]]
          template.subs.zipWithIndex.foreach { case (sub, i) =>
            linkOf(template, sub) match {
              case Some(ParentPointsToChild(f)) =>
                val r = resolve(sub, None, inCluster = true, Some(template))
                pointedIds(i) = r._2
              case _ => ()
            }
          }
          val intoIds = template.subs.zipWithIndex.map { case (sub, i) =>
            pointedIds.get(i).getOrElse {
              val f = linkOf(template, sub) match {
                case Some(ChildPointsToParent(x)) => x
                case other => throw WriteError("SYNTAX",
                  s"upsert child must relate to its parent (got $other)")
              }
              resolve(sub, Some((f, rootId)), inCluster = true,
                Some(template))._2
            }
          }
          return (st, rootId +: intoIds.flatten)
        case None => ()
      }
    }
    // `write (guid=G ...)` / previous=G at an upsert root: the
    // OUTDATED check runs before any cluster resolution (anchor2: a
    // versioned target fails even with resolvable anchor children),
    // and the matched head versions the diff / reuses when identical
    val rootVer: Option[(Long, Boolean)] =
      versionTarget(template).map { case (g, opportunistic) =>
        (headFor(st, g, opportunistic), opportunistic)
      }
    val (_, allIds) = resolve(template, None, inCluster = rootVer.isDefined,
      versionTarget = rootVer)
    (st, allIds)
  }

  /** all populated fields — the anchor match set */
  private def anchorMatchFields(s: Spec): Seq[String] =
    Seq("name" -> s.name.isDefined, "value" -> s.value.isDefined,
      "typeguid" -> s.typeguid.isDefined, "left" -> s.left.isDefined,
      "right" -> s.right.isDefined).collect { case (f, true) => f }

  /** `unique=(fields)`: insert; EXISTS error if a current primitive
    * already matches on those fields.
    */
  def writeUnique(store: GraphStore, spec: Spec, fields: Seq[String])
      : (GraphStore, Long) = {
    if (store.view.matchRows(spec, fields, limit = 1).nonEmpty)
      throw WriteError("EXISTS", s"unique cluster already present")
    val (st, ids) = append(store, Seq(spec))
    (st, ids.head)
  }

  /** `key=(fields)`: upsert — insert if absent; no-op if the matched
    * primitive is identical on all spec fields; else write a new
    * version of it carrying the spec (version-the-diff).
    */
  def writeKeyed(store: GraphStore, spec: Spec, fields: Seq[String])
      : (GraphStore, Long, String) = {
    // key=() declares NO identity fields: nothing can match, so the
    // member always inserts fresh (keyburn6: `node key=()` mints a
    // new node even with matching nodes present)
    if (fields.isEmpty) {
      val (st, ids) = append(store, Seq(spec))
      return (st, ids.head, "inserted")
    }
    // multiple key-equal candidates: the reference's embedded key-read
    // produces ids in index order, so the LOWEST id wins (spacematch
    // golden: two normalized-equal values, the older one is reused)
    val m = store.view.matchRows(spec, fields, limit = 1)
    if (m.isEmpty) {
      val (st, ids) = append(store, Seq(spec))
      (st, ids.head, "inserted")
    } else keyedApply(store, spec, m.head)
  }

  /** apply a keyed write against its matched primitive: no-op when the
    * requested state already holds, else version the diff
    */
  def keyedApply(store: GraphStore, spec: Spec, row: Row)
      : (GraphStore, Long, String) = {
    def g[T](c: String): Option[T] =
      if (row.isNullAt(row.fieldIndex(c))) None
      else Some(row.getAs[T](c))
    // string identity is comparator-normalized: rewriting "A   B"
    // over "A B" is a no-op, not a new version (spacematch golden)
    def norm(v: Option[String]) =
      v.map(graft.functions.GraphdText.sortKey(spec.comparator, _))
    // fields the template leaves out are UNSPECIFIED, not null: a
    // keyed rewrite that only restates the key fields is a no-op
    // even when the existing primitive carries extra fields (octet
    // golden: key=value value="foo" answers the original guid)
    def same[T](specV: Option[T], rowV: Option[T]) =
      specV.isEmpty || specV == rowV
    val identical =
      same(norm(spec.name), norm(g[String]("name"))) &&
        same(norm(spec.value), norm(g[String]("value"))) &&
        same(spec.typeguid, g[Long]("typeguid")) &&
        same(spec.left, g[Long]("left")) && same(spec.right, g[Long]("right")) &&
        (spec.value.isEmpty || row.getAs[Byte]("datatype") == spec.datatype)
    if (identical) (store, row.getAs[Long]("id"), "unchanged")
    else {
      val (st, id) = versionOf(store, row.getAs[Long]("id"), spec,
        opportunistic = true)
      (st, id, "versioned")
    }
  }

  /** `anchor`: the spec must match exactly one current primitive; its
    * id is reused (no write happens).
    */
  def anchor(store: GraphStore, spec: Spec, fields: Seq[String]): Long = {
    val m = store.view.matchRows(spec, fields, limit = 2)
    // zero AND ambiguous matches both answer EMPTY (anchor.sh golden:
    // id="toomany" gets `error EMPTY "anchor constraint not found"`)
    if (m.length != 1) throw WriteError("EMPTY", "anchor constraint not found")
    m.head.getAs[Long]("id")
  }
}
