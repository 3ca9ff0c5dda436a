package graft

import graft.gql._

/** The reference's cursor signing: a fresh iterator cursor is
  * `cursor:XXXX:<body>` where XXXX = checksum(constraint signature)
  * XOR checksum(body), both 16-bit rotate-xor sums
  * (graphd/graphd-constraint-cursor.c:238-256, libcm/cm-buffer.c:271).
  * The signature is graphd_constraint_signature with
  * GRAPHD_SIGNATURE_OMIT_CURSOR (graphd/graphd-constraint-signature.c),
  * validated here against the cursor5/sort3 goldens.
  */
object CursorSig {

  /** cm_buffer_checksum_text, 16 bits: xor the byte in, mask, rotate
    * left by one.
    */
  def checksum(s: String): Int = {
    var sum = 0
    var i = 0
    while (i < s.length) {
      sum ^= (s.charAt(i) & 0xff)
      sum &= 0xffff
      sum = ((sum << 1) | ((sum >> 15) & 1)) & 0xffff
      i += 1
    }
    sum
  }

  def check(sig: String, body: String): Int =
    (checksum(sig) ^ checksum(body)) & 0xffff

  /** graphd_constraint_signature port for the constructs the golden
    * sessions exercise. `renderGuid` maps engine ids to the session's
    * wire guids. `resolveType` (when given) replays
    * graphd_read_convert_types: at read/cursor time, string `type=`
    * constraints have already been converted into typeguid guid-sets,
    * which the signature renders under the PDB linkage name "type"
    * (libpdb/pdb-linkage.c:21 linkage_name) alongside the other
    * linkages; unresolvable names drop out of the set.
    */
  /** `asSub`: sign the constraint as a subconstraint — the reference
    * signs child cursors against the child's own constraint, which has
    * a parent and so renders with its linkage parens (cursor6).
    */
  def signature(c: Constraint, renderGuid: Long => String,
      resolveType: Option[String => Option[Long]] = None,
      asSub: Boolean = false): String = {
    val sb = new StringBuilder
    def sep(): Unit = {
      if (sb.nonEmpty && !"(= \t".contains(sb.last)) sb.append(' ')
    }
    def add(s: String): Unit = { sep(); sb.append(s) }

    def patternStr(p: Pattern): String = p match {
      case FieldPat(f) => f
      case CountPat => "count"
      case CursorPat => "cursor"
      case EstimateCountPat => "estimate-count"
      case EstimatePat => "estimate"
      case IteratorPat => "iterator"
      case ContentsPat => "contents"
      case NonePat => "\"\""
      case VarPat(v) => v
      case LiteralPat(s, _) => "\"" + s + "\""
      case ListPat(items) => items.map(patternStr).mkString("(", ", ", ")")
      case PickPat(items) =>
        items.zipWithIndex.map { case (x, i) => patternStr(x) + s"@$i" }
          .mkString("<", ", ", ">")
    }

    def strPred(name: String, p: StrPred, writeValue: Boolean): String = {
      val op = p.op match {
        case OpEq => "="; case OpNe => "!="; case OpLt => "<"
        case OpLe => "<="; case OpGt => ">"; case OpGe => ">="
        case OpMatch => "~="
      }
      if (p.values.isEmpty) s"$name${op}null"
      else if (p.values.length == 1 || !writeValue) {
        p.values.head match {
          // a bare `value=null` parses to an empty constraint queue in
          // the reference (strcon_head == NULL) and signs as "=null"
          case None => s"$name${op}null"
          case Some(v) =>
            if (writeValue) s"$name$op\"$v\"" else s"$name$op\"...\""
        }
      } else {
        s"$name$op(" + p.values.map {
          case None => "null"
          case Some(v) => "\"" + v + "\""
        }.mkString(" ") + ")"
      }
    }

    def guidSet(serials: Seq[Option[Long]]): String = serials match {
      case Seq() => "()"
      case Seq(one) => one.map(renderGuid).getOrElse("null")
      case many =>
        "(" + many.map(_.map(renderGuid).getOrElse("null")).mkString(" ") + ")"
    }

    def guidCon(name: String, preds: Seq[GuidPred]): Unit = {
      // match (~=) first, then include (=), then exclude (!=) —
      // graphd-constraint-signature.c:97-131
      preds.filter(p => p.lineage && p.include)
        .foreach(p => add(s"$name~=" + guidSet(p.serials)))
      preds.find(p => p.include && !p.lineage)
        .foreach(p => add(s"$name=" + guidSet(p.serials)))
      preds.find(p => !p.include)
        .foreach(p => add(s"$name!=" + guidSet(p.serials)))
    }

    def walk(c: Constraint, isRoot: Boolean): Unit = {
      if (!isRoot) {
        sep()
        c.effectiveLinkage match {
          case Some(ParentPointsToChild(f)) => sb.append(s"$f->(")
          case Some(ChildPointsToParent(f)) => sb.append(s"(<-$f")
          case None => sb.append("(")
        }
      }
      // with a type resolver, string types are already guid-sets by
      // signature time (graphd-read.c graphd_read_convert_types) and
      // render with the linkages below
      if (resolveType.isEmpty)
        c.typePreds.foreach(vals =>
          add(strPred("type", StrPred(OpEq, vals), writeValue = true)))
      c.name.foreach(p => add(strPred("name", p, writeValue = true)))
      c.value.foreach(p => add(strPred("value", p, writeValue = false)))
      c.datatype.foreach(dt =>
        add("datatype=" + graft.model.Datatype.name(dt)))
      // archive flag (default DONTCARE), live flag (default TRUE)
      c.archival match {
        case DontCare => ()
        case MustBeTrue => add("archive=true")
        case MustBeFalse => add("archive=false")
      }
      c.live match {
        case MustBeTrue => ()
        case MustBeFalse => add("live=false")
        case DontCare => add("live=*")
      }
      // a subconstraint with no written result signs the NULL-pattern
      // fallback "()" (graphd-constraint-signature.c:244 — a root's
      // unset result is the read-default pattern pointer and skips)
      c.result match {
        case Some(p) => add("result=" + patternStr(p))
        case None if !isRoot => add("result=()")
        case None => ()
      }
      // sort clause after graphd_sort_compile normalization
      // (graphd-sort-compile.c:66-140): `sort=()` → (guid); a list is
      // truncated at its first guid key; a guid-free list gets a
      // trailing guid tiebreak; a single bare guid key stays unwrapped
      if (c.sort.nonEmpty || c.setFlags("sort")) {
        def isGuid(sk: SortKey) = sk.pat == FieldPat("guid")
        def str(sk: SortKey) =
          (if (sk.ascending) "" else "-") + patternStr(sk.pat)
        if (c.sort.length == 1 && isGuid(c.sort.head))
          add("sort=" + str(c.sort.head))
        else {
          val (pre, rest) = c.sort.span(sk => !isGuid(sk))
          val norm = pre ++ rest.headOption.toSeq
          val items =
            if (norm.lastOption.exists(isGuid)) norm
            else norm :+ SortKey(FieldPat("guid"), ascending = true)
          add("sort=" + items.map(str).mkString("(", ", ", ")"))
        }
      }
      c.countlimit.filter(cl => !c.pagesize.contains(cl))
        .foreach(cl => add(s"countlimit=$cl"))
      c.pagesize.foreach(ps => add(
        (if (c.setFlags("resultpagesize")) "resultpagesize" else "pagesize") +
          s"=$ps"))
      c.start.filter(_ != 0).foreach(s0 => add(s"start=$s0"))
      // newest gencon: valid by default (min=max=0 → "newest<=0";
      // cursor5 golden pins this)
      (c.newestMin, c.newestMax) match {
        case (Some(0L), Some(hi)) => add(s"newest<=$hi")
        case (Some(lo), None) => add(s"newest>=$lo")
        case (Some(lo), Some(hi)) if lo == hi => add(s"newest=$lo")
        case (Some(lo), Some(hi)) => add(s"newest~=$lo..$hi")
        case _ => ()
      }
      c.oldestEq.foreach(n => add(s"oldest=$n"))
      guidCon("guid", c.guid)
      guidCon("next", c.next)
      guidCon("previous", c.previous)
      // linkage guid constraints in PDB order with PDB display names
      // (libpdb/pdb-linkage.c:21: "type", "right", "left", "scope");
      // resolved string types merge into the typeguid slot
      val typeGuidsFromNames: Seq[GuidPred] = resolveType.toSeq.flatMap { rt =>
        c.typePreds.map { vals =>
          GuidPred(include = true, serials = vals.collect {
            case None => None
            case Some(n) if rt(n).isDefined => rt(n).map(identity)
          })
        }
      }
      Seq("typeguid" -> "type", "right" -> "right", "left" -> "left",
          "scope" -> "scope").foreach { case (f, shown) =>
        val preds = (if (f == "typeguid") typeGuidsFromNames else Nil) ++
          c.linkFields.getOrElse(f, Nil)
        if (preds.nonEmpty) guidCon(shown, preds)
      }
      if (c.timestampMin.isDefined || c.timestampMax.isDefined) {
        (c.timestampMin, c.timestampMax) match {
          case (None, Some(_)) => add("timestamp<=#...")
          case (Some(_), None) => add("timestamp>=#...")
          case (Some((lo, _)), Some((hi, _))) if lo == hi =>
            add("timestamp=#...")
          case _ => add("timestamp~=#..#")
        }
      }
      // count bounds: nothing when (min=1, no max); optional when
      // (min=0, no max); else count>=lo [count>=lo] (the reference
      // prints lo twice in the bounded case — ported faithfully)
      val b = c.effectiveCount
      if (!(b.min == 1 && b.max.isEmpty)) {
        if (b.min == 0 && b.max.isEmpty) add("optional")
        else {
          add(s"count>=${b.min}")
          if (b.max.isDefined) add(s"count>=${b.min}")
        }
      }
      if (c.datelineMin.isDefined) add("dateline>=#...")
      if (c.datelineMax.isDefined) add("dateline<=#...")
      c.assignments.foreach(a =>
        add("$" + a.variable + "=" + patternStr(a.pat)))
      c.subs.foreach(walk(_, isRoot = false))
      if (!isRoot) sb.append(")")
    }
    walk(c, isRoot = !asSub)
    sb.toString
  }
}
