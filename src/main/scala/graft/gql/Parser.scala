package graft.gql

import graft.model.{Datatype, GTimestamp, Guid}

/** Recursive-descent parser for the read subset of the reference's
  * query language (grammar: libgdp/gdp-parse.c — verb dispatch :222-248,
  * constraint keywords :1980-2047; tour examples
  * doc/a-brief-tour-of-graphd.md:104-183).
  *
  * Accepted shape:
  * {{{
  *   read ( <conjuncts-and-children> )
  *   conjunct   := keyword op rhs | meta | linkage-open
  *   child      := '(' ['<-'field | field'->'] conjuncts ')'
  *   rhs        := string | atom | number | guid | null | '(' rhs* ')'
  * }}}
  */
object Parser {

  final case class ParseError(msg: String, pos: Int)
      extends Exception(s"$msg at $pos")

  // ---------------- lexer ----------------

  sealed trait Tok { def pos: Int }
  final case class TOpen(pos: Int) extends Tok
  final case class TClose(pos: Int) extends Tok
  final case class TStr(s: String, pos: Int) extends Tok
  final case class TAtom(s: String, pos: Int) extends Tok
  final case class TOp(s: String, pos: Int) extends Tok // = != ~= < <= > >=
  final case class TArrowIn(pos: Int) extends Tok  // <-
  final case class TArrowOut(pos: Int) extends Tok // ->
  final case class TVar(name: String, pos: Int) extends Tok
  final case class TOr(pos: Int) extends Tok // ||
  final case class TBrace(open: Boolean, pos: Int) extends Tok // { }
  /** an invalid character; the LEXICAL error fires only when the
    * parser actually reaches it — `write (quack, x)` reports 'quack'
    * as an invalid constraint BEFORE the comma (duck golden)
    */
  final case class TBad(msg: String, pos: Int) extends Tok

  def lex(input: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = input.length
    def isAtomChar(c: Char) =
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.' || c == ':' || c == '*' || c == '^' || c == '$' || c == '#' || c == '/' || c == '+'
    while (i < n) {
      val c = input(i)
      if (c.isWhitespace) i += 1
      // `(: ... :)` comment (gdp-lexer.c): no nesting, runs to the
      // first `:)` (or EOF); elided entirely
      else if (c == '(' && i + 1 < n && input(i + 1) == ':') {
        val end = input.indexOf(":)", i + 2)
        i = if (end < 0) n else end + 2
      }
      else if (c == '(') { out += TOpen(i); i += 1 }
      else if (c == ')') { out += TClose(i); i += 1 }
      else if (c == '{') { out += TBrace(open = true, i); i += 1 }
      else if (c == '}') { out += TBrace(open = false, i); i += 1 }
      else if (c == '"') {
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          input(j) match {
            case '\\' if j + 1 < n =>
              // gdp-lexer.c:122 fix_string: \n is newline; any other
              // escaped char stands for itself
              sb.append(if (input(j + 1) == 'n') '\n' else input(j + 1))
              j += 2
            case '"' => closed = true; j += 1
            case ch => sb.append(ch); j += 1
          }
        }
        if (!closed) throw ParseError("LEXICAL: unterminated string", i)
        out += TStr(sb.toString, i); i = j
      }
      // `||` and single `|` are both disjunction (test/unit/or.sh uses
      // `value="foo"|value="bar"`)
      else if (c == '|' && i + 1 < n && input(i + 1) == '|') { out += TOr(i); i += 2 }
      else if (c == '|') { out += TOr(i); i += 1 }
      else if (c == '<' && i + 1 < n && input(i + 1) == '-') { out += TArrowIn(i); i += 2 }
      else if (c == '-' && i + 1 < n && input(i + 1) == '>') { out += TArrowOut(i); i += 2 }
      else if (c == '~' && i + 1 < n && input(i + 1) == '=') { out += TOp("~=", i); i += 2 }
      else if (c == '!' && i + 1 < n && input(i + 1) == '=') { out += TOp("!=", i); i += 2 }
      else if (c == '<' || c == '>') {
        if (i + 1 < n && input(i + 1) == '=') { out += TOp(s"$c=", i); i += 2 }
        else { out += TOp(c.toString, i); i += 1 }
      }
      else if (c == '=') { out += TOp("=", i); i += 1 }
      else if (c == '$') {
        var j = i + 1
        while (j < n && (input(j).isLetterOrDigit || input(j) == '_')) j += 1
        if (j == i + 1) throw ParseError("bare $", i)
        out += TVar(input.substring(i + 1, j), i); i = j
      }
      else if (isAtomChar(c)) {
        var j = i
        // '-' followed by '>' ends the atom (linkage arrow `left->`)
        while (j < n && isAtomChar(input(j)) &&
          !(input(j) == '-' && j + 1 < n && input(j + 1) == '>')) j += 1
        out += TAtom(input.substring(i, j), i); i = j
      }
      // gdp-lexer.c rejects stray operator characters at the lexical
      // layer (`~>` in link1.sh → "error LEXICAL ... invalid token")
      else { out += TBad(s"'$c': invalid token", i); i += 1 }
    }
    out.result()
  }

  // ---------------- parser ----------------

  def parseRead(input: String): Constraint = new ReadParser(input).parse()

  // right-hand sides: single value or parenthesized list
  private sealed trait Rhs
  private final case class RVal(s: Option[String], atom: Boolean = false) extends Rhs
  private final case class RList(vs: Seq[Option[String]]) extends Rhs
  private final case class RPattern(p: Pattern) extends Rhs

  // value shapes the request modifiers accept, compiled once
  private val Digits = java.util.regex.Pattern.compile("""\d+""")
  private val Odometer = java.util.regex.Pattern.compile("""\d+\.\d+""")
  private val HexOdometer =
    java.util.regex.Pattern.compile("""[\w]+[.:][0-9a-fA-F]+""")

  /** One parse of one text: the token cursor, the verb and the nesting
    * budget. Each clause and each keyword family is its own method:
    * HotSpot never JIT-compiles a method of 8000 bytes or more, and a
    * `match` whose cases each call the ~45-argument `Constraint.copy`
    * gets there quickly (BytecodeSizeSpec holds every method under it).
    */
  private final class ReadParser(input: String) {
    private val toks = lex(input)
    private var k = 0
    def peek: Option[Tok] = if (k < toks.length) Some(toks(k)) else None
    def peek2: Option[Tok] = if (k + 1 < toks.length) Some(toks(k + 1)) else None
    def next(): Tok = { val t = toks(k); k += 1; t }
    def expect[A](pf: PartialFunction[Tok, A], what: String): A = peek match {
      case Some(t) if pf.isDefinedAt(t) => next(); pf(t)
      case Some(t) => throw ParseError(s"expected $what, got $t", t.pos)
      case None => throw ParseError(s"expected $what, got EOF", input.length)
    }

    // optional leading verb (read templates and write templates share
    // the constraint grammar; per-verb restrictions fire at parse like
    // the reference's verb dispatch — libgdp/gdp-parse.c :222-248)
    private val isWrite = peek match {
      case Some(TAtom("read", _)) => next(); false
      case Some(TAtom("write", _)) => next(); true
      case _ => false
    }

    def parse(): Constraint = {
      val root = parseConstraint(None)
      peek match {
        case Some(t) => throw ParseError(s"trailing tokens $t", t.pos)
        case None => root
      }
    }

    /** Linkage inference for bare subconstraints, the reference's
      * set_subcon (libgdp/gdp-parse.c:390-485): a sub passes with (1)
      * explicit linkage or (2) its own `<-`/`->` meta; otherwise (3)
      * the parent's meta marker donates its free endpoint — `-> (x)` ≡
      * `right->(x)`, `<- (x)` ≡ `left->(x)` — but each endpoint only
      * once and only if no attribute/outward sub already claimed it
      * (the linkmap). Anything else is the reference's SEMANTICS
      * "unknown subconstraint linkage" (will8/link1/nodenode goldens).
      */
    def inferSubLinkages(x: Constraint): Constraint = {
      if (x.subs.isEmpty) x
      else {
        val used = scala.collection.mutable.Set.empty[String]
        used ++= x.linkFields.keys
        x.subs.foreach(_.linkage match {
          case Some(ParentPointsToChild(f)) => used += f
          case _ =>
        })
        def fail() =
          throw ParseError("')': unknown subconstraint linkage", 0)
        x.copy(subs = x.subs.map { sub =>
          if (sub.linkage.nonEmpty || sub.meta == ForwardLink ||
              sub.meta == BackwardLink) sub
          else {
            val cand = x.meta match {
              case ForwardLink => "right"
              case BackwardLink => "left"
              case _ => fail()
            }
            if (used(cand)) fail()
            used += cand
            sub.copy(linkage = Some(ParentPointsToChild(cand)))
          }
        })
      }
    }

    // merge positional sort-comparator overrides into the sort keys
    def mergeSortCmp(x: Constraint): Constraint = {
      if (x.sortComparators.isEmpty) return x
      if (x.sort.nonEmpty && x.sortComparators.length > x.sort.length)
        throw ParseError("more sort comparators than sorts", 0)
      x.copy(sort = x.sort.zipWithIndex.map { case (k, i) =>
        if (i < x.sortComparators.length)
          k.copy(comparator = Some(x.sortComparators(i)))
        else k
      })
    }

    // recursion budget: a deeply nested request must answer SYNTAX,
    // not kill the serving thread with a StackOverflowError
    private var nestDepth = 0
    def enterNest(pos: Int): Unit = {
      nestDepth += 1
      if (nestDepth > 400)
        throw ParseError("SYNTAX: query nests too deeply", pos)
    }
    def exitNest(): Unit = nestDepth -= 1

    // An interpreted frame reserves its method's whole operand stack,
    // and a ~45-argument `Constraint` construction or `copy` needs about
    // 50 slots of it. The methods on the recursive descent
    // (parseConstraint0, arrowInClause, atomClause) leave every such
    // call to the one-liners below, so a text nested to the budget
    // answers SYNTAX on a cold parser in a 1 MB thread stack.
    def fresh(linkage: Option[Linkage]): Constraint = Constraint(linkage = linkage)
    def withSub(c: Constraint, sub: Constraint): Constraint =
      c.copy(subs = c.subs :+ sub)
    def withLinkage(c: Constraint, l: Linkage): Constraint =
      c.copy(linkage = Some(l))
    def withMeta(c: Constraint, m: Meta): Constraint = c.copy(meta = m)
    def withAssignment(c: Constraint, a: Assignment): Constraint =
      c.copy(assignments = c.assignments :+ a)
    def withTypeName(c: Constraint, s: String): Constraint =
      c.copy(typeNames = Some(c.typeNames.getOrElse(Nil) :+ s),
        typePreds = c.typePreds :+ Seq(Some(s): Option[String]))
    def withSort(c: Constraint, keys: Seq[SortKey]): Constraint =
      c.copy(sort = c.sort ++ keys, setFlags = c.setFlags + "sort")

    def parseConstraint(linkage: Option[Linkage]): Constraint = {
      enterNest(peek.map(_.pos).getOrElse(0))
      try parseConstraint0(linkage) finally exitNest()
    }
    def parseConstraint0(linkage: Option[Linkage]): Constraint = {
      expect({ case t: TOpen => t }, "'('")
      var c = fresh(linkage)
      var branches = Vector.empty[Constraint] // completed `||` alternatives
      var braceDepth = 0
      var done = false
      while (!done) {
        peek match {
          case None => throw ParseError("unexpected EOF in constraint", input.length)
          case Some(TClose(p)) =>
            if (braceDepth != 0)
              throw ParseError(s"unbalanced braces in constraint", p)
            next(); done = true

          case Some(_: TOpen) => // bare child constraint
            c = withSub(c, parseConstraint(None))

          case Some(TStr(s, _)) =>
            // bare string in a constraint body = type name sugar:
            // `write ("Person" name="x")` (test/unit/version1.sh);
            // writes take at most one (186.sh)
            next()
            if (isWrite && c.typeNames.exists(_.nonEmpty))
              throw ParseError("SYNTAX: more than one value for \"type\"", 0)
            c = withTypeName(c, s)

          case Some(TArrowIn(_)) =>
            next()
            c = arrowInClause(c)

          case Some(TVar(v, _)) => // $var = pattern
            next()
            expect({ case TOp("=", p) => p }, "'='")
            val pat = parsePattern()
            c = withAssignment(c, Assignment(v, pat))

          case Some(TAtom(word, pos)) =>
            next()
            c = atomClause(c, word, pos)

          case Some(TArrowOut(p)) =>
            next()
            if (c.meta != AnyMeta)
              throw ParseError(
                "'->': a meta constraint has already been defined", p)
            c = withMeta(c, ForwardLink)
          // `{ ... }` groups an or-branch's contents (or2/or4 goldens:
          // `(<-left ...) $a=guid || {}`); structurally the branch
          // boundary is `||`, so balanced braces are grouping no-ops —
          // an empty `{}` leaves the branch unconstrained (matches
          // everything). Imbalance is a syntax error at constraint close.
          case Some(TBrace(open, p)) =>
            next()
            if (open) braceDepth += 1
            else {
              braceDepth -= 1
              if (braceDepth < 0) throw ParseError("unmatched '}'", p)
            }
          case Some(TBad(m, p)) => throw ParseError(s"LEXICAL: $m", p)

          case Some(TOr(_)) =>
            next()
            // snapshot with this branch's own sort-comparator merge, so
            // a sort-comparator= written in an earlier segment is not
            // dropped (the reference merges per constraint clause)
            branches :+= inferSubLinkages(mergeSortCmp(c))
            c = fresh(linkage)
          case Some(t) => throw ParseError(s"unexpected $t", t.pos)
        }
      }
      c = inferSubLinkages(mergeSortCmp(c))
      if (branches.isEmpty) c else mergeOrBranches(branches :+ c)
    }

    /** after `<-`: `<-left (...)` / `<-left` linkage, or the
      * standalone meta marker
      */
    def arrowInClause(c: Constraint): Constraint = peek match {
      // `<- right=X` is a generic link with a right= endpoint
      // constraint, NOT linkage <-right (will2: a linkage word
      // directly followed by an operator is a keyword)
      case Some(TAtom(f, _)) if Linkage.fields(f) &&
          !peek2.exists(_.isInstanceOf[TOp]) =>
        next()
        peek match {
          case Some(_: TOpen) =>
            // `( <-left ...)` written inline: treat as child with linkage
            withSub(c, parseConstraint(Some(ChildPointsToParent(f))))
          case _ =>
            // `<-left` as this constraint's own linkage marker
            withLinkage(c, ChildPointsToParent(f))
        }
      case _ =>
        if (c.meta != AnyMeta)
          throw ParseError(
            "'<-': a meta constraint has already been defined", 0)
        withMeta(c, BackwardLink)
    }

    /** after an atom: `L->` linkage, `keyword op rhs`, or a bare word */
    def atomClause(c: Constraint, word: String, pos: Int): Constraint =
      peek match {
        case Some(TArrowOut(_)) if Linkage.fields(word) =>
          next()
          peek match {
            case Some(_: TOpen) =>
              withSub(c, parseConstraint(Some(ParentPointsToChild(word))))
            case Some(TAtom("null", _)) =>
              next()
              addLinkField(c, word, GuidPred(include = true, Seq(None)))
            case _ =>
              // `(left-> value="x")`: linkage prefix written inside
              // the child's own parens, mirroring the `<-left` form
              withLinkage(c, ParentPointsToChild(word))
          }
        case Some(TOp(op, _)) =>
          next()
          if (word.equalsIgnoreCase("sort") && op == "=")
            // the "sort" flag records that sort= was written even
            // when the key list is empty — `sort=()` normalizes
            // to a guid sort (graphd-sort-compile.c:86), which
            // cursor signatures must see (sort3)
            withSort(c, parseSortKeys())
          else
            applyKeyword(c, word, op, parseRhs(), pos)
        case _ =>
          applyBareWord(c, word, pos)
      }

    /** `A || B || C`: the first branch carries the merged shape */
    def mergeOrBranches(all: Vector[Constraint]): Constraint = {
      // shaping modifiers (result/sort/paging) may be written in any
      // branch; they apply to the merged set — last writer wins.
      val shaped = all.reduceLeft { (acc, b) =>
        acc.copy(
          result = b.result.orElse(acc.result),
          sort = if (b.sort.nonEmpty) b.sort else acc.sort,
          sortComparators = if (b.sortComparators.nonEmpty) b.sortComparators
            else acc.sortComparators,
          pagesize = b.pagesize.orElse(acc.pagesize),
          start = b.start.orElse(acc.start))
      }
      // sort= and sort-comparator= may land in different segments of
      // the merged modifier set — re-merge on the combined shape
      val shapedCmp = mergeSortCmp(shaped)
      // $x=count is a per-SET aggregate (counts the whole or-union
      // per parent), not a per-row binding — hoist it to the carrier
      // wherever it was written (cvt: `{...} | {...} $limbs=count`)
      val countAssigns = all.flatMap(_.assignments.filter(_.pat == CountPat))
      val head2 = all.head.copy(assignments =
        all.head.assignments.filterNot(_.pat == CountPat) ++ countAssigns)
      // shaping modifiers were lifted onto the carrier — a branch
      // keeping its own copy would look like an independent result
      // (and trip variable validation on branch-scoped bindings)
      val tail2 = all.tail.map(b =>
        b.copy(assignments = b.assignments.filterNot(_.pat == CountPat),
          result = None, sort = Nil, sortComparators = Nil,
          pagesize = None, start = None))
      head2.copy(
        result = shaped.result, sort = shapedCmp.sort,
        pagesize = shaped.pagesize, start = shaped.start,
        orBranches = tail2)
    }

    /** name=/value= take quoted strings, lists or null — a bare atom
      * is a syntax error (yesno.sh: `name=5`)
      */
    def rejectBareAtom(rhs: Rhs, pos: Int): Unit = rhs match {
      case RVal(Some(v), true) =>
        throw ParseError(s"SYNTAX: '$v': expected a string or '('", pos)
      case _ => ()
    }

    /** single-valued fields take one value in writes (group.sh) */
    def rejectWriteMulti(rhs: Rhs, pos: Int): Unit = rhs match {
      case RList(vs) if isWrite && vs.length > 1 =>
        throw ParseError(
          "multiple values are only allowed in read requests", pos)
      case _ => ()
    }

    def parseRhs(): Rhs = {
      enterNest(peek.map(_.pos).getOrElse(0))
      try parseRhs0() finally exitNest()
    }
    def parseRhs0(): Rhs = peek match {
      case Some(TStr(s, _)) => next(); RVal(Some(s))
      case Some(TAtom("null", _)) => next(); RVal(None)
      case Some(TAtom(a, _)) => next(); RVal(Some(a), atom = true)
      case Some(TVar(v, _)) => next(); RPattern(VarPat(v))
      case Some(_: TOpen) =>
        // could be a value list or a result pattern list; parse as raw
        // tokens then decide: patterns only appear for result=/sort=
        val start = k
        next()
        val vs = Seq.newBuilder[Option[String]]
        var isList = true
        var fin = false
        while (!fin && isList) {
          peek match {
            case Some(_: TClose) => next(); fin = true
            case Some(TStr(s, _)) => next(); vs += Some(s)
            case Some(TAtom("null", _)) => next(); vs += None
            case Some(TAtom(a, _)) => next(); vs += Some(a)
            case _ => isList = false
          }
        }
        if (isList) RList(vs.result())
        else { k = start; RPattern(parsePattern()) }
      case Some(t) => throw ParseError(s"bad rhs $t", t.pos)
      case None => throw ParseError("EOF in rhs", input.length)
    }

    def parsePattern(): Pattern = {
      enterNest(peek.map(_.pos).getOrElse(0))
      try parsePattern0() finally exitNest()
    }
    def parsePattern0(): Pattern = peek match {
      case Some(TStr(s, _)) => next(); LiteralPat(s)
      case Some(TVar(v, _)) => next(); VarPat(v)
      case Some(TAtom(a, pos)) =>
        next()
        a.toLowerCase match {
          case "contents" => ContentsPat
          case "count" => CountPat
          case "cursor" => CursorPat
          case "estimate-count" => EstimateCountPat
          case "iterator" => IteratorPat
          case "estimate" => EstimatePat
          case "none" => NonePat
          case "literal" =>
            if (!peek.exists { case TOp("=", _) => true; case _ => false })
              throw ParseError("SYNTAX: missing '=' after 'literal'",
                peek.map(_.pos).getOrElse(pos))
            next()
            // literal payload may be a string OR a bare atom
            // ($sub=literal=a in varsort.sh); both render unquoted
            val s = expect({ case TStr(s, _) => s; case TAtom(a, _) => a },
              "literal value")
            LiteralPat(s, atom = true)
          case "pick" =>
            expect({ case t: TOpen => t }, "'(' after pick")
            val items = Seq.newBuilder[Pattern]
            while (!peek.exists(_.isInstanceOf[TClose])) items += parsePattern()
            next()
            PickPat(items.result())
          case f if FieldPat.fields(f) => FieldPat(f)
          case other => throw ParseError(s"unknown pattern '$other'", pos)
        }
      case Some(_: TOpen) =>
        next()
        val items = Seq.newBuilder[Pattern]
        while (!peek.exists(_.isInstanceOf[TClose])) items += parsePattern()
        next()
        ListPat(items.result())
      case Some(t) => throw ParseError(s"bad pattern $t", t.pos)
      case None => throw ParseError("EOF in pattern", input.length)
    }

    // comparator alias table (graphd-comparator-*.c cmp_alias):
    // "numeric"→number, "case"→case-insensitive, "case-sensitive"→octet,
    // "unspecified" is the default comparator's twin. Names may carry a
    // locale prefix: "i;octet" → "octet" (test/unit/compare.sh)
    def comparatorName(raw: String, pos: Int): String =
      raw.split(";").lastOption match {
        case None => throw ParseError(s"SYNTAX: '$raw': expected a comparator name", pos)
        case Some("numeric") => "number"
        case Some("case") => "case-insensitive"
        case Some("case-sensitive") => "octet"
        case Some("unspecified") => "default"
        case Some(other) => other
      }

    def rhsVals(r: Rhs, what: String, pos: Int): Seq[Option[String]] = r match {
      case RVal(v, _) => Seq(v)
      case RList(vs) => vs
      case RPattern(_) => throw ParseError(s"$what takes values, not a pattern", pos)
    }

    /** the single value of a SCALAR keyword — an empty list `x=()`
      * answers SYNTAX instead of letting `.head` throw a raw
      * NoSuchElementException out of the parser (list keywords like
      * type=() / guid=() keep their empty-list semantics via rhsVals)
      */
    def rhs1(r: Rhs, what: String, pos: Int): Option[String] =
      rhsVals(r, what, pos).headOption.getOrElse(
        throw ParseError(s"SYNTAX: $what needs a value", pos))

    def rhsGuids(r: Rhs, what: String, pos: Int): Seq[Option[Long]] =
      rhsVals(r, what, pos).map {
        case None => None
        case Some(s) => Guid.serialOf(s) match {
          case Some(g) => Some(g)
          case None => throw ParseError(s"bad guid '$s' for $what", pos)
        }
      }

    def addLinkField(c: Constraint, f: String, p: GuidPred): Constraint =
      c.copy(linkFields = c.linkFields.updated(f, c.linkFields.getOrElse(f, Nil) :+ p))

    def strPred(op: String, vs: Seq[Option[String]], pos: Int): StrPred = {
      val o = op match {
        case "=" => OpEq
        case "!=" => OpNe
        case "<" => OpLt
        case "<=" => OpLe
        case ">" => OpGt
        case ">=" => OpGe
        case "~=" => OpMatch
        case other => throw ParseError(s"bad string op $other", pos)
      }
      StrPred(o, vs)
    }

    def tsBound(op: String, v: Option[String], c: Constraint, pos: Int): Constraint = {
      val micros = v.flatMap(GTimestamp.parse).getOrElse(
        throw ParseError(s"bad timestamp '$v'", pos))
      op match {
        case ">" => c.copy(timestampMin = Some((micros, false)))
        case ">=" => c.copy(timestampMin = Some((micros, true)))
        case "<" => c.copy(timestampMax = Some((micros, false)))
        case "<=" => c.copy(timestampMax = Some((micros, true)))
        case "=" => c.copy(timestampMin = Some((micros, true)),
          timestampMax = Some((micros, true)))
        case other => throw ParseError(s"bad timestamp op $other", pos)
      }
    }

    def longOf(v: Option[String], pos: Int): Long =
      v.flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(throw ParseError("expected integer", pos))

    /** digit-run → Long, answering SYNTAX on overflow instead of
      * letting a raw NumberFormatException escape the parser
      */
    def longOrSyntax(s: String, what: String, pos: Int): Long =
      try s.toLong catch {
        case _: NumberFormatException =>
          throw ParseError(s"""SYNTAX: invalid $what "$s"""", pos)
      }

    /** `word op rhs`, dispatched by keyword family */
    def applyKeyword(c: Constraint, word: String, op: String, rhs: Rhs,
        pos: Int): Constraint = {
      val wl = word.toLowerCase
      wl match {
        case "guid" | "left" | "right" | "typeguid" | "scope" | "previous" | "next" =>
          guidKeyword(c, wl, op, rhs, pos)
        case "type" | "name" | "value" | "datatype" | "valuetype" =>
          fieldKeyword(c, wl, op, rhs, pos)
        case "live" | "archival" | "anchor" => flagKeyword(c, wl, rhs, pos)
        case "timestamp" | "newest" | "oldest" =>
          boundKeyword(c, wl, op, rhs, pos)
        case "count" | "atleast" => countKeyword(c, wl, op, rhs, pos)
        case "unique" | "key" | "timeout" | "cost" =>
          modifierKeyword(c, wl, rhs, pos)
        case "asof" => asofKeyword(c, rhs, pos)
        case "dateline" => datelineKeyword(c, op, rhs, pos)
        case "pagesize" | "resultpagesize" | "start" | "countlimit" | "cursor" |
             "comparator" | "value-comparator" | "sort-comparator" =>
          pagingKeyword(c, wl, rhs, pos)
        case "result" => resultKeyword(c, rhs, pos)
        case other => throw ParseError(s"unknown keyword '$other'", pos)
      }
    }

    /** guid= and the linkage and version-chain fields */
    def guidKeyword(c: Constraint, wl: String, op: String, rhs: Rhs,
        pos: Int): Constraint = {
      val gs = rhsGuids(rhs, wl, pos)
      wl match {
        case "guid" =>
          // a null guid can appear in linkage fields (left=(null 5))
          // but not in the guid constraint itself (nullguid.sh,
          // guidlist4: != too)
          if (gs.contains(None))
            throw ParseError(
              "'null': null GUIDs cannot be used in this context", pos)
          op match {
            case "=" => c.copy(guid = c.guid :+ GuidPred(include = true, gs))
            case "!=" => c.copy(guid = c.guid :+ GuidPred(include = false, gs))
            case "~=" => c.copy(guid = c.guid :+ GuidPred(include = true, gs, lineage = true))
            case o => throw ParseError(s"guid does not support $o", pos)
          }
        case "left" | "right" | "typeguid" | "scope" =>
          op match {
            case "=" => addLinkField(c, wl, GuidPred(include = true, gs))
            case "!=" => addLinkField(c, wl, GuidPred(include = false, gs))
            case "~=" => // any generation of the target (guidlist3)
              addLinkField(c, wl, GuidPred(include = true, gs, lineage = true))
            case o => throw ParseError(s"$wl does not support $o", pos)
          }
        case _ =>
          // previous=/next=: version-chain constraints (guid2); null/()
          // forms are legal everywhere, non-null NEXT is rejected by
          // the write path
          val pred = op match {
            case "=" => GuidPred(include = true, gs)
            case "!=" => GuidPred(include = false, gs)
            case "~=" => GuidPred(include = true, gs, lineage = true)
            case o => throw ParseError(s"$wl does not support $o", pos)
          }
          if (wl == "previous") c.copy(previous = c.previous :+ pred)
          else c.copy(next = c.next :+ pred)
      }
    }

    /** type=, the string fields and datatype */
    def fieldKeyword(c: Constraint, wl: String, op: String, rhs: Rhs,
        pos: Int): Constraint = wl match {
      case "type" =>
        op match {
          case "=" =>
            val vals = rhsVals(rhs, "type", pos)
            if (isWrite && vals.length > 1)
              throw ParseError(
                "multiple values are only allowed in read requests", pos)
            if (isWrite && c.typeNames.exists(_.nonEmpty))
              throw ParseError("SYNTAX: more than one value for \"type\"", pos)
            val names = vals.flatten
            c.copy(typeNames = Some(c.typeNames.getOrElse(Nil) ++ names),
              typePreds = c.typePreds :+ vals)
          case o => throw ParseError(s"type does not support $o", pos)
        }
      case "name" =>
        // `~=` is a value-only operator (cannotmatch.sh)
        if (op == "~=")
          throw ParseError(
            "'~=': operator can only be used with 'value' constraints", pos)
        rejectBareAtom(rhs, pos)
        rejectWriteMulti(rhs, pos)
        c.copy(name = c.name :+ strPred(op, rhsVals(rhs, "name", pos), pos))
      case "value" =>
        rejectBareAtom(rhs, pos)
        rejectWriteMulti(rhs, pos)
        c.copy(value = c.value :+ strPred(op, rhsVals(rhs, "value", pos), pos))
      case _ => // datatype= / valuetype=
        if (c.datatype.isDefined)
          throw ParseError("more than one valuetype", pos)
        val v = rhs1(rhs, wl, pos)
          .getOrElse(throw ParseError("datatype needs a value", pos))
        val dt = Datatype.code(v).getOrElse(throw ParseError(s"bad datatype $v", pos))
        c.copy(datatype = Some(dt))
    }

    /** the live/archival tri-states and the anchor flag */
    def flagKeyword(c: Constraint, wl: String, rhs: Rhs,
        pos: Int): Constraint = wl match {
      case "live" | "archival" =>
        if (c.setFlags(wl))
          throw ParseError(s"""duplicate assignment to "$wl" flag""", pos)
        val v = rhs1(rhs, wl, pos).map(_.toLowerCase)
        val t = v match {
          case Some("true") => MustBeTrue
          case Some("false") => MustBeFalse
          case Some("dontcare") => DontCare
          case other => throw ParseError(s"bad flag value $other", pos)
        }
        val c2 = c.copy(setFlags = c.setFlags + wl)
        if (wl == "live") c2.copy(live = t) else c2.copy(archival = t)
      case _ =>
        // anchor is a flag; `anchor=local` restricts it to the local
        // database — same behavior in a single-db engine (anchor3)
        rhs1(rhs, "anchor", pos).map(_.toLowerCase) match {
          case Some("true") => c.copy(anchorFlag = true)
          case Some("local") =>
            c.copy(anchorFlag = true, anchorLocal = true)
          case Some("false") => c.copy(anchorFlag = false)
          case other => throw ParseError(s"bad anchor value $other", pos)
        }
    }

    /** timestamp and generation bounds */
    def boundKeyword(c: Constraint, wl: String, op: String, rhs: Rhs,
        pos: Int): Constraint = wl match {
      case "timestamp" => tsBound(op, rhs1(rhs, "timestamp", pos), c, pos)
      case "newest" =>
        val v = longOf(rhs1(rhs, "newest", pos), pos)
        val (mn, mx): (Option[Long], Option[Long]) = op match {
          case "=" => (Some(v), Some(v))
          case ">=" => (Some(v), None)
          case "<=" => (Some(0L), Some(v))
          case ">" => (Some(v + 1), None)
          case "<" => (Some(0L), Some(v - 1))
          case o => throw ParseError(s"newest does not support $o", pos)
        }
        // the FIRST newest op replaces the default newest=0 window;
        // later ones INTERSECT — `newest>=1 newest<=2` is 1..2, not
        // whichever op parsed last re-widening the other side
        if (!c.newestTouched)
          c.copy(newestMin = mn, newestMax = mx, newestTouched = true)
        else c.copy(
          newestMin = (c.newestMin ++ mn).reduceOption(_ max _),
          newestMax = (c.newestMax, mx) match {
            case (Some(a), Some(b)) => Some(a min b)
            case (a, b) => a.orElse(b)
          })
      case _ => // oldest=
        val v = longOf(rhs1(rhs, "oldest", pos), pos)
        op match {
          case "=" => c.copy(newestMin = None, newestMax = None, oldestEq = Some(v))
          case o => throw ParseError(s"oldest does not support $o", pos)
        }
    }

    /** count= bounds and atleast= */
    def countKeyword(c: Constraint, wl: String, op: String, rhs: Rhs,
        pos: Int): Constraint = wl match {
      case "count" =>
        val v = longOf(rhs1(rhs, "count", pos), pos)
        op match {
          case "=" => c.copy(count = CountBounds(v, Some(v)))
          case ">=" => c.copy(count = c.count.copy(min = v))
          case "<=" => c.copy(count = c.count.copy(max = Some(v)))
          case ">" => c.copy(count = c.count.copy(min = v + 1))
          case "<" => c.copy(count = c.count.copy(max = Some(v - 1)))
          case o => throw ParseError(s"count does not support $o", pos)
        }
      case _ => // atleast=
        c.copy(count = c.count.copy(min = longOf(rhs1(rhs, "atleast", pos), pos)))
    }

    /** request modifiers: upsert keys and budgets */
    def modifierKeyword(c: Constraint, wl: String, rhs: Rhs,
        pos: Int): Constraint = wl match {
      case "unique" =>
        c.copy(uniqueFields = Some(rhsVals(rhs, "unique", pos).flatten))
      case "key" =>
        c.copy(keyFields = Some(rhsVals(rhs, "key", pos).flatten))
      case "timeout" =>
        // timeout=<seconds> (doc/gr-protocol.txt:182,258): best-effort
        // request kill past the budget — enforced at execution by
        // CostGuard (Spark job-group cancel)
        val v = rhs1(rhs, "timeout", pos)
          .getOrElse(throw ParseError("timeout needs a value", pos))
        if (!Digits.matcher(v).matches())
          throw ParseError(s"SYNTAX: bad timeout '$v'", pos)
        // saturate, never overflow: >19-digit values would throw a
        // raw NumberFormatException out of the parser, and a
        // near-Long-max seconds value times 1000 would wrap NEGATIVE
        // — an "infinite" timeout request killed at t=0
        val seconds = try v.toLong catch {
          case _: NumberFormatException => Long.MaxValue
        }
        val millis =
          if (seconds > Long.MaxValue / 1000L) Long.MaxValue
          else seconds * 1000L
        c.copy(timeoutMillis = Some(millis))
      case _ => // cost=
        // cost="tu=N tr=N ..." (doc/gr-protocol.txt:223-226): request
        // a cost report and optionally budget the request. Unknown
        // keys reject the whole string (graphd_cost_from_string)
        val v = rhs1(rhs, "cost", pos).getOrElse("")
        graft.plan.CostGuard.parseCostLimit(v) match {
          case Left(msg) => throw ParseError(s"SEMANTICS: $msg", pos)
          case Right(_) => c.copy(costLimit = Some(v))
        }
    }

    /** asof=: the snapshot horizon */
    def asofKeyword(c: Constraint, rhs: Rhs, pos: Int): Constraint = {
      // reference forms (doc/gr-protocol.txt:203-221, asof.sh):
      //  - 32-hex guid: EXCLUSIVE dateline horizon ("state before
      //    this id existed" — a dateline names the NEXT id)
      //  - "db.count" odometer: exclusive count
      //  - timestamp: everything written at or before that instant
      //  - bare decimal serial: engine extension, INCLUSIVE
      val v = rhs1(rhs, "asof", pos)
        .getOrElse(throw ParseError("asof needs a value", pos))
      Guid.parse(v) match {
        case Some((_, serial)) => c.copy(asof = Some(serial - 1))
        case None if Odometer.matcher(v).matches() =>
          // the odometer count N = "N primitives exist": with our
          // 1-based dense ids that is the inclusive horizon N
          c.copy(asof = Some(longOrSyntax(
            v.substring(v.lastIndexOf('.') + 1), "asof", pos)))
        case None if Digits.matcher(v).matches() =>
          c.copy(asof = Some(longOrSyntax(v, "asof", pos)))
        case None =>
          GTimestamp.parse(v) match {
            case Some(micros) => c.copy(asofTs = Some(micros))
            case None => throw ParseError(s"bad asof '$v'", pos)
          }
      }
    }

    /** dateline>/<: the incremental-read horizon */
    def datelineKeyword(c: Constraint, op: String, rhs: Rhs,
        pos: Int): Constraint = {
      // dateline >/< "odometer": only primitives written after /
      // before the horizon — the incremental-read predicate
      // (doc/gr-protocol.txt:228-244, graphd/graphd-dateline.c).
      // Accepts a 32-hex guid or an instance.count odometer whose
      // count renders in HEX ("123456.10" = 16 primitives —
      // 033-1.sh) — both classified SYNTAX when malformed.
      val v = rhs1(rhs, "dateline", pos)
        .getOrElse(throw ParseError("SYNTAX: dateline needs a value", pos))
      // all forms resolve to a primitive COUNT horizon ("N exist")
      val ser: Long =
        if (v.isEmpty) 0L // dateline>"": no constraint (dateline-2)
        else if (HexOdometer.matcher(v).matches())
          try java.lang.Long.parseLong(
            v.substring(math.max(v.lastIndexOf('.'), v.lastIndexOf(':')) + 1), 16)
          catch { case _: NumberFormatException =>
            throw ParseError(s"""SYNTAX: invalid dateline "$v"""", pos) }
        else if (Digits.matcher(v).matches())
          longOrSyntax(v, "dateline", pos) // bare id horizon
        else Guid.parse(v) match {
          case Some((_, serial)) => serial & ~(1L << 63)
          case None =>
            throw ParseError(s"""SYNTAX: invalid dateline "$v"""", pos)
        }
      op match {
        case ">" => c.copy(datelineMin = Some(ser))
        case ">=" => c.copy(datelineMin = Some(ser - 1))
        case "<" => c.copy(datelineMax = Some(ser))
        case "<=" => c.copy(datelineMax = Some(ser + 1))
        case o => throw ParseError(
          s"SYNTAX: '$o': expected '<' or '>' after dateline", pos)
      }
    }

    /** paging, the resume cursor and the comparators */
    def pagingKeyword(c: Constraint, wl: String, rhs: Rhs,
        pos: Int): Constraint = wl match {
      case "pagesize" | "resultpagesize" =>
        // both page the result set identically, but the cursor
        // signature renders each under its own keyword
        // (graphd-constraint-signature.c:441-466) — remember which
        // was written
        c.copy(pagesize = Some(longOf(rhs1(rhs, wl, pos), pos)),
          setFlags =
            if (wl == "resultpagesize") c.setFlags + "resultpagesize"
            else c.setFlags)
      case "start" => c.copy(start = Some(longOf(rhs1(rhs, "start", pos), pos)))
      case "countlimit" => c.copy(countlimit = Some(longOf(rhs1(rhs, "countlimit", pos), pos)))
      case "cursor" =>
        // only a quoted string or `null` is a cursor value; a bare
        // atom is a syntax error with line/column (cursor2), and a
        // second cursor= clause is SEMANTICS (cursor5)
        rhs match {
          case RVal(Some(a), true) if a != "null" =>
            throw ParseError(
              s"SYNTAX: on line 1, column ${pos + 1}: '$a': " +
                "expected 'null' or a cursor value", pos)
          case _ => ()
        }
        val v = rhs1(rhs, "cursor", pos)
        if (c.cursorTok.isDefined && v.isDefined)
          throw ParseError("more than one cursor=...", pos)
        c.copy(cursorTok = v)
      case "comparator" =>
        c.copy(comparator =
          comparatorName(rhs1(rhs, wl, pos).getOrElse("default"), pos))
      case "value-comparator" =>
        // value-predicate/-sort override; wins over comparator=
        // regardless of clause order (david_8)
        c.copy(valueComparator =
          Some(comparatorName(rhs1(rhs, wl, pos).getOrElse("default"), pos)))
      case _ =>
        // sort-comparator=: positional comparator overrides for the
        // sort keys; merged when the constraint completes, so
        // sort-comparator= may be written before or after sort=
        // (reference sessions use both)
        if (c.sortComparators.nonEmpty)
          throw ParseError("only one sort-comparator clause per constraint", pos)
        c.copy(sortComparators = rhsVals(rhs, wl, pos).flatten
          .map(comparatorName(_, pos)))
    }

    def checkResultPattern(p: Pattern, depth: Int, pos: Int): Unit = p match {
      case ListPat(items) =>
        if (depth >= 2)
          throw ParseError(
            "result expression nests lists more than two levels deep", pos)
        if (items.count(_.isInstanceOf[ListPat]) > 1)
          throw ParseError("SYNTAX: can only have one nested list per " +
            "result list - (x (y)) and ((x y)) work, ((x) (y)) doesn't.",
            pos)
        items.foreach(checkResultPattern(_, depth + 1, pos))
      // per-SET instructions live at the top level only
      // (countabunch: result=((count cursor)) is a syntax error)
      case CountPat | CursorPat | EstimateCountPat | IteratorPat |
           EstimatePat if depth >= 2 =>
        throw ParseError("SYNTAX: 'count', 'cursor', 'estimate', " +
          "'estimate-count', 'iterator', or 'timeout' can only appear " +
          "inside at most one set of parentheses", pos)
      case _ => ()
    }

    def resultKeyword(c: Constraint, rhs: Rhs, pos: Int): Constraint = {
      if (c.result.isDefined)
        throw ParseError("more than one value for result", pos)
      if (!isWrite) // write results allow deeper nesting (writeresult)
        rhs match { case RPattern(p) => checkResultPattern(p, 0, pos); case _ => () }
      rhs match {
        case RVal(Some("literal"), true) =>
          // result=literal="..." (writeresult.sh)
          if (!peek.exists { case TOp("=", _) => true; case _ => false })
            throw ParseError("SYNTAX: missing '=' after 'literal'",
              peek.map(_.pos).getOrElse(pos))
          next()
          val s = expect({ case TStr(s, _) => s; case TAtom(a, _) => a },
            "literal value")
          c.copy(result = Some(LiteralPat(s, atom = true)))
        case RPattern(p) => c.copy(result = Some(p))
        case RVal(Some(s), _) => c.copy(result = Some(
          if (FieldPat.fields(s)) FieldPat(s)
          else s match {
            case "contents" => ContentsPat
            case "count" => CountPat
            case "none" => NonePat
            case "cursor" => CursorPat
            case "estimate-count" => EstimateCountPat
            case "iterator" => IteratorPat
            case "estimate" => EstimatePat
            case other => throw ParseError(s"unknown result '$other'", pos)
          }))
        case RList(vs) =>
          // list of bare atoms got eagerly consumed as values; re-wrap
          c.copy(result = Some(ListPat(vs.map {
            case Some(s) if FieldPat.fields(s) => FieldPat(s)
            case Some("contents") => ContentsPat
            case Some("count") => CountPat
            case Some("none") => NonePat
            case Some("cursor") => CursorPat
            case Some("estimate-count") => EstimateCountPat
            case Some("iterator") => IteratorPat
            case Some("estimate") => EstimatePat
            case other => throw ParseError(s"unknown result item '$other'", pos)
          })))
        case _ => throw ParseError("bad result pattern", pos)
      }
    }

    // sort=(value -name $v -$w) — `-X` descends; `-$v` lexes as
    // atom "-" followed by a var token, so parse keys token-wise
    // (libgdp/gdp-parse.c:2031, graphd/graphd-sort-compile.c).
    def parseSortKeys(): Seq[SortKey] = peek match {
      case Some(_: TOpen) =>
        next()
        val keys = Seq.newBuilder[SortKey]
        while (!peek.exists(_.isInstanceOf[TClose])) keys += parseOneSortKey()
        next()
        keys.result()
      case _ => Seq(parseOneSortKey())
    }

    def parseOneSortKey(): SortKey = peek match {
      case Some(TAtom("-", _)) =>
        next()
        parseOneSortKey().copy(ascending = false)
      case Some(TVar(v, _)) => next(); SortKey(VarPat(v), ascending = true)
      case Some(TAtom("literal", p)) =>
        // sort=(literal="foo") — a constant is not a sort key (sort20)
        next()
        peek match {
          case Some(TOp("=", _)) =>
            next()
            val s = peek match {
              case Some(TStr(v, _)) => next(); v
              case Some(TAtom(v, _)) => next(); v
              case _ => ""
            }
            throw ParseError(s"""cannot sort by \"$s\"""", p)
          case _ => throw ParseError("bad sort key 'literal'", p)
        }
      case Some(TAtom(s, p)) => next(); sortKeyOf(s, p)
      case Some(TStr(s, p)) => next(); sortKeyOf(s, p)
      case Some(TOpen(p)) =>
        // a nested list in sort-key position (sort=(()) / a bare
        // sort=() consumed the outer list already)
        throw ParseError("SYNTAX: cannot sort by nested lists.", p)
      case t => throw ParseError(s"bad sort key $t", t.map(_.pos).getOrElse(0))
    }

    def sortKeyOf(s: String, pos: Int): SortKey = {
      val (asc, f) = if (s.startsWith("-")) (false, s.drop(1)) else (true, s)
      if (FieldPat.fields(f)) SortKey(FieldPat(f), asc)
      else if (f == "contents") SortKey(ContentsPat, asc) // sort9
      else if (f.startsWith("$")) SortKey(VarPat(f.drop(1)), asc)
      else throw ParseError(s"bad sort key '$s'", pos)
    }

    def applyBareWord(c: Constraint, word: String, pos: Int): Constraint =
      word.toLowerCase match {
        case "node" => c.copy(meta = NodeOnly)
        case "any" => c.copy(meta = AnyMeta)
        case "optional" => c.copy(optional = true)
        case "false" => c.copy(isFalse = true)
        case "anchor" => c.copy(anchorFlag = true)
        case other => throw ParseError(s"unknown word '$other'", pos)
      }
  }
}
