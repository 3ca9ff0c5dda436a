package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gql._
import graft.gql.Parser.ParseError
import graft.model.{Datatype, GTimestamp, Guid}

/** The parser's keyword table, one text per keyword and bare word: each
  * read parses to exactly the expected `Constraint` (every other field
  * at its default), and each rejected text answers its exact
  * `ParseError` message and position.
  */
class ParserSpec extends AnyFunSuite {

  /** `read (<body>)`; the body starts at offset 6 */
  private def read(body: String): Constraint = Parser.parseRead(s"read ($body)")
  private def error(text: String): ParseError =
    intercept[ParseError](Parser.parseRead(text))

  private val guid7 = Guid.render(7L)
  private def ts(s: String): Long = GTimestamp.parse(s).get

  private val keywordTable: Seq[(String, Constraint)] = Seq(
    "guid=5" -> Constraint(guid = Seq(GuidPred(include = true, Seq(Some(5L))))),
    "guid!=(5 6)" ->
      Constraint(guid = Seq(GuidPred(include = false, Seq(Some(5L), Some(6L))))),
    s"guid~=$guid7" ->
      Constraint(guid = Seq(GuidPred(include = true, Seq(Some(7L)), lineage = true))),
    "left=3" -> Constraint(linkFields =
      Map("left" -> Seq(GuidPred(include = true, Seq(Some(3L)))))),
    "right!=3 right=4" -> Constraint(linkFields = Map("right" -> Seq(
      GuidPred(include = false, Seq(Some(3L))),
      GuidPred(include = true, Seq(Some(4L)))))),
    "typeguid~=3" -> Constraint(linkFields =
      Map("typeguid" -> Seq(GuidPred(include = true, Seq(Some(3L)), lineage = true)))),
    "scope=(null 2)" -> Constraint(linkFields =
      Map("scope" -> Seq(GuidPred(include = true, Seq(None, Some(2L)))))),
    "previous=null" -> Constraint(previous = Seq(GuidPred(include = true, Seq(None)))),
    "next~=4" -> Constraint(next = Seq(GuidPred(include = true, Seq(Some(4L)), lineage = true))),
    "previous!=2" -> Constraint(previous = Seq(GuidPred(include = false, Seq(Some(2L))))),
    "type=\"t\"" -> Constraint(typeNames = Some(Seq("t")), typePreds = Seq(Seq(Some("t")))),
    "type=(\"a\" null) type=\"b\"" -> Constraint(typeNames = Some(Seq("a", "b")),
      typePreds = Seq(Seq(Some("a"), None), Seq(Some("b")))),
    "\"t\"" -> Constraint(typeNames = Some(Seq("t")), typePreds = Seq(Seq(Some("t")))),
    "name=\"n\"" -> Constraint(name = Seq(StrPred(OpEq, Seq(Some("n"))))),
    "name!=(\"a\" null)" -> Constraint(name = Seq(StrPred(OpNe, Seq(Some("a"), None)))),
    "value~=\"x*\"" -> Constraint(value = Seq(StrPred(OpMatch, Seq(Some("x*"))))),
    "value>=\"m\" value<\"q\"" -> Constraint(value = Seq(
      StrPred(OpGe, Seq(Some("m"))), StrPred(OpLt, Seq(Some("q"))))),
    "value<=\"m\" value>\"a\"" -> Constraint(value = Seq(
      StrPred(OpLe, Seq(Some("m"))), StrPred(OpGt, Seq(Some("a"))))),
    "datatype=string" -> Constraint(datatype = Some(Datatype.String)),
    "valuetype=10" -> Constraint(datatype = Some(10.toByte)),
    "live=false" -> Constraint(live = MustBeFalse, setFlags = Set("live")),
    "archival=dontcare live=dontcare" -> Constraint(archival = DontCare,
      live = DontCare, setFlags = Set("archival", "live")),
    "archival=true" -> Constraint(archival = MustBeTrue, setFlags = Set("archival")),
    "anchor=local" -> Constraint(anchorFlag = true, anchorLocal = true),
    "anchor=true" -> Constraint(anchorFlag = true),
    "anchor anchor=false" -> Constraint(),
    "timestamp>=\"2020-01-02\"" ->
      Constraint(timestampMin = Some((ts("2020-01-02"), true))),
    "timestamp<\"2020\"" -> Constraint(timestampMax = Some((ts("2020"), false))),
    "timestamp=\"2020\"" -> Constraint(timestampMin = Some((ts("2020"), true)),
      timestampMax = Some((ts("2020"), true))),
    "newest>=1 newest<=2" ->
      Constraint(newestMin = Some(1L), newestMax = Some(2L), newestTouched = true),
    "newest=3" -> Constraint(newestMin = Some(3L), newestMax = Some(3L), newestTouched = true),
    "newest>1" -> Constraint(newestMin = Some(2L), newestMax = None, newestTouched = true),
    "newest<4 newest>0" ->
      Constraint(newestMin = Some(1L), newestMax = Some(3L), newestTouched = true),
    "oldest=2" -> Constraint(newestMin = None, newestMax = None, oldestEq = Some(2L)),
    "count=3" -> Constraint(count = CountBounds(3L, Some(3L))),
    "count>2 count<5" -> Constraint(count = CountBounds(3L, Some(4L))),
    "count>=0 count<=7" -> Constraint(count = CountBounds(0L, Some(7L))),
    "atleast=2" -> Constraint(count = CountBounds(2L)),
    "unique=(name value)" -> Constraint(uniqueFields = Some(Seq("name", "value"))),
    "key=(value)" -> Constraint(keyFields = Some(Seq("value"))),
    s"asof=$guid7" -> Constraint(asof = Some(6L)),
    "asof=\"12.34\"" -> Constraint(asof = Some(34L)),
    "asof=17" -> Constraint(asof = Some(17L)),
    "asof=\"2020-01-02\"" -> Constraint(asofTs = Some(ts("2020-01-02"))),
    "timeout=3" -> Constraint(timeoutMillis = Some(3000L)),
    "timeout=99999999999999999999" -> Constraint(timeoutMillis = Some(Long.MaxValue)),
    "cost=\"tu=5 tr=9\"" -> Constraint(costLimit = Some("tu=5 tr=9")),
    "dateline>\"123456.10\"" -> Constraint(datelineMin = Some(16L)),
    "dateline>=\"1:ff\"" -> Constraint(datelineMin = Some(254L)),
    "dateline<5" -> Constraint(datelineMax = Some(5L)),
    s"dateline<=$guid7" -> Constraint(datelineMax = Some(8L)),
    "dateline>\"\"" -> Constraint(datelineMin = Some(0L)),
    "pagesize=10" -> Constraint(pagesize = Some(10L)),
    "resultpagesize=5" -> Constraint(pagesize = Some(5L), setFlags = Set("resultpagesize")),
    "start=3" -> Constraint(start = Some(3L)),
    "countlimit=7" -> Constraint(countlimit = Some(7L)),
    "cursor=\"abc\"" -> Constraint(cursorTok = Some("abc")),
    "cursor=null" -> Constraint(),
    "comparator=\"i;octet\"" -> Constraint(comparator = "octet"),
    "comparator=\"i;\"" -> Constraint(comparator = "i"),
    "comparator=numeric" -> Constraint(comparator = "number"),
    "comparator=unspecified" -> Constraint(comparator = "default"),
    "value-comparator=\"case\"" -> Constraint(valueComparator = Some("case-insensitive")),
    "sort-comparator=(\"numeric\" \"i;case-sensitive\")" ->
      Constraint(sortComparators = Seq("number", "octet")),
    "sort=(value -name $v)" -> Constraint(setFlags = Set("sort"), sort = Seq(
      SortKey(FieldPat("value"), ascending = true),
      SortKey(FieldPat("name"), ascending = false),
      SortKey(VarPat("v"), ascending = true))),
    "sort=-timestamp sort-comparator=(numeric)" -> Constraint(setFlags = Set("sort"),
      sort = Seq(SortKey(FieldPat("timestamp"), ascending = false, Some("number"))),
      sortComparators = Seq("number")),
    "sort=()" -> Constraint(setFlags = Set("sort")),
    "result=(guid value)" ->
      Constraint(result = Some(ListPat(Seq(FieldPat("guid"), FieldPat("value"))))),
    "result=(guid contents count none cursor estimate-count iterator estimate)" ->
      Constraint(result = Some(ListPat(Seq(FieldPat("guid"), ContentsPat, CountPat,
        NonePat, CursorPat, EstimateCountPat, IteratorPat, EstimatePat)))),
    "result=(guid (value $x literal=\"q\"))" -> Constraint(result = Some(ListPat(Seq(
      FieldPat("guid"),
      ListPat(Seq(FieldPat("value"), VarPat("x"), LiteralPat("q", atom = true))))))),
    "result=(pick(value name))" ->
      Constraint(result = Some(ListPat(Seq(PickPat(Seq(FieldPat("value"), FieldPat("name"))))))),
    "result=count" -> Constraint(result = Some(CountPat)),
    "result=typeguid" -> Constraint(result = Some(FieldPat("typeguid"))),
    "result=$v" -> Constraint(result = Some(VarPat("v"))),
    "result=literal=\"x\"" -> Constraint(result = Some(LiteralPat("x", atom = true))),
    "$v=value" -> Constraint(assignments = Seq(Assignment("v", FieldPat("value")))),
    "node" -> Constraint(meta = NodeOnly),
    "any" -> Constraint(meta = AnyMeta),
    "optional" -> Constraint(optional = true),
    "false" -> Constraint(isFalse = true),
    "anchor" -> Constraint(anchorFlag = true),
    "->" -> Constraint(meta = ForwardLink),
    "<-" -> Constraint(meta = BackwardLink),
    "<-left" -> Constraint(linkage = Some(ChildPointsToParent("left"))),
    "right-> value=\"x\"" -> Constraint(linkage = Some(ParentPointsToChild("right")),
      value = Seq(StrPred(OpEq, Seq(Some("x"))))),
    "left->null" -> Constraint(linkFields =
      Map("left" -> Seq(GuidPred(include = true, Seq(None))))),
    "<- right=4" -> Constraint(meta = BackwardLink,
      linkFields = Map("right" -> Seq(GuidPred(include = true, Seq(Some(4L))))))
  )

  test("each keyword and bare word parses to its constraint") {
    for ((body, want) <- keywordTable) assert(read(body) == want, body)
  }

  test("keywords and bare words are case-insensitive") {
    assert(read("GUID=5 Node") == read("guid=5 node"))
    assert(read("PageSize=2 Sort=value") == read("pagesize=2 sort=value"))
  }

  test("verbs: a write template takes one type and one value per field") {
    assert(Parser.parseRead("write (\"t\" value=\"v\")") ==
      read("\"t\" value=\"v\""))
    assert(Parser.parseRead("(value=\"v\")") == read("value=\"v\""))
    assert(error("write (type=(\"a\" \"b\"))") ==
      ParseError("multiple values are only allowed in read requests", 7))
    assert(error("write (\"a\" type=\"b\")") ==
      ParseError("SYNTAX: more than one value for \"type\"", 11))
    assert(error("write (\"a\" \"b\")") ==
      ParseError("SYNTAX: more than one value for \"type\"", 0))
    assert(error("write (value=(\"a\" \"b\"))") ==
      ParseError("multiple values are only allowed in read requests", 7))
    // write results may nest deeper than reads
    assert(Parser.parseRead("write (result=(((guid))))").result ==
      Some(ListPat(Seq(ListPat(Seq(ListPat(Seq(FieldPat("guid")))))))))
  }

  test("child clauses: linkage prefixes, inferred linkage and the `<-` forms") {
    val c = read("(<-left value=\"a\") left->(name=\"b\") -> (value=\"c\")")
    assert(c.meta == ForwardLink)
    assert(c.subs.map(_.linkage) == Seq(Some(ChildPointsToParent("left")),
      Some(ParentPointsToChild("left")), Some(ParentPointsToChild("right"))))
    assert(c.subs.map(s => s.value ++ s.name) == Seq(
      Seq(StrPred(OpEq, Seq(Some("a")))), Seq(StrPred(OpEq, Seq(Some("b")))),
      Seq(StrPred(OpEq, Seq(Some("c"))))))
    assert(read("<- (value=\"x\")").subs.map(_.linkage) ==
      Seq(Some(ParentPointsToChild("left"))))
    assert(read("(-> value=\"x\")").subs.map(_.meta) == Seq(ForwardLink))
    assert(error("read ((value=\"x\"))") ==
      ParseError("')': unknown subconstraint linkage", 0))
    assert(error("read (-> right->(value=\"a\") (value=\"b\"))") ==
      ParseError("')': unknown subconstraint linkage", 0))
    assert(error("read (-> <-)") ==
      ParseError("'<-': a meta constraint has already been defined", 0))
    assert(error("read (<- ->)") ==
      ParseError("'->': a meta constraint has already been defined", 9))
  }

  test("or-branches: shaping modifiers and count bindings lift to the carrier") {
    val c = read("value=\"a\" $n=count || value=\"b\" sort=name pagesize=2 result=(guid)")
    assert(c.value == Seq(StrPred(OpEq, Seq(Some("a")))))
    assert(c.sort == Seq(SortKey(FieldPat("name"), ascending = true)))
    assert(c.pagesize == Some(2L) && c.result == Some(ListPat(Seq(FieldPat("guid")))))
    assert(c.assignments == Seq(Assignment("n", CountPat)))
    assert(c.orBranches == Seq(Constraint(value = Seq(StrPred(OpEq, Seq(Some("b")))),
      setFlags = Set("sort"))))
    // a sort-comparator written in one branch applies to the other's sort
    assert(read("sort=value || sort-comparator=(numeric)").sort ==
      Seq(SortKey(FieldPat("value"), ascending = true, Some("number"))))
    assert(read("{ value=\"a\" } | {}").orBranches == Seq(Constraint()))
  }

  test("each rejected text answers its ParseError") {
    val table: Seq[(String, ParseError)] = Seq(
      "read (bogus=1)" -> ParseError("unknown keyword 'bogus'", 6),
      "read (bogus)" -> ParseError("unknown word 'bogus'", 6),
      "read (live=true live=false)" ->
        ParseError("duplicate assignment to \"live\" flag", 16),
      "read (archival=yes)" -> ParseError("bad flag value Some(yes)", 6),
      "read (name~=\"x\")" -> ParseError(
        "'~=': operator can only be used with 'value' constraints", 6),
      "read (name=x)" -> ParseError("SYNTAX: 'x': expected a string or '('", 6),
      "read (value=$v)" -> ParseError("value takes values, not a pattern", 6),
      "read (asof=\"nope\")" -> ParseError("bad asof 'nope'", 6),
      "read (asof=\"1.99999999999999999999\")" ->
        ParseError("SYNTAX: invalid asof \"99999999999999999999\"", 6),
      "read (timeout=\"1s\")" -> ParseError("SYNTAX: bad timeout '1s'", 6),
      "read (timeout=())" -> ParseError("SYNTAX: timeout needs a value", 6),
      "read (dateline>\"zz\")" -> ParseError("SYNTAX: invalid dateline \"zz\"", 6),
      "read (dateline>\"1.fffffffffffffffffff\")" ->
        ParseError("SYNTAX: invalid dateline \"1.fffffffffffffffffff\"", 6),
      "read (dateline=5)" ->
        ParseError("SYNTAX: '=': expected '<' or '>' after dateline", 6),
      "read (result=((guid) (value)))" -> ParseError("SYNTAX: can only have one " +
        "nested list per result list - (x (y)) and ((x y)) work, ((x) (y)) doesn't.", 6),
      "read (result=(((guid))))" ->
        ParseError("result expression nests lists more than two levels deep", 6),
      "read (result=((count)))" -> ParseError("SYNTAX: 'count', 'cursor', " +
        "'estimate', 'estimate-count', 'iterator', or 'timeout' can only appear " +
        "inside at most one set of parentheses", 6),
      "read (result=guid result=value)" -> ParseError("more than one value for result", 18),
      "read (result=bogus)" -> ParseError("unknown result 'bogus'", 6),
      "read (result=(guid bogus))" -> ParseError("unknown result item 'Some(bogus)'", 6),
      "read (result=literal)" -> ParseError("SYNTAX: missing '=' after 'literal'", 20),
      "read (guid=null)" ->
        ParseError("'null': null GUIDs cannot be used in this context", 6),
      "read (guid=xyz)" -> ParseError("bad guid 'xyz' for guid", 6),
      "read (guid<5)" -> ParseError("guid does not support <", 6),
      "read (left>5)" -> ParseError("left does not support >", 6),
      "read (next<5)" -> ParseError("next does not support <", 6),
      "read (type!=\"t\")" -> ParseError("type does not support !=", 6),
      "read (datatype=bogus)" -> ParseError("bad datatype bogus", 6),
      "read (datatype=string valuetype=string)" -> ParseError("more than one valuetype", 22),
      "read (anchor=maybe)" -> ParseError("bad anchor value Some(maybe)", 6),
      "read (timestamp>\"never\")" -> ParseError("bad timestamp 'Some(never)'", 6),
      "read (timestamp!=\"2020\")" -> ParseError("bad timestamp op !=", 6),
      "read (newest!=1)" -> ParseError("newest does not support !=", 6),
      "read (oldest>1)" -> ParseError("oldest does not support >", 6),
      "read (count~=1)" -> ParseError("count does not support ~=", 6),
      "read (pagesize=\"x\")" -> ParseError("expected integer", 6),
      "read (start=())" -> ParseError("SYNTAX: start needs a value", 6),
      "read (cost=\"zz=1\")" ->
        ParseError("SEMANTICS: cannot parse cost string \"zz=1\"", 6),
      "read (cursor=abc)" -> ParseError(
        "SYNTAX: on line 1, column 7: 'abc': expected 'null' or a cursor value", 6),
      "read (cursor=\"a\" cursor=\"b\")" -> ParseError("more than one cursor=...", 17),
      "read (sort-comparator=(a) sort-comparator=(b))" ->
        ParseError("only one sort-comparator clause per constraint", 26),
      "read (sort=(value) sort-comparator=(a b))" ->
        ParseError("more sort comparators than sorts", 0),
      "read (comparator=\";\")" ->
        ParseError("SYNTAX: ';': expected a comparator name", 6),
      "read (value-comparator=\";;\")" ->
        ParseError("SYNTAX: ';;': expected a comparator name", 6),
      "read (sort=(value) sort-comparator=(\";\"))" ->
        ParseError("SYNTAX: ';': expected a comparator name", 19),
      "read (sort=(()))" -> ParseError("SYNTAX: cannot sort by nested lists.", 12),
      "read (sort=(literal=\"q\"))" -> ParseError("cannot sort by \"q\"", 12),
      "read (sort=bogus)" -> ParseError("bad sort key 'bogus'", 11),
      "read (value=\"x\" })" -> ParseError("unmatched '}'", 16),
      "read ({ value=\"x\")" -> ParseError("unbalanced braces in constraint", 17),
      "read (value=\"x\") extra" -> ParseError("trailing tokens TAtom(extra,17)", 17),
      "read (value=\"x\"" -> ParseError("unexpected EOF in constraint", 15),
      "read (value=" -> ParseError("EOF in rhs", 12),
      "read (~>)" -> ParseError("LEXICAL: '~': invalid token", 6),
      "read (result=(unknown))" -> ParseError("unknown result item 'Some(unknown)'", 6),
      "read ($v=bogus)" -> ParseError("unknown pattern 'bogus'", 9),
      "read (value=\"x" -> ParseError("LEXICAL: unterminated string", 12)
    )
    for ((text, want) <- table) assert(error(text) == want, text)
  }

  test("a text nested past the budget answers SYNTAX") {
    assert(error("read " + "(<-left " * 401 + ")" * 401).msg ==
      "SYNTAX: query nests too deeply")
  }
}
