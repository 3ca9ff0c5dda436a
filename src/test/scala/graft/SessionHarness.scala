package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.gql._
import graft.model.{Datatype, GTimestamp}
import graft.plan.ReadPlanner
import graft.store.GraphStore
import graft.write.Writer

/** Replays a reference golden session (test/unit sessions) against the
  * engine and renders responses in the reference's wire form: the same
  * guid database id, the same test-mode timestamps (0.0000Z + 100µs
  * per write), the reference's default read pattern
  * (graphd/graphd-pattern.c:38-59) and nested write results
  * (doc/gr-protocol.txt:881). Output lines byte-compare against the
  * session's .out.exp — except that responses to UNSORTED reads
  * compare as tuple multisets, because the reference's production
  * order there is an iterator artifact (value-index bin order), not a
  * semantic guarantee.
  */
object SessionHarness {

  // the reference test databases all carry this id (rungraphd -ty)
  private val RefDb = "0000001240003456"
  private val SerialBase = 0x8000000000000000L

  def refGuid(id: Long): String =
    RefDb + f"${SerialBase + id - 1}%016x"

  /** pdb_database_name_to_id (libpdb/pdb-set-database-name.c): base-38
    * over [a-z0-9-] (7 chars max, lowercased, others map to '-'), then
    * an 0xFF byte injected above the low 16 bits; rendered into the
    * v5 guid layout host(8)+"4000"+low16(4) (dbname golden:
    * "METAWEB" → 087ed8ff40000d61)
    */
  def dbPrefixOfName(name: String): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789-"
    var id = 0L
    name.take(7).foreach { c0 =>
      val c = if (c0 < 0x80 && c0.isLetterOrDigit) c0.toLower else '-'
      id = id * 38 + alphabet.indexOf(c)
    }
    val db = ((id & ~0xFFFFL) << 8) | (0xFFL << 16) | (id & 0xFFFFL)
    f"${db >>> 16}%08x4000${db & 0xFFFFL}%04x"
  }

  /** Marker commands parseScript emits for shell-level effects the
    * replay must reproduce: `echo` output lines and mid-script fresh
    * databases (`rm -rf $D` between rungraphd invocations).
    */
  val EchoMark = "#ECHO# "
  val ResetMark = "#RESET#"
  /** server (re)start: runtime properties reset; payload = the
    * block's `-I <instance-id>` flag or conf-file instance-id
    */
  val ConfMark = "#CONF# "
  /** responses of commands between QuietOn/QuietOff are swallowed —
    * `rungraphd ... < x.in > /dev/null` (david_4)
    */
  val QuietOn = "#QUIET-ON#"
  val QuietOff = "#QUIET-OFF#"

  /** commands of one session: heredoc body lines (`<<-EOF`, `<< EOF`,
    * quoted or not) or a redirected `.in` file, parens-balanced.
    * An UNQUOTED heredoc marker gets the shell's backslash processing:
    * `\\` collapses to `\` (so the wire sees single escapes —
    * substring.sh); a quoted marker (<<-'EOF') passes text through
    * verbatim. Top-level `echo` lines become EchoMark commands (their
    * output interleaves with responses in the goldens); an `rm -rf $D`
    * between server invocations becomes a ResetMark (fresh db).
    */
  def parseScript(sh: String,
      dir: String = "/root/reference/test/unit"): Seq[String] = {
    val lines = sh.linesIterator.toSeq
    val body = scala.collection.mutable.ArrayBuffer.empty[String]
    var in = false
    var quoted = false
    var endMark = "EOF"
    var sawBlock = false
    var pendingReset = false
    // any heredoc marker works (david_4 uses <<END)
    val heredoc = """<<-?\s*'?([A-Za-z_]\w*)'?\s*$""".r
    def beginBlock(launch: String): Unit = {
      if (pendingReset && sawBlock) body += ResetMark
      pendingReset = false; sawBlock = true
      // a server (re)start resets runtime properties; its -I flag (or
      // a conf file's `instance-id <v>` line) seeds the instance id
      var iid = """-I\s*(\S+)""".r.findFirstMatchIn(launch).map(_.group(1))
      var dbName: Option[String] = None
      """-f\s*(\S+\.conf)""".r.findFirstMatchIn(launch).foreach { m =>
        val f = new java.io.File(dir, m.group(1).stripPrefix("./"))
        if (f.exists()) {
          val src = scala.io.Source.fromFile(f)(scala.io.Codec.ISO8859)
          try {
            val ls = src.getLines().map(_.trim).toSeq
            if (iid.isEmpty) iid = ls.collectFirst {
              case l if l.startsWith("instance-id") =>
                l.stripPrefix("instance-id").trim.stripPrefix("\"")
                  .stripSuffix("\"")
            }
            // database { id "NAME" }: the id names the guid database
            // prefix (dbname.sh; pdb-set-database-name.c)
            dbName = ls.collectFirst {
              case l if l.matches("""id\s+".*"""") =>
                l.stripPrefix("id").trim.stripPrefix("\"").stripSuffix("\"")
            }
          } finally src.close()
        }
      }
      body += ConfMark + iid.getOrElse("") + dbName.map("\t" + _).getOrElse("")
    }
    // minimal shell simulation: VAR=value assignments, `echo ... >> $F`
    // appends into virtual files, and countdown `while ( let "$V" ) do
    // ... done` loops (david_1/david_2 generate their inputs this way)
    val shellVars = scala.collection.mutable.Map.empty[String, String]
    val fileBufs = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    def expand(s: String): String =
      """\$\{?([A-Za-z_]\w*)\}?""".r.replaceAllIn(s, m =>
        scala.util.matching.Regex.quoteReplacement(
          shellVars.getOrElse(m.group(1), m.matched)))
    val assignRe = """^([A-Za-z_]\w*)=("?)([^"]*)\2\s*$""".r
    val echoAppendRe = """^echo\s+(-n\s+)?'(.*)'\s*>>?\s*(\S+)\s*$""".r
    val whileRe = """^while\s*\(\s*let\s+"\$(\w+)"\s*\)\s*do\s*$""".r
    val letRe = """^\s*let\s+"(\w+)=\$(\w+)-(\d+)"\s*$""".r
    var inWhile: Option[String] = None
    val whileBody = scala.collection.mutable.ArrayBuffer.empty[String]
    def runWhile(v: String): Unit = {
      var guard = 0
      while (shellVars.get(v).flatMap(_.toLongOption).exists(_ != 0L) &&
          guard < 1000000) {
        guard += 1
        whileBody.foreach { bl =>
          bl.trim match {
            case echoAppendRe(_, text, target) =>
              val f = expand(target)
              // '...'$V'...' shell concatenation: the quotes delimit
              // segments, the payload is their concatenation
              fileBufs.getOrElseUpdate(f,
                scala.collection.mutable.ArrayBuffer.empty) +=
                expand(text.replace("'", ""))
            case letRe(dst, src, dec) =>
              shellVars(dst) =
                (shellVars.getOrElse(src, "0").toLong - dec.toLong).toString
            case _ => ()
          }
        }
      }
    }
    for (l <- lines) {
      val t = l.trim
      if (in) {
        if (t == endMark) in = false
        else body +=
          (if (quoted) t
           else t.replace("\\\\", "\u0000").replace("\\$", "$")
             .replace("\\`", "`").replace("\u0000", "\\"))
      } else if (inWhile.isDefined) {
        if (t == "done") { runWhile(inWhile.get); inWhile = None; whileBody.clear() }
        else whileBody += t
      } else if (whileRe.findFirstMatchIn(t).isDefined) {
        inWhile = Some(whileRe.findFirstMatchIn(t).get.group(1))
      } else if (assignRe.findFirstMatchIn(t).isDefined &&
          !t.startsWith("B=") && !t.startsWith("D=") &&
          !t.startsWith("GFLAGS")) {
        val m = assignRe.findFirstMatchIn(t).get
        shellVars(m.group(1)) = m.group(3)
      } else if (echoAppendRe.findFirstMatchIn(t).isDefined &&
          t.contains(">")) {
        val m = echoAppendRe.findFirstMatchIn(t).get
        val f = expand(m.group(3))
        val buf = fileBufs.getOrElseUpdate(f,
          scala.collection.mutable.ArrayBuffer.empty)
        if (!t.contains(">>")) buf.clear()
        if (m.group(2).nonEmpty) buf += expand(m.group(2))
      } else if (l.contains("<<") && heredoc.findFirstMatchIn(l).isDefined) {
        beginBlock(t)
        val m = heredoc.findFirstMatchIn(l).get
        endMark = m.group(1)
        in = true; quoted = l.contains("'" + endMark + "'")
      } else if (t.matches("""rm\s+-rf?\s+.*\$\{?D\}?.*""")) {
        pendingReset = true
      } else if (t.contains("rungraphd") && !t.contains("<<") &&
          """<\s*(\S+)""".r.findFirstMatchIn(t).isDefined) {
        beginBlock(t)
        val silent = t.matches(""".*>\s*/dev/null.*""")
        if (silent) body += QuietOn
        val f = expand("""<\s*(\S+)""".r.findFirstMatchIn(t).get.group(1))
        fileBufs.get(f) match {
          case Some(buf) => body ++= buf
          case None =>
            val file = new java.io.File(dir, f)
            if (file.exists()) {
              val src = scala.io.Source.fromFile(file)(scala.io.Codec.ISO8859)
              try body ++= src.getLines() finally src.close()
            }
        }
        if (silent) body += QuietOff
      } else if (t.startsWith("echo ") && !t.contains(">")) {
        // shell quoting: echo 'Round 1' prints Round 1 (keyburn2)
        val e0 = t.stripPrefix("echo ").trim
        val e =
          if (e0.length >= 2 &&
              ((e0.head == '\'' && e0.last == '\'') ||
               (e0.head == '"' && e0.last == '"'))) e0.substring(1, e0.length - 1)
          else e0
        body += EchoMark + e
      }
    }
    // join continuation lines until parens balance outside strings;
    // `(:...:)` comments are elided from the balance (they may contain
    // parens and quotes — comments.sh)
    val cmds = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = new StringBuilder
    def balanced(s: String): Boolean = {
      var depth = 0; var inStr = false; var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\\' if inStr => i += 1
          case '"' => inStr = !inStr
          case '(' if !inStr && i + 1 < s.length && s.charAt(i + 1) == ':' =>
            val end = s.indexOf(":)", i + 2)
            i = if (end < 0) s.length else end + 1
          case '(' if !inStr => depth += 1
          case ')' if !inStr => depth -= 1
          case _ =>
        }
        i += 1
      }
      depth <= 0 && !inStr
    }
    def inOpenString(s: String): Boolean = {
      var inStr = false; var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\\' if inStr => i += 1
          case '"' => inStr = !inStr
          case _ =>
        }
        i += 1
      }
      inStr
    }
    // a LEXICAL failure detected mid-request resynchronizes one line
    // late: the reference's input buffer has already pulled the next
    // line when the error fires, and it is discarded with the broken
    // request (nonsense.in: the `bc: 87 bytes` line answers nothing)
    var lexClosePending = false
    for (l <- body if l.nonEmpty) {
      if (lexClosePending) {
        lexClosePending = false
        cur.append(" " + l)
        cmds += cur.toString; cur = new StringBuilder
      } else
      if (l.startsWith(EchoMark) || l.startsWith(ConfMark) ||
          l == ResetMark || l == QuietOn || l == QuietOff) { // markers stand alone
        if (cur.nonEmpty) { cmds += cur.toString; cur = new StringBuilder }
        cmds += l
      } else {
        // a fresh verb line closes a dangling request IF what has
        // accumulated is already a hard parse error — the reference
        // resynchronizes after failures but keeps joining an
        // incomplete-but-valid prefix (micro.sh R02 vs R21)
        val verbLine =
          """^(read|write|restore|dump|status|set|sync)\b.*""".r
        def hardBroken(s: String): Boolean = {
          val (_, mods, body) = splitModifiers(s)
          if (mods.exists { case (n, v) =>
                n == "loglevel" && v.contains(' ') }) return true
          try { graft.gql.Parser.parseRead(body); false }
          catch {
            case e: graft.gql.Parser.ParseError =>
              !e.getMessage.contains("EOF")
            case _: Throwable => false
          }
        }
        if (cur.nonEmpty && !balanced(cur.toString) &&
            verbLine.pattern.matcher(l.trim).matches() &&
            hardBroken(cur.toString)) {
          cmds += cur.toString; cur = new StringBuilder
        }
        cur.append(if (cur.isEmpty) l else " " + l)
        // an unknown request verb fails at its first token and the
        // server resyncs at end-of-line — each garbage line is its own
        // request regardless of paren balance (nonsense.in log replay)
        val firstWord = cur.toString.dropWhile(_.isWhitespace)
          .takeWhile(c => c.isLetterOrDigit || c == '-' || c == '_')
        val knownVerb = Seq("read", "write", "restore", "dump", "status",
          "set", "sync", "iterate", "smash", "crash", "replica", "verify")
          .contains(firstWord.toLowerCase)
        if (!knownVerb && cur.nonEmpty) {
          cmds += cur.toString; cur = new StringBuilder
        }

        // strings do NOT span lines: an open quote terminates the
        // request at end-of-line with a LEXICAL error and the next
        // line begins a new request (newline.sh)
        else if (inOpenString(cur.toString) || balanced(cur.toString)) {
          cmds += cur.toString; cur = new StringBuilder
        }
        // a LEXICAL failure (invalid token) resynchronizes at
        // end-of-line no matter what follows — nonsense.in: an
        // unterminated `write (...` whose body hits a stray ','
        // must not swallow the rest of the log. SEMANTICS-broken
        // prefixes keep joining until balance or a fresh verb line
        // (micro.sh R03/R14/R17 vs R13/R19).
        else if ({
          try { graft.gql.Parser.parseRead(splitModifiers(cur.toString)._3); false }
          catch {
            case e: graft.gql.Parser.ParseError =>
              e.getMessage.contains("invalid token")
            case _: Throwable => false
          }
        }) {
          lexClosePending = true
        }
      }
    }
    if (cur.nonEmpty) cmds += cur.toString
    cmds.toSeq
  }

  /** reference guid literals → this engine's decimal ids. `lookup`
    * resolves guids from a non-default id space (restored primitives,
    * post-restore server writes); the arithmetic fallback covers the
    * common session with no restores, where id == serial + 1.
    */
  private def translateGuids(cmd: String,
      lookup: String => Option[Long]): String = {
    // cursor="..." values are OPAQUE WIRE PAYLOAD, not guid references:
    // a frozen composite (colors3's fixed-isa) embeds raw 32-hex guids
    // whose bytes participate in the token's checksum — translating
    // them would both corrupt the checksum and desync re-freeze
    // emission. Mask the spans, translate the rest, restore.
    val cursorRe = """(?i)cursor\s*=\s*"[^"]*"""".r
    val stash = scala.collection.mutable.ArrayBuffer.empty[String]
    val masked = cursorRe.replaceAllIn(cmd, m => {
      stash += m.matched
      java.util.regex.Matcher.quoteReplacement(
        "\u0001CUR" + (stash.length - 1) + "\u0001")
    })
    val translated = translateGuidRefs(masked, lookup)
    stash.zipWithIndex.foldLeft(translated) { case (s, (orig, i)) =>
      s.replace("\u0001CUR" + i + "\u0001", orig)
    }
  }

  private def translateGuidRefs(cmd: String,
      lookup: String => Option[Long]): String =
    // (?<!g): guids inside sort-cursor strings ride as `g<hex>`
    // serialized values (sortcursor) — wire payload, not references
    "(?<!g)[0-9a-fA-F]{32}".r.replaceAllIn(cmd, m => {
      val hex = m.matched.toLowerCase // guid hex is case-insensitive (trailer2)
      lookup(hex) match {
        case Some(id) => id.toString
        case None if hex.startsWith(RefDb) =>
          (java.lang.Long.parseUnsignedLong(hex.substring(16), 16) -
            SerialBase + 1).toString
        case None => hex
      }
    })

  /** split `read id="a" asof="x" (...)` into (verb, echoed modifiers,
    * rewritten command with the remaining modifiers folded into the
    * constraint body). `id` and `dateline` are extracted (they echo in
    * the response rather than constrain); everything else stays.
    */
  private def splitModifiers(cmd0: String): (String, Seq[(String, String)], String) = {
    val cmd = cmd0.trim
    // request names are case-insensitive (random2: rEsTORe)
    val verb = cmd.takeWhile(c => !c.isWhitespace && c != '(').toLowerCase
    // scan `name=value` modifiers from the front; values may be quoted
    // strings (count2: id="()"), parenthesized groups (random1:
    // loglevel=(fatal)) or bare words — the constraint starts at the
    // first '(' that is NOT a modifier value
    val modRe =
      """\G\s*([-\w]+)\s*=\s*("[^"]*"|\([^()"]*\)|\([^)"]*|[^\s()]+)""".r
    var at = verb.length
    val mods = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var more = true
    while (more) {
      modRe.findPrefixMatchOf(cmd.subSequence(at, cmd.length)) match {
        case Some(m) =>
          mods += ((m.group(1).toLowerCase, m.group(2)))
          at += m.end
        case None => more = false
      }
    }
    val open = cmd.indexOf('(', at)
    // extracted: echo in the response / handled by the harness;
    // dropped: accepted but semantically inert here (logging)
    val extract = Set("id", "dateline", "cost", "loglevel")
    val drop = Set("timeout", "heatmap")
    val extracted = mods.collect {
      case (n, v) if extract(n) =>
        n -> v.stripPrefix("\"").stripSuffix("\"")
    }.toSeq
    val keep = mods.collect {
      case (n, v) if !extract(n) && !drop(n) => s"$n=$v"
    }
    val rest = if (open < 0) "()" else cmd.substring(open + 1)
    (verb, extracted,
      verb + " (" + keep.mkString(" ") + (if (keep.nonEmpty) " " else "") + rest)
  }

  /** dateline request-modifier validation (graph-dateline.c forms):
    * "" and guid/odometer forms are valid only when the server has no
    * instance-id; an `instance,guid` dateline must name THIS server's
    * instance (instance-id.sh); anything else SYNTAX. Returns the
    * error code, None = valid.
    */
  private def datelineError(v: String, instanceId: String): Option[String] = {
    // guid literals may already be translated to decimal engine ids
    def guidish(s: String): Boolean =
      s.matches("[0-9a-fA-F]{32}") || s.matches("""\d+(\.\d+)?""")
    if (v.isEmpty) None
    else if (v.contains(',')) {
      val (inst, rest) = v.splitAt(v.lastIndexOf(','))
      if (inst == instanceId && guidish(rest.drop(1))) None
      else Some("DATELINE")
    }
    else if (guidish(v))
      (if (instanceId.isEmpty) None else Some("DATELINE"))
    else Some("SYNTAX")
  }

  /** `set (cost="...")` parser (graphd-cost.c graphd_cost_from_string
    * via graphd_cost_to_address): only the runtime-addressable keys
    * parse — fm/mm/ft/mt are config-file-only and reject the whole
    * string (cost1.sh). Returns the canonical rendering in
    * graphd_cost_limit_to_string's member order.
    */
  private val CostKeys = Seq("tr", "ts", "tu", "te", "pr", "pf", "va",
    "dr", "dw", "iw", "ir", "in")
  private def parseCostLimit(s: String): String = {
    val set = scala.collection.mutable.Map.empty[String, String]
    s.split("""\s+""").filter(_.nonEmpty).foreach { tok =>
      tok.split("=", 2) match {
        case Array(k, v) if CostKeys.contains(k.toLowerCase) &&
            v.matches("""\d+""") => set(k.toLowerCase) = v
        case _ =>
          throw Writer.WriteError("SEMANTICS",
            s"""cannot parse cost string \"$s\"""")
      }
    }
    CostKeys.collect { case k if set.contains(k) => s"$k=${set(k)}" }
      .mkString(" ")
  }

  /** the reference's default read pattern (graphd-pattern.c:38-59):
    * ((meta guid type name datatype value scope live archival timestamp
    *   right left contents)) — meta/right/left render for LINK rows
    * only, contents only when the constraint has subconstraints.
    * Injected recursively into every constraint that lacks result=.
    */
  private val RefDefaultFields = Seq(
    "meta", "guid", "type", "name", "datatype", "value", "scope",
    "live", "archival", "timestamp", "right", "left")

  /** tracks the ListPats this harness injected (identity — the drop
    * rule for meta/right/left applies only to the injected default,
    * never to an explicit result= that happens to spell the same
    * fields, which the reference renders unconditionally)
    */
  private final class Injected {
    val marks = new java.util.IdentityHashMap[Pattern, java.lang.Boolean]()
    def inject(c: Constraint): Constraint = inject(c, rendered = true)

    private def usesContentsPat(c: Constraint, res: Option[Pattern]): Boolean = {
      def rec(p: Pattern): Boolean = p match {
        case ContentsPat => true
        case ListPat(items) => items.exists(rec)
        case PickPat(items) => items.exists(rec)
        case _ => false
      }
      res.exists(rec) || c.assignments.exists(a => rec(a.pat))
    }

    /** Inject the reference default result pattern — but only where the
      * frames actually render: a child whose parent never consumes
      * contents keeps result=None (planner default), so structurally
      * different or-branches (or2) don't have to agree on a contents
      * schema nobody reads. Or-branch children get the same treatment
      * as the carrier's (varsort: all branches must type identically).
      */
    private def inject(c: Constraint, rendered: Boolean): Constraint = {
      val res2 =
        if (!rendered) c.result
        else c.result.orElse {
          val inner = ListPat(RefDefaultFields.map(FieldPat(_)) ++
            (if (c.subs.nonEmpty) Seq(ContentsPat) else Nil))
          marks.put(inner, java.lang.Boolean.TRUE)
          Some(ListPat(Seq(inner)))
        }
      val childRendered = rendered && usesContentsPat(c, res2)
      val subs2 = c.subs.map(inject(_, childRendered))
      // a branch has no result of its own (set shaping lives on the
      // carrier); its children render exactly when the set's contents
      // render — the first matching branch supplies the frames
      val or2 = c.orBranches.map(b =>
        b.copy(subs = b.subs.map(inject(_, childRendered))))
      c.copy(result = res2, subs = subs2, orBranches = or2)
    }
    def isDefault(p: Pattern): Boolean = marks.containsKey(p)
  }

  /** reference value rendering: elements joined so that an element
    * rendering EMPTY (literal="", none) contributes neither itself nor
    * its separator, while a non-first non-empty element gets exactly
    * one leading space (emptylit golden: `( "a")`, `("a" "a")`).
    */
  private def joinElems(elems: Seq[String]): String =
    elems.zipWithIndex.map { case (e, i) =>
      if (e.isEmpty) "" else if (i == 0) e else " " + e
    }.mkString

  private def patLabel(p: Pattern): String = p match {
    case FieldPat(f) => f
    case CountPat => "count"
    case CursorPat => "cursor"
    case _ => "that pattern"
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\"" // '\n' escapes on the wire (dumpnl)

  private def genericValue(v: Any, g: Long => String): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => if (b) "true" else "false"
    case other => other.toString
  }

  /** Pattern-driven renderer. Leaves consume columns positionally in
    * ReadPlanner.resultFields order (flatten of the pattern; contents
    * expands to one column per contributing child; at root the cursor
    * column is excluded from its slot and appended last by shapeRoot).
    */
  private final class Renderer(inj: Injected, g: Long => String,
      rootC: Option[Constraint] = None,
      // root cursor token for pages with no rows to carry it
      // (pagesize=0 still answers a positioned cursor — brendan4)
      rootCursorTok: Option[String] = None,
      // primitive count for iterator/estimate dumps (iterator1)
      iterN: Long = 0L) {

    /** the assignment pattern behind a variable, wherever it was
      * declared in the tree — with the constraint that owns it
      */
    private def assignmentOf(v: String): Option[(Constraint, Pattern)] = {
      def walk(c: Constraint): Option[(Constraint, Pattern)] =
        c.assignments.collectFirst { case Assignment(`v`, p) => (c, p) }
          .orElse(c.subs.view.flatMap(walk(_)).headOption)
          .orElse(c.orBranches.view.flatMap(walk(_)).headOption)
      rootC.flatMap(walk)
    }

    /** a variable's value rendered by its ASSIGNED pattern: list
      * patterns collect child frames (sort5/7/8), literal atoms render
      * bare (varsort), everything else renders by runtime type
      */
    private def renderVar(v: String, cell: Any): String =
      assignmentOf(v) match {
        case Some((owner, lp: ListPat)) => cell match {
          // null only reaches here from a non-matching or-branch (or4);
          // an optional child that matched nothing carries an EMPTY
          // array instead (attachChild coalesces — nullcontent)
          case null => "null"
          case rows: scala.collection.Seq[_] =>
            renderResult(owner.copy(result = Some(lp)),
              rows.asInstanceOf[scala.collection.Seq[Row]].toSeq, root = false)
          case other => genericValue(other, g)
        }
        case Some((_, LiteralPat(_, _))) =>
          // bare atom — the CELL carries whichever branch's literal
          // actually bound (varor: `{$f=literal=a} || {$f=literal=b}`
          // renders the matching branch's atom, not the first-declared)
          if (cell == null) "null" else cell.toString
        case Some((_, FieldPat("timestamp"))) => // micros → wire form
          if (cell == null) "null"
          else GTimestamp.render(cell.asInstanceOf[Long])
        case Some((owner, FieldPat(f @ ("guid" | "typeguid" | "left" |
            "right" | "scope" | "previous" | "next")))) =>
          if (cell == null) "null" else g(cell.asInstanceOf[Long])
        case _ => genericValue(cell, g)
      }

    private def widthOf(p: Pattern, c: Constraint, root: Boolean): Int = p match {
      case ContentsPat => graft.plan.ReadPlanner.contributingSubs(c).length
      case CursorPat => if (root) 0 else 1
      case IteratorPat | EstimatePat => 0 // derived, no row columns
      case ListPat(items) => items.map(widthOf(_, c, root)).sum
      case _ => 1
    }

    /** set-level iterator/estimate dumps (graphd-iterator-dump.c,
      * graphd-read-set-estimate.c): reproduced for the all-iterator —
      * an unconstrained read over [0, n) — which is what the golden
      * sessions exercise (iterator1); other access paths answer null.
      */
    private def iterDump(p: Pattern): String = {
      val allIter = rootC.exists(c => c.guid.isEmpty && c.typePreds.isEmpty &&
        c.linkFields.isEmpty && c.name.isEmpty && c.value.isEmpty &&
        c.subs.isEmpty && c.orBranches.isEmpty)
      val n = iterN
      if (!allIter || n <= 0) "null"
      else p match {
        case IteratorPat =>
          s"""(("all" 0 ${n - 1}) (("n" $n) ("check-cost" 1) """ +
            s"""("next-cost" 1) ("find-cost" 0) ("low" 0) ("high" $n) "forward"))"""
        case _ =>
          s"""("all[0...$n: $n]" true 1 1 $n)"""
      }
    }

    private def fieldValue(f: String, row: Row, i: Int,
        tsOverride: Option[String]): String = {
      val v = if (row.isNullAt(i)) null else row.get(i)
      f match {
        case "guid" | "typeguid" | "left" | "right" | "scope" |
             "previous" | "prev" | "next" =>
          if (v == null) "null" else g(v.asInstanceOf[Long])
        // nameless type node: "#<guid>" in the wire space (rerestore)
        case "type" if v != null &&
            v.asInstanceOf[String].startsWith("#\u0000") =>
          quote("#" + g(v.asInstanceOf[String].substring(2).toLong))
        case "datatype" => // name form ("string", "null", ...)
          if (v == null) "null" else Datatype.name(v.asInstanceOf[Number].byteValue)
        case "valuetype" => // numeric form (valuetype.sh: ("1" 1 null))
          if (v == null) "null"
          else (v.asInstanceOf[Number].byteValue & 0xFF).toString
        case "timestamp" =>
          tsOverride.getOrElse(
            if (v == null) "null" else GTimestamp.render(v.asInstanceOf[Long]))
        case "meta" => if (v == null) "null" else v.toString // bare atom
        case _ => genericValue(v, g)
      }
    }

    /** render the leaves of `items` against one row starting at column
      * `off`; returns (rendered elements, columns consumed)
      */
    private def tupleElems(items: Seq[Pattern], c: Constraint, row: Row,
        off: Int, root: Boolean, injected: Boolean): (Seq[String], Int) = {
      // stored timestamps are already in lockstep with the reference
      // test clock (per-primitive ticks; restores carry their own)
      val tsOverride: Option[String] = None
      val isNode = injected && {
        val r = items.indexWhere { case FieldPat("right") => true; case _ => false }
        val l = items.indexWhere { case FieldPat("left") => true; case _ => false }
        r >= 0 && l >= 0 && row.isNullAt(off + r) && row.isNullAt(off + l)
      }
      var i = off
      val elems = items.flatMap { p =>
        val w = widthOf(p, c, root)
        val out: Seq[String] = p match {
          case FieldPat(f) =>
            if (isNode && (f == "meta" || f == "right" || f == "left")) Nil
            else Seq(fieldValue(f, row, i, tsOverride))
          case LiteralPat(s, _) => Seq(s) // atom, unquoted; "" skips via join
          case NonePat => Seq("")
          case VarPat(v) =>
            Seq(renderVar(v, if (row.isNullAt(i)) null else row.get(i)))
          case PickPat(_) =>
            Seq(genericValue(if (row.isNullAt(i)) null else row.get(i), g))
          case CountPat | EstimateCountPat =>
            Seq(if (row.isNullAt(i)) "null" else row.get(i).toString)
          case IteratorPat | EstimatePat => Seq(iterDump(p))
          case CursorPat =>
            if (root) { // appended by shapeRoot under the name "cursor"
              val ci = row.schema.fieldNames.indexOf("cursor")
              // no token = iteration exhausted → the reference's empty
              // cursor string (graphd-sort.c:1484 "null:")
              Seq(if (ci < 0 || row.isNullAt(ci)) quote("null:")
                  else quote(row.getString(ci)))
            } else Seq(genericValue(if (row.isNullAt(i)) null else row.get(i), g))
          case ContentsPat =>
            graft.plan.ReadPlanner.contributingSubs(c).zipWithIndex.map {
              case (subIdx, k) =>
                renderChild(c.subs(subIdx),
                  if (row.isNullAt(i + k)) null else row.get(i + k))
            }
          case ListPat(sub) => // nested list inside a tuple
            val (es, _) = tupleElems(sub, c, row, i, root, inj.isDefault(p))
            Seq("(" + joinElems(es) + ")")
          case other => Seq(genericValue(row.get(i), g))
        }
        i += w
        out
      }
      (elems, i - off)
    }

    /** a constraint's result value over its matched rows: the outer
      * list frame — inner ListPat items expand per-row, scalar items
      * evaluate set-level / on the first row (reference result frames,
      * graphd-pattern-frame.c)
      */
    def renderResult(c: Constraint, rows: Seq[Row], root: Boolean): String =
      c.result match {
        case Some(ListPat(items)) =>
          var off = 0
          val elems = items.flatMap { p =>
            val w = widthOf(p, c, root)
            val out: Seq[String] = p match {
              case lp @ ListPat(sub) => // per-row expansion
                rows.map { r =>
                  val (es, _) = tupleElems(sub, c, r, off, root, inj.isDefault(lp))
                  "(" + joinElems(es) + ")"
                }
              case CursorPat if rows.isEmpty && root =>
                // empty page still answers a cursor — positioned when
                // pagesize=0 left candidates unconsumed, else "null:"
                Seq(quote(rootCursorTok.getOrElse("null:")))
              case other =>
                if (rows.isEmpty) Nil
                else tupleElems(Seq(other), c, rows.head, off, root,
                  injected = false)._1
            }
            off += w
            out
          }
          "(" + joinElems(elems) + ")"
        case Some(single) => // bare pattern: first row / set value, no parens
          // an empty optional set renders the null VALUE (nullcontent);
          // a bare cursor result still answers the minted token
          if (rows.isEmpty && root && single == CursorPat)
            quote(rootCursorTok.getOrElse("null:"))
          else if (rows.isEmpty) "null"
          else joinElems(tupleElems(Seq(single), c, rows.head, 0, root,
            injected = false)._1)
        case None => "()"
      }

    /** one child's spliced contents value: the child's own result frame
      * over its collected tuples (null/empty collect → empty frame)
      */
    private def renderChild(sub: Constraint, v: Any): String = v match {
      case null => sub.result match {
        case Some(ListPat(_)) => "()"
        case _ => "" // bare child pattern with nothing: skips entirely
      }
      case rows: scala.collection.Seq[_] =>
        renderResult(sub, rows.asInstanceOf[scala.collection.Seq[Row]].toSeq,
          root = false)
      case other => other.toString // result=count child: per-parent cardinality
    }
  }

  // ------------------------------------------------------------------
  // dump / restore payload s-expressions
  // ------------------------------------------------------------------
  private sealed trait RTok
  private case object ROpen extends RTok
  private case object RClose extends RTok
  private final case class RAtom(s: String) extends RTok
  private final case class RStr(s: String) extends RTok

  private def rTokens(s: String): Seq[RTok] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RTok]
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case c if c.isWhitespace => i += 1
        case '(' => out += ROpen; i += 1
        case ')' => out += RClose; i += 1
        case '"' =>
          val sb = new StringBuilder; i += 1
          while (i < s.length && s.charAt(i) != '"') {
            if (s.charAt(i) == '\\' && i + 1 < s.length) {
              sb.append(s.charAt(i + 1) match {
                case 'n' => '\n'; case 't' => '\t'; case c => c
              })
              i += 2
            } else { sb.append(s.charAt(i)); i += 1 }
          }
          i += 1
          out += RStr(sb.toString)
        case _ =>
          val j0 = i
          while (i < s.length && !s.charAt(i).isWhitespace &&
                 s.charAt(i) != '(' && s.charAt(i) != ')') i += 1
          out += RAtom(s.substring(j0, i))
      }
    }
    out.toSeq
  }

  /** nested lists → Vector[Any]; quoted strings → String; atoms → RAtom */
  private def rParse(toks: Seq[RTok], pos: Int): (Vector[Any], Int) = {
    val buf = Vector.newBuilder[Any]
    var i = pos + 1 // past ROpen
    while (i < toks.length && toks(i) != RClose) {
      toks(i) match {
        case ROpen => val (l, j) = rParse(toks, i); buf += l; i = j
        case RStr(s) => buf += s; i += 1
        case a: RAtom => buf += a; i += 1
        case RClose => ()
      }
    }
    (buf.result(), i + 1)
  }

  final case class Replayed(lines: Seq[String], sortedRead: Seq[Boolean])

  /** run every command against a fresh store; returns one response
    * line per command plus whether that response order is semantic
    * (sorted read / write) or an iterator artifact (unsorted read)
    */
  def replay(spark: org.apache.spark.sql.SparkSession, cmds: Seq[String]): Replayed = {
    var store = GraphStore.fromSeq(spark, Seq.empty)
    var refOfHook: Long => String = id => refGuid(id)
    Writer.tickMicros = Some(new java.util.concurrent.atomic.AtomicLong(0L))
    // physical reference bootstrap: the Writer mints the reference's
    // own primitive layout (7 bootstrap primitives on the first typed
    // write, a node + has_key naming link per first-use type name —
    // graphd/graphd-type.c:899), so engine ids COINCIDE with reference
    // istore serials and guid literals translate 1:1.
    Writer.refBootstrap = true
    // cursor tokens render/parse guids in the reference wire space
    graft.plan.Cursor.renderGuid = refGuid
    // ---- composite-freeze support (slip / isa / colors3) ----------
    // One resource ledger per session (graphd's
    // g_iterator_resource_id, reset at server start): storables dedup
    // by content, so a position-independent cache keeps its stamp and
    // a position-bearing state allocates the next id.
    val freezeRes = new RefFreeze.Resources
    def livePrims: Vector[graft.model.Primitive] =
      store.view.source match {
        case m: graft.store.Source.Mirror => m.rows
        case _ => Vector.empty
      }
    // [first posting, last posting + 1) in reference serial space —
    // the idarray clamp every index iterator freezes with
    def serialSpan(ids: Seq[Long]): Option[(Long, Long)] =
      if (ids.isEmpty) None else Some((ids.min - 1, ids.max))
    // inner node constraint of `f->(...)`: the matching primitives by
    // one exact value/name predicate (engine ids, current view)
    def innerMatches(c: Constraint): Option[(Seq[Long], Boolean)] = {
      val byValue = c.value.collectFirst {
        case StrPred(OpEq, Seq(Some(v))) => v }
      val byName = c.name.collectFirst {
        case StrPred(OpEq, Seq(Some(n))) => n }
      if (c.subs.nonEmpty) None
      else (byValue, byName) match {
        case (Some(v), None) =>
          Some((livePrims.filter(_.value.contains(v)).map(_.id), false))
        case (None, Some(n)) =>
          Some((livePrims.filter(_.name.contains(n)).map(_.id), true))
        case _ => None
      }
    }
    // literal word-prefix of a `value~="lit*"` pattern (the PREFIX-hash
    // family); None when the pattern needs more than one prefix probe
    def literalPrefix(c: Constraint): Option[String] =
      c.value.collectFirst { case StrPred(OpMatch, Seq(Some(p))) => p }
        .filter(p => p.length >= 2 && p.endsWith("*") &&
          p.dropRight(1).forall(ch => ch.isLetterOrDigit))
        .map(_.dropRight(1).toLowerCase)
    def prefixIter(pre: String): Option[RefFreeze.Prefix] =
      serialSpan(livePrims.filter(_.value.exists(v =>
          graft.functions.GraphdText.words(v).exists(_.startsWith(pre))))
        .map(_.id)).map { case (lo, hi) => RefFreeze.Prefix(lo, hi, pre) }
    // producer iterator of a `f->(inner)` subconstraint: gmap when the
    // inner resolves to one node, the or-masqueraded linksto over the
    // name hmap when it resolves to a name equivalence class
    def subProducer(sub: Constraint): Option[RefFreeze.It] =
      sub.effectiveLinkage match {
        case Some(ParentPointsToChild(f)) if f == "left" || f == "right" =>
          innerMatches(sub).flatMap { case (targets, isName) =>
            def fieldOf(p: graft.model.Primitive): Option[Long] =
              if (f == "left") p.left else p.right
            val links = livePrims.filter(p =>
              fieldOf(p).exists(targets.contains)).map(_.id)
            if (targets.length == 1 && !isName)
              serialSpan(links).map { case (lo, hi) =>
                RefFreeze.Gmap(lo, hi, f.head, targets.head - 1) }
            else if (isName) {
              val key = sub.name.collectFirst {
                case StrPred(OpEq, Seq(Some(n))) => n }.get
              for {
                (hl, hh) <- serialSpan(targets)
                (ll, lh) <- serialSpan(links)
              } yield RefFreeze.OrLinksto(ll, lh, f.head,
                RefFreeze.Hmap(hl, hh, "pool", "name", key))
            } else None
          }
        case _ => None
      }
    // all producer iterators of a root constraint, in the reference's
    // and-subcondition order (value prefix first, then linkage subs)
    def rootProducers(c: Constraint): Seq[RefFreeze.It] =
      literalPrefix(c).flatMap(prefixIter).toSeq ++
        c.subs.flatMap(subProducer)
    // colors3's collapsed shape: one `f->(type=T (inner))` sub whose
    // link set is a VIP (endpoint, typeguid) posting list and whose
    // parent endpoints become a sorted fixed array — masqueraded as
    // fixed:(fixed-isa:...) when it outgrows 5 entries
    // (graphd-iterator-isa.c:733 "don't bother if it's small")
    def fixedIsaShape(c: Constraint): Option[(RefFreeze.FixedIsa, Seq[Long])] =
      c.subs match {
        case Seq(sub) if c.value.isEmpty && c.name.isEmpty &&
            c.typePreds.isEmpty && c.guid.isEmpty && c.linkFields.isEmpty =>
          (sub.effectiveLinkage, sub.typeNames, sub.subs) match {
            case (Some(ChildPointsToParent(f)), Some(Seq(tn)), Seq(inner))
                if f == "left" || f == "right" =>
              val other = if (f == "left") "right" else "left"
              for {
                tid <- store.view.resolveTypeIds(Seq(tn)).headOption
                (targets, _) <- innerMatches(inner)
                if targets.length == 1
                vipLinks = livePrims.filter(p =>
                  p.typeguid.contains(tid) &&
                    (if (other == "right") p.right else p.left)
                      .contains(targets.head)).map(_.id)
                (vl, vh) <- serialSpan(vipLinks)
                cands = livePrims.filter(p => vipLinks.contains(p.id))
                  .flatMap(p => if (f == "left") p.left else p.right)
                  .distinct.sorted
                if cands.length > 5
                (fl, fh) <- serialSpan(cands)
              } yield (RefFreeze.FixedIsa(fl, fh, f.head,
                RefFreeze.Vip(vl, vh, other.head, refOfHook(tid),
                  targets.head - 1)), cands.map(_ - 1))
            case _ => None
          }
        case _ => None
      }
    // the isa-iterator shape (isa.sh): a bare root whose ONE sub is a
    // `(<-left|right value~="p*")` fan-in — the root candidates are
    // the left/right endpoints of the prefix matches, produced by the
    // reference's isa iterator (graphd-iterator-isa.c). Returns the
    // linkage char, the prefix sub-iterator, and the (link serial,
    // endpoint serial) pairs in link id order (the isa production
    // order).
    def isaShape(c: Constraint)
        : Option[(Char, String, RefFreeze.Prefix, Vector[(Long, Long)])] =
      c.subs match {
        case Seq(sub) if c.value.isEmpty && c.name.isEmpty &&
            c.typePreds.isEmpty && c.guid.isEmpty && c.linkFields.isEmpty &&
            sub.subs.isEmpty && sub.typePreds.isEmpty && sub.name.isEmpty =>
          sub.effectiveLinkage match {
            case Some(ChildPointsToParent(f)) if f == "left" || f == "right" =>
              for {
                pre <- literalPrefix(sub)
                pIter <- prefixIter(pre)
              } yield {
                val pairs = livePrims.filter(_.value.exists(v =>
                    graft.functions.GraphdText.words(v)
                      .exists(_.startsWith(pre))))
                  .sortBy(_.id)
                  .flatMap(p => (if (f == "left") p.left else p.right)
                    .map(ep => (p.id - 1, ep - 1)))
                  .toVector
                (f.head, pre, pIter, pairs)
              }
            case _ => None
          }
        case _ => None
      }
    // signed iterator cursors (graphd-constraint-cursor.c): mint the
    // reference's `cursor:XXXX:[o:..][n:..]<frozen iterator>` wire
    // form. Resumes advance the incoming iterator body positionally;
    // fresh cursors pick the iterator the reference's planner picks —
    // fixed for guid sets (cursor5), gmap for a pure typed read
    // (brendan4), the all-iterator otherwise (sort3, without), the
    // composite and:/or:/fixed:(fixed-isa:) freezes for the
    // multi-producer shapes (slip, isa, colors3).
    graft.plan.Cursor.refIterCursor = Some { (c, horizon, off, ps, pageIds) =>
      val consumed = if (ps == 0) 1L else math.min(ps, pageIds.length).toLong
      val oOut = off + consumed
      // [n:] = con_high when the constraint's iterator bounds the id
      // space (a gmap's hi), else the primitive count
      // (graphd-read-set-cursor.c:55-60)
      def signed(iterBody: String, n: Long = horizon): String = {
        val body = s"[o:$oOut][n:$n]$iterBody"
        val sig = CursorSig.signature(c.copy(cursorTok = None), refOfHook,
          Some(nm => store.view.resolveTypeIds(Seq(nm)).headOption))
        f"cursor:${CursorSig.check(sig, body)}%04x:$body"
      }
      // strip `cursor:XXXX:` signature and [o:][n:] from an incoming
      // token, leaving the raw frozen-iterator body
      def iterBodyOf(raw0: String): String = {
        var s = raw0
        if (s.startsWith("cursor:")) {
          val r = s.stripPrefix("cursor:"); val i = r.indexOf(':')
          if (i >= 0) s = r.substring(i + 1)
        }
        """^(\[[on]:\d+\])+""".r.replaceFirstIn(s, "")
      }
      // advance the LAST /<pos>/ field (iterator position) by the
      // candidates consumed this page
      def advance(body: String): String = {
        val re = """/(\d+)/""".r
        val ms = re.findAllMatchIn(body).toSeq
        if (ms.isEmpty) body
        else {
          val m = ms.last
          body.substring(0, m.start) + "/" + (m.group(1).toLong + consumed) +
            "/" + body.substring(m.end)
        }
      }
      // last candidate returned this page, in reference serial space
      def lastSerial: Long =
        if (pageIds.nonEmpty) pageIds(math.min(consumed.toInt,
          pageIds.length) - 1) - 1 else consumed - 1
      // composite families (fresh AND resume re-derive the full body
      // from the constraint — the set definition is deterministic and
      // only position/offset/resource advance between pages)
      val composite: Option[String] = fixedIsaShape(c) match {
        case Some((fi, _)) =>
          // the expanded id array is the cache storable: identical
          // across pages, so every page re-freezes under one stamp
          val res = freezeRes.stamp("fixedcache:" + fi.masquerade)
          Some(signed(RefFreeze.fixedIsaToken(fi, oOut, res)))
        case None =>
          val prods = rootProducers(c)
          if (prods.length >= 2) {
            val pos = lastSerial
            // producer position ([pp:]) rides along when the settled
            // producer tracks one — the gmap offset = postings
            // consumed up to the current position
            val pp = prods.head match {
              case g: RefFreeze.Gmap =>
                Some(livePrims.count(p =>
                  (if (g.linkChar == 'l') p.left else p.right)
                    .contains(g.source + 1) && p.id - 1 <= pos).toLong)
              case _ => None
            }
            val psz = if (c.cursorTok.isEmpty) c.pagesize else None
            val res = freezeRes.stamp("andstate:" +
              prods.map(_.set).mkString + "/" + pos)
            Some(signed(RefFreeze.andToken(prods, psz, pos, pp, res)))
          } else prods match {
            case Seq(or: RefFreeze.OrLinksto) =>
              val pos = lastSerial
              val res = freezeRes.stamp("orstate:" + or.set + "/" + pos)
              Some(signed(RefFreeze.orToken(or, pos, res)))
            case _ => isaShape(c).map { case (linkChar, pre, pIter, pairs) =>
              // sub [st:..] stats: distinct 5-char word classes among
              // the matching (class, primitive) postings — recomputed
              // every freeze, like the reference's server-side prefix
              // statistics cache (pdb_prefix_statistics_store/load,
              // graphd-iterator-prefix.c:605,957) restores them even
              // when the incoming token was stripped of them
              val classCounts = livePrims.flatMap(p =>
                  p.value.toSeq.flatMap(v =>
                    graft.functions.GraphdText.words(v)
                      .filter(_.startsWith(pre)).map(_.take(5)).distinct)
                    .map(cls => (cls, p.id)))
                .distinct.groupBy(_._1).map(_._2.size.toLong).toSeq
              val subSt = RefFreeze.prefixStats(classCounts)
              val isaLo = 0L
              val isaHi = horizon - 1 // pdb_primitive_n - 1 (HIGH_ANY)
              // the 5-sample statistics trial (GRAPHD_ISA_N_SAMPLES):
              // walk sub matches in production order, collect distinct
              // endpoints; the duplicate-check sub parks at the last
              // sampled sub id
              val seen = scala.collection.mutable.Set.empty[Long]
              var trials = 0
              while (trials < pairs.length && seen.size < 5) {
                seen += pairs(trials)._2
                trials += 1
              }
              val sdPos = if (trials > 0) pairs(trials - 1)._1 else 0L
              // stats: first mint samples them; a RESUME passes the
              // incoming token's CC:NC:N through opaquely — the
              // reference thaws them from the wire
              // (graphd-iterator-isa.c:2173 pdb_iterator_util_thaw)
              // and re-emits whatever it was handed
              val passThrough = c.cursorTok.flatMap(raw =>
                """-:(\d+):(\d+):(\d+):-:\[sd:""".r
                  .findFirstMatchIn(iterBodyOf(raw))
                  .map(m => RefFreeze.IsaStats(m.group(1).toLong,
                    m.group(2).toLong, m.group(3).toLong)))
              val stats = passThrough.getOrElse(
                RefFreeze.isaStats(isaLo, isaHi, pIter.lo, pIter.hi,
                  subSt, trials, seen.size))
              val res = freezeRes.stamp("isasd:" + pIter.set)
              signed(RefFreeze.isaToken(isaLo, isaHi, linkChar, pIter,
                subSt, lastSerial, oOut, stats, sdPos, res))
            }
          }
      }
      val incoming = c.cursorTok.map(iterBodyOf)
      if (composite.isDefined) composite
      else incoming match {
        case Some(b) if Seq("all:", "fixed:", "gmap:", "without:")
            .exists(b.startsWith) =>
          // resumes carry the frozen iterator's own hi bound forward
          val hi = """^(?:without:\()?(?:all|gmap):(\d+)-(\d+)""".r
            .findFirstMatchIn(b).map(_.group(2).toLong)
          Some(signed(advance(b), hi.getOrElse(horizon)))
        case Some(_) => None // unrecognized family: engine token
        case None =>
          val guidSet = c.guid.find(p => p.include && !p.lineage)
            .map(_.serials.flatten).filter(_.nonEmpty)
          val typeOnly = c.typePreds.nonEmpty && c.guid.isEmpty &&
            c.linkFields.isEmpty && c.name.isEmpty && c.value.isEmpty &&
            c.subs.isEmpty
          // a small prefix result collapses to a plain fixed id array
          // (nick6: value~="a*" over 9 primitives freezes as
          // fixed:6:0,1,2,3,4,8/pos/) — the or-of-hmaps the prefix
          // expands to becomes a fixed iterator below the contest size
          val prefixFixed: Option[Seq[Long]] =
            if (guidSet.isEmpty && !typeOnly && c.subs.isEmpty &&
                c.name.isEmpty && c.typePreds.isEmpty &&
                c.linkFields.isEmpty && c.value.length == 1)
              literalPrefix(c).map(pre => livePrims.filter(_.value.exists(v =>
                graft.functions.GraphdText.words(v).exists(_.startsWith(pre))))
                .map(_.id - 1).sorted).filter(ids =>
                  ids.nonEmpty && ids.length <= 100)
            else None
          (prefixFixed, guidSet) match {
            case (Some(serials), _) =>
              Some(signed(
                s"fixed:${serials.length}:${serials.mkString(",")}/$oOut/"))
            case (None, Some(ours)) =>
              val serials = ours.map(_ - 1)
              Some(signed(
                s"fixed:${serials.length}:${serials.mkString(",")}/$consumed/"))
            case (None, None) if typeOnly =>
              // typeguid-postings (gmap) iterator: lo = first posting
              // serial, hi = last+1, keyed by the type node's serial
              val tids = store.view.resolveTypeIds(c.typePreds.flatMap(_.flatten))
              tids.headOption.flatMap { tid =>
                val posts = store.current
                  .filter(col("typeguid") === tid)
                  .select(col("id")).orderBy(col("id"))
                  .collect().map(_.getLong(0))
                if (posts.isEmpty) None
                else Some(signed(
                  s"gmap:${posts.head - 1}-${posts.last}:t->${tid - 1}/$consumed/",
                  n = posts.last))
              }
            case (None, None) if c.subs.isEmpty =>
              // all-iterator over [0, n): position = serial one past
              // the last candidate consumed. Subs-free constraints
              // only — a subconstraint read the reference would serve
              // from an isa/and iterator must NOT claim the reference
              // wire form with an all: body (the byte comparison would
              // flag it); it freezes in engine form instead.
              val pos =
                if (pageIds.nonEmpty) pageIds(consumed.toInt - 1) else consumed
              Some(signed(s"all:0-$horizon/$pos/"))
            case _ => None
          }
      }
    }
    graft.plan.Cursor.parseGuidId =
      h => (java.lang.Long.parseUnsignedLong(h.substring(16), 16) &
        0x3FFFFFFFFL) + 1
    var lastId = 0L // highest allocated id == the reference's horizon
    // child-level cursors: the reference freezes the per-parent fan-in
    // candidate set as a fixed iterator signed against the CHILD
    // constraint (cursor6). Fresh mints freeze the full ordered set;
    // resumes advance the incoming body's position.
    graft.plan.Cursor.refChildCursor = Some { (sub, ids) =>
      val ps = sub.pagesize.map(_.toInt).getOrElse(Int.MaxValue)
      val consumed = math.min(ps, ids.length)
      def sign(iterBody: String): String = {
        val body = s"[o:$consumed][n:$lastId]$iterBody"
        val sig = CursorSig.signature(sub.copy(cursorTok = None), refOfHook,
          Some(nm => store.view.resolveTypeIds(Seq(nm)).headOption), asSub = true)
        f"cursor:${CursorSig.check(sig, body)}%04x:$body"
      }
      if (consumed >= ids.length) "null:"
      else sub.cursorTok match {
        case Some(raw) =>
          var b = raw
          if (b.startsWith("cursor:")) {
            val r = b.stripPrefix("cursor:"); val i = r.indexOf(':')
            if (i >= 0) b = r.substring(i + 1)
          }
          b = """^(\[[on]:\d+\])+""".r.replaceFirstIn(b, "")
          val re = """/(\d+)/""".r
          val ms = re.findAllMatchIn(b).toSeq
          val adv = if (ms.isEmpty) b else {
            val m = ms.last
            b.substring(0, m.start) + "/" + (m.group(1).toLong + consumed) +
              "/" + b.substring(m.end)
          }
          sign(adv)
        case None =>
          val serials = ids.map(_ - 1)
          sign(s"fixed:${serials.length}:${serials.mkString(",")}/$consumed/")
      }
    }
    // every write stacks another union on the primitives plan; long
    // sessions (100+ writes) pay the whole tree on every read unless
    // the lineage is truncated periodically
    var sinceCompact = 0
    def maybeCompact(): Unit = {
      sinceCompact += 1
      // a mirror-backed store derives a flat frame over its rows —
      // nothing to truncate
      if (sinceCompact >= 8) store.source match {
        case d: graft.store.Source.Distributed =>
          store = store.copy(source = new graft.store.Source.Distributed(
            d.rows.coalesce(1).localCheckpoint()))
          sinceCompact = 0
        case _ =>
      }
    }
    // guid spaces: restores place primitives under foreign database
    // ids and bump the server's own id (pdb-restore.c
    // avoid/adopt_database_id), so guids stop being pure id arithmetic
    var serverDb = RefDb // 16-hex db prefix of the server's own writes
    var serverBHigh = SerialBase // guid_b bits above the 34-bit serial
    var restoredMode = false
    val hexOf = scala.collection.mutable.Map.empty[Long, String]
    val idOfHex = scala.collection.mutable.Map.empty[String, Long]
    def recordGuid(id: Long, hex: String): Unit = {
      hexOf(id) = hex; idOfHex(hex) = id
    }
    def serverHex(id: Long): String =
      serverDb + f"${serverBHigh | (id - 1)}%016x"
    def refOf(our: Long): String = hexOf.getOrElse(our, serverHex(our))
    refOfHook = refOf
    /** register server-space guids for ids allocated since lastId */
    def sweepNewIds(): Unit = {
      val newLast = store.source.nextId - 1
      if (restoredMode)
        ((lastId + 1) to newLast).foreach { id =>
          if (!hexOf.contains(id)) recordGuid(id, serverHex(id))
        }
      lastId = newLast
    }
    def freshDb(): Unit = {
      store = GraphStore.fromSeq(spark, Seq.empty)
      Writer.tickMicros.foreach(_.set(0L))
      lastId = 0L
      serverDb = RefDb; serverBHigh = SerialBase; restoredMode = false
      hexOf.clear(); idOfHex.clear()
    }
    // runtime properties (graphd-property.c): reset at each server
    // (re)start (ConfMark); `set`/`status` read and write them
    var instanceId = ""
    var costLimit = ""
    val boolProps = scala.collection.mutable.Map.empty[String, String]
    def resetProps(iid: String): Unit = {
      instanceId = iid; costLimit = ""; boolProps.clear()
      boolProps ++= Seq("core" -> "true", "sync" -> "true",
        "logflush" -> "true")
    }
    resetProps("")
    var quiet = false
    try {
      val out = cmds.flatMap { raw =>
        if (raw == QuietOn) { quiet = true; None }
        else if (raw == QuietOff) { quiet = false; None }
        else if (raw == ResetMark) { freshDb(); None }
        else if (raw.startsWith(ConfMark)) {
          val payload = raw.stripPrefix(ConfMark).split("\t", 2)
          resetProps(payload.head)
          if (payload.length > 1) serverDb = dbPrefixOfName(payload(1))
          None
        }
        else if (raw.startsWith(EchoMark))
          Some((raw.stripPrefix(EchoMark), true))
        else {
        val computed: (String, Boolean) = {
        Writer.txContOpen = false // fresh request = fresh transaction
        // restore payload guids are wire-space data, not references
        val rawVerb = raw.trim.takeWhile(c => !c.isWhitespace && c != '(')
        val translated =
          if (rawVerb.equalsIgnoreCase("restore")) raw
          else translateGuids(raw,
            h => if (restoredMode) Some(idOfHex.getOrElse(h, 9999999999L))
                 else idOfHex.get(h))
        val (verb, mods, cmd) = splitModifiers(translated)
        val echo = mods.collectFirst { case ("id", v) => v }
        val dlMod = mods.collectFirst { case ("dateline", v) =>
          v.stripPrefix("\"").stripSuffix("\"") }
        // modifiers echo back in REQUEST order (param-order.sh):
        // id= verbatim, cost= as the sed-normalized "omitted", and
        // dateline= as the CURRENT horizon serial in guid form
        // (doc/gr-protocol.txt:228-244) — evaluated at response time so
        // writes echo their post-write horizon
        var echoMods = mods
        def prefix = echoMods.collect {
          case ("id", v) =>
            s"""id="${v.stripPrefix("\"").stripSuffix("\"")}" """
          case ("cost", _) => "cost=\"omitted\" "
          case ("dateline", _) =>
            val iid = if (instanceId.isEmpty) "" else instanceId + ","
            s"""dateline="$iid$RefDb${f"${SerialBase + lastId}%016x"}" """
        }.mkString
        // NOT trimmed: a valued response keeps its separator space even
        // when the value renders empty (emptylit golden: `ok `)
        def okLine(payload: String) = s"ok $prefix$payload"
        // the reference echoes request modifiers AFTER the error code:
        // `error EMPTY id="n" "not found"` (value.sh golden)
        def errLine(code: String, msg: String) =
          s"""error $code $prefix"${msg.replace("\"", "\\\"")}""""
        // a failed request rolls back its writes AND its clock ticks —
        // the reference test clock stamps only persisted primitives
        val tickMark = Writer.tickMicros.map(_.get())
        def rollbackTicks(): Unit =
          tickMark.foreach(m => Writer.tickMicros.foreach(_.set(m)))
        try {
          dlMod.flatMap(datelineError(_, instanceId)).foreach(code =>
            throw Writer.WriteError(code,
              if (code == "DATELINE" && instanceId.nonEmpty)
                "your dateline is not valid on this server"
              else "invalid dateline value"))
          // cost="a=1 b=2 ..." must parse as cost elements; modifier
          // processing stops AT the bad one, so later modifiers do not
          // echo (param-order: id="foo" cost=BAD id="bak")
          mods.zipWithIndex.collectFirst {
            case (("cost", v), i)
                if v.nonEmpty && !v.matches("""\s*([a-z]+=\d+\s*)*""") =>
              (v, i)
          }.foreach { case (cv, i) =>
            echoMods = mods.take(i + 1)
            throw Writer.WriteError("SYNTAX",
              s"error parsing cost element at \"$cv\"")
          }
          // loglevel values must be known level names (micro.sh R09)
          val levels = Set("fatal", "error", "overview", "fail", "info",
            "debug", "detail", "spew", "verbose", "ultra", "entry")
          mods.zipWithIndex.collectFirst {
            case (("loglevel", v), i) if !v.stripPrefix("(").stripSuffix(")")
                .split("""[\s,]+""").filter(_.nonEmpty)
                .forall(w => levels(w.toLowerCase)) => i
          }.foreach { i =>
            echoMods = mods.take(i)
            throw Writer.WriteError("SYNTAX", "invalid loglevel value")
          }
          if (verb == "write") {
            val tmpl = Parser.parseRead(cmd)
            // result patterns validate BEFORE anything writes
            // (writeresult: the failed request allocates nothing)
            def checkWPat(p: Pattern): Unit = p match {
              case FieldPat("guid") | LiteralPat(_, _) | NonePat |
                   ContentsPat => ()
              case ListPat(items) => items.foreach(checkWPat)
              case PickPat(items) => items.foreach(checkWPat)
              case other => throw Writer.WriteError("SEMANTICS",
                "cannot use " + patLabel(other) + " as a write result, " +
                  "only literal=, guid, contents, or none")
            }
            def checkWTree(c: Constraint): Unit = {
              c.result.foreach(checkWPat)
              c.subs.foreach(checkWTree)
            }
            checkWTree(tmpl)
            val (st2, ids) = Writer.write(store, cmd)
            store = st2
            sweepNewIds()
            maybeCompact()
            // ids are returned in template preorder
            val idOf = new java.util.IdentityHashMap[Constraint, java.lang.Long]()
            var k = -1
            def number(c: Constraint): Unit = {
              k += 1; idOf.put(c, ids(k)); c.subs.foreach(number)
            }
            number(tmpl)
            // write results build from the template tree
            // (graphd-write.c; default pattern = (guid contents)):
            // guid → the written id, literal= → a bare atom, none → "",
            // contents → the children's own result values spliced
            def evalW(c: Constraint, p: Pattern): Seq[String] = p match {
              case FieldPat("guid") => Seq(refOf(idOf.get(c).longValue))
              case LiteralPat(s, _) => Seq(s)
              case NonePat => Seq("")
              case ContentsPat => c.subs.map(renderW)
              case ListPat(items) =>
                Seq("(" + joinElems(items.flatMap(evalW(c, _))) + ")")
              case PickPat(items) => items.headOption.toSeq.flatMap(evalW(c, _))
              case other => throw Writer.WriteError("SEMANTICS",
                "cannot use " + patLabel(other) + " as a write result, " +
                  "only literal=, guid, contents, or none")
            }
            def renderW(c: Constraint): String = {
              val pat = c.result.getOrElse(
                ListPat(Seq(FieldPat("guid"), ContentsPat)))
              joinElems(evalW(c, pat))
            }
            (okLine(renderW(tmpl)), true)
          } else if (verb == "read") {
            // normalize variables BEFORE injection/rendering so the
            // renderer walks the same tree the planner executes
            // (same-level assignment chains are inlined by the phase)
            val c0 = ReadPlanner.normalizeVars(Parser.parseRead(cmd))
            // incoming cursor validation (graphd-constraint-cursor.c):
            // a signed `cursor:XXXX:` token must checksum against the
            // constraint signature; bare iterator freezes pass; any
            // other string is an unparseable old-style cursor
            c0.cursorTok.foreach { raw =>
              // signature coverage: every signed cursor on a
              // non-or-branch constraint — nested trees included (the
              // isa / fixed-isa families' emission checksums are
              // pinned byte-exact by their goldens, so validation uses
              // the same signature; the cursor bytes reach here RAW,
              // untouched by guid translation)
              if (raw.startsWith("cursor:") && c0.orBranches.isEmpty) {
                val rest = raw.stripPrefix("cursor:")
                val colon = rest.indexOf(':')
                val okForm = colon == 4 &&
                  rest.take(4).forall(ch => ch.isDigit || (ch >= 'a' && ch <= 'f'))
                if (!okForm)
                  throw Parser.ParseError(
                    s"""BADCURSOR: "$raw" is not a valid cursor""", 0)
                val given = Integer.parseInt(rest.take(4), 16)
                val body = rest.substring(colon + 1)
                val sig = CursorSig.signature(c0.copy(cursorTok = None),
                  refOfHook,
                  Some(n => store.view.resolveTypeIds(Seq(n)).headOption))
                val expect = CursorSig.check(sig, body)
                if (expect != given)
                  throw Parser.ParseError(
                    f"""BADCURSOR: cursor "$raw%s" and checksum $expect%04x don't match""", 0)
              } else if (!Seq("cursor:", "sort:", "null:", "all:", "fixed:",
                  "gmap:", "hmap:", "isa:", "linksto:", "and:", "or:", "vip:",
                  "without:",
                  "prefix:", "[o:", "[n:").exists(raw.startsWith) &&
                  !(try new String(java.util.Base64.getUrlDecoder.decode(raw))
                      .startsWith("graft:")
                    catch { case _: Exception => false })) {
                val shown =
                  if (raw.length > 1027) raw.take(1024) + "..." else raw
                throw Parser.ParseError(
                  s"""BADCURSOR: cannot parse old-style cursor "$shown"""", 0)
              }
            }
            val inj = new Injected
            val c = inj.inject(c0)
            // Resource-ledger bookkeeping for cursor reads that
            // SUSPEND composite state without emitting a stamp in
            // their own token: a sorted read drains its and-iterator
            // (the drained state stores once, so slip's two sort pages
            // share stamp 1 and the first and-cursor mints 2), and an
            // isa read stores its duplicate-check set ([sd:...@N] —
            // content-stable across pages, isa.sh reads 1-3 share 1).
            def hasCursorPat(p: Pattern): Boolean = p match {
              case CursorPat => true
              case ListPat(items) => items.exists(hasCursorPat)
              case PickPat(items) => items.exists(hasCursorPat)
              case _ => false
            }
            val wantsCur = c0.result.exists(hasCursorPat)
            if (wantsCur && c0.sort.nonEmpty) {
              // keyed on producer STRUCTURE, not bounds: a drained
              // iterator's stored state is position- and
              // bounds-independent, so slip's two sort pages (with a
              // write between them growing the gmap spans) share one
              // stamp
              val prods = rootProducers(c0)
              if (prods.length >= 2)
                freezeRes.idFor("anddrained:" + prods.map {
                  case g: RefFreeze.Gmap => s"g:${g.linkChar}:${g.source}"
                  case o: RefFreeze.OrLinksto => s"o:${o.linkChar}"
                  case p: RefFreeze.Prefix => s"p:${p.prefix}"
                  case other => other.toString
                }.mkString(","))
            } else if (wantsCur && c0.sort.isEmpty) {
              c0.subs match {
                case Seq(sub) if sub.effectiveLinkage.exists(
                    _.isInstanceOf[ChildPointsToParent]) &&
                    c0.value.isEmpty && sub.typeNames.isEmpty =>
                  literalPrefix(sub).flatMap(prefixIter).foreach(pre =>
                    freezeRes.idFor("isasd:" + pre.set))
                case _ =>
              }
            }
            val df = ReadPlanner.plan(store, c)
            // capture before the bounds-check replans (which resets it)
            val rootTok = ReadPlanner.lastRootCursorTok
            val rows = df.collect()
            // root count bounds assert on the MATCH count before
            // paging (count2: count=0 value="twin" errors EMPTY even
            // though the page is empty; count=0 on no matches is ok ())
            val b = c0.effectiveCount
            val total: Long =
              if (b.min == 1L && b.max.isEmpty)
                // default bounds: a non-empty page proves existence,
                // but pagesize=0 always yields an empty page — count
                // the unpaged set instead (pagesize golden: ok () for
                // a match, EMPTY for none)
                if (rows.isEmpty && c0.pagesize.contains(0L))
                  math.min(1L, ReadPlanner.plan(store,
                    c.copy(pagesize = None, start = None)).count())
                else (if (rows.nonEmpty) 1L else 0L)
              else ReadPlanner.plan(store,
                c.copy(pagesize = None, start = None)).count()
            val boundsOk = total >= b.min && b.max.forall(total <= _)
            if (!boundsOk) (errLine("EMPTY", "not found"), true)
            else {
              // empty pages still render the pattern frame (a cursor
              // element answers "null:" — dateline-2/3)
              val r = new Renderer(inj, refOf, Some(c), rootTok, lastId)
              (okLine(r.renderResult(c, rows.toSeq, root = true)), c0.sort.nonEmpty)
            }
          } else if (verb == "dump") {
            // dump (start=N end=N pagesize=N) — graphd-dump.c
            val o = cmd.indexOf('('); val cl = cmd.lastIndexOf(')')
            val toks = rTokens(
              if (o >= 0 && cl > o) cmd.substring(o + 1, cl) else "")
            if (toks.exists { case RAtom(a) => !a.contains('='); case _ => true })
              (errLine("SYNTAX", "expected a dump constraint, or ')'"), true)
            else {
              val kv = toks.collect { case RAtom(a) => a }
                .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
              val n = lastId
              val start = kv.get("start").flatMap(_.toLongOption).getOrElse(0L)
              var end = kv.get("end").flatMap(_.toLongOption)
                .map(math.min(_, n)).getOrElse(n)
              var pagesize = if (start < end) end - start else 0L
              kv.get("pagesize").flatMap(_.toLongOption).foreach(p => pagesize = p)
              if (start + pagesize < end) end = start + pagesize
              if (start > end)
                (errLine("SEMANTICS", s"start $start exceeds end $end"), true)
              else {
                val rows = store.primitives
                  .filter(col("id") > start && col("id") <= end)
                  .orderBy(col("id"))
                  .select("id", "typeguid", "name", "datatype", "value",
                    "scope", "live", "archival", "txstart", "timestamp",
                    "left", "right", "prev")
                  .collect()
                def og(r: Row, i: Int): String = // linkage: null → "0"
                  if (r.isNullAt(i)) "0" else refOf(r.getLong(i))
                val tuples = rows.map { r =>
                  val elems = Seq(
                    refOf(r.getLong(0)),
                    if (r.isNullAt(1)) "null" else refOf(r.getLong(1)),
                    if (r.isNullAt(2)) "null" else quote(r.getString(2)),
                    Datatype.name(r.getByte(3)),
                    if (r.isNullAt(4)) "null" else quote(r.getString(4)),
                    og(r, 5),
                    if (r.getBoolean(6)) "true" else "false",
                    if (r.getBoolean(7)) "true" else "false",
                    if (r.getBoolean(8)) "true" else "false",
                    GTimestamp.render(r.getLong(9)),
                    og(r, 10), og(r, 11), og(r, 12))
                  elems.mkString("(", " ", ")")
                }
                val payload = (s""""6" $start $end""" +: tuples)
                  .mkString("(", " ", ")")
                (okLine(payload), true)
              }
            }
          } else if (verb == "restore") {
            // restore ("V" lo hi (tuple)...) — graphd-restore.c
            val o = cmd.indexOf('(')
            if (o < 0) throw Writer.WriteError("SYNTAX", "expected payload")
            val (top, _) = rParse(rTokens(cmd.substring(o)), 0)
            val version = top.headOption match {
              case Some(s: String) => s
              case _ => throw Writer.WriteError("SYNTAX", "expected version")
            }
            if (!Set("1", "2", "4", "5", "6")(version))
              throw Writer.WriteError("SYNTAX", s"bad restore version $version")
            def num(a: Any): Long = a match {
              case RAtom(s) if s.nonEmpty && s.forall(_.isDigit) => s.toLong
              case _ => throw Writer.WriteError("SYNTAX", "expected a number")
            }
            if (top.length < 3)
              throw Writer.WriteError("SYNTAX", "expected start and end")
            val lo = num(top(1)); val hi = num(top(2))
            if (lo > hi)
              throw Writer.WriteError("SEMANTICS",
                s"'$hi': start value cannot exceed end value")
            val tuples = top.drop(3).collect {
              case v: Vector[_] => v.asInstanceOf[Vector[Any]]
            }
            if (tuples.length < hi - lo)
              throw Writer.WriteError("SEMANTICS",
                s"'$hi': too many records")
            if (lo > lastId)
              throw Writer.WriteError("SEMANTICS",
                "restored records must be contiguous - cannot restore " +
                  s"records above $lastId (attempted: $lo)")

            val SerialMask = 0x3FFFFFFFFL // GRAPH_GUID_SERIAL: low 34 bits
            def hexSerial(h: String): Long =
              java.lang.Long.parseUnsignedLong(h.substring(16), 16) & SerialMask
            def hexBHigh(h: String): Long =
              java.lang.Long.parseUnsignedLong(h.substring(16), 16) & ~SerialMask
            /** v1/v2 guids convert to the v5 layout (libgdp
              * gdp-parse.c:2524, graph.h:256 GRAPH_V2GUID_DB,
              * graph-guid.c graph_guid_from_db_serial): db = low-18
              * bits of guid_a ++ bits 34..63 of guid_b; new guid =
              * host(db>>16) "4000" random(db&0xffff) | 8000…|serial.
              */
            def convertHex(h: String): String =
              if (version != "1" && version != "2") h
              else {
                val a = java.lang.Long.parseUnsignedLong(h.substring(0, 16), 16)
                val bBits = java.lang.Long.parseUnsignedLong(h.substring(16), 16)
                val db = ((a & 0x3FFFFL) << 30) | ((bBits >>> 34) & 0x3FFFFFFFL)
                f"${db >>> 16}%08x4000${db & 0xFFFFL}%04x" +
                  f"${SerialBase | (bBits & SerialMask)}%016x"
              }

            // working state, committed only on success (a failed
            // restore request rolls back like any request)
            var st = store
            val truncating = lo == 0L
            val origLast = if (truncating) 0L else lastId
            if (truncating) st = GraphStore.fromSeq(spark, Seq.empty)
            var wServerDb = serverDb
            var wBHigh = serverBHigh
            var wRestored = restoredMode
            val newHex = scala.collection.mutable.Map.empty[Long, String]
            val newRev = scala.collection.mutable.Map.empty[String, Long]
            val serialToLocal = scala.collection.mutable.Map.empty[Long, Long]
            var maxTs = -1L

            val firstHex: Option[String] =
              tuples.headOption.flatMap(_.headOption).collect {
                case RAtom(h) if h.length == 32 => convertHex(h)
              }
            if (tuples.nonEmpty && truncating) {
              if (version == "1") {
                // avoid_database_id: if the incoming (converted) space
                // is the server's own, the server id moves aside while
                // the restored stream keeps it. v1 bootstraps the type
                // system unconditionally (graphd-restore.c:79)
                if (firstHex.exists(_.substring(0, 16) == wServerDb)) {
                  wServerDb =
                    f"${java.lang.Long.parseUnsignedLong(wServerDb, 16) + 1}%016x"
                  wRestored = true
                }
                st = Writer.ensureBootstrap(st)
              } else {
                // adopt_database_id: the incoming space becomes ours
                firstHex.foreach { h =>
                  wServerDb = h.substring(0, 16)
                  wBHigh = hexBHigh(h)
                  if (wServerDb != RefDb || wBHigh != SerialBase) wRestored = true
                }
              }
            }

            val typeCache = scala.collection.mutable.Map.empty[String, Long]
            val pending = scala.collection.mutable.ArrayBuffer.empty[Writer.Spec]
            var flushBase = -1L
            def flush(): Unit = if (pending.nonEmpty) {
              val (st2, _) = Writer.append(st, pending.toSeq)
              st = st2
              pending.clear(); flushBase = -1L
            }
            def predictId(): Long = {
              if (flushBase < 0) flushBase = st.source.nextId
              flushBase + pending.length
            }
            def typeIdOf(name: String): Long =
              typeCache.getOrElseUpdate(name, {
                flush()
                val (st2, id) = Writer.refTypeIdOf(st, Seq(name))
                st = st2
                id
              })
            def aGuid(a: Any): Option[String] = a match {
              case RAtom("0") | RAtom("null") => None
              case RAtom(h) if h.length == 32 => Some(h)
              case _ => throw Writer.WriteError("SYNTAX", "expected a guid")
            }
            def aStr(a: Any): Option[String] = a match {
              case s: String => Some(s)
              case RAtom("null") => None
              case RAtom(x) => Some(x)
              case _ => None
            }
            def targetOf(h: String): Option[Long] =
              // a truncating restore starts from an empty store — the
              // previous epoch's guid mappings don't name anything in
              // it (rerestore: identical restore replayed from 0)
              newRev.get(h).orElse(if (truncating) None else idOfHex.get(h))
                .filter(_ < 0x4000000000000000L) // sentinels aren't prims
                .orElse {
                  if (!wRestored && h.startsWith(RefDb))
                    Some(hexSerial(h) + 1).filter(_ <= origLast)
                  else None
                }
            // the guid space this restore populates (first tuple)
            val restoreSpace: Option[(String, Long)] =
              firstHex.map(h => (h.substring(0, 16), hexBHigh(h)))
            var sentinelNext = 0x4000000000000000L
            def resolveRef(field: String, h0: String): Long = {
              val h = convertHex(h0)
              val r =
                if (version == "1") serialToLocal.get(hexSerial(h))
                else {
                  val s = hexSerial(h)
                  val sameSpace = restoreSpace.exists { case (p, bh) =>
                    p == h.substring(0, 16) && bh == hexBHigh(h) }
                  if (sameSpace) {
                    // ids are pre-allocated serial+1 across the whole
                    // window, so FORWARD references resolve (chris5)
                    if (s < hi || s + 1 <= origLast) Some(s + 1) else None
                  } else newRev.get(h)
                    .orElse(if (truncating) None else idOfHex.get(h))
                    .orElse {
                    // cross-database reference: restores verbatim with
                    // no local primitive behind it (pdb stores whole
                    // guids) — back it with a sentinel id
                    val id = sentinelNext; sentinelNext += 1
                    newHex(id) = h; newRev(h) = id
                    Some(id)
                  }
                }
              r.getOrElse(throw Writer.WriteError("SEMANTICS",
                s"cannot allocate primitive: not found: $field=$h does not exist"))
            }

            tuples.zipWithIndex.foreach { case (t, i) =>
              val v6 = version == "4" || version == "6"
              if (t.length < (if (v6) 13 else 12))
                throw Writer.WriteError("SYNTAX", "short restore tuple")
              val guidHex = aGuid(t(0)).getOrElse(
                throw Writer.WriteError("SYNTAX", "expected a guid"))
              val myHex = convertHex(guidHex)
              val serial = hexSerial(myHex)
              val typeRef: Option[Long] =
                if (version == "1") aStr(t(1)).map(typeIdOf)
                else aGuid(t(1)).map(resolveRef("typeguid", _))
              val nameF = aStr(t(2))
              val dtF = aStr(t(3)).flatMap(Datatype.code)
              val valueF = aStr(t(4))
              val scopeRef = aGuid(t(5)).map(resolveRef("scope", _))
              val live = t(6) == RAtom("true")
              val archival = t(7) == RAtom("true")
              val txs = if (v6) Some(t(8) == RAtom("true")) else None
              val tsAt = if (v6) 9 else 8
              val ts = aStr(t(tsAt)).flatMap(GTimestamp.parse).getOrElse(0L)
              if (ts > maxTs) maxTs = ts
              val leftRef = aGuid(t(tsAt + 1)).map(resolveRef("left", _))
              val rightRef = aGuid(t(tsAt + 2)).map(resolveRef("right", _))
              val prevRef = aGuid(t(tsAt + 3)).map(resolveRef("previous", _))
              val spec = Writer.Spec(
                name = nameF, value = valueF,
                datatype = dtF.getOrElse(
                  if (valueF.isDefined) Datatype.String else Datatype.Null),
                typeguid = typeRef, left = leftRef, right = rightRef,
                scope = scopeRef, live = live, archival = archival,
                prev = prevRef, timestamp = Some(ts), txstart = txs)
              targetOf(myHex) match {
                case Some(id) => // restore over an existing serial
                  flush()
                  import org.apache.spark.sql.functions.{col => c2}
                  val p = graft.model.Primitive(id, spec.typeguid, spec.name,
                    spec.datatype, spec.value, spec.scope, spec.live,
                    spec.archival, spec.txstart.getOrElse(false), ts,
                    spec.left, spec.right, spec.prev, id)
                  st = st.copy(source = st.source
                    .filtered(c2("id") =!= id, _.id != id).appended(Seq(p)))
                  serialToLocal(serial) = id
                  newHex(id) = myHex; newRev(myHex) = id
                case None =>
                  if (spec.prev.isDefined) flush() // lineage lookup needs store
                  val id = predictId()
                  pending += spec
                  serialToLocal(serial) = id
                  newHex(id) = myHex; newRev(myHex) = id
              }
            }
            flush()

            // success — publish
            store = st
            if (truncating) { hexOf.clear(); idOfHex.clear() }
            serverDb = wServerDb; serverBHigh = wBHigh; restoredMode = wRestored
            newHex.foreach { case (id, h) => recordGuid(id, h) }
            lastId = origLast
            sweepNewIds()
            sinceCompact = 7; maybeCompact() // restores append in bulk
            if (maxTs >= 0)
              Writer.tickMicros.foreach(t =>
                t.updateAndGet(c => Math.max(c, maxTs + 100L)))
            (s"ok $prefix".trim, true)
          } else if (verb == "status") {
            // graphd-property.c status: each named property renders its
            // current value; an empty/comment-only list answers ()
            val names = cmd.dropWhile(_ != '(').stripPrefix("(")
              .reverse.dropWhile(_ != ')').drop(1).reverse
              .replaceAll("""(?s)\(:.*?:\)""", " ")
              .split("""\s+""").filter(_.nonEmpty).toSeq
            val vals = names.map {
              case p @ ("core" | "sync" | "logflush") => boolProps(p)
              case "cost" => "\"" + costLimit + "\""
              case "instance-id" => "\"" + instanceId + "\""
              case "loglevel" => "(operator-error)"
              case "access" => "\"read-write\""
              case other =>
                throw Writer.WriteError("SEMANTICS",
                  s"unknown property \"$other\"")
            }
            (okLine(s"(${vals.mkString(" ")})"), true)
          } else if (verb == "set") {
            // graphd-property.c set: (name=value ...); cost strings
            // reparse from scratch (unset members revert to maximum)
            val body = cmd.dropWhile(_ != '(').stripPrefix("(")
              .reverse.dropWhile(_ != ')').drop(1).reverse
            val pair = """([-\w]+)\s*=\s*("[^"]*"|\S+)""".r
            pair.findAllMatchIn(body).foreach { m =>
              val name = m.group(1).toLowerCase
              val value = m.group(2).stripPrefix("\"").stripSuffix("\"")
              name match {
                case "core" | "sync" | "logflush" =>
                  if (value != "true" && value != "false")
                    throw Writer.WriteError("SYNTAX",
                      s""""$name" can be set to "true" or "false", got "$value"""")
                  boolProps(name) = value
                case "cost" => costLimit = parseCostLimit(value)
                case "instance-id" => instanceId = value
                case "loglevel" => // accepted, no visible effect here
                case other =>
                  throw Writer.WriteError("SEMANTICS",
                    s"unknown property \"$other\"")
              }
            }
            (s"ok $prefix".trim, true)
          } else if (verb.equalsIgnoreCase("iterate")) {
            // `iterate (...)`: walks the constraint's iterator for its
            // side effects (index warming) and answers a bare ok
            // (graphd-request-run.c:322; 100x100 golden)
            val c0 = ReadPlanner.normalizeVars(Parser.parseRead(
              "read " + cmd.trim.stripPrefix(verb)))
            ReadPlanner.plan(store, c0).count()
            ("ok ", true) // the reference prints "ok " (trailing space)
          } else (errLine("SYNTAX", s"'$verb': no such request"), true)
        } catch {
          case e: Writer.WriteError =>
            rollbackTicks(); (errLine(e.code, e.msg), true)
          case e: Parser.ParseError =>
            rollbackTicks()
            val m = e.getMessage
            if (m.startsWith("SYNTAX: "))
              (errLine("SYNTAX", m.stripPrefix("SYNTAX: ")), true)
            else if (m.startsWith("LEXICAL: "))
              (errLine("LEXICAL", m.stripPrefix("LEXICAL: ")), true)
            else if (m.startsWith("BADCURSOR: "))
              (errLine("BADCURSOR", m.stripPrefix("BADCURSOR: ")), true)
            else (errLine("SEMANTICS", m), true)
          case e: IllegalArgumentException
              if String.valueOf(e.getMessage).startsWith("EMPTY: ") =>
            // a cursor naming an iterator the engine cannot thaw
            // answers EMPTY (colors3's spelled-out-linkage freeze)
            rollbackTicks()
            (errLine("EMPTY", e.getMessage.stripPrefix("EMPTY: ")), true)
          case e: Throwable =>
            rollbackTicks()
            (errLine("SYSTEM", String.valueOf(e.getMessage)), true)
        }
        }
        if (quiet) None else Some(computed)
        }
      }
      Replayed(out.map(_._1), out.map(_._2))
    } finally {
      Writer.tickMicros = None
      Writer.refBootstrap = false
      graft.plan.Cursor.renderGuid = id => graft.model.Guid.render(id)
      graft.plan.Cursor.parseGuidId =
        h => graft.model.Guid.parse(h).map(_._2).getOrElse(0L)
      graft.plan.Cursor.refIterCursor = None
      graft.plan.Cursor.refChildCursor = None
    }
  }

  /** top-level tuples of an `ok (...)` line, for order-insensitive
    * comparison of unsorted reads
    */
  def topLevelTuples(line: String): Option[(String, Seq[String], Seq[String])] = {
    if (!line.startsWith("ok ")) return None
    // skip echoed request modifiers (id="..." dateline="...") so the
    // multiset comparison still applies to modifier-carrying responses
    val rest = line.substring(3)
    val modRe = """^(\s*[-\w]+="[^"]*")*\s*""".r
    val prefix = modRe.findFirstIn(rest).getOrElse("").trim
    val body = modRe.replaceFirstIn(rest, "").trim
    if (!body.startsWith("(")) return None
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    // bare top-level strings — minted cursor tokens ride OUTSIDE the
    // row tuples (`ok ("cursor:..." ("1") ("2"))`)
    val bares = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var start = -1; var strStart = -1
    var i = 1 // inside the outer paren
    while (i < body.length - 1) {
      body.charAt(i) match {
        case '\\' if inStr => i += 1
        case '"' =>
          if (!inStr && depth == 0) strStart = i
          else if (inStr && depth == 0 && strStart >= 0) {
            bares += body.substring(strStart + 1, i); strStart = -1
          }
          inStr = !inStr
        case '(' if !inStr => if (depth == 0) start = i; depth += 1
        case ')' if !inStr =>
          depth -= 1
          if (depth == 0) { items += body.substring(start, i + 1); start = -1 }
        case _ =>
      }
      i += 1
    }
    if (depth != 0 || start != -1) None
    else Some((prefix, items.toSeq, bares.toSeq))
  }

  /** reference cursor wire forms this engine claims to emit
    * byte-exactly: the empty cursor, sort keyset cursors, and signed
    * iterator cursors (simple + the and/or/fixed-masquerade composite
    * families). Engine-format tokens (the isa: family, whose freeze
    * embeds the sampled cost statistics this engine doesn't carry) are
    * exempt from the byte comparison — resume behavior still gates
    * them.
    */
  private def refWireForm(s: String): Boolean =
    s == "null:" || s.startsWith("sort:") || s.startsWith("cursor:")

  /** compare a replayed line against the golden: byte-equal; or, for
    * unsorted reads, equal multisets of top-level tuples PLUS
    * byte-equal bare strings (minted cursor tokens) whenever the
    * engine emitted the reference wire form; error lines match on the
    * error code (reference messages are prose)
    */
  def linesMatch(expected: String, actual: String, sortedRead: Boolean): Boolean = {
    if (expected == actual) return true
    if (expected.startsWith("error ") && actual.startsWith("error "))
      return expected.split("\\s+").take(2).sameElements(actual.split("\\s+").take(2))
    if (!sortedRead)
      (topLevelTuples(expected), topLevelTuples(actual)) match {
        case (Some((pa, a, sa)), Some((pb, b, sb))) =>
          val cursorsOk = !sb.forall(refWireForm) || sa == sb
          return pa == pb && cursorsOk &&
            a.groupBy(identity).view.mapValues(_.size).toMap ==
              b.groupBy(identity).view.mapValues(_.size).toMap
        case _ =>
      }
    false
  }
}
