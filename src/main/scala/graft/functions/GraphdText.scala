package graft.functions

import scala.collection.mutable.ArrayBuffer

/** Pure-Scala semantics of the reference's comparator vtable
  * (graphd/graphd.h:859-996) — sort keys, word segmentation and `~=`
  * matching. Kept free of Spark types so it can be property-tested
  * directly; the Catalyst wrappers live in Expressions.scala.
  *
  * Semantics re-expressed from:
  *  - default comparator: case-insensitive, word-aware, embedded-number
  *    normalization ("x9" < "x10"), punctuation elision for matching
  *    (graphd/graphd-comparator-default.c:57-88)
  *  - word segmentation: alnum runs, numbers normalized
  *    (libpdb/pdb-word.c:20-60)
  *  - number comparator: sign/int/fraction-aware decimal-string compare
  *    (graphd/graphd-comparator-number.c:547)
  *  - datetime comparator (graphd/graphd-comparator-datetime.c:856)
  *  - octet = raw byte compare, case = folded compare
  *    (graphd-comparator-octet.c:551, -case.c:433)
  */
object GraphdText {

  // ---------- word segmentation ----------

  /** Split into lowercase words: runs of letters or runs of digits.
    * Punctuation and whitespace separate words and are dropped —
    * "foo-bar" tokenizes like "foo bar" (libpdb/pdb-word.c).
    */
  def words(s: String): Seq[String] = {
    if (s == null) return Nil
    val out = ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isDigit(c)) {
        val j = i
        while (i < n && Character.isDigit(s.charAt(i))) i += 1
        out += normNumber(s.substring(j, i))
      } else if (Character.isLetter(c)) {
        val j = i
        while (i < n && Character.isLetter(s.charAt(i))) i += 1
        out += s.substring(j, i).toLowerCase
      } else i += 1
    }
    out.toSeq
  }

  /** strip leading zeros so "007" and "7" are the same word */
  private def normNumber(d: String): String = {
    val t = d.dropWhile(_ == '0')
    if (t.isEmpty) "0" else t
  }

  // ---------- sort keys ----------

  /** Default-comparator collation key -- byte-comparable encoding of
    * graph_fuzzycmp (libgraph/graph-fuzzy-compare.c:466): the value is
    * tokenized into number / atom / punctuation fragments (spaces
    * vanish entirely); numbers (sign + digits + optional .digits, no
    * exponent) compare numerically, a number sorts before any
    * non-number token, and non-number tokens compare case-folded.
    * Encoding: number token =  + numeric key (see numKey);
    * text token =  + lowercased bytes. Byte order over the
    * concatenated tokens = fuzzycmp order; key equality = fuzzycmp
    * equality ("0" = "0.0" = "-.0", "1.5dollar" < "1.5" -- compare1 /
    * compare2 / sortnumber goldens).
    */
  def defaultSortKey(s: String): String = {
    if (s == null) return null
    val n = s.length
    val sb = new StringBuilder(n + 8)
    var i = 0
    while (i < n) {
      val (_, e, tpe) = fragmentNext(s, i).get
      if (tpe != FragSpace) {
        if (tpe == FragNumber) {
          val k = numKey(s, i, e, scientific = false)
          if (k != null) sb.append('').append(k)
          else appendFolded(sb.append(''), s, i, e)
        } else appendFolded(sb.append(''), s, i, e)
      }
      i = e
    }
    sb.toString
  }

  private def appendFolded(sb: StringBuilder, s: String, from: Int, to: Int): Unit = {
    var i = from
    while (i < to) { sb.append(Character.toLowerCase(s.charAt(i))); i += 1 }
  }

  /** graph_decode_number (graph-fuzzy-compare.c:211) encoded as a
    * byte-comparable key, or null when s[from,to) is not a number.
    * Sections: '0' -inf, '1' negative, '2' zero, '3' positive, '4'
    * +inf; negatives carry complemented exponent and nines-complement
    * digits with a high terminator so that byte order = numeric order
    * (graph_number_compare, graph-fuzzy-compare.c:413).
    */
  private def numKey(s: String, from0: Int, to: Int, scientific: Boolean): String = {
    var from = from0
    if (from >= to) return null
    if (scientific) {
      val len = to - from
      if (len == 3 && s.regionMatches(true, from, "inf", 0, 3)) return "4"
      if (len == 4 && s.regionMatches(true, from, "+inf", 0, 4)) return "4"
      if (len == 4 && s.regionMatches(true, from, "-inf", 0, 4)) return "0"
    }
    var expStart = to
    if (scientific) {
      var k = from
      while (k < to && expStart == to) {
        val c = s.charAt(k)
        if (c == 'e' || c == 'E') expStart = k
        k += 1
      }
    }
    var positive = true
    s.charAt(from) match {
      case '-' => positive = false; from += 1
      case '+' => from += 1
      case _ =>
    }
    if (from == expStart) return null // no digits before any exponent
    var k = from
    var dots = 0
    while (k < expStart) {
      val c = s.charAt(k)
      if (c == '.') dots += 1
      else if (!isDigitCh(c)) return null
      k += 1
    }
    if (dots > 1) return null
    if (dots == 1 && expStart - from == 1) return null // "." alone
    var fnz = from
    while (fnz < expStart && (s.charAt(fnz) == '0' || s.charAt(fnz) == '.')) fnz += 1
    var lnz = expStart - 1
    while (lnz >= from && (s.charAt(lnz) == '0' || s.charAt(lnz) == '.')) lnz -= 1
    var dot = -1
    k = from
    while (k < expStart && dot < 0) { if (s.charAt(k) == '.') dot = k; k += 1 }
    var exp: Long =
      if (dot < 0) expStart - fnz - 1
      else if (dot > fnz) dot - fnz - 1
      else dot - fnz
    val isZero = fnz == expStart
    if (scientific && expStart != to) {
      // strntoi: overflow makes the whole token a non-number
      // ("1e-123123123123123123123", sortnumber golden)
      var i2 = expStart + 1
      if (i2 >= to) return null
      var eneg = false
      s.charAt(i2) match {
        case '-' => eneg = true; i2 += 1
        case '+' => i2 += 1
        case _ =>
      }
      if (i2 >= to) return null
      var v = 0L
      while (i2 < to) {
        val c = s.charAt(i2)
        if (!isDigitCh(c)) return null
        v = v * 10 + (c - '0')
        if (v > Int.MaxValue) return null
        i2 += 1
      }
      exp += (if (eneg) -v else v)
    }
    if (isZero) return "2"
    // the 4-hex-digit exponent field holds ±32767; clamping anything
    // past it would COLLIDE distinct exponents and misorder (1e40000
    // before 9e39999) — such values fall out of the numeric domain and
    // order lexically in the non-decoding bucket instead
    if (exp + 0x8000L < 0L || exp + 0x8000L > 0xffffL) return null
    val digits = new StringBuilder(lnz - fnz + 1)
    k = fnz
    while (k <= lnz) { val c = s.charAt(k); if (c != '.') digits.append(c); k += 1 }
    val expEnc = (exp + 0x8000L).toInt
    if (positive) "3" + f"$expEnc%04x" + digits
    else {
      var di = 0
      while (di < digits.length) {
        digits.setCharAt(di, ('9' - digits.charAt(di) + '0').toChar)
        di += 1
      }
      // high terminator: a shorter (complemented) digit string must
      // sort AFTER a longer one with the same prefix (-1 > -1.5)
      "1" + f"${0xffff - expEnc}%04x" + digits + "~"
    }
  }

  /** Number-comparator key (graphd-comparator-number.c:120
    * graphd_number_compare): decode with scientific notation and
    * inf/+inf/-inf; non-numbers sort after all numbers and compare
    * case-folded among themselves (graph_strcasecmp fallback).
    */
  def numberSortKey(s: String): String = {
    if (s == null) return null
    val k = numKey(s, 0, s.length, scientific = true)
    if (k != null) k else "~" + s.toLowerCase
  }

  /** pdb_number_normalize (libpdb/pdb-word.c:1057): the canonical
    * rendering of a scientific-notation number — "0" for zeros,
    * "+Inf"/"-Inf", else "<sign><significant digits>e<exponent>"
    * ("0.5" → "5e-1", "120" → "12e2"). Null when s isn't a number.
    * This string keys the value HMAP for number-decoding values.
    */
  def numberCanon(s: String): String = {
    if (s == null) return null
    if (s.equalsIgnoreCase("inf") || s.equalsIgnoreCase("+inf")) return "+Inf"
    if (s.equalsIgnoreCase("-inf")) return "-Inf"
    var from = 0
    val to = s.length
    if (to == 0) return null
    var expStart = to
    var k = 0
    while (k < to && expStart == to) {
      val c = s.charAt(k)
      if (c == 'e' || c == 'E') expStart = k
      k += 1
    }
    var positive = true
    s.charAt(from) match {
      case '-' => positive = false; from += 1
      case '+' => from += 1
      case _ =>
    }
    if (from == expStart) return null
    k = from
    var dots = 0
    while (k < expStart) {
      val c = s.charAt(k)
      if (c == '.') dots += 1
      else if (!isDigitCh(c)) return null
      k += 1
    }
    if (dots > 1) return null
    if (dots == 1 && expStart - from == 1) return null
    var fnz = from
    while (fnz < expStart && (s.charAt(fnz) == '0' || s.charAt(fnz) == '.')) fnz += 1
    var lnz = expStart - 1
    while (lnz >= from && (s.charAt(lnz) == '0' || s.charAt(lnz) == '.')) lnz -= 1
    var dot = -1
    k = from
    while (k < expStart && dot < 0) { if (s.charAt(k) == '.') dot = k; k += 1 }
    var exp: Long =
      if (dot < 0) expStart - fnz - 1
      else if (dot > fnz) dot - fnz - 1
      else dot - fnz
    val isZero = fnz == expStart
    if (expStart != to) {
      var i2 = expStart + 1
      if (i2 >= to) return null
      var eneg = false
      s.charAt(i2) match {
        case '-' => eneg = true; i2 += 1
        case '+' => i2 += 1
        case _ =>
      }
      if (i2 >= to) return null
      var v = 0L
      while (i2 < to) {
        val c = s.charAt(i2)
        if (!isDigitCh(c)) return null
        v = v * 10 + (c - '0')
        if (v > Int.MaxValue) return null
        i2 += 1
      }
      exp += (if (eneg) -v else v)
    }
    if (isZero) return "0"
    val digits = new StringBuilder(lnz - fnz + 1)
    k = fnz
    while (k <= lnz) { val c = s.charAt(k); if (c != '.') digits.append(c); k += 1 }
    (if (positive) "" else "-") + digits + "e" + exp
  }

  /** pdb_hmap_value_normalize (libpdb/pdb-word.c:1098): the key a
    * value is hashed under in the value HMAP — canonical number form
    * when the value parses as a scientific number, else word
    * normalization (leading spaces stripped, space runs collapsed,
    * number words normalized in place, text untouched).
    */
  def valueNormalize(s: String): String = {
    if (s == null) return null
    val nk = numberCanon(s)
    if (nk != null) return nk
    var st = 0
    while (st < s.length && isSpaceCh(s.charAt(st))) st += 1
    val t = s.substring(st)
    val n = t.length
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val (ws, we, kind) = fragmentNext(t, i).get
      if (kind == FragSpace) sb.append(' ')
      else if (kind == FragNumber) sb.append(normalizeNumber(t.substring(ws, we)))
      else sb.append(t.substring(ws, we))
      i = we
    }
    sb.toString
  }

  /** Datetime-comparator key (graphd-comparator-datetime.c semantics,
    * golden: test/unit/datetime.sh): purely lexical — no epoch math, so
    * years -9999..9999 all work.
    *  - negative years order by timeline: bigger magnitude = earlier,
    *    and month/day/time complement within a negative year
    *    ("-0574-10-01" sorts before "-0574-05-10")
    *  - a less specific form sorts immediately BEFORE its minimum
    *    completion ("2008" < "2008-01-01"), which also makes equality
    *    exact per field count (value="2008" does not match
    *    "2008-01-01" — reference r1/r16 behavior)
    *  - time-only forms ("T12:44") sort after ALL dates
    *  - anything else sorts after times ('~' bucket)
    */
  def datetimeSortKey(s: String): String = {
    if (s == null) return null
    val t = s.trim
    // hand-rolled scan (this key sorts hot paths; a regex here costs
    // ~2x on a 150k-row sort)
    val n = t.length
    var i = 0
    def digits(max: Int): Int = {
      // parses 1..max digits at i; -1 if none
      var v = 0; var k = 0
      while (i < n && k < max && Character.isDigit(t.charAt(i))) {
        v = v * 10 + (t.charAt(i) - '0'); i += 1; k += 1
      }
      if (k == 0) -1 else v
    }
    def eat(c: Char): Boolean =
      if (i < n && t.charAt(i) == c) { i += 1; true } else false
    def fracDigits(): String = {
      val j = i
      while (i < n && Character.isDigit(t.charAt(i)) && i - j < 6) i += 1
      t.substring(j, i)
    }
    def atEnd: Boolean = { if (i < n && (t.charAt(i) == 'z' || t.charAt(i) == 'Z')) i += 1; i == n }

    def timeFields(neg: Boolean, sb: StringBuilder): Boolean = {
      // [Thh[:mm[:ss[.ffffff]]]] — appends encoded h/mi/se/frac
      var h = -1; var mi = -1; var se = -1; var fr = ""
      if (i < n && (t.charAt(i) == 't' || t.charAt(i) == 'T')) {
        i += 1
        h = digits(2); if (h < 0) return false
        if (eat(':')) { mi = digits(2); if (mi < 0) return false
          if (eat(':')) { se = digits(2); if (se < 0) return false
            if (eat('.')) { fr = fracDigits(); if (fr.isEmpty) return false }
          }
        }
      }
      def app(v: Int): Unit = {
        val enc = if (v < 0) 0 else v + 1
        val e = if (neg) 99 - enc else enc
        sb.append((e / 10 + '0').toChar).append((e % 10 + '0').toChar)
      }
      app(h); app(mi); app(se)
      val frac = fr + "0" * (6 - fr.length)
      sb.append(if (neg) frac.map(c => ('9' - c + '0').toChar) else frac)
      true
    }

    // time-only form
    if (i < n && (t.charAt(i) == 't' || t.charAt(i) == 'T')) {
      val sb = new StringBuilder("d2")
      // reuse timeFields for the h/mi/se/frac block (h required)
      if (timeFields(neg = false, sb) && sb.length > 2 && atEnd &&
          sb.substring(2, 4) != "00") return sb.toString
      return "~" + t
    }
    val neg = eat('-')
    val y = digits(4)
    if (y < 0) return "~" + t
    val sb = new StringBuilder("d1")
    val yy = if (neg) 10000 - y else y + 10000
    sb.append(f"$yy%05d")
    var mo = -1; var d = -1
    if (eat('-')) { mo = digits(2); if (mo < 0) return "~" + t
      if (eat('-')) { d = digits(2); if (d < 0) return "~" + t }
    }
    def app(v: Int): Unit = {
      val enc = if (v < 0) 0 else v + 1
      val e = if (neg) 99 - enc else enc
      sb.append((e / 10 + '0').toChar).append((e % 10 + '0').toChar)
    }
    app(mo); app(d)
    if (!timeFields(neg, sb)) return "~" + t
    if (!atEnd) return "~" + t
    sb.toString
  }


  def caseSortKey(s: String): String = if (s == null) null else s.toLowerCase

  def sortKey(comparator: String, s: String): String = comparator match {
    case "number" => numberSortKey(s)
    case "datetime" => datetimeSortKey(s)
    case "octet" => s
    case "case-insensitive" | "case" => caseSortKey(s)
    case _ => defaultSortKey(s)
  }

  // ---------- ~= matching ----------
  // Faithful rebuild of the reference's default-comparator glob engine
  // (graphd/graphd-comparator-default.c:87-560 glob_match / glob_step /
  // number_match, over libpdb/pdb-word.c:625 word fragments):
  // case-insensitive whole-word matching over the RAW value text with
  // `*` wildcards, `^`/`$` anchors, `\x` literal-adjacency escapes,
  // punctuation elision, and number-aware words — a numeric pattern
  // word matches a value number as written or after normalization
  // ("7" matches "007" and "7.0" but not "7x" or "0.7"; ".0" matches
  // only a literal ".0" — test/unit/value.sh golden).

  private def isWordCh(c: Char): Boolean = c >= 0x80 || Character.isLetterOrDigit(c)
  private def isSpaceCh(c: Char): Boolean =
    c < 0x80 && (c == ' ' || (c >= '\t' && c <= '\r'))
  // the comparator's punctuation class: any ASCII non-word non-space
  private def isCmpPunct(c: Char): Boolean =
    c < 0x80 && !Character.isLetterOrDigit(c) && !isSpaceCh(c)
  // the word scanner's (printable) punctuation class
  private def isPdbPunct(c: Char): Boolean =
    c > ' ' && c < 0x7f && !Character.isLetterOrDigit(c)
  private def isDigitCh(c: Char): Boolean = c < 0x80 && Character.isDigit(c)
  private def isSignCh(c: Char): Boolean = c == '+' || c == '-'
  private def isNumWordCh(c: Char): Boolean = isWordCh(c) || c == '.' || isSignCh(c)
  private def isBreakCh(c: Char): Boolean =
    isSpaceCh(c) || (isPdbPunct(c) && c != '-' && c != '+')
  private def chEq(a: Char, b: Char): Boolean =
    (if (a < 0x80) Character.toLowerCase(a) else a) ==
      (if (b < 0x80) Character.toLowerCase(b) else b)

  private[graft] final val FragNumber = 0
  private[graft] final val FragAtom = 1
  private[graft] final val FragSpace = 2
  private[graft] final val FragPunct = 3

  /** next word fragment of `s` at `from`: (start, end, kind). A number
    * is [sign] digits [. digits] bounded by non-word characters; a
    * sign counts only at the start of text or after a break, and
    * dotted hierarchies (1.2.3) split one segment at a time
    * (libpdb/pdb-word.c:625 pdb_word_fragment_next).
    */
  private[graft] def fragmentNext(s: String, from: Int): Option[(Int, Int, Int)] = {
    val e = s.length
    if (from >= e) return None
    var r = from
    if (isSignCh(s.charAt(r)) && (r == 0 || isBreakCh(s.charAt(r - 1)))) r += 1
    val preS = r
    while (r < e && isDigitCh(s.charAt(r))) r += 1
    val preE = r
    if ((preS == 0 || s.charAt(preS - 1) != '.') &&
        (preS < preE || r == 0 || !isDigitCh(s.charAt(r - 1))) &&
        r < e && s.charAt(r) == '.') {
      r += 1
      val postS = r
      while (r < e && isDigitCh(s.charAt(r))) r += 1
      val postE = r
      if ((r >= e || !isWordCh(s.charAt(r))) && (postE > postS || preE > preS)) {
        if (r >= e || s.charAt(r) != '.') return Some((from, r, FragNumber))
        if (preS < preE) return Some((from, preE, FragNumber))
        return Some((from, postS, FragPunct))
      }
    }
    if (preS < preE && (preE == e || !isWordCh(s.charAt(preE))))
      return Some((from, preE, FragNumber))
    r = from
    if (isWordCh(s.charAt(r))) {
      r += 1
      while (r < e && isWordCh(s.charAt(r))) r += 1
      Some((from, r, FragAtom))
    } else if (isSpaceCh(s.charAt(r))) {
      r += 1
      while (r < e && isSpaceCh(s.charAt(r))) r += 1
      Some((from, r, FragSpace))
    } else {
      r += 1
      while (r < e && isPdbPunct(s.charAt(r)) &&
          !(isSignCh(s.charAt(r)) && isBreakCh(s.charAt(r - 1)))) r += 1
      Some((from, r, FragPunct))
    }
  }

  /** number normalization (libpdb/pdb-word.c:782): drop '+', -0 is 0,
    * strip leading integer zeros and trailing fraction zeros, drop a
    * bare trailing point, ".15" becomes "0.15"
    */
  private[graft] def normalizeNumber(t: String): String = {
    var i = 0
    var sign = ""
    if (i < t.length && isSignCh(t.charAt(i))) {
      if (t.charAt(i) == '-') sign = "-"
      i += 1
    }
    val dot = t.indexOf('.', i)
    var intP = if (dot >= 0) t.substring(i, dot) else t.substring(i)
    var frac = if (dot >= 0) t.substring(dot + 1) else ""
    frac = frac.reverse.dropWhile(_ == '0').reverse
    intP = { val x = intP.dropWhile(_ == '0'); if (x.isEmpty) "0" else x }
    if (intP == "0" && frac.isEmpty) sign = ""
    if (frac.isEmpty) sign + intP else sign + intP + "." + frac
  }

  private def onlyZerosStars(p: String, s: Int, e: Int): Boolean = {
    var i = s
    while (i < e) {
      if (p.charAt(i) != '0' && p.charAt(i) != '*') return false
      i += 1
    }
    true
  }

  private def allStars(p: String, s: Int, e: Int): Boolean = {
    if (s >= e) return false
    var i = s
    while (i < e) { if (p.charAt(i) != '*') return false; i += 1 }
    true
  }

  /** match a numeric pattern word against one number's text
    * (graphd-comparator-default.c:187): a leading '+' demands a
    * non-negative number, pattern leading zeros are ignored, '*' skips
    * sign/digit runs without crossing the decimal point, everything
    * else compares case-insensitively; a trailing ".000"/".0*" in the
    * pattern may match a fraction-less number.
    */
  private def numberMatch(pat: String, ps0: Int, pe: Int,
      txt: String, ts: Int, r0: Int, e: Int,
      failed: java.util.HashSet[Long] = new java.util.HashSet[Long]): Boolean = {
    // failure memo, same rationale as globStep: the star-split branch
    // recurses per split point — exponential without it
    val __key = (ps0.toLong << 32) | (r0.toLong & 0xffffffffL)
    if (failed.contains(__key)) return false
    val __ok = numberMatchImpl(pat, ps0, pe, txt, ts, r0, e, failed)
    if (!__ok) failed.add(__key)
    __ok
  }

  private def numberMatchImpl(pat: String, ps0: Int, pe: Int,
      txt: String, ts: Int, r0: Int, e: Int,
      failed: java.util.HashSet[Long]): Boolean = {
    var ps = ps0
    var r = r0
    var inWord = false
    if (ps < pe && pat.charAt(ps) == '+') {
      if (r < e && txt.charAt(r) == '-') return false
      if (r < e && txt.charAt(r) == '+') r += 1
      ps += 1
    }
    while (pe - ps >= 2 && pat.charAt(ps) == '0' && isDigitCh(pat.charAt(ps + 1))) ps += 1
    while (true) {
      if (ps >= pe || isSpaceCh(pat.charAt(ps))) {
        if (inWord) {
          if (r < e && isNumWordCh(txt.charAt(r))) return false
          inWord = false
        }
        if (ps >= pe) return true
        ps += 1
      } else if (pat.charAt(ps) == '$' && ps + 1 == pe) {
        while (r < e && !isNumWordCh(txt.charAt(r))) r += 1
        return r >= e
      } else if (pat.charAt(ps) == '*') {
        while (ps < pe && pat.charAt(ps) == '*') ps += 1
        if (!inWord) {
          while (r < e && !isNumWordCh(txt.charAt(r))) r += 1
          if (r >= e) return false
          inWord = true
        }
        if (ps >= pe || (pat.charAt(ps) != '\\' && !isNumWordCh(pat.charAt(ps)))) {
          while (r < e && isNumWordCh(txt.charAt(r)) && txt.charAt(r) != '.') r += 1
          inWord = false
        } else {
          var ch = 'a'
          if (pe - ps >= 2 && pat.charAt(ps) == '\\') ch = pat.charAt(ps + 1)
          var hit = false
          while (!hit && r < e && (txt.charAt(r) == ch ||
              (isNumWordCh(txt.charAt(r)) && txt.charAt(r) != '.'))) {
            if (numberMatch(pat, ps, pe, txt, ts, r, e, failed)) hit = true else r += 1
          }
          if (hit) return true
          // no split matched: fall through with the pattern parked
          // after the asterisks and r at the stop position
        }
      } else if (ps + 1 < pe && pat.charAt(ps) == '\\') {
        ps += 1
        if (!inWord) {
          while (r < e && !isNumWordCh(txt.charAt(r)) && txt.charAt(r) != pat.charAt(ps)) r += 1
          inWord = true
        }
        if (r < e && txt.charAt(r) == pat.charAt(ps)) { ps += 1; r += 1 }
        else return false
      } else if (isCmpPunct(pat.charAt(ps)) && !isNumWordCh(pat.charAt(ps))) {
        if (inWord && (r >= e || !isWordCh(txt.charAt(r)))) inWord = false
        ps += 1
      } else {
        if (!inWord) {
          while (r < e && !isNumWordCh(txt.charAt(r)) && txt.charAt(r) != pat.charAt(ps)) r += 1
          inWord = true
        }
        var run = true
        while (run && ps < pe && isNumWordCh(pat.charAt(ps))) {
          if (r >= e && pat.charAt(ps) == '.' &&
              onlyZerosStars(pat, ps + 1, pe) && {
                val di = txt.indexOf('.', ts); di < 0 || di >= e
              }) return true
          if (r >= e || !chEq(txt.charAt(r), pat.charAt(ps))) return false
          ps += 1
          r += 1
          run = ps < pe && isNumWordCh(pat.charAt(ps))
        }
      }
    }
    false
  }

  /** one alignment attempt of the full pattern from (pr0, r0)
    * (graphd-comparator-default.c:327 glob_step).
    *
    * `failed` memoizes (pr0, r0) states that cannot match: the
    * star-as-word-fragment branch tries every split point recursively,
    * which without the memo is EXPONENTIAL in the number of stars — a
    * ~15-char adversarial pattern ("*a*a*a*a*ab") against a 60-char
    * word pegs a core for hours, per-row inside codegen. The function
    * is pure in (pr0, r0), so caching failures makes it O(|pat|*|txt|).
    */
  private def globStep(shadow: String, pat: String, pr0: Int,
      txt: String, r0: Int,
      failed: java.util.HashSet[Long] = new java.util.HashSet[Long]): Boolean = {
    val __key = (pr0.toLong << 32) | (r0.toLong & 0xffffffffL)
    if (failed.contains(__key)) return false
    val __ok = globStepImpl(shadow, pat, pr0, txt, r0, failed)
    if (!__ok) failed.add(__key)
    __ok
  }

  private def globStepImpl(shadow: String, pat: String, pr0: Int,
      txt: String, r0: Int, failed: java.util.HashSet[Long]): Boolean = {
    val pe = pat.length
    val e = txt.length
    var pr = pr0
    var r = r0
    var inWord = false
    while (true) {
      if (pr >= pe || isSpaceCh(pat.charAt(pr))) {
        if (inWord) {
          if (r < e && isWordCh(txt.charAt(r))) return false
          inWord = false
        }
        if (pr >= pe) return true
        pr += 1
      } else if (pat.charAt(pr) == '$' && pr + 1 == pe) {
        while (r < e && !isWordCh(txt.charAt(r))) r += 1
        return r >= e
      } else {
        // a numeric pattern word decides against the next value number
        // (raw, then normalized); anything else falls through
        val numVerdict: Int = fragmentNext(shadow, pr) match {
          case Some((pwS, pwE, FragNumber)) =>
            var myR = r
            if (!inWord) while (myR < e && !isNumWordCh(txt.charAt(myR))) myR += 1
            fragmentNext(txt, myR) match {
              case Some((twS, twE, FragNumber)) =>
                val ok = allStars(pat, pwS, pwE) ||
                  numberMatch(pat, pwS, pwE, txt, twS, twS, twE) || {
                    val nrm = normalizeNumber(txt.substring(twS, twE))
                    numberMatch(pat, pwS, pwE, nrm, 0, 0, nrm.length)
                  }
                if (ok) { pr = pwE; r = twE; 1 } else 0
              case _ => -1
            }
          case _ => -1
        }
        if (numVerdict == 0) return false
        else if (numVerdict < 0) {
          if (pat.charAt(pr) == '*') {
            var ch = 'a'
            while (pr < pe && pat.charAt(pr) == '*') pr += 1
            if (pe - pr >= 2 && pat.charAt(pr) == '\\') ch = pat.charAt(pr + 1)
            if (!inWord) {
              while (r < e && !isWordCh(txt.charAt(r)) && txt.charAt(r) != ch) r += 1
              if (r >= e) return false
              inWord = true
            }
            if (pr >= pe || (pat.charAt(pr) != '\\' && !isWordCh(pat.charAt(pr)))) {
              // '*' alone: skip one word
              while (r < e && isWordCh(txt.charAt(r))) r += 1
              inWord = false
            } else {
              // '*' as a word fragment: try every split point
              val rw = r
              while (r < e && ((r == rw && txt.charAt(r) == ch) || isWordCh(txt.charAt(r)))) {
                if (globStep(shadow, pat, pr, txt, r, failed)) return true
                r += 1
              }
              return false
            }
          } else if (pr + 1 < pe && pat.charAt(pr) == '\\') {
            // escaped character: literal, adjacent, case-sensitive
            pr += 1
            if (!inWord) {
              while (r < e && !isWordCh(txt.charAt(r)) && txt.charAt(r) != pat.charAt(pr)) r += 1
              inWord = true
            }
            if (r < e && txt.charAt(r) == pat.charAt(pr)) { pr += 1; r += 1 }
            else return false
          } else if (isCmpPunct(pat.charAt(pr))) {
            // unescaped punctuation: elided word separator
            if (inWord && (r >= e || !isWordCh(txt.charAt(r)))) inWord = false
            pr += 1
          } else {
            // literal word characters
            if (!inWord) {
              while (r < e && !isWordCh(txt.charAt(r)) && txt.charAt(r) != pat.charAt(pr)) r += 1
              inWord = true
            }
            while (pr < pe && isWordCh(pat.charAt(pr))) {
              if (r >= e || !chEq(txt.charAt(r), pat.charAt(pr))) return false
              pr += 1
              r += 1
            }
          }
        }
      }
    }
    false
  }

  /** `value ~= pattern` (graphd-comparator-default.c:483 glob_match) */
  def matches(value: String, pattern: String): Boolean = {
    if (value == null || pattern == null) return false
    val e = value.length
    // the shadow pattern replaces escapes with 'x' and '*' with '0' so
    // the word scanner sees the pattern's fragment structure
    val shadow = {
      val sb = new StringBuilder(pattern.length)
      var i = 0
      var esc = false
      while (i < pattern.length) {
        val c = pattern.charAt(i)
        if (!esc) {
          if (c == '\\') { esc = true; sb.append('x') }
          else sb.append(if (c == '*') '0' else c)
        } else { sb.append('x'); esc = false }
        i += 1
      }
      sb.toString
    }
    if (pattern.nonEmpty && pattern.charAt(0) == '^')
      return globStep(shadow, pattern, 1, value, 0)

    var patPot = 0
    while (patPot < pattern.length && pattern.charAt(patPot) == '*') patPot += 1
    var ch = 'a'
    var chPot = 'a'
    if (pattern.length >= 2 && pattern.charAt(0) == '\\') {
      ch = pattern.charAt(1); chPot = pattern.charAt(1)
    } else if (pattern.length - patPot >= 2 && pattern.charAt(patPot) == '\\')
      chPot = pattern.charAt(patPot + 1)
    val patIsNumber = fragmentNext(shadow, 0).exists(_._3 == FragNumber)

    var s = 0
    // ONE failure memo across every start offset: the inner states a
    // failed alignment visits repeat across starts
    val failedStates = new java.util.HashSet[Long]()
    while (s < e) {
      // skip to the next plausible start
      while (s < e && value.charAt(s) != chPot &&
          (if (patIsNumber) !isNumWordCh(value.charAt(s)) else !isWordCh(value.charAt(s)))) s += 1
      if (globStep(shadow, pattern, 0, value, s, failedStates)) return true
      if (patIsNumber) {
        fragmentNext(value, s) match {
          case Some((_, fe, _)) => s = fe
          case None =>
            s += 1
            while (s < e && isWordCh(value.charAt(s))) s += 1
        }
      } else {
        s += 1
        while (s < e && (value.charAt(s) == ch || isWordCh(value.charAt(s)))) s += 1
      }
    }
    // a pattern with no word characters and no escapes matches anything
    var p = 0
    while (p < pattern.length && pattern.charAt(p) != '\\' && !isWordCh(pattern.charAt(p))) p += 1
    p >= pattern.length
  }

  /** octet-comparator `~=`: the same word/glob walk but byte-exact —
    * case-sensitive, no punctuation elision beyond separators and no
    * number normalization (graphd-comparator-octet.c:56-180).
    */
  def matchesOctet(value: String, pattern: String): Boolean = {
    if (value == null || pattern == null) return false
    val e = value.length
    def step(pr0: Int, r0: Int): Boolean = {
      val pe = pattern.length
      var pr = pr0
      var r = r0
      var inWord = false
      while (true) {
        if (pr >= pe || isSpaceCh(pattern.charAt(pr))) {
          if (inWord) {
            if (r < e && isWordCh(value.charAt(r))) return false
            inWord = false
          }
          if (pr >= pe) return true
          pr += 1
        } else if (pattern.charAt(pr) == '$' && pr + 1 == pe) {
          while (r < e && !isWordCh(value.charAt(r))) r += 1
          return r >= e
        } else if (pattern.charAt(pr) == '*') {
          var ch = 'a'
          while (pr < pe && pattern.charAt(pr) == '*') pr += 1
          if (pe - pr >= 2 && pattern.charAt(pr) == '\\') ch = pattern.charAt(pr + 1)
          if (!inWord) {
            while (r < e && !isWordCh(value.charAt(r))) r += 1
            if (r >= e) return false
            inWord = true
          }
          if (pr >= pe || (pattern.charAt(pr) != '\\' && !isWordCh(pattern.charAt(pr)))) {
            while (r < e && isWordCh(value.charAt(r))) r += 1
            inWord = false
          } else {
            while (r < e && (value.charAt(r) == ch || isWordCh(value.charAt(r)))) {
              if (step(pr, r)) return true
              r += 1
            }
            return false
          }
        } else if (pr + 1 < pe && pattern.charAt(pr) == '\\') {
          pr += 1
          if (!inWord) {
            while (r < e && !isWordCh(value.charAt(r)) && value.charAt(r) != pattern.charAt(pr)) r += 1
            inWord = true
          }
          if (r < e && value.charAt(r) == pattern.charAt(pr)) { pr += 1; r += 1 }
          else return false
        } else if (isCmpPunct(pattern.charAt(pr))) {
          if (inWord && (r >= e || !isWordCh(value.charAt(r)))) inWord = false
          pr += 1
        } else {
          if (!inWord) {
            while (r < e && !isWordCh(value.charAt(r)) && value.charAt(r) != pattern.charAt(pr)) r += 1
            inWord = true
          }
          while (pr < pe && isWordCh(pattern.charAt(pr))) {
            if (r >= e || value.charAt(r) != pattern.charAt(pr)) return false
            pr += 1
            r += 1
          }
        }
      }
      false
    }
    if (pattern.nonEmpty && pattern.charAt(0) == '^') return step(1, 0)
    val ch = if (pattern.length >= 2 && pattern.charAt(0) == '\\') pattern.charAt(1) else 'a'
    var s = 0
    while (s < e) {
      while (s < e && value.charAt(s) != ch && !isWordCh(value.charAt(s))) s += 1
      if (step(0, s)) return true
      s += 1
      while (s < e && isWordCh(value.charAt(s))) s += 1
    }
    var p = 0
    while (p < pattern.length && pattern.charAt(p) != '\\' && !isWordCh(pattern.charAt(p))) p += 1
    p >= pattern.length
  }

  /** `~=` under a named comparator (cmp_glob vtable slot) */
  def matchesCmp(comparator: String, value: String, pattern: String): Boolean =
    comparator match {
      case "octet" => matchesOctet(value, pattern)
      case "datetime" => delimitedMatch(pattern, value)
      case _ => matches(value, pattern)
    }

  /** The datetime comparator's `~=` (delimited_string_match,
    * graphd-comparator-datetime.c:299): literal bytes match exactly
    * (case-sensitive); `*` at pattern end matches any suffix, else it
    * skips to the FIRST occurrence of the next pattern byte (no
    * backtracking — "*-02-*" does not match "2000-01-02T..."); a
    * leading '-' on the value (negative year) is skipped by a leading
    * `*`; pattern exhaustion accepts any value suffix.
    */
  def delimitedMatch(pat: String, s: String): Boolean = {
    var p = 0
    var c = 0
    val pe = pat.length
    val se = s.length
    while (p < pe) {
      if (pat.charAt(p) == '*') {
        if (p == pe - 1) return true
        if (c == 0 && se > 0 && s.charAt(0) == '-') c += 1
        val delim = pat.charAt(p + 1)
        while (c < se && s.charAt(c) != delim) c += 1
      } else {
        if (c >= se) return false
        if (pat.charAt(p) != s.charAt(c)) return false
        c += 1
      }
      p += 1
    }
    true
  }

  /** first pattern word usable as an inverted-index key: a fully
    * literal word (no `*`) — the candidate-pruning entry point
    * (graphd/graphd-iterator-prefix.c word candidates).
    */
  /** '.' immediately followed by a digit anywhere in the string — a
    * char scan rather than a regex so embedded newlines can't slip past
    * a non-DOTALL `.`
    */
  def hasFractionalDigit(s: String): Boolean = {
    var i = s.indexOf('.')
    while (i >= 0) {
      if (i + 1 < s.length && s.charAt(i + 1) >= '0' && s.charAt(i + 1) <= '9')
        return true
      i = s.indexOf('.', i + 1)
    }
    false
  }

  def firstIndexWord(pattern: String): Option[String] = {
    if (pattern.indexOf('\\') >= 0) return None // literal-escape path
    // fractional number patterns match values under NORMALIZATION
    // ("0.5" matches ".50"), whose digit-run words (["50"]) need not
    // contain any pattern word — no sound index key exists
    if (hasFractionalDigit(pattern)) return None
    var p = pattern
    if (p.startsWith("^")) p = p.substring(1)
    if (p.endsWith("$") && !p.endsWith("\\$")) p = p.substring(0, p.length - 1)
    // pruning is only sound when no punctuation-joined group exists:
    // "foo-bar" can match a value word "foobar" that the index key
    // "foo" would never surface
    val groups = patternWordGroups(p)
    if (groups.exists(_.length > 1)) None
    else groups.flatten.find(w => !w.contains('*'))
  }

  /** first pattern word of the shape `lit*` (literal prefix, trailing
    * glob) — usable as a prefix-index scan key (PDB_HASH_PREFIX,
    * libpdb/pdb-prefix.c). Requires >=2 literal chars to be selective.
    */
  def firstIndexPrefix(pattern: String): Option[String] = {
    if (pattern.indexOf('\\') >= 0) return None // literal-escape path
    if (hasFractionalDigit(pattern)) return None // see firstIndexWord
    var p = pattern
    if (p.startsWith("^")) p = p.substring(1)
    if (p.endsWith("$") && !p.endsWith("\\$")) p = p.substring(0, p.length - 1)
    val groups = patternWordGroups(p)
    if (groups.exists(_.length > 1)) None
    else groups.flatten.collectFirst {
      case w if w.length >= 3 && w.endsWith("*") &&
        !w.substring(0, w.length - 1).contains('*') =>
        w.substring(0, w.length - 1)
    }
  }

  /** pattern words grouped by separator kind: words inside one group
    * were separated only by punctuation (no whitespace) — "foo-bar" →
    * [[foo, bar]], "foo bar" → [[foo], [bar]]. Escapes (backslash) are
    * treated as punctuation and elided.
    */
  def patternWordGroups(p: String): Seq[Seq[String]] = {
    val out = ArrayBuffer.empty[Seq[String]]
    val cur = ArrayBuffer.empty[String]
    var i = 0
    val n = p.length
    def flush(): Unit = { if (cur.nonEmpty) { out += cur.toSeq; cur.clear() } }
    while (i < n) {
      val c = p.charAt(i)
      if (Character.isLetterOrDigit(c) || c == '*') {
        val j = i
        while (i < n && (Character.isLetterOrDigit(p.charAt(i)) || p.charAt(i) == '*')) i += 1
        val raw = p.substring(j, i)
        // non-glob mixed runs re-split like value words ("x9y" → x,9,y
        // in the same group); glob words keep the '*' intact
        if (raw.contains('*')) cur += raw.toLowerCase
        else cur ++= words(raw)
      } else if (Character.isWhitespace(c)) {
        flush(); i += 1
      } else i += 1 // punctuation: elided, keeps the group open
    }
    flush()
    out.toSeq
  }
}
