package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraphdText
import graft.model.{GTimestamp, Guid}

/** Comparator semantics vs the reference's documented rules
  * (graphd/graphd-comparator-default.c:57-88, libpdb/pdb-word.c,
  * test corpus: compare*, substring*, spacematch, numbermatch).
  */
class TextSpec extends AnyFunSuite {

  test("word segmentation elides punctuation and case") {
    assert(GraphdText.words("Foo-Bar baz") == Seq("foo", "bar", "baz"))
    assert(GraphdText.words("foo  bar") == Seq("foo", "bar"))
    assert(GraphdText.words("x9y") == Seq("x", "9", "y"))
    assert(GraphdText.words("007 bond") == Seq("7", "bond"))
    assert(GraphdText.words("") == Nil)
  }

  test("default comparator: fuzzycmp token semantics") {
    val k = GraphdText.defaultSortKey _
    // digits attached to letters form one ATOM — compared as text
    // (graph_fuzzycmp: "x9" is a single word fragment, so "x10"
    // sorts before "x9" lexically)
    assert(k("x10") < k("x9"))
    assert(k("x10") < k("x11"))
    // separated numbers compare numerically
    assert(k("x 9") < k("x 10"))
    assert(k("a 2 b") < k("a 10 b"))
    assert(k("A") == k("a"))        // case-insensitive
    // a '.'-attached digit run is a FRACTION ("file.10" = file 0.10)
    assert(k("file.10") < k("file.9"))
    // number tokens sort before text tokens
    assert(k("9 zz") < k("aa"))
  }

  test("number comparator orders decimal strings numerically") {
    val k = GraphdText.numberSortKey _
    assert(k("2") < k("10"))
    assert(k("-5") < k("3"))
    assert(k("-10") < k("-2"))
    assert(k("0.5") < k("1"))
    assert(k("3.14") < k("3.2"))
    assert(k("10") < k("abc"))      // non-numbers after numbers
    // magnitudes past any fixed pad width: the digit-count prefix
    // orders "5e50" < "1e60" (51 vs 61 integer digits)
    assert(k("5e50") < k("1e60"))
    assert(k("-1e60") < k("-5e50")) // complemented count for negatives
    assert(k("1e60") < k("2e60"))
    assert(k("-2e60") < k("-1e60"))
    assert(k("9" * 45) < k("1e50"))
    assert(k("1e50") == k("10e49")) // same number, different notation
    assert(k("0") < k("1e-50"))
    assert(k("-1e-50") < k("0"))
  }

  test("~= word match: case, punctuation elision, anchors, glob") {
    val m = GraphdText.matches _
    assert(m("Herman Melville", "herman"))
    assert(m("foo-bar", "foo bar"))       // punctuation elision
    assert(m("foo bar", "foo-bar"))
    assert(!m("foobar", "foo bar"))       // one word ≠ two words
    assert(m("the quick brown fox", "quick brown"))
    assert(!m("the quick brown fox", "quick fox")) // must be contiguous
    assert(m("hello world", "^hello"))
    assert(!m("say hello world", "^hello"))
    assert(m("say hello world", "world$"))
    assert(!m("world peace now", "world$"))
    assert(m("metaweb", "meta*"))
    assert(m("metaweb", "*web"))
    assert(m("metaweb", "m*b"))
    assert(!m("metaweb", "x*"))
    assert(m("agent 007", "agent 7"))     // number normalization
    // punctuation-joined pattern words match split AND joined forms
    // (substring.sh golden: foo-bar hits both "fOO BaR baZ" and "foobar")
    assert(m("foobar", "foo-bar"))
    assert(m("foo bar", "foo-bar"))
    assert(!m("foobar", "foo bar"))       // space never joins
    assert(m("x9y", "x9y"))               // mixed runs re-split like values
  }

  test("escaped-punctuation patterns keep whole-word semantics") {
    val m = GraphdText.matches _
    assert(m("User:foo", "User\\:foo"))
    assert(m("a User:foo b", "User\\:foo"))
    // unanchored escaped patterns must not match mid-word: the
    // non-escaped matcher requires whole-word equality
    assert(!m("User:foobar", "User\\:foo"))
    assert(!m("Userx:foo", "User\\:foo"))
    assert(m("agent:007", "agent\\:7"))    // digits normalized
    assert(!m("agent:0071", "agent\\:7"))  // 71 ≠ 7
    assert(!m("agent:7x", "agent\\:7"))    // "7x" is one word, not "7"
    assert(m("v1:go", "v1\\:go*"))         // trailing glob keeps prefix match
  }

  test("default sort key: signed embedded numbers") {
    val k = GraphdText.defaultSortKey _
    assert(k("-9998") < k("2008"))        // datetime.sh r20 behavior
    assert(k("-9998") < k("-8123"))       // bigger magnitude earlier
    assert(k("-50") < k("-5"))
    assert(k("2008-05-03") > k("2008"))   // inner '-' stays punctuation
  }

  test("timestamp codec round-trips and fills partial dates with minimums") {
    assert(GTimestamp.parse("2024-03-05T10:20:30.5Z").isDefined)
    assert(GTimestamp.parse("2024") == GTimestamp.parse("2024-01-01T00:00:00.0000Z"))
    assert(GTimestamp.parse("2024-03") == GTimestamp.parse("2024-03-01T00:00:00Z"))
    val t = GTimestamp.parse("1970-01-01T00:00:00.0000Z").get
    assert(t == 0L)
    assert(GTimestamp.render(0L) == "1970-01-01T00:00:00.0000Z")
    val x = GTimestamp.parse("2008-05-15T07:08:09.1234Z").get
    assert(GTimestamp.render(x) == "2008-05-15T07:08:09.1234Z")
    // sub-100µs timestamps render distinctly (lossless round-trip):
    // 6-digit micros are parsed and must not collapse to 4 digits
    val fine = GTimestamp.parse("2008-05-15T07:08:09.123456Z").get
    assert(GTimestamp.render(fine) == "2008-05-15T07:08:09.123456Z")
    assert(GTimestamp.parse(GTimestamp.render(fine)).contains(fine))
    assert(GTimestamp.render(fine) != GTimestamp.render(x))
  }

  test("guid codec round-trips") {
    val g = Guid.render(42L)
    assert(g.length == 32)
    assert(Guid.parse(g).contains((Guid.LocalDb, 42L)))
    assert(Guid.serialOf(g).contains(42L))
    assert(Guid.serialOf("123").contains(123L))
    assert(Guid.serialOf("zz").isEmpty)
  }

  test("unigram log-prob scores a token-less corpus null, not infinite") {
    val spark = TestSpark.spark
    import spark.implicits._
    // every document tokenizes to nothing: the corpus total is zero
    val blank = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .unigramLogProbScore(blank, "doc_id", "text").collect()
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(got.forall(_.isNullAt(1)), got.mkString(", "))
  }
}

/** Property-style tests (seeded exhaustive samples): comparator keys
  * are order-homomorphic with the semantics they encode.
  */
class TextPropSpec extends AnyFunSuite {
  test("number sort key orders like numeric value (seeded sample)") {
    val rnd = new scala.util.Random(42)
    val xs = Seq.fill(500)(rnd.nextInt(2000000) - 1000000) ++
      Seq(0, 1, -1, Int.MaxValue, Int.MinValue + 1)
    for (a <- xs.take(80); b <- xs.take(80)) {
      val cmp = GraphdText.numberSortKey(a.toString)
        .compareTo(GraphdText.numberSortKey(b.toString))
      assert(Integer.signum(cmp) == Integer.signum(a.compareTo(b)),
        s"order mismatch for $a vs $b")
    }
  }

  test("decimal fractions order numerically (seeded sample)") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(200)(BigDecimal(rnd.nextInt(1000000) - 500000, rnd.nextInt(4)))
    for (a <- xs.take(50); b <- xs.take(50)) {
      val cmp = GraphdText.numberSortKey(a.toString)
        .compareTo(GraphdText.numberSortKey(b.toString))
      assert(Integer.signum(cmp) == a.compare(b) ||
        (a == b && cmp == 0), s"order mismatch for $a vs $b")
    }
  }
}
