package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gql.Parser

/** Cursor signing over every result keyword the parser accepts: each
  * renders as its own keyword, so a read naming it signs rather than
  * failing the signature's pattern match.
  */
class CursorSigSpec extends AnyFunSuite {
  test("estimate and iterator results sign as their keywords") {
    Seq("estimate", "iterator").foreach { kw =>
      val sig = CursorSig.signature(Parser.parseRead(s"read (result=$kw)"), _.toString)
      assert(sig.contains(s"result=$kw"), sig)
    }
  }
}
