package graft

import org.scalatest.funsuite.AnyFunSuite

/** The JS migration shim's text passes read literals and brackets only
  * through the one scanner (`Stages.JsScan`) and rewrite only through the
  * one bounded loop (`Stages.jsRewriteAll`). */
class JsShimSpec extends AnyFunSuite {

  test("quote state lives only in JsScan; no hand-written walk or rewrite loop is left") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/stages/Stages.scala"))
    val scanStart = src.indexOf("final class JsScan(")
    val scanEnd = src.indexOf("\n  }\n", scanStart)
    assert(scanStart > 0 && scanEnd > scanStart)
    // a Char-typed quote state initialised to "no quote"
    val quoteState = """:\s*Char\s*=\s*0\b""".r.findAllMatchIn(src).map(_.start).toList
    assert(quoteState.nonEmpty && quoteState.forall(i => i > scanStart && i < scanEnd),
      quoteState)
    assert("""while\s*\(\s*continue\s*\)""".r.findFirstIn(src).isEmpty)
    val gone = """\b(closingBrace|closingParen|splitTopLevelJs|splitArgs|inJsLiteral)\b""".r
    assert(gone.findAllIn(src).toList.isEmpty)
  }
}
