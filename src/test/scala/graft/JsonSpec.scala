package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  private def roundTrip(s: String): String =
    JsonMethods.parse("[" + Json.str(s) + "]") match {
      case JArray(List(JString(v))) => v
      case other => fail(s"not one JSON string: $other")
    }

  test("every ASCII char, quote, backslash and non-ASCII text round-trip through a JSON parser") {
    (0 to 0x7F).map(_.toChar.toString).foreach(c => assert(roundTrip(c) === c, c.head.toInt))
    val ascii = (0 to 0x7F).map(_.toChar).mkString
    assert(roundTrip(ascii) === ascii)
    Seq("\"", "\\", "a \"quoted\" C:\\path\\n", "naïve café — 日本語 😀").foreach { s =>
      assert(roundTrip(s) === s)
    }
  }

  test("no raw control char is left in the literal") {
    val lit = Json.str((0 until 0x20).map(_.toChar).mkString)
    assert(!lit.exists(_ < ' '), lit)
    assert(Json.str("a\tb\nc") === "\"a\\tb\\nc\"")
  }
}
