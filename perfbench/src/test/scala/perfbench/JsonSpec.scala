package perfbench

import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("an unmeasured number renders as null, a measured one with all its digits") {
    assert(Main.json(JObject("a" -> JDouble(Double.NaN), "b" -> JDouble(0.123456789012))) ==
      """{"a":null,"b":0.123456789012}""")
  }

  test("maps, sequences and strings render as JSON") {
    assert(Main.json(Map("q" -> "say \"hi\"", "n" -> Seq(1, 2L), "t" -> true)) ==
      """{"q":"say \"hi\"","n":[1,2],"t":true}""")
  }
}
