package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  test("Verify.q output round-trips quotes, backslashes and control chars through Jackson") {
    val s = "a\"b\\c\td\re\nf\u0001g"
    val m = new ObjectMapper()
    assert(m.readValue(Verify.q(s), classOf[String]) === s)
    val obj = m.readTree(s"{${Verify.q(s)}: ${Verify.q(s)}}")
    assert(obj.get(s).asText() === s)
  }
}
