package graftbench

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The result line must survive the places it gets printed: behind sbt's
  * `[info] ` prefix with a `[success]` trailer after it, and in a JVM
  * whose default locale writes decimal commas.
  */
class ResultLineSpec extends AnyFunSuite {

  private def withLocale[A](l: Locale)(body: => A): A = {
    val prev = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(prev)
  }

  /** The last line of the tail's final 2,000 characters that parses as a JSON object. */
  private def lastJson(tail: String): com.fasterxml.jackson.databind.JsonNode = {
    val m = new ObjectMapper()
    tail.takeRight(2000).split("\n").reverseIterator
      .map(_.stripPrefix("[info] ").trim)
      .filter(_.startsWith("{"))
      .flatMap(l => scala.util.Try(m.readTree(l)).toOption)
      .next()
  }

  test("the result line parses back from a simulated sbt tail under a de_DE locale") {
    withLocale(Locale.GERMANY) {
      val metrics = Map(
        "pass_s" -> Map("value" -> 2.3125, "n" -> 7),
        "op_s_p50" -> Map("value" -> 1.0e-4, "n" -> 70),
        "peak_rss_mb" -> Map("value" -> 1234.5, "n" -> 1))
      val line = Json.render(scala.collection.immutable.ListMap(
        "correct" -> true, "attempted" -> 70L, "failed" -> 0L, "failed_frac" -> 0.0,
        "metrics" -> metrics))
      assert(!line.contains("2,3125"))
      val noise = (1 to 200).map(i => s"[info] [bench] op_$i ${Json.fmt("%.2f", i / 3.0)}").mkString("\n")
      val tail = s"$noise\n[info] $line\n[success] Total time: 12 s, completed Oct 17, 2026\n"
      val n = lastJson(tail)
      assert(n.get("correct").asBoolean())
      assert(n.get("attempted").asLong() == 70L)
      assert(n.get("metrics").get("pass_s").get("value").asDouble() == 2.3125)
      assert(n.get("metrics").get("op_s_p50").get("value").asDouble() == 1.0e-4)
      assert(n.get("metrics").get("op_s_p50").get("n").asInt() == 70)
      assert(n.get("metrics").get("peak_rss_mb").get("value").asDouble() == 1234.5)
    }
  }

  test("fixed-width numbers ignore the default locale") {
    withLocale(Locale.GERMANY) {
      assert(Json.fmt("%.2f", 1.5) == "1.50")
      assert(Json.num(0.25) == "0.25")
      assert(Json.num(Double.NaN) == "null")
    }
  }

  test("strings are escaped, control characters included") {
    val s = Json.str("a\"b\\c\nd\u0001é")
    assert(new ObjectMapper().readTree(s).asText() == "a\"b\\c\nd\u0001é")
  }
}
