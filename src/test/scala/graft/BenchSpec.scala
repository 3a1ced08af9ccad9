package graft

import java.util.Locale

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Bench` output line: one strict-JSON object whose keys,
  * error rows and null-sample rule readers of BENCH_OUT.json rely on.
  * Pure — no Spark session. */
class BenchSpec extends AnyFunSuite {
  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  private val ok = (s: Double) => (s, None: Option[String])
  private val failed = (s: Double, m: String) => (s, Some(m): Option[String])

  test("min over successful samples; a failed sample is null, not a time") {
    val j = parse(Bench.resultLine("/d", 0.25,
      Seq("q1" -> Seq(ok(0.9), failed(0.01, "boom"), ok(0.5)))))
    assert(j.get("queries").get("q1").asDouble == 0.5)
    val s = j.get("samples").get("q1")
    assert(s.size == 3 && s.get(0).asDouble == 0.9 && s.get(1).isNull &&
      s.get(2).asDouble == 0.5)
    assert(j.get("errors").size == 0)
    assert(j.get("n_ok").asInt == 1 && j.get("n_err").asInt == 0)
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("floor_sec").asDouble == 0.25 && j.get("sf").asText == "/d")
  }

  test("a query failing all three samples is an error row, outside queries and value") {
    val j = parse(Bench.resultLine("/d", 0.25, Seq(
      "q1" -> Seq(ok(0.5), ok(0.75), ok(0.6)),
      "q2" -> Seq(failed(0.1, "first"), failed(0.2, "second"),
        failed(0.3, "last")))))
    assert(!j.get("queries").has("q2"))
    assert(j.get("errors").get("q2").asText == "last")
    assert(j.get("value").asDouble == 0.5)
    assert(j.get("n_ok").asInt == 1 && j.get("n_err").asInt == 1)
    val s = j.get("samples").get("q2")
    assert((0 until 3).forall(i => s.get(i).isNull))
  }

  test("control characters, quotes and backslashes are escaped") {
    val msg = "a\"b\\c\nd\te\u0001f"
    val line = Bench.resultLine("/d\n", 0.25,
      Seq("q\"x" -> Seq.fill(3)(failed(0.1, msg))))
    assert(!line.exists(_ < ' '), "raw control byte in the output line")
    val j = parse(line)
    assert(j.get("errors").get("q\"x").asText == msg)
    assert(j.get("sf").asText == "/d\n")
  }

  test("numbers are locale-free under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val line =
      try Bench.resultLine("/d", 0.125,
        Seq("q1" -> Seq(ok(1.5), ok(1.25), ok(2.0)),
          "q2" -> Seq(ok(0.5), ok(0.5), ok(0.5))))
      finally Locale.setDefault(saved)
    assert(line.contains("\"value\":1.75,"))
    assert(line.contains("\"q1\":1.250"))
    assert(line.contains("\"floor_sec\":0.125"))
    assert(line.contains("\"q1\":[1.500,1.250,2.000]"))
    assert(parse(line).get("value").asDouble == 1.75)
  }
}
