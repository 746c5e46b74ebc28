package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s result lines: the full line keeps the per-query map,
  * and the compact line printed last fits a 2000-character stdout tail.
  */
class BenchSpec extends AnyFunSuite {

  test("the last line of a 2000-character stdout tail is the compact result") {
    val ok = (1 to 97).map(i => f"q$i%02d_corpus_operator_name" -> (0.5 + i / 1000.0)).toMap
    val calib = """{"st_ms":812.4,"mt_ms":301.9,"sink":-123456789}"""
    val nonce = "3f0c2a9e-6d1b-4c8e-9a57-0b2d4e6f8a1c"
    val (full, compact) =
      Bench.resultLines(ok, Map("q99_failing" -> "boom \"quoted\""),
        "testdata/sf0.1", 3, calib, nonce)
    assert(full.length > 2000, "the full line no longer needs the compact one")
    val stdout = Seq(full, "26/10/20 12:00:00 WARN teardown noise " * 5, compact)
      .mkString("", "\n", "\n")
    val tail = stdout.takeRight(2000)
    val last = tail.split("\n").last
    val mapper = new ObjectMapper()
    val c = mapper.readTree(last)
    assert(c.get("metric").asText === "total")
    assert(math.abs(c.get("value").asDouble - ok.values.sum) < 1e-3)
    assert(c.get("n_ok").asInt === 97)
    assert(c.get("n_errors").asInt === 1)
    assert(c.get("sf").asText === "testdata/sf0.1")
    assert(c.get("reps").asInt === 3)
    assert(c.get("calib").get("mt_ms").asDouble === 301.9)
    assert(c.get("nonce").asText === nonce)
    assert(!c.has("queries"))
    // readers of the first `{"metric"` line still get every query
    val f = mapper.readTree(stdout.split("\n").find(_.startsWith("{\"metric\"")).get)
    assert(f.get("queries").size === 97)
    assert(f.get("errors").get("q99_failing").asText === "boom \"quoted\"")
    assert(f.get("nonce").asText === nonce)
    assert(f.get("value").asDouble === c.get("value").asDouble)
  }
}
