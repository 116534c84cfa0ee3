package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench record's run stamp must stay valid JSON for every value the
  * session parallelism can take, `local[*]`'s `*` and an empty setting
  * included. */
class BenchSpec extends AnyFunSuite {

  test("run stamp parses as JSON and carries cpus_session verbatim") {
    val mapper = new ObjectMapper()
    Seq("4", "*", "").foreach { cpusSession =>
      val stamp = Bench.runStamp(4, cpusSession, 0.5, 0.25, 1.0, loaded = false)
      assert(stamp.startsWith(","))
      val node = mapper.readTree("{" + stamp.drop(1) + "}")
      assert(node.get("cpus_session").asText() == cpusSession)
      assert(node.get("cpus").asInt() == 4)
      assert(node.get("loadavg_start").asDouble() == 0.5)
      assert(node.get("loadavg5_start").asDouble() == 0.25)
      assert(node.get("loadavg_end").asDouble() == 1.0)
      assert(!node.get("loaded").asBoolean())
    }
  }
}
