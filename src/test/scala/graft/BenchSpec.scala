package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The machine-read output formats of the harness mains. */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  test("the bare bench digest parses as JSON with every contract key") {
    val run = Bench.Run(Map("q01_scan_filter" -> 1.5, "q02_agg_pricing" -> 0.25),
      failed = Set("q02_agg_pricing"))
    val line = Bench.digest(run, "/data/sf0.1", "min", 3)
    assert(!line.contains("\n"))
    val d = json.readTree(line)
    assert(d.fieldNames().asScala.toSeq === Seq("metric", "value", "unit",
      "queries", "gates", "basis", "runs", "cpus", "sf", "artifact"))
    assert(d.get("metric").asText === "total")
    assert(d.get("value").asDouble === 1.75)
    assert(d.get("unit").asText === "sec")
    assert(d.get("queries").isObject && d.get("queries").isEmpty)
    assert(d.get("gates").asInt === 2)
    assert(d.get("basis").asText === "min")
    assert(d.get("runs").asInt === 3)
    assert(d.get("cpus").asInt === GraftSession.cpus)
    assert(d.get("sf").asText === "/data/sf0.1")
    assert(d.get("artifact").asText ===
      s"bench_out/latest_c${GraftSession.cpus}.json")
  }

  test("oracle_sql.json round-trips names and SQL with control characters") {
    val name = "q\t\r\"\\\u0001x"
    val sql = "SELECT '\t' AS a,\r\n \"b\\c\" \u0001 FROM t"
    val text = Verify.oracleJson(Map(name -> sql, "q01" -> "SELECT 1"))
    assert(!text.exists(c => c < ' '))
    val back = json.readTree(text)
    assert(back.size === 2)
    assert(back.get(name).asText === sql)
    assert(back.get("q01").asText === "SELECT 1")
  }
}
