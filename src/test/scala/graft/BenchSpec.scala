package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The run records tools parse: Bench's one JSON line and Verify's
  * oracle_sql.json must stay valid JSON whatever text they carry. */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("the bench line round-trips error text with control chars, " +
    "keeps \"metric\" first and rounds telemetry to 3 decimals") {
    import Bench.{Attempt, Run}
    val msg = "bad\tplan \u0001 \"q\" C:\\tmp"
    val ok = Attempt(1.23456, None, 0.1234, 2.5, 0.4, 0.98765)
    val failed = Attempt(0.5, Some(msg), 0.0, 0.1, 2.0, 0.0)
    val runs = Seq(
      Run("q01_a", ok, None, 12.3456, Seq(ok), contended = false),
      Run("q02_b", Attempt(-1.0, None, 0.0, -1.0, -1.0, -1.0), Some(msg), 12.5,
        Seq(failed, failed), contended = true))
    val line = Bench.json(runs, "/data/sf\"0.1")
    assert(line.startsWith("{\"metric\"") && !line.contains("\n"))
    val j = mapper.readTree(line)
    assert(j.fieldNames().asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "errors", "gc", "cpu", "steal_pct", "jit", "codecache_mb",
      "attempt_walls", "attempt_jits", "attempt_steals", "contended", "sf"))
    assert(j.get("value").asDouble == 1.23456)
    assert(j.get("errors").get("q02_b").asText == msg)
    assert(j.get("errors").size == 1)
    assert(j.get("queries").get("q02_b").asDouble == -1.0)
    assert(j.get("jit").get("q01_a").asDouble == 0.988)
    assert(j.get("codecache_mb").get("q01_a").asDouble == 12.346)
    assert(j.get("attempt_walls").get("q02_b").elements().asScala
      .map(_.asDouble).toSeq == Seq(-1.0, -1.0))
    assert(j.get("attempt_steals").get("q02_b").get(0).asDouble == 2.0)
    assert(j.get("contended").fieldNames().asScala.toSeq == Seq("q02_b"))
    assert(j.get("sf").asText == "/data/sf\"0.1")
  }

  test("oracle_sql.json round-trips multi-line SQL with tabs, quotes and " +
    "backslashes") {
    val sql = Map(
      "q01_a" -> "SELECT\n\tx AS \"a\\b\"\r\nFROM t -- \u0001",
      "q02_b" -> "SELECT 1")
    val back = mapper.readValue(Verify.oracleJson(sql), classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql)
  }
}
