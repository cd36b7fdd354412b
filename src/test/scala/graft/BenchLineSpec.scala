package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s metric line reports a query that throws in an
  * explicit `failed` list: it has no time, adds nothing to the total,
  * and the line, which names the core count the run had, still fits
  * the stdout tail. */
class BenchLineSpec extends AnyFunSuite {

  private val fields = Bench.LineFields(total = 0.0, retries = 0, stalls = 0L,
    stallSec = 0.0, baseline16 = 0.0, calSec = 1.0, cpus = 32, sf = "/data/sf0.1")

  private def parse(line: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("a throwing query lands in failed, not in the times or the total") {
    val names = Seq("q_ok", "q_boom", "q_flaky")
    var calls = 0
    val passes = (1 to 3).map { _ =>
      Bench.pass(names) {
        case "q_boom" => throw new IllegalStateException("injected")
        case "q_flaky" => calls += 1; if (calls == 2) throw new RuntimeException("once")
        case _ => ()
      }
    }
    val byName = passes.flatten.groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).toList }
    val (results, failed) = Bench.summarize(names, byName)
    assert(results.map(_._1) == Seq("q_ok"))
    assert(failed == Seq("q_boom", "q_flaky"))

    val line = Bench.metricLine(fields.copy(total = results.map(_._2).sum),
      results, failed, Bench.maxLine)
    val json = parse(line)
    assert(json.get("failed").elements().asScala.map(_.asText()).toSeq ==
      Seq("q_boom", "q_flaky"))
    assert(json.get("queries").fieldNames().asScala.toSeq == Seq("q_ok"))
    assert(!line.contains("-1"), line)
  }

  test("the line stays inside maxLine with many timings and many failures") {
    val results = (1 to 300).map(i => f"q_query_number_$i%03d" -> i / 7.0)
    val failed = (1 to 100).map(i => f"q_failed_query_$i%03d")
    val full = Bench.metricLine(fields, results, failed, Bench.maxLine)
    assert(full.length <= Bench.maxLine)
    val json = parse(full)
    assert(json.get("cpus").asInt() == 32, full)
    assert(json.get("dropped").asInt() + json.get("queries").size == 300)
    assert(json.get("failed").size + json.get("failed_dropped").asInt() == 100)
    // timings drop before any failed name does
    val some = Bench.metricLine(fields, results, failed.take(3), Bench.maxLine)
    assert(parse(some).get("failed").size == 3 && !some.contains("failed_dropped"))
    assert(parse(some).get("queries").size > 0)
  }
}
