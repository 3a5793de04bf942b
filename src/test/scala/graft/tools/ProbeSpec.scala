package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def probe(args: String*): (Int, Seq[String]) = {
    val out = new ByteArrayOutputStream()
    val failed = Console.withOut(out)(Probe.run(spark, args))
    (failed, out.toString("UTF-8").linesIterator.toSeq)
  }

  test("times, job-attributes and plan-dumps one query") {
    val dir = Files.createTempDirectory("probe_spec")
    val (failed, lines) = probe(SparkFixture.sf0001, "q6_forecast_revenue",
      "--runs", "1", "--jobs", "--plans", dir.toString)
    assert(failed === 0, lines.mkString("\n"))
    assert(lines.count(_.startsWith("TIMER q6_forecast_revenue: ")) === 1, lines)
    assert(lines.exists(_.startsWith("  job ")), lines)
    assert(lines.exists(_.startsWith("PLAN q6_forecast_revenue exchanges=")), lines)
    val plan = Files.readString(dir.resolve("q6_forecast_revenue.txt"))
    assert(plan.contains("=== q6_forecast_revenue explain formatted ==="), plan)
    assert(plan.contains("=== q6_forecast_revenue executed (AQE-final) ==="), plan)
  }

  test("an unknown query prints FAILED and counts as a failure") {
    val (failed, lines) = probe(SparkFixture.sf0001, "no_such_query", "--runs", "1")
    assert(failed === 1)
    assert(lines.exists(l => l.startsWith("TIMER no_such_query: FAILED")), lines)
  }

  test("one drift rule: a class whose timings move more than 1.5x either way") {
    // Bench passes pre/mid/post triples, Probe pre/post pairs
    assert(DriftCanary.driftedClasses(Seq(
      "scan" -> Seq(2.0, 3.0, 2.5), "shuffle" -> Seq(1.0, 1.2, 1.51))) === Seq("shuffle"))
    assert(DriftCanary.driftedClasses(Seq(
      "scan" -> Seq(4.0, 2.0), "shuffle" -> Seq(1.0, 1.5))) === Seq("scan"))
    // a zero reading names no class (no ratio to take)
    assert(DriftCanary.driftedClasses(Seq("scan" -> Seq(0.0, 9.0))) === Seq.empty)
  }
}
