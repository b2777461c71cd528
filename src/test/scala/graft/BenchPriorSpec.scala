package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's one bench line and its prior: the line main renders
  * parses back through loadPrior, only a full-suite sf0.1 run writes the
  * root file, and a run adjudicates only against a line stamped with its
  * own sf and CPU count.
  */
class BenchPriorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = Files.createTempDirectory("bench-prior")

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(dir.toFile) finally super.afterAll()

  private def write(content: String): String = {
    val f = Files.createTempFile(dir, "bench", ".json")
    Files.writeString(f, content)
    f.toString
  }

  private val sf01 = "/root/testdata/sf0.1"

  private val line1 =
    """{"metric":"total","unit":"sec","audit":[],"anchors":[0.2],""" +
      s""""queries":{"q1":1.00,"q2":2.00},"value":3.0,"anchor":0.2,"sf":"$sf01"}"""

  private def stamped(cpus: String): String =
    Bench.benchLine(Map("q1_a" -> 1.0, "q2_b" -> 2.0), Nil, 0.2, Seq(0.2), Nil, sf01, cpus, "0123abc")

  test("single complete line parses with anchor, queries, and sf") {
    val p = Bench.loadPrior(write(line1)).get
    assert(p.anchor == 0.2)
    assert(p.queries == Map("q1" -> 1.0, "q2" -> 2.0))
    assert(p.sf.contains(sf01))
    assert(p.cpus.isEmpty && p.commit.isEmpty)
  }

  test("full bench line: canonical 32-CPU file, per-CPU file otherwise, stamped with cpus and commit") {
    assert(Bench.fullBenchFile("32") == "BENCH_FULL.json")
    assert(Bench.fullBenchFile("8") == "BENCH_FULL_c8.json")
    assert(Bench.fullBenchFile("4") == "BENCH_FULL_c4.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(stamped("8"))
    assert(node.get("cpus").asInt() == 8 && node.get("commit").asText() == "0123abc")
    val p = Bench.loadPrior(write(stamped("8") + "\n")).get
    assert(p.cpus.contains("8") && p.commit.contains("0123abc"))
  }

  test("the line main renders parses back to its anchor, queries, sf and cpus") {
    val line = Bench.benchLine(
      results = Map("q01_scan" -> 1.234, "q140_index" -> 0.5, "q7_x" -> 2.0),
      remeasured = Seq("q01" -> 1.5), anchor = 0.0725, anchors = Seq(0.07, 0.08),
      audit = Seq("q7_x"), sfDir = sf01, cpus = "4", commit = "abc")
    assert(!line.contains("\n"))
    val p = Bench.loadPrior(write(line + "\n")).get
    assert(p.anchor == 0.073)
    assert(p.queries == Map("q01" -> 1.23, "q140" -> 0.5, "q7" -> 2.0),
      "queries come from the queries map only, by qNN prefix")
    assert(p.sf.contains(sf01) && p.cpus.contains("4") && p.commit.contains("abc"))
  }

  test("only a full-suite sf0.1 run writes the root file; every other run writes SPARK_GRAFT_BENCH_OUT") {
    val out = "target/bench_full.json"
    assert(Bench.benchOutPath(fullSuite = true, sf01, "32", out) == "BENCH_FULL.json")
    assert(Bench.benchOutPath(fullSuite = true, sf01, "8", out) == "BENCH_FULL_c8.json")
    assert(Bench.benchOutPath(fullSuite = true, sf01 + "/", "4", out) == "BENCH_FULL_c4.json")
    assert(Bench.benchOutPath(fullSuite = false, sf01, "32", out) == out)
    assert(Bench.benchOutPath(fullSuite = true, "/tmp/sf1", "32", out) == out)
    assert(Bench.benchOutPath(fullSuite = true, "/", "32", out) == out)
  }

  test("the prior is used by a full-suite run with the line's sf and cpus, refused on an sf mismatch, a cpus mismatch, a subset run and an unstamped line") {
    val path = write(stamped("4"))
    assert(Bench.choosePrior(path, fullSuite = true, sf01, "4").map(_.queries) ==
      Right(Map("q1" -> 1.0, "q2" -> 2.0)))
    assert(Bench.choosePrior(path, fullSuite = true, "/tmp/sf1", "4").left.exists(_.contains("sf")))
    assert(Bench.choosePrior(path, fullSuite = true, sf01, "8").left.exists(_.contains("cpus 4")))
    assert(Bench.choosePrior(path, fullSuite = false, sf01, "4").left.exists(_.contains("subset")))
    // The shape of the round-14 8-core BENCH_FULL.json: full line, no stamps.
    val unstamped =
      """{"metric":"total","unit":"sec","audit":["q51"],"anchors":[0.069,0.053],""" +
        """"remeasured":{"q23":0.48},"queries":{"q01":1.13,"q23":0.48,"q51":1.79},""" +
        s""""value":3.4,"anchor":0.150,"sf":"$sf01"}"""
    assert(Bench.choosePrior(write(unstamped), fullSuite = true, sf01, "8")
      .left.exists(_.contains("unstamped")))
    assert(Bench.choosePrior(dir.resolve("absent.json").toString, fullSuite = true, sf01, "4")
      .left.exists(_.contains("missing")))
  }

  test("a line's machine speed is the min over anchor and anchors, and the re-measure decision divides by it") {
    val prior = Bench.benchLine(Map("q1_a" -> 1.0), Nil, 0.2, Seq(0.06, 0.1), Nil, sf01, "4", "abc")
    val p = Bench.loadPrior(write(prior)).get
    assert(p.anchor == 0.2 && p.speed == 0.06)
    // This run: a warm-up anchor of 0.1, the same 0.06 machine speed. By
    // the headline anchors (0.1 / 0.2) an unchanged 1.0 s would read 2×.
    val runSpeed = Bench.speed(0.1, Seq(0.06, 0.07))
    assert(runSpeed == 0.06)
    assert(!Bench.remeasure(p, runSpeed, "q1", 1.0))
    assert(!Bench.remeasure(p, runSpeed, "q1", 1.4))
    assert(Bench.remeasure(p, runSpeed, "q1", 1.6))
    assert(!Bench.remeasure(p, runSpeed, "q2", 9.0), "a query the prior lacks is never re-measured")
  }

  test("missing file or no recoverable anchor yields None, not a throw") {
    assert(Bench.loadPrior("/nonexistent/bench.json").isEmpty)
    assert(Bench.loadPrior(write("""{"queries-less":"noise"}""")).isEmpty)
    assert(Bench.loadPrior(write(line1 + "\n" + line1 + "\n")).isEmpty,
      "a file of two lines is not one bench line")
    assert(Bench.loadPrior(write(line1.drop(40))).isEmpty, "a head-truncated line is not a line")
  }
}
