package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench.loadPrior's prior-line recovery (ADVICE r8): a capture file
  * can hold MORE than one bench line, and the loader must never pair one
  * line's anchor with another's timings — and must surface the prior's
  * "sf" so main can skip adjudication across scale factors.
  */
class BenchPriorSpec extends AnyFunSuite {

  private def write(content: String): String = {
    val f = java.nio.file.Files.createTempFile("bench-prior", ".json")
    java.nio.file.Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f.toString
  }

  private val line1 =
    """{"metric":"total","unit":"sec","audit":[],"anchors":[0.2],""" +
      """"queries":{"q1":1.00,"q2":2.00},"value":3.0,"anchor":0.2,"sf":"/root/testdata/sf0.1"}"""
  private val line2 =
    """{"metric":"total","unit":"sec","audit":[],"anchors":[0.1],""" +
      """"queries":{"q1":0.50},"value":0.5,"anchor":0.1,"sf":"/tmp/sf1"}"""

  test("the round-10 minimal stdout line (no audit/anchors extras) parses") {
    // Since round 10 the stdout line carries only the driver-capture
    // minimum (metric/unit/queries/value/anchor/sf) — the extras moved to
    // the SPARK_GRAFT_BENCH_OUT side file. The prior loader must accept
    // driver BENCH_rNN captures in this shape or self-adjudication goes
    // dark for every round after r10.
    val minimal =
      """{"metric":"total","unit":"sec","queries":{"q1":1.00,"q2":2.00},""" +
        """"value":3.0,"anchor":0.2,"sf":"/root/testdata/sf0.1"}"""
    val (anchor, qs, sf) = Bench.loadPrior(write(minimal)).get
    assert(anchor == 0.2)
    assert(qs == Map("q1" -> 1.0, "q2" -> 2.0))
    assert(sf.contains("/root/testdata/sf0.1"))
  }

  test("r11 chunked emission: chunks merge under the minimal total line") {
    // Since round 11 the per-query map rides stdout as self-identifying
    // bench_chunk lines; the total line carries only scalars + audit.
    val chunked =
      """{"bench_chunk":1,"of":2,"queries":{"q1":0.5,"q2":1.25}}""" + "\n" +
        """{"bench_chunk":2,"of":2,"queries":{"q3":2}}""" + "\n" +
        """{"metric":"total","unit":"sec","chunks":2,"audit":["q2"],"value":3.75,"anchor":0.15,"sf":"/root/testdata/sf0.1"}"""
    val (anchor, qs, sf) = Bench.loadPrior(write(chunked)).get
    assert(anchor == 0.15)
    assert(qs == Map("q1" -> 0.5, "q2" -> 1.25, "q3" -> 2.0))
    assert(sf.contains("/root/testdata/sf0.1"))
  }

  test("head-truncated chunked capture: surviving chunks + total line, no fragment regex") {
    // The driver keeps the LAST 2000 chars: the leading chunk line
    // arrives beheaded (unparseable — skipped), later chunks and the
    // total line are intact. Recovery must be exactly the surviving
    // chunks' queries with the total line's scalars.
    val frag =
      """2,"q9":0.77}}""" + "\n" +
        """{"bench_chunk":3,"of":3,"queries":{"q10":1.5,"q11":0.25}}""" + "\n" +
        """{"metric":"total","unit":"sec","chunks":3,"audit":[],"value":9.9,"anchor":0.2,"sf":"/tmp/sf1"}"""
    val (anchor, qs, sf) = Bench.loadPrior(write(frag)).get
    assert(anchor == 0.2)
    assert(qs == Map("q10" -> 1.5, "q11" -> 0.25),
      "the beheaded chunk must be skipped whole — no regex scraping of its tail")
    assert(sf.contains("/tmp/sf1"))
  }

  test("two chunked runs in one capture: the LAST run wins, chunks never mix") {
    val two =
      """{"bench_chunk":1,"of":1,"queries":{"q1":9,"q2":9}}""" + "\n" +
        """{"metric":"total","unit":"sec","chunks":1,"audit":[],"value":18,"anchor":0.9,"sf":"/tmp/sf1"}""" + "\n" +
        """{"bench_chunk":1,"of":1,"queries":{"q1":0.4}}""" + "\n" +
        """{"metric":"total","unit":"sec","chunks":1,"audit":[],"value":0.4,"anchor":0.1,"sf":"/tmp/sf10"}"""
    val (anchor, qs, sf) = Bench.loadPrior(write(two)).get
    assert(anchor == 0.1)
    assert(qs == Map("q1" -> 0.4), "run-1 chunks must not leak into run 2")
    assert(sf.contains("/tmp/sf10"))
  }

  test("single complete line parses with anchor, queries, and sf") {
    val (anchor, qs, sf) = Bench.loadPrior(write(line1)).get
    assert(anchor == 0.2)
    assert(qs == Map("q1" -> 1.0, "q2" -> 2.0))
    assert(sf.contains("/root/testdata/sf0.1"))
  }

  test("multi-line file: the LAST complete line wins — no cross-line anchor/query mixing") {
    val (anchor, qs, sf) = Bench.loadPrior(write(line1 + "\n" + line2 + "\n")).get
    assert(anchor == 0.1, "anchor must come from the last line, not the first")
    assert(qs == Map("q1" -> 0.5), "queries must not merge across lines")
    assert(sf.contains("/tmp/sf1"))
  }

  test("head-truncated fragment recovers tail scalars, scoped to the last line") {
    // The driver's bounded stdout capture keeps the TAIL: the first line
    // survives only as its trailing scalars, the second is intact but the
    // file as a whole is not a single JSON document.
    val frag = """:7.00},"value":9.0,"anchor":0.9,"sf":"/root/testdata/sf0.1"}""" +
      "\n" + line2
    val (anchor, qs, sf) = Bench.loadPrior(write(frag)).get
    assert(anchor == 0.1 && qs == Map("q1" -> 0.5) && sf.contains("/tmp/sf1"))
  }

  test("fragment with no complete line still adjudicates from regex recovery") {
    val frag = ""","q7":7.00,"q8":8.00},"value":15.0,"anchor":0.33,"sf":"/tmp/sf10"}"""
    val (anchor, qs, sf) = Bench.loadPrior(write(frag)).get
    assert(anchor == 0.33)
    assert(qs == Map("q7" -> 7.0, "q8" -> 8.0))
    assert(sf.contains("/tmp/sf10"))
  }

  test("driver {\"tail\": ...} wrapper is unwrapped before parsing") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val wrapped = s"""{"tail": ${om.writeValueAsString(line2)}}"""
    val (anchor, qs, sf) = Bench.loadPrior(write(wrapped)).get
    assert(anchor == 0.1 && qs == Map("q1" -> 0.5) && sf.contains("/tmp/sf1"))
  }

  test("default prior prefers the archived full line over the driver capture at the same round") {
    // ADVICE r10: the archived probes/rNN/bench_full_rNN.json is complete
    // by construction while the driver BENCH_rNN.json is a bounded tail —
    // at equal rounds the archive must win; a NEWER driver capture still
    // beats an older archive.
    assume(sys.env.get("SPARK_GRAFT_PRIOR").isEmpty)
    val base = java.nio.file.Files.createTempDirectory("bench-prior-base")
    java.nio.file.Files.writeString(base.resolve("BENCH_r9.json"), "{}")
    val archive = base.resolve("probes/r9")
    java.nio.file.Files.createDirectories(archive)
    java.nio.file.Files.writeString(archive.resolve("bench_full_r9.json"), "{}")
    assert(Bench.priorPath(base.toString).exists(_.endsWith("bench_full_r9.json")))
    java.nio.file.Files.writeString(base.resolve("BENCH_r10.json"), "{}")
    assert(Bench.priorPath(base.toString).exists(_.endsWith("BENCH_r10.json")),
      "a newer driver capture must beat an older archive")
  }

  test("full bench line: canonical 32-CPU file, per-CPU file otherwise, stamped with cpus and commit") {
    assert(Bench.fullBenchFile("32") == "BENCH_FULL.json")
    assert(Bench.fullBenchFile("8") == "BENCH_FULL_c8.json")
    assert(Bench.fullBenchFile("4") == "BENCH_FULL_c4.json")
    val stamped = line1.dropRight(1) + "," + Bench.runStamp("8", "0123abc") + "}"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(stamped)
    assert(node.get("cpus").asInt() == 8 && node.get("commit").asText() == "0123abc")
    // The stamp does not disturb prior recovery from the same line.
    val (anchor, qs, _) = Bench.loadPrior(write(stamped)).get
    assert(anchor == 0.2 && qs == Map("q1" -> 1.0, "q2" -> 2.0))
  }

  test("missing file or no recoverable anchor yields None, not a throw") {
    assert(Bench.loadPrior("/nonexistent/bench.json").isEmpty)
    assert(Bench.loadPrior(write("""{"queries-less":"noise"}""")).isEmpty)
  }
}
