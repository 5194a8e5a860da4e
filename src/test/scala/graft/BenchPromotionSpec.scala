package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's floor-maintenance pieces: the run-calmness predicate
  * (r12 verdict #5 — since r13 the `run_calm` annotation) and the
  * min-merge floor (r13): bench_prev.json is the per-key MIN envelope
  * of every run, so neither a whole-file replace by a loaded run nor
  * the loss of a slow run's genuine per-key improvements can happen.
  */
class BenchPromotionSpec extends AnyFunSuite {
  private val gate = 3.0 // GRAFT_BENCH_MAX_LOAD default

  test("the r12 incident: an ambient load-2.6 run is not calm next to a load-0.5 baseline") {
    assert(!Bench.shouldPromote(nPolluted = 0, gatedLoad = 2.6,
      maxLoad = gate, prevGateLoad = Some(0.5)))
  }

  test("a run as calm as the baseline (within the 0.5 jitter allowance) is calm") {
    assert(Bench.shouldPromote(0, gatedLoad = 0.9, gate, Some(0.5)))
    assert(Bench.shouldPromote(0, gatedLoad = 1.0, gate, Some(0.5)))
  }

  test("the admission gate still binds on calmness when the old baseline was noisy") {
    // old baseline at 4.0 (admitted before the gate existed): a new run
    // must still meet the 3.0 gate, not inherit the noisy 4.5 bar
    assert(!Bench.shouldPromote(0, gatedLoad = 3.4, gate, Some(4.0)))
    assert(Bench.shouldPromote(0, gatedLoad = 2.9, gate, Some(4.0)))
  }

  test("any load-polluted sample vetoes run_calm regardless of gate load") {
    assert(!Bench.shouldPromote(nPolluted = 1, gatedLoad = 0.1, gate, Some(2.0)))
  }

  test("a missing baseline reads as calm (nothing to compare against)") {
    assert(Bench.shouldPromote(nPolluted = 3, gatedLoad = 9.9, gate, None))
  }

  // ---- min-merge floor (the r13 mid-run-ramp incident) ----------------

  test("the r13 incident: a gate-calm run inflated mid-run keeps the older per-key times") {
    val now = Seq(("a", 1.5, true), ("b", 0.30, true))
    val merged = Bench.mergeFloor(now, Map("a" -> 1.0, "b" -> 0.35))
    assert(merged === Seq(("a", 1.0, true), ("b", 0.30, true)))
  }

  test("a new key enters the floor at its first admitted time") {
    assert(Bench.mergeFloor(Seq(("new", 2.0, true)), Map("old" -> 1.0)) ===
      Seq(("new", 2.0, true)))
  }

  test("a key dropped from the inventory leaves the floor") {
    val merged = Bench.mergeFloor(Seq(("kept", 1.0, true)), Map("kept" -> 1.2, "gone" -> 9.0))
    assert(merged.map(_._1) === Seq("kept"))
  }

  test("a failed key stays failed rather than inheriting a stale prev time") {
    assert(Bench.mergeFloor(Seq(("x", 123.0, false)), Map("x" -> 1.0)) ===
      Seq(("x", 123.0, false)))
  }

  test("a prev failure marker (-1) never masks a real new timing") {
    assert(Bench.mergeFloor(Seq(("x", 2.0, true)), Map("x" -> -1.0)) ===
      Seq(("x", 2.0, true)))
  }

  test("SF-stamped floor paths: one file per SF-dir basename (r15 verdict #1)") {
    // the r15 incident: envelope runs at fixtures/sf1 and the official
    // sf0.1 floor shared ONE bench_prev.json — the stamped scheme keys
    // the file by SF basename so runs at different SFs cannot collide
    assert(Bench.sfName("/root/testdata/sf0.1") == "sf0.1")
    assert(Bench.sfName("/root/repo/fixtures/sf10") == "sf10")
    assert(Bench.prevPathFor("/root/testdata/sf0.1")
      == "/root/repo/bench_prev_sf0.1.json")
    assert(Bench.prevPathFor("/root/repo/fixtures/sf1")
      == "/root/repo/bench_prev_sf1.json")
    // basename collision across roots maps to the SAME path — which is
    // exactly why readPrev/the write side also verify the recorded full
    // sf dir and refuse on mismatch
    assert(Bench.prevPathFor("/root/testdata/sf1")
      == Bench.prevPathFor("/root/repo/fixtures/sf1"))
  }

  test("the floor reader returns what Python's json reads from the committed sf0.001 floor") {
    val path = "bench_prev_sf0.001.json"
    val floor = Bench.readPrevAt(path)
    // independent reference: Python's json module, one "k<TAB>v" line
    // per entry, floats printed with repr (shortest round-trip form)
    val py = Seq("python3", "-c",
      """import json,sys
        |d = json.load(open(sys.argv[1]))
        |for sec in ("queries", "shuffle_bytes"):
        |    for k, v in d[sec].items(): print(sec + "\t" + k + "\t" + repr(float(v)))
        |print("sf\t" + d["sf"])
        |print("calm_gate_load\t" + repr(float(d["calm_gate_load"])))""".stripMargin,
      path)
    val out = try scala.sys.process.Process(py).!!
      catch { case e: java.io.IOException => cancel(s"python3 unavailable: $e") }
    val rows = out.linesIterator.map(_.split("\t", -1).toSeq).toSeq
    def section(name: String): Map[String, Double] =
      rows.collect { case Seq(`name`, k, v) => k -> v.toDouble }.toMap
    assert(floor.loaded)
    assert(floor.walls.nonEmpty) // every key of the run, failed ones as -1
    assert(floor.walls == section("queries"))
    assert(floor.shuffleBytes.nonEmpty && floor.shuffleBytes == section("shuffle_bytes"))
    assert(floor.sf == rows.collectFirst { case Seq("sf", v) => v })
    assert(floor.calmGateLoad ==
      rows.collectFirst { case Seq("calm_gate_load", v) => v.toDouble })
  }

  test("a missing or malformed floor file reads as no floor") {
    assert(!Bench.readPrevAt("/nonexistent/bench_prev.json").loaded)
    val f = java.nio.file.Files.createTempFile("floor", ".json")
    try {
      java.nio.file.Files.writeString(f, """{"queries":{"a":1.0""")
      val p = Bench.readPrevAt(f.toString)
      assert(!p.loaded && p.walls.isEmpty && p.sf.isEmpty && p.calmGateLoad.isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }
}
