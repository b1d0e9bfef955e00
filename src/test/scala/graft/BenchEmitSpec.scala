package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench metric-line emission — the artifact gate that broke
  * round 9 (a fixed qmin_cs=25 floor overflowed the driver's ~2000-char
  * stdout tail at 350 queries and tripped Bench's own length guard, so
  * BENCH_r09.json carried no parsed total). The line must now SELF-FIT:
  * raise the per-query floor until the rendered line is within the
  * 1900-char budget, while always emitting -1 failure sentinels.
  */
class BenchEmitSpec extends AnyFunSuite {

  private def mkResults(n: Int): Seq[(String, Double)] =
    (0 until n).map(i => (f"x$i%03d_some_query_name", 0.30 + (i % 50) * 0.07))

  test("metric line fits the 1900-char budget at 350 queries") {
    val results = mkResults(350)
    val line = Bench.fitMetricLine(results, results.map(_._2).sum, 120L, 1.12, "sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
    assert(line.startsWith("{\"metric\":\"total\""))
  }

  test("metric line fits even at a 2000-query registry") {
    val results = mkResults(2000)
    val line = Bench.fitMetricLine(results, results.map(_._2).sum, 120L, 1.12, "sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
  }

  test("failure sentinels survive every floor") {
    // 400 slow queries force a high floor; the two failed entries must
    // still appear with -1 regardless of which floor the fit lands on
    val results = mkResults(400).map { case (k, v) => (k, v + 3.0) } ++
      Seq(("x900_broken_query", -1.0), ("x901_broken_query", -1.0))
    val line = Bench.fitMetricLine(results, 0.0, 5L, 1.0, "sf0.1")
    assert(line.contains("\"x900\":-1"), line.takeRight(200))
    assert(line.contains("\"x901\":-1"), line.takeRight(200))
    assert(line.length <= 1900, s"line is ${line.length} chars")
  }

  test("line is parseable JSON shape with qmin_cs recorded") {
    val results = mkResults(350)
    val line = Bench.fitMetricLine(results, 42.0, 7L, 1.37, "sf0.1")
    // the driver's parse is line-anchored JSON; pin the fields it reads
    assert(line.contains("\"value\":42.000"))
    assert(line.contains("\"qmin_cs\":"))
    assert(line.contains("\"n_queries\":350"))
    assert(line.contains("\"sf\":\"sf0.1\""))
    // brace balance as a cheap well-formedness check
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.contains("\"contention\":1.37"),
      "the metric line must carry the contention ratio")
  }

  test("metric line carries the calibration-probe fields") {
    val results = mkResults(100)
    val line = Bench.fitMetricLine(results, 42.0, 7L, 1.05, "sf0.1", 52.3, 1.08)
    assert(line.contains("\"probe_ms\":52.3"))
    assert(line.contains("\"probe_drift\":1.08"))
  }

  test("probe stats: uniform CPU steal that fools the wall ratio flags itself") {
    // idle shape: readings within a few percent -> drift ~1, under 1.5
    val (medIdle, driftIdle) = Bench.probeStats(Seq(50.0, 51.2, 49.8, 50.5, 50.1))
    assert(math.abs(medIdle - 50.1) < 0.2 && driftIdle < 1.5)
    // the r11 failure mode: the box is ~2× CPU-starved for part of the
    // pass — wall-to-busy stays near 1 (steal inflates busy and wall
    // together) but the fixed kernel slows 2× while starved
    val (_, driftLoaded) = Bench.probeStats(Seq(50.0, 104.0, 98.0, 51.0, 100.0))
    assert(driftLoaded > 1.5, s"drift $driftLoaded must flag the starved probes")
    // degenerate: no or single reading reports the -1 sentinel
    assert(Bench.probeStats(Nil) == (-1.0, -1.0))
    assert(Bench.probeStats(Seq(50.0))._2 == -1.0)
  }

  test("calibration kernel runs and returns a plausible positive timing") {
    val ms = Bench.calibrationProbeMs()
    assert(ms > 0.0 && ms < 10000.0, s"probe $ms ms out of range")
  }

  test("a probe point lowers the settle gate's kernel floor to at most its reading") {
    // the floor starts unset; a probe point's runs must reach it, not only
    // the settle gate's own runs right after the hygiene GC
    Bench.kernelFloorMs = Double.MaxValue
    val ms = Bench.calibrationProbeMs()
    assert(Bench.kernelFloorMs <= ms, s"floor ${Bench.kernelFloorMs} above probe point $ms")
  }

  test("metric line carries the multi-core probe fields") {
    val results = mkResults(100)
    val line = Bench.fitMetricLine(results, 42.0, 7L, 1.05, "sf0.1",
      52.3, 1.08, 61.7, 1.12)
    assert(line.contains("\"probe_mc_ms\":61.7"))
    assert(line.contains("\"probe_mc_drift\":1.12"))
  }

  test("parallel calibration kernel runs wide and returns a plausible timing") {
    assert(Bench.ProbeMcThreads >= 8,
      s"parallel probe must span 8+ threads, got ${Bench.ProbeMcThreads}")
    val ms = Bench.calibrationProbeMcMs()
    assert(ms > 0.0 && ms < 10000.0, s"mc probe $ms ms out of range")
  }

  test("contention ratio: idle run sits near 1, contended run flags itself") {
    // idle: 600 s wall over 80 s warmup + 3x160 s reps = 1.07 — under
    // the 1.5 adjudication threshold BASELINE.md documents
    assert(Bench.contentionRatio(600, 80.0, 160.0) < 1.5)
    // contended (the r8 shape: 886 s sbt wall for a ~205 s bench): the
    // run must flag ITSELF without a judge re-run
    assert(Bench.contentionRatio(886, 60.0, 68.0) > 1.5)
    // degenerate denominator reports the -1 sentinel, never divides
    assert(Bench.contentionRatio(100, 0.0, 0.0) == -1.0)
  }
}
