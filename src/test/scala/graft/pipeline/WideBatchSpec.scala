package graft.pipeline

import java.nio.file.Files
import java.time.Instant
import graft.SparkSpec

/** Width stress: a cycle over many runs across many plates — validates the
  * fan-out path (listing parallelism, bounded convert partitions, ledger
  * batch update) beyond the toy trees, and that MAX_MAP capping carries the
  * remainder to the next cycle.
  */
class WideBatchSpec extends SparkSpec {

  test("120 runs across 12 plates convert in one cycle; MAX_MAP caps carry over") {
    val root = Files.createTempDirectory("graft-wide")
    val watch = root.resolve("watch")
    for (p <- 1 to 12; r <- 1 to 10) {
      val d = watch.resolve(f"plate$p%02d").resolve(f"run$r%03d.d")
      Files.createDirectories(d)
      Files.writeString(d.resolve("raw.bin"), s"payload $p/$r")
    }
    val cfg = GraftConfig(
      watchDir = watch.toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      maxMap = 100, // cap below the 120 discovered
      command = Seq("/bin/sh", "-c", """cat "$IN"/* > "$OUTDIR/$OUTFILE""""))

    val r1 = PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:00:00Z"))
    assert(r1.discovered == 120 && r1.pending == 100, "MAX_MAP must cap the batch")
    assert(r1.stats.succeeded == 100 && r1.stats.failed == 0)

    val r2 = PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:05:00Z"))
    assert(r2.pending == 20, "remainder picked up next cycle")
    assert(r2.stats.succeeded == 20)

    val ledger = new LedgerStore(spark, cfg.stateDir)
    assert(ledger.converted.count() == 120)

    val r3 = PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:10:00Z"))
    assert(r3.pending == 0, "fully drained")
  }

  test("10^4 runs in one plate: listing stays parallel, bounded, and cap-exact") {
    // the A1 scale question (SURVEY §7.4-5): the DRIVER lists only plate
    // directories (4 entries here — one readdir); the run listing fans
    // out per plate on executors, so the widest single plate is the real
    // per-task bound. 10^4 `.d` entries in one plate is ~1 MB of names in
    // one task — this row drives that width literally and pins (a) the
    // fan-out across >1 task, (b) the exact count through the distributed
    // listing, (c) the deterministic MAX_MAP cap over the collected
    // listing (a cycle holds its listed runs as driver rows: 10^4 names
    // are ~1 MB).
    val root = Files.createTempDirectory("graft-wide10k")
    val watch = root.resolve("watch")
    for (r <- 1 to 10000)
      Files.createDirectories(watch.resolve("plateBig").resolve(f"run$r%05d.d"))
    for (p <- 1 to 3; r <- 1 to 100)
      Files.createDirectories(watch.resolve(s"plateSmall$p").resolve(f"run$r%03d.d"))
    val cfg = GraftConfig(
      watchDir = watch.toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      maxMap = 64,
      command = Seq("/bin/true"))
    val ds = Discovery.discover(spark, cfg)
    import spark.implicits._
    // one partition per plate up to the session parallelism — the
    // listing work is distributed, not a driver walk
    assert(ds.rdd.getNumPartitions ==
      math.min(4, spark.sparkContext.defaultParallelism))
    val perPart = ds.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.count(_ > 0) > 1, s"fan-out across tasks: ${perPart.toSeq}")
    assert(ds.count() == 10300L, "every run found through the parallel listing")
    // the cap: sorted-first-64, exact
    val ledger = new LedgerStore(spark, cfg.stateDir)
    val capped = Discovery.dedup(ds.collect().toSeq, ledger, cfg)
    assert(capped.length == 64)
    assert(capped.map(_.path).toSeq == capped.map(_.path).toSeq.sorted,
      "deterministic sorted batch")
    // all 64 come from plateBig: 'plateBig/run00001.d' sorts first
    assert(capped.forall(_.plateRel == "plateBig"))
  }
}
