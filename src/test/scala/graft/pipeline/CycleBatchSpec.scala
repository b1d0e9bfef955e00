package graft.pipeline

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** The cycle's batch body as a resource user: the convert pool really runs
  * `poolSlots` conversions at once (and no more), and a cycle — busy, idle
  * or failing its verify gate — leaves no persisted RDD behind.
  */
class CycleBatchSpec extends SparkSpec {

  private def tree(runs: Int): (Path, GraftConfig) = {
    val root = Files.createTempDirectory("graft-batch")
    for (r <- 1 to runs) {
      val d = root.resolve("watch").resolve("plate").resolve(f"run$r%02d.d")
      Files.createDirectories(d)
      Files.writeString(d.resolve("raw.bin"), s"payload $r")
    }
    (root, GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      command = Seq("/bin/sh", "-c", """cat "$IN"/* > "$OUTDIR/$OUTFILE"""")))
  }

  /** Peak number of conversions running at once in one cycle over 8 runs.
    * Each conversion holds a marker file in `running/` for 0.4 s and
    * records how many markers it saw on entry; the maximum is a lower
    * bound of the true peak that can never exceed it.
    */
  private def peakConcurrency(poolSlots: Int): Int = {
    val (root, cfg0) = tree(8)
    val running = Files.createDirectories(root.resolve("running"))
    val seen = Files.createDirectories(root.resolve("seen"))
    val cfg = cfg0.copy(poolSlots = poolSlots, command = Seq("/bin/sh", "-c",
      s"""touch "$running/$$BASE"; ls "$running" | wc -l > "$seen/$$BASE"; sleep 0.4; """ +
        s"""rm "$running/$$BASE"; cat "$$IN"/* > "$$OUTDIR/$$OUTFILE""""))
    val r = PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:00:00Z"))
    assert(r.ready == 8 && r.stats.succeeded == 8)
    val counts = Files.list(seen).iterator().asScala.map(p => Files.readString(p).trim.toInt).toSeq
    assert(counts.size == 8)
    counts.max
  }

  test("convert runs poolSlots conversions at once, never more") {
    val at4 = peakConcurrency(4)
    assert(at4 >= 2 && at4 <= 4, s"peak $at4 at poolSlots = 4")
    val at2 = peakConcurrency(2)
    assert(at2 >= 1 && at2 <= 2, s"peak $at2 at poolSlots = 2")
  }

  test("a cycle leaves no persisted RDDs behind: busy, idle or failing") {
    val sc = spark.sparkContext
    // RDD ids only grow, so a persisted RDD with a higher id than one made
    // just before the cycle was persisted by it. (Comparing the total
    // count instead is not stable: the registry holds RDDs weakly, and a GC
    // during the cycle drops ones other suites left unreachable.)
    def leftBy[A](cycle: => A): (A, Seq[Int]) = {
      val mark = sc.emptyRDD[Int].id
      val a = cycle
      (a, sc.getPersistentRDDs.keys.filter(_ > mark).toSeq)
    }
    val (_, cfg) = tree(3)
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    val (busy, afterBusy) = leftBy(PipelineRunner.runCycle(spark, cfg, t0))
    assert(busy.ready == 3 && afterBusy.isEmpty, s"after a busy cycle: $afterBusy")
    val (idle, afterIdle) = leftBy(PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(300)))
    assert(idle.pending == 0 && afterIdle.isEmpty, s"after an idle cycle: $afterIdle")
    val (_, failing) = tree(2)
    val (_, afterFailed) = leftBy(intercept[VerifyGate.BatchFailedException] {
      PipelineRunner.runCycle(spark, failing.copy(command = Seq("/bin/false")), t0)
    })
    assert(afterFailed.isEmpty, s"after a cycle that failed its verify gate: $afterFailed")
  }
}
