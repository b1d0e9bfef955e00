package cpubench

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import graft.pipeline.{GraftConfig, LedgerStore, PipelineRunner, RunAnalytics}
import Gen.RunSpec

/** Expected outcome of one `runCycle`. */
final case class CycleExpect(discovered: Long, pending: Long, ready: Long,
    total: Long, failed: Long, skipped: Long)

/** The runs one cycle found ready, in path order, with their outcome
  * (true = converted).
  */
final case class CycleLog(index: Int, nowMs: Long, ready: Seq[(RunSpec, Boolean)])

/** The pipeline's documented state machine, replayed over the generated
  * runs. A pending run is observed in one cycle and ready in the next
  * (cycles are 300 s apart, more than quietS); a ready run leaves the quiet
  * table, so a failed run is observed again before its next attempt, and
  * `maxAttempts` failures put it in the skip set.
  */
final class PipelineModel(maxAttempts: Int) {
  private val present = mutable.LinkedHashMap.empty[(String, String), RunSpec]
  private val converted = mutable.Set.empty[(String, String)]
  private val attempts = mutable.LinkedHashMap.empty[(String, String), Int]
  private var quiet = Map.empty[(String, String), Long]
  val logs = mutable.ArrayBuffer.empty[CycleLog]
  var successes, statuses, origBytes, priorArchiveBytes = 0L

  private def key(r: RunSpec) = (r.plate, r.base)
  def add(runs: Seq[RunSpec]): Unit = runs.foreach(r => present(key(r)) = r)
  def isOpen(r: RunSpec): Boolean =
    !converted(key(r)) && attempts.getOrElse(key(r), 0) < maxAttempts

  def cycle(index: Int, now: Instant): CycleExpect = {
    val pending = present.values.filter(isOpen).toSeq.sortBy(r => s"${r.plate}/${r.base}.d")
    val (ready, waiting) = pending.partition(r => quiet.contains(key(r)))
    quiet = waiting.map(r => key(r) -> now.getEpochSecond).toMap
    val outcomes = ready.map { r =>
      if (r.fails) attempts(key(r)) = attempts.getOrElse(key(r), 0) + 1
      else { converted += key(r); origBytes += r.bytes }
      r -> !r.fails
    }
    val failed = ready.count(_.fails)
    successes += ready.size - failed
    statuses += ready.size
    if (ready.nonEmpty) logs += CycleLog(index, now.toEpochMilli, outcomes)
    CycleExpect(present.size, pending.size, ready.size, ready.size, failed, 0)
  }

  def presentRuns: Seq[RunSpec] = present.values.toSeq
  def quietRows: Seq[(RunSpec, Long)] = quiet.toSeq.map { case (k, s) => (present(k), s) }
  def attemptRows: Seq[(RunSpec, Int)] = attempts.toSeq.map { case (k, n) => (present(k), n) }
  def skipped: Long = attempts.values.count(_ >= maxAttempts).toLong
}

/** The pipeline workload: the paper's five-minute poll on a deployment
  * that has run for a while. Set-up writes the state `PriorCycles` cycles
  * leave, then runs `WarmBlocks` blocks; the timed part runs one block per
  * `BlockSeconds` of the run's `--seconds`. A block is `BlockCycles`
  * cycles and a dashboard refresh.
  */
object Pipeline {
  val Plates = 20
  val PoolSlots = 4
  val BlockCycles = 2
  val BurstRuns = 8
  val BurstFileBytes = 64 * 1024
  val TrickleRuns = 2
  val TrickleFileBytes = 4 * 1024
  val PriorCycles = 240
  val WarmBlocks = 1
  /** Wall time of a timed block on a 4-vCPU host. */
  val BlockSeconds = 10.0
  val T0: Instant = Instant.parse("2026-01-01T00:00:00Z")
  val CycleGapS = 300L

  def now(index: Int): Instant = T0.plusSeconds(index * CycleGapS)

  /** Runs landing before cycle `index`. The first cycle of a block gets a
    * burst of `BurstRuns` runs in one plate, one of which (seed-chosen)
    * fails every attempt; the other cycles get a trickle of `TrickleRuns`.
    */
  def arrivals(seed: Long, index: Int): Seq[RunSpec] = {
    val rnd = new Random(seed * 1000003L + index)
    def plate(i: Int) = f"Plate ${i + 1}%02d"
    if (index % BlockCycles == 0) {
      val p = plate(rnd.nextInt(Plates))
      val failSlot = rnd.nextInt(BurstRuns)
      (0 until BurstRuns).map(j =>
        RunSpec(p, f"b${index / BlockCycles}%05d_$j%02d", j == failSlot, BurstFileBytes))
    } else (0 until TrickleRuns).map(j =>
      RunSpec(plate(rnd.nextInt(Plates)), f"t$index%06d_$j%02d", false, TrickleFileBytes))
  }

  /** Stand-in converter: fails on a FAIL marker, otherwise concatenates the
    * run's raw files into the expected output. With a log path it appends
    * its own start and end (epoch ns) to it.
    */
  def writeStub(dir: Path, log: Option[Path]): Path = {
    val stub = dir.resolve(if (log.isDefined) "convert-traced.sh" else "convert.sh")
    val (pre, post) = log match {
      case Some(l) => ("s=$(date +%s%N)\n", s"""echo "$$s $$(date +%s%N)" >> "$l"\n""")
      case None => ("", "")
    }
    Files.writeString(stub,
      "#!/bin/sh\n" + pre +
        "if [ -e \"$IN/FAIL\" ]; then echo planned failure >&2; rc=3\n" +
        "else cat \"$IN\"/*.raw > \"$OUTDIR/$OUTFILE\"; rc=$?; fi\n" +
        post + "exit $rc\n")
    stub
  }

  def config(root: Path, stub: Path): GraftConfig = GraftConfig(
    watchDir = root.resolve("watch").toString,
    outputDir = root.resolve("watch/mzML").toString,
    archiveDir = root.resolve("watch/archives").toString,
    stateDir = root.resolve("state").toString,
    quietS = 120, poolSlots = PoolSlots, command = Seq("/bin/sh", stub.toString))

  /** Land cycle `index`'s arrivals, run it and check it against the model. */
  def cycle(ctx: Ctx, cfg: GraftConfig, model: PipelineModel, index: Int)
      : Option[PipelineRunner.CycleResult] = {
    val batch = arrivals(ctx.seed, index)
    Gen.writeRuns(Path.of(cfg.watchDir), batch, ctx.seed * 31 + index)
    model.add(batch)
    val exp = model.cycle(index, now(index))
    val outcome =
      try Right(PipelineRunner.runCycle(ctx.spark, cfg, now(index)))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    import Tally.expect
    ctx.tally.record(outcome match {
      case Left(e) => Seq(s"cycle $index threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(r) =>
        expect(s"cycle $index discovered", r.discovered, exp.discovered) ++
          expect(s"cycle $index pending", r.pending, exp.pending) ++
          expect(s"cycle $index ready", r.ready, exp.ready) ++
          expect(s"cycle $index stats", (r.stats.total, r.stats.failed, r.stats.skipped),
            (exp.total, exp.failed, exp.skipped))
    })
    outcome.toOption
  }

  /** Refresh all six dashboard panels, collecting each, and check the
    * values against the model's own tally.
    */
  def dashboard(ctx: Ctx, cfg: GraftConfig, model: PipelineModel): Unit = {
    import Tally.expect
    val rows = RunAnalytics.dashboard(ctx.spark, cfg).map { case (k, df) => k -> df.collect() }
    val recent = model.logs.takeRight(50).reverse.map { c =>
      (c.nowMs, c.ready.size.toLong, c.ready.count(_._2).toLong, c.ready.count(!_._2).toLong)
    }.toSeq
    val recentGot = rows("recent_cycles").map(r =>
      (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    ctx.tally.record(
      expect("converted_24h", rows("converted_24h").head.getLong(0), model.successes) ++
        expect("avg_minutes", rows("avg_minutes").head.getDouble(0), 0.0) ++
        expect("per_hour total", rows("per_hour").map(_.getLong(1)).sum, model.successes) ++
        expect("recent_cycles", recentGot, recent) ++
        expect("recent_cycles skipped", rows("recent_cycles").map(_.getLong(4)).sum, 0L) ++
        expect("run_details rows", rows("run_details").length.toLong,
          math.min(100L, model.statuses)) ++
        expect("compression orig_bytes", rows("compression").head.getLong(0), model.origBytes) ++
        expect("compression archive_bytes", rows("compression").head.getLong(1),
          model.priorArchiveBytes + archiveBytesOnDisk(cfg)))
  }

  private def walk(dir: String, suffix: String): Seq[Path] = {
    val p = Path.of(dir)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toList
      finally s.close()
    }
  }

  /** Total bytes of the committed .tar.gz files under the archive dir. */
  def archiveBytesOnDisk(cfg: GraftConfig): Long =
    walk(cfg.archiveDir, ".tar.gz").map(Files.size(_)).sum

  def parquetFiles(dir: String): Long = walk(dir, ".parquet").size.toLong

  /** Ledger, history, skip set and archive checks after the last cycle.
    * `fresh` are the runs the workload's own cycles converted.
    */
  def checkState(ctx: Ctx, cfg: GraftConfig, model: PipelineModel, fresh: Seq[RunSpec]): Unit = {
    import Tally.expect
    val ledger = new LedgerStore(ctx.spark, cfg.stateDir, cfg.maxAttempts)
    ctx.tally.record(
      expect("converted ledger rows", ledger.converted.count(), model.successes) ++
        expect("history rows", PipelineRunner.history(ctx.spark, cfg).count(), model.statuses) ++
        expect("skip set", ledger.skipKeys.count(), model.skipped))
    // every run converted here: exactly one .tar.gz whose entries are the
    // run directory plus its files
    ctx.tally.record(fresh.flatMap { r =>
      val tars = walk(s"${cfg.archiveDir}/${r.plate}", ".tar.gz")
        .filter(_.getFileName.toString.startsWith(r.base + "-"))
      if (tars.size != 1) Seq(s"${r.plate}/${r.base}: ${tars.size} archives")
      else expect(s"${r.plate}/${r.base} tar entries", tarEntries(tars.head),
        (r.base + ".d/") +: (0 until Gen.FilesPerRun).map(i => f"${r.base}.d/chunk$i%02d.raw"))
    })
  }

  private def tarEntries(p: Path): Seq[String] = {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val in = new TarArchiveInputStream(new java.util.zip.GZIPInputStream(
      new java.io.BufferedInputStream(Files.newInputStream(p))))
    try Iterator.continually(in.getNextEntry).takeWhile(_ != null).map(_.getName).toList.sorted
    finally in.close()
  }

  /** Write the state of `PriorCycles` cycles: arrivals replayed through the
    * model, then written in the engine's layout by [[Gen.state]].
    */
  def seedState(ctx: Ctx, cfg: GraftConfig, model: PipelineModel, priorCycles: Int): Unit = {
    (0 until priorCycles).foreach { i =>
      model.add(arrivals(ctx.seed, i))
      model.cycle(i, now(i))
    }
    Gen.state(ctx.spark, cfg, model, System.currentTimeMillis(), now)
    Main.log(s"  state: ${model.presentRuns.size} runs, ${model.successes} converted, " +
      s"${model.statuses} history rows, ${model.attemptRows.size} with attempts " +
      s"(${model.skipped} skipped), ${model.quietRows.size} quiet")
  }

  def poll(ctx: Ctx): Unit = {
    val root = ctx.freshDir("poll")
    val cfg0 = config(root, writeStub(ctx.work, None))
    val model = new PipelineModel(cfg0.maxAttempts)
    ctx.step("state")(seedState(ctx, cfg0, model, PriorCycles))
    var index = PriorCycles
    def block(cfg: GraftConfig, trace: Option[CycleTrace], parent: Int): Unit = {
      val b = ctx.spans.open(parent, "block")
      (0 until BlockCycles).foreach { _ =>
        trace match {
          case None => cycle(ctx, cfg, model, index)
          case Some(t) => t.cycle(ctx, cfg, b, model, index)(cycle(ctx, cfg, model, index))
        }
        index += 1
      }
      trace match {
        case None => dashboard(ctx, cfg, model)
        case Some(t) => t.dashboard(ctx, cfg, b)(dashboard(ctx, cfg, model))
      }
      ctx.spans.close(b, Double.NaN)
    }
    (0 until WarmBlocks).foreach(i => ctx.step(s"warm$i")(block(cfg0, None, 0)))
    ctx.setupDone()

    // traced cycles run a stub that logs its own start and end
    val trace = if (ctx.trace) Some(new CycleTrace(ctx.work.resolve("stub.log"))) else None
    val cfg = trace.fold(cfg0)(t =>
      cfg0.copy(command = Seq("/bin/sh", writeStub(ctx.work, Some(t.stubLog)).toString)))
    val blocks = ctx.units(BlockSeconds)
    ctx.timedPart(blocks)(top => (0 until blocks).foreach(i =>
      ctx.step(s"block$i")(block(cfg, trace, top))))
    trace.foreach(_.emit(ctx, cfg, blocks))
    checkState(ctx, cfg, model, model.logs.toSeq.filter(_.index >= PriorCycles)
      .flatMap(_.ready.collect { case (r, true) => r }))
  }
}
