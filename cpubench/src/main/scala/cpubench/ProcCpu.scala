package cpubench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One reading of this process's processor time from procfs.
  *
  * @param procTicks  user + system time of the whole process (live and
  *                   exited threads), `/proc/self/stat` fields 14-15
  * @param childTicks user + system time of reaped children, fields 16-17
  * @param threads    per live thread: (class, ticks, run delay ns)
  * @param hostSteal  host-wide steal ticks, `/proc/stat`
  * @param hostTotal  host-wide ticks of every kind, `/proc/stat`
  */
final case class CpuSample(procTicks: Long, childTicks: Long,
    threads: Map[Int, (String, Long, Long)], hostSteal: Long, hostTotal: Long)

/** Processor time between two samples, in seconds, split by thread class,
  * and the time live threads spent runnable but waiting for a processor.
  * `byClass` holds every class in [[ProcCpu.Classes]]; `exited_threads` is
  * the remainder (time of threads that ended in between), so the classes
  * sum to `totalS`.
  */
final case class CpuDelta(totalS: Double, byClass: Map[String, Double], runDelayS: Double)

/** Processor-time accounting from procfs. The kernel does not charge time
  * stolen by the hypervisor to a process, so these figures do not grow when
  * the host is busy the way wall-clock times do.
  *
  * Thread classes come from the thread name (`comm`, 15 characters): the
  * JVM's compiler and collector threads, Spark's executor task threads, the
  * `main` thread that drives the workload, and everything else.
  */
object ProcCpu {

  /** Clock ticks per second of the `stat` files (USER_HZ, 100 on Linux). */
  val Hz = 100.0

  val Driver = "driver"
  val Executor = "executor"
  val Jit = "jit"
  val Gc = "gc"
  val Other = "other_threads"
  val Exited = "exited_threads"
  val Child = "child"
  val Classes: Seq[String] = Seq(Driver, Executor, Jit, Gc, Other, Exited, Child)

  def classOf(comm: String): String =
    if (comm == "java") Driver // the launcher's main thread keeps the process name
    else if (comm.startsWith("Executor task l")) Executor
    else if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre") ||
      comm.startsWith("Sweeper thread")) Jit
    else if (comm.startsWith("GC Thread") || comm.startsWith("ParGC Thread") ||
      comm.startsWith("G1 ") || comm == "VM Thread") Gc
    else Other

  private val self = Path.of("/proc/self")

  /** (comm, fields after comm) of a `stat` file; comm may hold spaces. */
  private def parseStat(s: String): (String, Array[String]) = {
    val open = s.indexOf('(')
    val close = s.lastIndexOf(')')
    (s.substring(open + 1, close), s.substring(close + 2).trim.split(" "))
  }

  /** user + system ticks (fields 14, 15) and, for the process, reaped
    * children (16, 17). `rest` starts at field 3.
    */
  private def ticks(rest: Array[String], from: Int): Long =
    rest(from - 3).toLong + rest(from - 2).toLong

  private def read(p: Path): Option[String] =
    try Some(Files.readString(p)) catch { case _: java.io.IOException => None }

  /** Live threads; a thread that ends while it is read is left out, and
    * its time falls into the exited remainder.
    */
  private def threads(): Map[Int, (String, Long, Long)] = {
    val s = Files.list(self.resolve("task"))
    val dirs = try s.iterator().asScala.toList finally s.close()
    dirs.flatMap { d =>
      for {
        stat <- read(d.resolve("stat"))
        sched <- read(d.resolve("schedstat"))
      } yield {
        val (comm, rest) = parseStat(stat)
        d.getFileName.toString.toInt ->
          ((classOf(comm), ticks(rest, 14), sched.trim.split(" ")(1).toLong))
      }
    }.toMap
  }

  /** (steal, total) ticks of the host from the aggregate `cpu` line. */
  private def host(): (Long, Long) = {
    val f = Files.readString(Path.of("/proc/stat")).linesIterator.next().trim.split("\\s+")
    val v = f.drop(1).take(8).map(_.toLong) // user nice system idle iowait irq softirq steal
    (v(7), v.sum)
  }

  /** Threads are read before the process total, so the exited remainder
    * does not go negative by the time threads run while they are read.
    */
  def sample(): CpuSample = {
    val ts = threads()
    val (proc, children) = process()
    val (steal, total) = host()
    CpuSample(proc, children, ts, steal, total)
  }

  /** (process, reaped children) ticks. */
  private def process(): (Long, Long) = {
    val (_, rest) = parseStat(Files.readString(self.resolve("stat")))
    (ticks(rest, 14), ticks(rest, 16))
  }

  /** CPU seconds used since JVM start, children included. */
  def sinceStart(): Double = {
    val (proc, children) = process()
    (proc + children) / Hz
  }

  def delta(a: CpuSample, b: CpuSample): CpuDelta = {
    val live = b.threads.toSeq.map { case (tid, (cls, t, delay)) =>
      val (t0, d0) = a.threads.get(tid).map(x => (x._2, x._3)).getOrElse((0L, 0L))
      (cls, t - t0, delay - d0)
    }
    val byLive = live.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
    val procD = b.procTicks - a.procTicks
    val childD = b.childTicks - a.childTicks
    val exited = procD - byLive.values.sum
    val classes = Classes.map { c =>
      c -> (c match {
        case Exited => exited
        case Child => childD
        case _ => byLive.getOrElse(c, 0L)
      }) / Hz
    }.toMap
    CpuDelta((procD + childD) / Hz, classes, live.map(_._3).sum / 1e9)
  }

  /** Share of the host's processor time stolen between two samples, in %. */
  def steal(a: CpuSample, b: CpuSample): Double = {
    val t = b.hostTotal - a.hostTotal
    if (t <= 0) 0.0 else 100.0 * (b.hostSteal - a.hostSteal) / t
  }

  /** Total JVM collector pause time so far, in seconds. */
  def gcPauseS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
}

/** A fixed amount of JVM work run on several threads at once, to read how
  * fast the host's processors are for this VM right now: on a shared host
  * the same work takes more processor time when neighbours are busy.
  */
object Calibration {

  /** Runs of the kernel before and after the timed part. */
  val Reps = 8

  /** The kernel's processor time on every processor of a quiet 4-vCPU host:
    * the speed every reported processor time is scaled to.
    */
  val RefS = 0.7

  /** Processor seconds the kernel took, summed over `threads` threads. */
  def run(threads: Int): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val ns = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        val c0 = bean.getCurrentThreadCpuTime
        if (kernel(i) == 42) println("")
        ns.addAndGet(bean.getCurrentThreadCpuTime - c0)
      }, s"cpubench-calibration-$i")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    ns.get / 1e9
  }

  /** Hashing, boxing, string building and sorting, as in a Spark task. */
  private def kernel(seed: Int): Long = {
    val rnd = new java.util.Random(seed)
    val m = new java.util.HashMap[java.lang.Long, String]()
    (0 until 150000).foreach { _ =>
      val k = rnd.nextLong() % 100000
      m.merge(k, java.lang.Long.toHexString(k), (a, b) => if (a.length < 64) a + b else b)
    }
    val arr = Array.fill(400000)(rnd.nextLong())
    java.util.Arrays.sort(arr)
    var acc = arr(arr.length / 2)
    m.values.forEach(s => acc += s.hashCode)
    acc
  }
}
