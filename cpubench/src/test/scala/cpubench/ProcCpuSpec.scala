package cpubench

import java.util.concurrent.CountDownLatch
import org.scalatest.funsuite.AnyFunSuite

/** The processor-time accounting helper against work of known size. */
class ProcCpuSpec extends AnyFunSuite {

  /** Spin for `ms` of wall time, then wait on `done` so the thread is still
    * alive when the second sample is taken.
    */
  private def busy(name: String, ms: Long, spun: CountDownLatch, done: CountDownLatch): Thread = {
    val t = new Thread(() => {
      val end = System.nanoTime() + ms * 1000000L
      var x = 0L
      while (System.nanoTime() < end) x += 1
      spun.countDown()
      done.await()
      if (x == 42) println(x)
    }, name)
    t.start()
    t
  }

  test("thread names map to classes") {
    assert(ProcCpu.classOf("java") == ProcCpu.Driver)
    assert(ProcCpu.classOf("Executor task l") == ProcCpu.Executor)
    assert(ProcCpu.classOf("C2 CompilerThre") == ProcCpu.Jit)
    assert(ProcCpu.classOf("C1 CompilerThre") == ProcCpu.Jit)
    assert(ProcCpu.classOf("ParGC Thread#0") == ProcCpu.Gc)
    assert(ProcCpu.classOf("VM Thread") == ProcCpu.Gc)
    assert(ProcCpu.classOf("dag-scheduler-e") == ProcCpu.Other)
  }

  test("N busy threads charge about N times their wall time to their class") {
    val n = 2
    val ms = 1500L
    val spun = new CountDownLatch(n)
    val done = new CountDownLatch(1)
    val s0 = ProcCpu.sample()
    val ts = (0 until n).map(i => busy(s"Executor task launch worker $i", ms, spun, done))
    spun.await()
    val d = ProcCpu.delta(s0, ProcCpu.sample())
    done.countDown()
    ts.foreach(_.join())
    val expected = n * ms / 1000.0
    val got = d.byClass(ProcCpu.Executor)
    // a thread cannot run longer than its wall time; on a loaded host it
    // runs less, and the wait shows up as run delay
    assert(got <= expected * 1.05 + 0.05, s"executor $got s for $expected s of spinning")
    assert(got + d.runDelayS >= expected * 0.8, s"executor $got s + delay ${d.runDelayS} s")
    assert(got >= expected * 0.5, s"executor $got s for $expected s of spinning")
  }

  test("a shell child's processor time lands in the child class") {
    val s0 = ProcCpu.sample()
    val p = new ProcessBuilder("sh", "-c",
      "i=0; while [ $i -lt 200000 ]; do i=$((i+1)); done").start()
    assert(p.waitFor() == 0)
    val d = ProcCpu.delta(s0, ProcCpu.sample())
    assert(d.byClass(ProcCpu.Child) >= 0.1, s"child ${d.byClass(ProcCpu.Child)} s")
    assert(d.byClass(ProcCpu.Executor) == 0.0)
  }

  test("the split sums to the total, exited threads included") {
    val spun = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val s0 = ProcCpu.sample()
    val t = busy("short-lived", 500L, spun, done)
    spun.await()
    done.countDown()
    t.join()
    val d = ProcCpu.delta(s0, ProcCpu.sample())
    assert(ProcCpu.Classes.toSet == d.byClass.keySet)
    assert(math.abs(d.byClass.values.sum - d.totalS) < 1e-9)
    assert(d.byClass(ProcCpu.Exited) >= 0.3, s"exited ${d.byClass(ProcCpu.Exited)} s")
  }
}
