package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.Rep

/** Pins the rules Bench's median takes its reps by — pure functions over
  * synthetic reps, no Spark. `th` is the external-cores threshold.
  */
class BenchSpec extends AnyFunSuite {
  private val th = 2.0

  // a healthy rep: 100 tasks at 10 ms of CPU each, idle machine
  private def clean(t: Double, jitMs: Long = 1000L): Rep =
    Rep(t, err = false, ext = 0.0, gcMs = 50L, jitMs = jitMs, tasks = 100L,
      taskCpuMs = 1000L, mhz = 2500.0)
  // the interpreter-pin shape: same tasks, flat GC, 5x the task CPU
  private def storm(t: Double, jitMs: Long = 1000L, mhz: Double = 2500.0): Rep =
    clean(t, jitMs).copy(taskCpuMs = 5000L, mhz = mhz)

  test("the median of an even count is the mean of the middle two") {
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }

  test("a contaminated rep is dropped only when >= 3 clean reps remain") {
    val dirty = clean(9.0).copy(ext = 3.0)
    assert(Bench.cleanTs(Seq(clean(2.0), clean(2.1), clean(2.2), dirty), th) ===
      Seq(2.0, 2.1, 2.2))
    assert(Bench.cleanTs(Seq(clean(2.0), clean(2.1), dirty), th) ===
      Seq(2.0, 2.1, 9.0))
  }

  test("a storm-shaped rep is dropped") {
    val rs = Seq(clean(2.0), storm(8.0), clean(2.1), clean(2.2))
    assert(Bench.stormIdx(rs, th) === Set(1))
    assert(Bench.droppedStorms(rs, th) === Set(1))
    assert(Bench.cleanTs(rs, th) === Seq(2.0, 2.1, 2.2))
  }

  test("a storm-shaped rep whose jit_ms is above the band max by more than max(1 s, 50%) is kept") {
    // band max 1000 ms: the veto line is 1000 + max(1000, 500) = 2000 ms
    val warmUp = Seq(clean(2.0), storm(8.0, jitMs = 2001L), clean(2.1), clean(2.2))
    assert(Bench.stormIdx(warmUp, th).isEmpty)
    assert(Bench.cleanTs(warmUp, th) === warmUp.map(_.t))
    val atLine = Seq(clean(2.0), storm(8.0, jitMs = 2000L), clean(2.1), clean(2.2))
    assert(Bench.stormIdx(atLine, th) === Set(1))
    // 50% wins once the band max is above 2 s: 4000 + 2000 = 6000 ms
    val wide = Seq(clean(2.0, 4000L), storm(8.0, jitMs = 5900L),
      clean(2.1, 4000L), clean(2.2, 4000L))
    assert(Bench.stormIdx(wide, th) === Set(1))
  }

  test("a rep measured below 80% of the base frequency is never dropped") {
    val throttled = Seq(clean(2.0), storm(8.0, mhz = 1900.0), clean(2.1), clean(2.2))
    assert(Bench.stormIdx(throttled, th).isEmpty)
    assert(Bench.cleanTs(throttled, th) === throttled.map(_.t))
    val nominal = Seq(clean(2.0), storm(8.0, mhz = 2000.0), clean(2.1), clean(2.2))
    assert(Bench.stormIdx(nominal, th) === Set(1))
  }
}
