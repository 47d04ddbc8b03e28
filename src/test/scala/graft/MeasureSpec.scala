package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench mains' clean/dirty verdict and steal delta, Spark-free. */
class MeasureSpec extends AnyFunSuite {
  private val session = Measure.Bounds(2.0, 2.0)
  private val calm = (1.0, 1.0)

  test("unknown steal (-1) leaves the verdict to the canaries") {
    assert(session.clean(-1.0, calm, calm))
    assert(!session.clean(-1.0, calm, (1.0, 2.5)))
    assert(session.clean(-1.0))
  }

  test("steal exactly at the bound is clean, above it dirty") {
    assert(session.clean(2.0, calm))
    assert(!session.clean(2.01, calm))
    assert(Measure.Bounds(10.0, 2.0).clean(10.0))
  }

  test("gather 1.7 is clean at the session bound 2.0, dirty at the fresh-JVM 1.4") {
    val r = (1.0, 1.7)
    assert(session.clean(0.0, r))
    assert(!Measure.FreshJvm.clean(0.0, r))
    assert(Measure.FreshJvm.clean(0.0, (1.0, CpuCanary.GatherClean)))
    assert(session.clean(0.0, (1.0, 2.0)))
  }

  test("ALU at 1.10 is clean under every gather bound, above it dirty") {
    assert(session.clean(0.0, (CpuCanary.AluClean, 1.0)))
    assert(Measure.FreshJvm.clean(0.0, (1.10, 1.0)))
    assert(!session.clean(0.0, (1.11, 1.0)))
    assert(!Measure.FreshJvm.canaryOk((1.11, 1.0)))
  }

  test("a failed read on either side makes the steal delta unknown") {
    assert(Measure.stealDelta(5.0, -1.0) === -1.0)
    assert(Measure.stealDelta(-1.0, 5.0) === -1.0)
    assert(Measure.stealDelta(5.0, 7.5) === 2.5)
  }

  test("retryOnce reruns a dirty result once, and keeps it when the retry yields nothing") {
    var runs = 0
    def run(out: Int => Option[Int]) = Measure.retryOnce[Int]("spec", _ < 0, budgetOk = true) {
      runs += 1; out(runs)
    }
    assert(run(n => Some(if (n == 1) -1 else 7)) === Some(7) && runs === 2)
    runs = 0
    assert(run(n => if (n == 1) Some(-1) else None) === Some(-1) && runs === 2)
    runs = 0
    assert(run(_ => Some(3)) === Some(3) && runs === 1)
    runs = 0
    assert(Measure.retryOnce[Int]("spec", _ < 0, budgetOk = false)(Some(-1)) === Some(-1))
  }
}
