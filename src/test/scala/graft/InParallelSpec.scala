package graft

import org.scalatest.funsuite.AnyFunSuite

/** Failure-path contract of the fixture-chain overlap helper: when one
  * chain fails, the SIBLING chains are stopped (interrupted + drained)
  * before the exception unwinds — a straggler that kept writing its
  * temp store dir while the caller deleted it (or timed the next bench
  * query) was the r18-advice race. */
class InParallelSpec extends AnyFunSuite {

  test("inParallel rethrows the original failure cause") {
    val boom = new IllegalStateException("chain failed")
    val got = intercept[IllegalStateException] {
      PipelineQueries.inParallel(
        () => throw boom,
        () => Thread.sleep(50))
    }
    assert(got eq boom, "the ExecutionException wrapper leaked")
  }

  test("on failure, sibling chains are interrupted and drained before " +
      "the exception unwinds") {
    val siblingFinished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val siblingInterrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val siblingStarted = new java.util.concurrent.CountDownLatch(1)
    intercept[IllegalStateException] {
      PipelineQueries.inParallel(
        () => {
          // fail only once the sibling is demonstrably mid-flight
          siblingStarted.await()
          throw new IllegalStateException("first chain fails")
        },
        () => {
          siblingStarted.countDown()
          try {
            Thread.sleep(30000) // a long store chain, mid-write
            siblingFinished.set(true) // would be the leaked writer
          } catch {
            case _: InterruptedException => siblingInterrupted.set(true)
          }
        })
    }
    // by the time inParallel unwound, the sibling must have been stopped:
    // interrupted, and definitely not left running to completion later
    assert(siblingInterrupted.get,
      "sibling chain was not interrupted on failure")
    assert(!siblingFinished.get,
      "sibling chain kept running after inParallel rethrew")
  }

  test("siblings are cancelled in COMPLETION order: a fast failure " +
      "interrupts the other chains before an earlier-submitted slow " +
      "chain finishes") {
    val t0 = System.nanoTime()
    val slowDoneAt = new java.util.concurrent.atomic.AtomicLong(-1L)
    val lastInterruptedAt = new java.util.concurrent.atomic.AtomicLong(-1L)
    val lastStarted = new java.util.concurrent.CountDownLatch(1)
    intercept[IllegalStateException] {
      PipelineQueries.inParallel(
        () => {
          Thread.sleep(3000) // submitted first, still running
          slowDoneAt.set(System.nanoTime() - t0)
        },
        () => {
          lastStarted.await()
          throw new IllegalStateException("second chain fails at once")
        },
        () => {
          lastStarted.countDown()
          try Thread.sleep(30000)
          catch {
            case _: InterruptedException =>
              lastInterruptedAt.set(System.nanoTime() - t0)
          }
        })
    }
    assert(lastInterruptedAt.get >= 0L,
      "the third chain was not interrupted")
    assert(slowDoneAt.get < 0L || lastInterruptedAt.get < slowDoneAt.get,
      "the failure waited for the earlier-submitted slow chain: " +
        s"third chain interrupted at ${lastInterruptedAt.get} ns, " +
        s"slow chain finished at ${slowDoneAt.get} ns")
  }
}
