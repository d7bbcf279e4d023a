package graft

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ml.FitPool
import org.scalatest.funsuite.AnyFunSuite

/** The bounded pool under every batch of model fits: results in input
  * order, and a failing fit rethrows with the pool shut down and the
  * queued fits cancelled.
  */
class FitPoolSpec extends AnyFunSuite {

  test("results keep input order and the pool is shut down") {
    val pool = Executors.newFixedThreadPool(FitPool.Width)
    val out = FitPool.traverse(1 to 20, pool) { i =>
      Thread.sleep((21 - i) % 4 * 5L) // finish out of order
      i * 2
    }
    assert(out == (1 to 20).map(_ * 2))
    assert(pool.isShutdown)
  }

  test("a failing item's exception is rethrown and the pool is shut down") {
    val pool = Executors.newFixedThreadPool(2)
    val ran = new AtomicInteger()
    val e = intercept[IllegalArgumentException] {
      FitPool.traverse(1 to 200, pool) { i =>
        if (i == 3) throw new IllegalArgumentException("fit 3 failed")
        Thread.sleep(20)
        ran.incrementAndGet()
      }
    }
    assert(e.getMessage == "fit 3 failed")
    assert(pool.isShutdown)
    assert(pool.awaitTermination(10, TimeUnit.SECONDS))
    // the queued fits were cancelled, not run behind the rethrow
    assert(ran.get < 100, s"${ran.get} fits ran after the failure")
  }
}
