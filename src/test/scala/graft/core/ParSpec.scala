package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[Par.awaitAll]]: overlap, failure propagation, and the round-18
  * reentrancy guard — a nested awaitAll from inside a pool thunk must
  * run inline instead of deadlocking the fixed-size pool.
  */
class ParSpec extends AnyFunSuite with Matchers {

  test("runs every thunk and rethrows the first failure after all complete") {
    val ran = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Par.awaitAll(
        () => { ran.incrementAndGet(); () },
        () => throw new IllegalStateException("boom"),
        () => { ran.incrementAndGet(); () })
    }
    e.getMessage shouldBe "boom"
    ran.get() shouldBe 2
  }

  test("nested awaitAll from pool thunks completes (no pool deadlock)") {
    // 4 outer thunks saturate the 4-thread pool; each spawns a nested
    // awaitAll. Without the reentrancy guard every pool thread blocks
    // waiting for slots its own children need and this hangs forever —
    // the test would time out with the suite.
    val ran = new AtomicInteger(0)
    Par.awaitAll((1 to 4).map(_ => () => {
      Par.awaitAll(
        () => { ran.incrementAndGet(); () },
        () => { ran.incrementAndGet(); () })
    }): _*)
    ran.get() shouldBe 8
  }

  test("single thunk runs inline") {
    val t = Thread.currentThread()
    var sawThread: Thread = null
    Par.awaitAll(() => { sawThread = Thread.currentThread(); () })
    sawThread shouldBe t
  }

  test("an outside thread named like a pool thread still overlaps its thunks") {
    // the reentrancy guard must recognize pool threads, not their name:
    // both thunks wait for each other, so running them inline would
    // time out instead of meeting at the latch
    val met = new AtomicInteger(0)
    var error: Throwable = null
    val caller = new Thread(() => {
      try {
        val latch = new CountDownLatch(2)
        def meet(): Unit = {
          latch.countDown()
          if (latch.await(30, TimeUnit.SECONDS)) met.incrementAndGet()
        }
        Par.awaitAll(() => meet(), () => meet())
      } catch { case t: Throwable => error = t }
    }, "graft-par-action")
    caller.start()
    caller.join()
    error shouldBe null
    met.get() shouldBe 2
  }

  test("a nested awaitAll runs its thunks inline on the pool thread") {
    val outer = new java.util.concurrent.ConcurrentHashMap[Thread, Set[Thread]]()
    Par.awaitAll((1 to 2).map(_ => () => {
      val self = Thread.currentThread()
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
      Par.awaitAll(
        () => { seen.add(Thread.currentThread()); () },
        () => { seen.add(Thread.currentThread()); () })
      outer.put(self, seen.toArray.toSet.map((t: AnyRef) => t.asInstanceOf[Thread]))
      ()
    }): _*)
    outer.size() should be >= 1
    outer.forEach((self, seen) => seen shouldBe Set(self))
  }
}
