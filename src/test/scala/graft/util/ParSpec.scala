package graft.util

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("both returns both results") {
    assert(Par.both(1 + 1, "x" * 3) === ((2, "xxx")))
  }

  test("both actually overlaps the two thunks") {
    val gate = new java.util.concurrent.CountDownLatch(2)
    // each side blocks until the OTHER side has started: completes only
    // if the two thunks run concurrently (1 s timeout = fail, not hang)
    val (a, b) = Par.both(
      { gate.countDown()
        assert(gate.await(1, java.util.concurrent.TimeUnit.SECONDS)); 1 },
      { gate.countDown()
        assert(gate.await(1, java.util.concurrent.TimeUnit.SECONDS)); 2 })
    assert((a, b) === ((1, 2)))
  }

  test("an exception in the first thunk rethrows after awaiting the second") {
    val bRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val x = intercept[IllegalStateException] {
      Par.both(throw new IllegalStateException("a failed"),
        { Thread.sleep(50); bRan.set(true); 2 })
    }
    assert(x.getMessage === "a failed")
    assert(bRan.get, "the second thunk must be awaited, not abandoned")
  }

  test("an exception in the second thunk rethrows on the caller thread") {
    val x = intercept[IllegalArgumentException] {
      Par.both({ Thread.sleep(20); 1 },
        throw new IllegalArgumentException("b failed"))
    }
    assert(x.getMessage === "b failed")
  }

  test("both failing: first rethrows with the second suppressed") {
    val x = intercept[IllegalStateException] {
      Par.both(
        { Thread.sleep(20); throw new IllegalStateException("a") },
        throw new IllegalArgumentException("b"))
    }
    assert(x.getMessage === "a")
    assert(x.getSuppressed.exists(_.getMessage == "b"))
  }

  test("all returns results in input order") {
    assert(Par.all(Seq(() => 1, () => 2, () => 3, () => 4)) === Seq(1, 2, 3, 4))
    assert(Par.all(Seq.empty[() => Int]) === Seq.empty)
    assert(Par.all(Seq(() => 7)) === Seq(7))
  }

  test("all actually overlaps every thunk") {
    val n = 4
    val gate = new java.util.concurrent.CountDownLatch(n)
    // each thunk blocks until ALL have started: completes only if the
    // n thunks run concurrently (1 s timeout = fail, not hang)
    val out = Par.all((0 until n).map(i => () => {
      gate.countDown()
      assert(gate.await(1, java.util.concurrent.TimeUnit.SECONDS)); i
    }))
    assert(out === (0 until n))
  }

  test("all: lowest-index failure rethrows, others suppressed, all awaited") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val x = intercept[IllegalStateException] {
      Par.all(Seq(
        () => { ran.incrementAndGet(); 1 },
        () => { Thread.sleep(30); throw new IllegalStateException("i1") },
        () => throw new IllegalArgumentException("i2"),
        () => { Thread.sleep(50); ran.incrementAndGet(); 4 }))
    }
    assert(x.getMessage === "i1")
    assert(x.getSuppressed.exists(_.getMessage == "i2"))
    assert(ran.get === 2, "surviving thunks must be awaited, not abandoned")
  }
}
