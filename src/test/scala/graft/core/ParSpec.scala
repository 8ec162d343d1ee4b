package graft.core

import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** [[Par]] — the driver-side overlap helper for independent eager
  * build stages (guide §2.6, r19). Pins: result pairing/ordering,
  * genuine concurrency (legs run simultaneously, not serially), failure
  * transparency (a pool leg's exception rethrows as itself), and the
  * failure contract: every leg has finished before a join throws, the
  * first failure in leg order wins and the others ride as suppressed.
  * Spark-level equivalence of the overlapped builds is gated where it
  * belongs — the per-query DuckDB oracles (q196/q206/q222/q234/q249/
  * q250/q280/q317/q318/q320/q322/q323 all hash-match with the
  * overlapped code) and the family specs. */
class ParSpec extends AnyFunSuite {

  test("join2 returns both legs' values in order") {
    assert(Par.join2(1 + 1, "b") === ((2, "b")))
  }

  test("join3 returns all three legs' values in order") {
    assert(Par.join3("a", 2, 3L) === (("a", 2, 3L)))
  }

  test("join2 actually overlaps: both legs enter before either leaves") {
    // each leg blocks until the OTHER leg has started — deadlocks
    // (and times out) unless the legs genuinely run concurrently
    val aIn = new CountDownLatch(1)
    val bIn = new CountDownLatch(1)
    val (ra, rb) = Par.join2(
      { aIn.countDown()
        assert(bIn.await(30, TimeUnit.SECONDS), "leg b never started")
        "a" },
      { bIn.countDown()
        assert(aIn.await(30, TimeUnit.SECONDS), "leg a never started")
        "b" })
    assert((ra, rb) === (("a", "b")))
  }

  test("join3 overlaps all three legs") {
    val in = new CountDownLatch(3)
    def leg(v: Int): Int = {
      in.countDown()
      assert(in.await(30, TimeUnit.SECONDS), "legs never all started")
      v
    }
    assert(Par.join3(leg(1), leg(2), leg(3)) === ((1, 2, 3)))
  }

  test("a pool leg's exception rethrows as the original cause") {
    val boom = new IllegalStateException("pool leg failed")
    val got = intercept[IllegalStateException] {
      Par.join2(1, throw boom)
    }
    assert(got eq boom)
  }

  test("the calling-thread leg's exception propagates too") {
    val boom = new IllegalArgumentException("caller leg failed")
    val got = intercept[IllegalArgumentException] {
      Par.join2[Int, Int](throw boom, 2)
    }
    assert(got eq boom)
  }

  /** A pool leg that sleeps, then records that it ran to the end. */
  private def slowLeg[T](done: AtomicBoolean, v: => T): T = {
    Thread.sleep(300)
    done.set(true)
    v
  }

  test("a throwing calling leg still waits for the slow pool leg") {
    val boom = new IllegalArgumentException("caller leg failed")
    val bDone = new AtomicBoolean(false)
    val got = intercept[IllegalArgumentException] {
      Par.join2[Int, Int](throw boom, slowLeg(bDone, 2))
    }
    assert(got eq boom)
    assert(bDone.get, "join2 threw while its pool leg was still running")
  }

  test("when both legs throw, a's exception carries b's as suppressed") {
    val ea = new IllegalStateException("leg a failed")
    val eb = new IllegalArgumentException("leg b failed")
    val got = intercept[IllegalStateException] {
      Par.join2[Int, Int](throw ea, throw eb)
    }
    assert(got eq ea)
    assert(got.getSuppressed.toSeq === Seq(eb))
  }

  test("join3: a failing b still awaits c; failures rank in leg order, " +
    "not in time order") {
    val eb = new IllegalStateException("leg b failed")
    val cDone = new AtomicBoolean(false)
    val got = intercept[IllegalStateException] {
      Par.join3[Int, Int, Int](1, throw eb, slowLeg(cDone, 3))
    }
    assert(got eq eb)
    assert(cDone.get, "join3 threw before leg c finished")
    // c fails first in time, b later: b is still the one rethrown
    val lateB = new IllegalStateException("leg b failed late")
    val earlyC = new IllegalArgumentException("leg c failed early")
    val bDone = new AtomicBoolean(false)
    val ranked = intercept[IllegalStateException] {
      Par.join3[Int, Int, Int](1, slowLeg(bDone, throw lateB),
        throw earlyC)
    }
    assert(ranked eq lateB)
    assert(ranked.getSuppressed.toSeq === Seq(earlyC))
  }
}
