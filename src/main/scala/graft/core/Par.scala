package graft.core

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Driver-side overlap of INDEPENDENT eager build stages (guide §2.6
  * "Overlap independent jobs"; r18 verdict item 1).
  *
  * The heavy tier's profile (ProfileQ, r18) is a sequential chain of
  * eager jobs — NN-Descent round barriers, k-means/PQ training rounds,
  * placement-chain localCheckpoints — each of which leaves most of the
  * cluster idle in its tail. Spark's scheduler happily runs several
  * jobs at once inside one application; actions are only sequential
  * because the build code calls them sequentially. Where two chains
  * are pairwise independent (the two layer graphs of a hierarchical
  * ANN build, the coarse-quantizer and PQ-codebook trainings of an
  * IVF-PQ index, a routed placement barrier next to either), running
  * them from separate driver threads lets the second chain's tasks
  * back-fill executors freed by the first chain's stragglers — same
  * frames, same actions, same results, less idle capacity.
  *
  * Determinism: each leg is the UNCHANGED sequential code; legs share
  * no mutable state (they may read the same persisted parent frame —
  * the BlockManager serializes concurrent cache fills per block). The
  * only reordering is across legs that were already data-independent,
  * so every query's result is bit-identical — the DuckDB oracle gates
  * that per round.
  *
  * Scheduling: FIFO (Spark's default) is exactly the back-fill
  * behaviour wanted — the earlier job gets resources first, later jobs
  * use what is left. One leg always runs on the CALLING thread (no
  * idle coordinator); extra legs run on a shared daemon cached pool.
  * 2–3 legs in flight is the intended scale: enough to fill stage
  * tails, not so many that they fight for executors.
  *
  * Failure: a join returns or throws only after EVERY leg has
  * finished, so no leg is left running its Spark jobs behind a caller
  * that has moved on. It rethrows the first failure in leg order (a,
  * then b, then c) as the original exception, not a wrapper, with the
  * other legs' failures attached via `addSuppressed` — a failed build
  * surfaces as it would serially, and no failure is lost. */
object Par {

  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    }))

  /** Evaluate `b` on the pool while `a` runs on the calling thread;
    * returns both. `a` and `b` MUST be data-independent (neither reads
    * frames the other mutates/unpersists). */
  def join2[A, B](a: => A, b: => B): (A, B) = {
    val fb = Future(b)(pool)
    val ra = settle(a)
    val rb = settle(Await.result(fb, Duration.Inf))
    rethrowFirst(ra, rb)
    (ra.get, rb.get)
  }

  /** Three-way [[join2]]: `b` and `c` on the pool, `a` on the calling
    * thread. */
  def join3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fb = Future(b)(pool)
    val fc = Future(c)(pool)
    val ra = settle(a)
    val rb = settle(Await.result(fb, Duration.Inf))
    val rc = settle(Await.result(fc, Duration.Inf))
    rethrowFirst(ra, rb, rc)
    (ra.get, rb.get, rc.get)
  }

  /** A leg's outcome, fatal errors included. */
  private def settle[T](leg: => T): Try[T] =
    try Success(leg) catch { case e: Throwable => Failure(e) }

  private def rethrowFirst(legs: Try[_]*): Unit = {
    val errs = legs.collect { case Failure(e) => e }
    for (first <- errs.headOption) {
      errs.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
  }
}
