package graft.core

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** Run independent Spark-job legs as concurrent jobs (the guide §2.6
  * overlap pattern) on a FRESH per-call executor, never the global pool.
  *
  * Why not `ExecutionContext.Implicits.global`: Spark's job group (and
  * every other localProperty) is an InheritableThreadLocal, copied ONLY
  * at thread creation. Global-pool threads are created lazily and reused
  * across callers, so jobs submitted from them carry a stale or absent
  * job group — a harness that cancels the caller's job group (Bench's
  * per-sample watchdog) then cannot reach the concurrent legs, and a
  * cancelled sample's legs keep running and mutating scratch state
  * underneath the next sample. A pool created HERE spins its worker
  * threads from the submitting thread (ThreadPoolExecutor.addWorker runs
  * in the submitter), so each leg inherits the caller's job group and
  * cancellation reaches every leg.
  *
  * Failure is fast: legs are awaited in completion order, so the first
  * leg to fail surfaces at once, however long its siblings still run.
  * The pool is then shut down (interrupting the siblings' threads) and
  * the siblings' Spark jobs are cancelled through a job tag every leg of
  * this call carries — an interrupted driver thread alone would leave its
  * submitted job running. On success every leg has completed, the results
  * come back in leg order, and the shutdown interrupts nothing. */
object Concurrency {

  def runAll[T](legs: Seq[() => T]): Seq[T] = runAll(legs, legs.size)

  /** [[runAll]] with a thread cap — for fan-outs whose leg count scales
    * with a layout parameter (bucket/band/list dirs in a filesystem
    * copy) rather than a small fixed family count. */
  def runAll[T](legs: Seq[() => T], maxThreads: Int): Seq[T] = {
    require(legs.nonEmpty, "runAll needs at least one leg")
    require(maxThreads >= 1, s"maxThreads must be >= 1, got $maxThreads")
    val sc = SparkSession.getActiveSession.map(_.sparkContext)
    val tag = s"graft-runAll-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(legs.size, maxThreads))
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futures = legs.map(l => done.submit(() => {
        sc.foreach(_.addJobTag(tag)); l()
      }))
      try legs.foreach(_ => done.take().get())
      catch { case e: Throwable =>
        pool.shutdownNow()
        sc.foreach(_.cancelJobsWithTag(tag))
        throw (e match { case failed: ExecutionException => failed.getCause
                         case other => other })
      }
      futures.map(_.get())
    } finally pool.shutdownNow()
  }

  /** Two-leg convenience with distinct result types. */
  def both[A, B](a: () => A, b: () => B): (A, B) = {
    val r = runAll(Seq(() => a(): Any, () => b(): Any))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
