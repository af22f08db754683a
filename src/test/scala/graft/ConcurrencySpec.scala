package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.core.Concurrency
import org.apache.spark.{JobExecutionStatus, TaskContext}

class ConcurrencySpec extends SparkSpec {

  test("success: results come back in leg order, whatever order legs finish") {
    val r = Concurrency.runAll(Seq(
      () => { Thread.sleep(300); "slow" },
      () => "fast",
      () => { Thread.sleep(100); "mid" }))
    assert(r == Seq("slow", "fast", "mid"))
  }

  test("a failing leg surfaces while a slow sibling runs; the sibling is interrupted") {
    val sc = spark.sparkContext
    val tag = "concurrency-spec-slow-leg"
    def statuses = sc.statusTracker.getJobIdsForTag(tag).toSeq
      .flatMap(id => sc.statusTracker.getJobInfo(id)).map(_.status)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      assert(cond, what)
    }
    val siblingEnd = new AtomicReference[Option[Throwable]]()
    val siblingDone = new CountDownLatch(1)
    // tasks that run for a minute unless their job is cancelled
    val slow = () => {
      sc.addJobTag(tag)
      try {
        sc.parallelize(0 until 2, 2).map { i =>
          val ctx = TaskContext.get()
          val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
          while (!ctx.isInterrupted() && System.nanoTime() < until) Thread.sleep(20)
          i
        }.count()
        siblingEnd.set(None)
      } catch { case t: Throwable => siblingEnd.set(Some(t)) }
      finally siblingDone.countDown()
    }
    val failing = () => {
      waitFor("the slow leg's job starts")(statuses.contains(JobExecutionStatus.RUNNING))
      throw new IllegalStateException("leg failed")
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](Concurrency.runAll(Seq(slow, failing)))
    val surfacedAfter = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "leg failed")
    assert(surfacedAfter < 30, s"failure surfaced after $surfacedAfter s")
    assert(siblingDone.await(30, TimeUnit.SECONDS), "the slow leg never ended")
    assert(siblingEnd.get().isDefined, "the slow leg ran to completion")
    waitFor("the slow leg's job is cancelled")(
      statuses.nonEmpty && !statuses.contains(JobExecutionStatus.RUNNING))
    assert(statuses.forall(_ == JobExecutionStatus.FAILED))
  }
}
