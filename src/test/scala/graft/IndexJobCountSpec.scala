package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

import graft.operators.{IndexAudit, TextIndex}

/** Pins the number of Spark jobs each text-index operation launches on a
  * small index: a read or an aggregate more than the pinned count shows
  * here first. Jobs are counted under a job group of their own (the
  * concurrent legs of `Concurrency.runAll` inherit it), so the suites
  * that share this session do not add to the count. */
class IndexJobCountSpec extends SparkSpec {
  import spark.implicits._

  /** The jobs `op` launches. A sentinel job in a second group, run after
    * `op`, fences the listener bus: events arrive in order, so once its
    * end is seen every job start of `op` has been counted. */
  private def jobs(op: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (group, sentinel) = (s"count-$id", s"sentinel-$id")
    val started = new AtomicInteger()
    val fenced = new CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`sentinel`) => sentinelJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try op finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "job count fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus not drained")
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("text index stats, audit and delete launch their pinned job counts") {
    val path = Files.createTempDirectory("jobs_text").toString
    val texts = (0 until 24).map { i =>
      (i.toLong, (1 to 12).map(j => s"w${(i * 7 + j * 3) % 41}").mkString(" "))
    }.toDF("doc_id", "text")
    TextIndex.save(texts, "doc_id", "text", path, nBuckets = 4)
    // each artifact read infers its schema with a job of its own: meta,
    // docs and postings are read once per operation
    assert(Seq(
      "stats" -> jobs(TextIndex.stats(spark, path).collect()),
      "audit" -> jobs(IndexAudit.auditText(spark, path).collect()),
      "delete" -> jobs(TextIndex.delete(spark, path,
        Seq(3L, 5L).toDF("doc_id")))) ===
      Seq("stats" -> 9, "audit" -> 11, "delete" -> 14))
  }
}
