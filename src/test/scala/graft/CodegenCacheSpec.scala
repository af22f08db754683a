package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.streaming.StreamingJobs

/** The session's codegen class cache holds the engine's working set: a
  * query rerun after more than Spark's default 100 other generated
  * classes finds every one of its own classes still compiled, and a
  * streaming query restarted on a fresh checkpoint finds the classes its
  * previous run compiled. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Row count plus the sum of xxhash64 over every column of every row. */
  private def checksum(df: DataFrame): Row = df.agg(count(lit(1)),
    sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()

  private def run(name: String): Row =
    checksum(SparkEntry.queries(name)(spark, sfDir))

  test("a query rerun after >100 other generated classes compiles nothing") {
    val first = run("q1_agg")
    val before = compiles
    // q232 alone compiles ~110 classes; earlier suites in the same JVM may
    // have cached some of them, so run further heavy queries until more
    // than Spark's default 100 entries have gone into the cache
    Seq("q232_index_fsck", "q85_ccnet_buckets", "q77_training_flow",
        "q197_cat_drift", "q116_assoc_rules").iterator
      .takeWhile(_ => compiles - before <= 100).foreach(run)
    val others = compiles - before
    assert(others > 100,
      s"the intervening queries must overflow Spark's default cache; compiled $others")
    val rerunFrom = compiles
    val again = run("q1_agg")
    assert(compiles - rerunFrom == 0, "q1_agg recompiled on its rerun")
    assert(again == first)
  }

  test("a streaming query restarted on a fresh checkpoint compiles nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def runOnce(): Long = {
      val dir = java.nio.file.Files.createTempDirectory("codegen_stream").toString
      val source = MemoryStream[String]
      val from = compiles
      val q = StreamingJobs.heavyHittersOnArrival(source.toDF().toDF("item"),
        "item", capacity = 8, s"$dir/state", s"$dir/ckpt").start()
      try {
        source.addData(Seq.fill(5)("a") ++ Seq.fill(3)("b"): _*)
        q.processAllAvailable()
      } finally q.stop()
      compiles - from
    }
    runOnce()
    val second = runOnce()
    assert(second == 0, s"the restarted stream recompiled $second classes")
  }
}
