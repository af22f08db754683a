package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The session's codegen class cache holds the engine's working set: a
  * query rerun after more than Spark's default 100 other generated
  * classes finds every one of its own classes still compiled. */
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
}
