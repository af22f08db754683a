package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink operators (SURVEY §2.2).
  *
  * The reference's core write semantic is idempotent keyed append
  * (`INSERT .. ON CONFLICT (pk) DO NOTHING`, K1) — re-delivery of the same
  * keyed batch must not duplicate rows. Engine-native form: left_anti
  * against the stored keys, then append.
  */
object Sinks {

  /** Rows of `incoming` whose key is absent from `existing` (K1/J2).
    * Deduplicates `incoming` on the key first (min-sort deterministic), as
    * the reference does (insert_csv_to_postgres.py:61 drop_duplicates).
    *
    * Scale note: the anti join only needs `existing`'s key columns — pass a
    * key-pruned frame (or rely on Catalyst column pruning as here). For a
    * date-keyed table, pre-filter `existing` to the incoming date range so
    * the build side stays bounded (SURVEY §7.4 risk 1). */
  def newRowsOnly(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    // order by every column (keys first) so the kept row per key is
    // deterministic even when the batch has conflicting payloads
    val order = (keys ++ incoming.columns.filterNot(keys.contains)).map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(order: _*)
    val deduped = incoming
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    deduped.join(existing.select(keys.map(col): _*), keys, "left_anti")
  }

  /** Idempotent keyed append to a parquet table directory (the engine's
    * stand-in for the JDBC ON CONFLICT sink; same contract). */
  def upsertIgnoreParquet(incoming: DataFrame, path: String, keys: Seq[String]): Unit = {
    val spark = incoming.sparkSession
    // Only a genuinely-absent table counts as first write; any other read
    // failure (corrupt footer, incompatible schema) must surface rather
    // than silently appending the whole batch and breaking idempotence.
    val corpus = graft.operators.StagedSwap.sibling(spark, path)
    // Repair a crashed [[compactParquet]] swap BEFORE the existence probe.
    // A crash between the swap's two renames leaves `path` MISSING with
    // the whole corpus sitting in `_old`/`_del`; reading exists() first
    // would misdiagnose that as a first write, recreate `path` with only
    // this batch's rows, and the NEXT swap's recover — seeing a "healthy"
    // live dir — would then delete `_old` holding the entire prior corpus.
    // Silent permanent loss, triggered by every foreachBatch that both
    // upserts and compacts (dedupOnArrival / the probe streams). Recover
    // first and the crashed swap is repaired before any append can
    // recreate live; a no-op (a handful of exists calls) on every clean
    // batch. Single-writer like the compactor itself.
    corpus.recover()
    val existing =
      if (corpus.exists) { spark.catalog.refreshByPath(path); spark.read.parquet(path) }
      else incoming.limit(0)
    newRowsOnly(existing, incoming, keys)
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** Rewrite a keyed parquet corpus dir into size-targeted files — the
    * small-files valve for [[upsertIgnoreParquet]]'s per-batch appends:
    * a long-running ingest accretes ~one file set per micro-batch, and
    * at 100 TB every reader then pays an open per tiny file. The
    * rewrite runs under the [[graft.operators.StagedSwap]] swap
    * (recover-first; a crash at any point leaves the previous corpus
    * servable and the rerun converges), sizes the output at
    * [[graft.operators.IndexMaintenance.targetFiles]] files from one
    * metadata listing, and refreshes Spark's listing caches after the
    * out-of-band move. Content-preserving and idempotent; single-writer
    * like every rewrite here. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    rewriteCorpus(spark, path) { (corpus, dir) =>
      val n = graft.operators.IndexMaintenance.targetFiles(
        corpus.fs.getContentSummary(corpus.live).getLength)
      spark.read.parquet(path).repartition(n).write.parquet(dir)
    }

  /** Rewrite the parquet corpus at `path` under its
    * [[graft.operators.StagedSwap.sibling]] swap: recover a crashed
    * earlier rewrite first, require the corpus, `write(corpus, tmpDir)`
    * the new copy (the live corpus is intact while it runs), promote it,
    * and refresh Spark's listing caches after the out-of-band move. */
  private[graft] def rewriteCorpus(spark: org.apache.spark.sql.SparkSession,
      path: String)(
      write: (graft.operators.StagedSwap.Staged, String) => Unit): Unit = {
    val corpus = graft.operators.StagedSwap.sibling(spark, path)
    corpus.recover()
    require(corpus.exists, s"no corpus at $path")
    corpus.swap(write(corpus, _))
    spark.catalog.refreshByPath(path)
  }

  /** Kafka-shaped frame (K3): key column + whole-row JSON value — matches
    * send_to_kafka.py:14-16 (key=uuid, value=json.dumps(msg)). Feed to
    * `.write.format("kafka")` in a real deployment; tests assert the frame. */
  def kafkaShaped(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** Header CSV writer (K5). */
  def writeCsv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** Date-partitioned writer (K7/W2 — the `index-%{+YYYY.MM.dd}` rotation as
    * a partitioned table; partition pruning replaces index selection). */
  def writeDatePartitioned(df: DataFrame, path: String, tsCol: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("event_date", date_format(col(tsCol), "yyyy.MM.dd"))
      .write.mode(mode).partitionBy("event_date").parquet(path)

  /** Side-effect alert hook (K10/T7). Trait so tests record instead of POST;
    * a production impl would do the Slack-style webhook POST driver-side. */
  trait AlertHook { def send(text: String, channel: String): Unit }

  final class RecordingAlertHook extends AlertHook {
    val sent = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    override def send(text: String, channel: String): Unit =
      synchronized { sent += ((text, channel)) }
  }

  /** Run a batch action with success/failure alerting — the engine-side form
    * of the DAG's on_failure_callback + success notification
    * (upbit_data_pipeline.py:188-227). */
  def withAlerts[T](hook: AlertHook, jobName: String, channel: String = "#alerts")(
      action: => T): T =
    try {
      val r = action
      hook.send(s"$jobName succeeded", channel)
      r
    } catch {
      case e: Throwable =>
        hook.send(s"$jobName FAILED: ${e.getMessage}", channel)
        throw e
    }
}
