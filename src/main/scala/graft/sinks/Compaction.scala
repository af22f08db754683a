package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.operators.{IndexMaintenance, StagedSwap}

/** Small-file compaction for date-partitioned parquet datasets — the
  * maintenance job every continuously-ingesting 100 TB table needs:
  * streaming/micro-batch writers (e.g. [[Sinks.writeDatePartitioned]],
  * `StreamingJobs.dateRotatedWriter`) land a few files per trigger, and
  * after a day a hot partition holds thousands of KB-sized files that
  * tax the driver's file index, the scan's task scheduler, and the
  * object store's LIST calls.
  *
  * Each partition directory is rewritten independently:
  * read → coalesce([[IndexMaintenance.targetFiles]]) → write-to-tmp →
  * crash-safe [[StagedSwap]] promote. Readers never observe a partial
  * partition: the swap is two renames, and a crash anywhere leaves
  * either the old files or a recoverable tmp/old pair that the NEXT
  * compaction run (or any other StagedSwap caller) restores before
  * touching anything.
  * Staging directories live under dot-prefixed siblings
  * (`.compact_tmp/`, `.compact_old/`), which Spark's file index ignores,
  * so a concurrent reader of the table root never lists half-written
  * data.
  *
  * Only partitions whose file count exceeds `maxFiles` are touched (the
  * [[IndexMaintenance.fragmented]] rule for one leaf dir) —
  * compaction is incremental by construction, and re-running it is a
  * no-op on already-compact partitions (idempotent maintenance cron).
  * Partition values are taken from directory names, never parsed from
  * data. The driver loops partitions serially here; at cluster scale the
  * loop parallelizes trivially (each partition's swap is independent —
  * the single-writer contract is per-partition).
  */
object Compaction {

  final case class PartitionReport(partition: String, filesBefore: Int,
      filesAfter: Int, bytes: Long, compacted: Boolean)

  def compactDatePartitions(spark: SparkSession, root: String,
      maxFiles: Int = 4): Seq[PartitionReport] = {
    require(maxFiles > 0, "maxFiles must be positive")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpRoot = new Path(rootPath, ".compact_tmp")
    val oldRoot = new Path(rootPath, ".compact_old")
    def staged(name: String) =
      StagedSwap.underRoots(spark, new Path(rootPath, name), tmpRoot, oldRoot)

    def childNames(p: Path): Seq[String] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    def isPartitionName(n: String): Boolean =
      n.contains("=") && !n.startsWith(".") && !n.startsWith("_")

    // Enumerate from live dirs AND staging leftovers: a swap that crashed
    // between its two renames leaves NO live dir — only tmp/old copies —
    // and a live-only listing would skip its recovery forever, leaving the
    // partition invisible to readers. recover() restores `live` before
    // anything else touches the table.
    val names = (childNames(rootPath) ++ childNames(tmpRoot) ++ childNames(oldRoot))
      .filter(isPartitionName).distinct.sorted
    names.filterNot(n => fs.exists(new Path(rootPath, n)))
      .foreach(staged(_).recover())

    names.filter(n => fs.exists(new Path(rootPath, n))).map { name =>
      val dir = new Path(rootPath, name)
      val (leaves, before) = IndexMaintenance.dataFiles(fs, dir)
      val bytes = fs.getContentSummary(dir).getLength
      if (!IndexMaintenance.fragmented(leaves, before, maxFiles)) {
        PartitionReport(name, before.toInt, before.toInt, bytes, compacted = false)
      } else {
        staged(name).swap { tmpDir =>
          spark.read.parquet(dir.toString)
            .coalesce(IndexMaintenance.targetFiles(bytes))
            .write.mode("overwrite").parquet(tmpDir)
        }
        PartitionReport(name, before.toInt,
          IndexMaintenance.dataFiles(fs, dir)._2.toInt, bytes, compacted = true)
      }
    }
  }
}
