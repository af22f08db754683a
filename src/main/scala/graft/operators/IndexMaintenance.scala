package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance-policy observation for the persisted indexes — the glue
  * between the stats dashboards ("bands/ holds 4 000 files") and the
  * family compacts ("rewrite to ~one per partition"): a continuous
  * ingest stream should not have to guess a compaction cadence, and a
  * fixed every-N-batches timer compacts too often for slow feeds and
  * too rarely for fast ones. [[plan]] reads ONLY the filesystem layout
  * (file counts per artifact directory — never row data), so it costs a
  * directory listing regardless of corpus size; the caller dispatches
  * the family's compact where flagged:
  *
  * {{{
  * if (IndexMaintenance.needsCompact(spark, path))
  *   TextIndex.compact(spark, path)
  * }}}
  *
  * The policy knob is files-per-partition-directory: every family's
  * append adds ~one file set per partition per batch and every family's
  * compact rewrites to ~one file per partition, so "average data files
  * per leaf directory > maxFilesPerDir" is the family-agnostic
  * fragmentation signal (the probe-side cost it tracks is file opens
  * per pruned partition read). Flat artifact dirs (sigs/, docs/) count
  * as one leaf. Snapshot stores and crashed-swap staging dirs are
  * ignored, same exclusions as [[IndexSnapshots]]. */
object IndexMaintenance {

  private def excludedSuffixes = StagedSwap.allStagingSuffixes

  private[operators] def dataFiles(f: org.apache.hadoop.fs.FileSystem,
      dir: Path): (Long, Long) = {
    // (leaf dirs, data files): a partitioned artifact's leaves are its
    // partition dirs; a flat artifact is its own single leaf
    val children = f.listStatus(dir).toSeq
      // skip committer scratch (_temporary) and hidden dirs, matching
      // the file-level filter and Spark's own reader convention
      .filterNot(st => st.isDirectory &&
        (st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")))
    val (subdirs, files) = children.partition(_.isDirectory)
    val dataHere = files.count { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (subdirs.isEmpty) (1L, dataHere.toLong)
    else {
      val leaves = subdirs.map(s => dataFiles(f, s.getPath))
      (leaves.map(_._1).sum, leaves.map(_._2).sum + dataHere)
    }
  }

  /** One row per artifact directory: (artifact, leaf_dirs, data_files,
    * needs_compact) with needs_compact = data_files > maxFilesPerDir ×
    * leaf_dirs. Exact longs from one recursive listing; no row data is
    * read. */
  def plan(spark: SparkSession, path: String,
      maxFilesPerDir: Int = 4): DataFrame = {
    import spark.implicits._
    planRows(spark, path, maxFilesPerDir)
      .toDF("artifact", "leaf_dirs", "data_files", "needs_compact")
  }

  private def planRows(spark: SparkSession, path: String,
      maxFilesPerDir: Int): Seq[(String, Long, Long, Boolean)] = {
    require(maxFilesPerDir >= 1, s"maxFilesPerDir must be >= 1")
    val root = new Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(root), s"no index at $path")
    f.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName == IndexSnapshots.snapDirName ||
        p.getName.startsWith("."))
      .filterNot(p => excludedSuffixes.exists(p.getName.endsWith))
      .sortBy(_.getName)
      .map { a =>
        val (leaves, files) = dataFiles(f, a)
        (a.getName, leaves, files, files > maxFilesPerDir.toLong * leaves)
      }
  }

  /** True when ANY artifact is fragmented past the threshold — the
    * boolean the ingest loop gates its family compact on. Pure driver
    * work (no Spark job): this runs once per micro-batch in the hot
    * ingest loop. */
  def needsCompact(spark: SparkSession, path: String,
      maxFilesPerDir: Int = 4): Boolean =
    planRows(spark, path, maxFilesPerDir).exists(_._4)
}
