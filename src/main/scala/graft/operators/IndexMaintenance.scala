package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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
  * ignored: the artifacts are the ones [[IndexSnapshots]] copies. */
object IndexMaintenance {

  /** Bytes per output file of every compaction. */
  private val TargetFileBytes = 128L << 20

  /** (leaf dirs, data files) under `dir`: a partitioned artifact's leaves
    * are its partition dirs; a flat artifact is its own single leaf.
    * Committer scratch (`_temporary`) and hidden dirs and files are
    * skipped, Spark's own reader convention. The one data-file filter of
    * every compaction: the index families', sink [[graft.sinks.Compaction]]
    * and [[graft.sinks.Sinks.compactParquet]]. */
  private[graft] def dataFiles(f: FileSystem, dir: Path): (Long, Long) = {
    def hidden(st: FileStatus) =
      st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")
    val (subdirs, files) = f.listStatus(dir).toSeq.filterNot(hidden)
      .partition(_.isDirectory)
    if (subdirs.isEmpty) (1L, files.size.toLong)
    else {
      val leaves = subdirs.map(s => dataFiles(f, s.getPath))
      (leaves.map(_._1).sum, leaves.map(_._2).sum + files.size)
    }
  }

  /** Data files in the directory at `path`; 0 when it is absent. Pure
    * driver work (one listing, no Spark job): safe once per micro-batch. */
  def dataFiles(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) dataFiles(f, p)._2 else 0L
  }

  /** The one fragmentation test: more than `maxFilesPerDir` data files
    * per leaf dir. For a single partition dir, more than `maxFilesPerDir`
    * files. */
  private[graft] def fragmented(leaves: Long, files: Long,
      maxFilesPerDir: Int): Boolean =
    files > maxFilesPerDir.toLong * leaves

  /** The one output size of every compaction: max(1, ⌈bytes / 128 MiB⌉)
    * files. */
  private[graft] def targetFiles(bytes: Long): Int =
    math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt

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
    IndexSnapshots.artifactDirs(f, root).sortBy(_.getName).map { a =>
      val (leaves, files) = dataFiles(f, a)
      (a.getName, leaves, files, fragmented(leaves, files, maxFilesPerDir))
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
