package graft.core

/** Shared write-layout knob for the persisted index families' ALIGNED
  * writes (repartition-on-partition-key before partitionBy — ~one file
  * per bucket/band/list directory, the compact contract).
  *
  * Why a per-file record cap: alignment makes write parallelism exactly
  * the key's cardinality and concentrates each directory into ONE task —
  * at 100 TB a skewed key (a stopword-heavy term bucket, a hot IVF cell)
  * turns that task into the stage's straggler and its output into one
  * multi-GB file. `maxRecordsPerFile` bounds the damage on the FILE side
  * (Spark rolls to a new file inside the same task past the cap) without
  * breaking the one-task-per-directory layout or the fragmentation
  * signal: [[graft.operators.IndexMaintenance]]'s needs_compact compares
  * AVERAGE files per leaf directory, so a handful of hot directories
  * rolling into a few bounded files does not flip it (and compact itself
  * writes under the same cap, so the state is stable — no
  * compact-every-cycle loop).
  *
  * The default (8M records/file) is far above every fixture-scale
  * directory (sf0.1 writes thousands of rows per bucket), so local bench
  * numbers and file counts are unchanged; deployments size it to their
  * row width (target ~512 MB–1 GB files, guide §6) via
  * SPARK_GRAFT_MAX_RECORDS_PER_FILE. Task-SIDE skew (the hot directory's
  * single task still reads all its rows) remains governed by the family
  * knobs the caller already owns — nBuckets/bands/nLists. */
object IndexLayout {
  private val Var = "SPARK_GRAFT_MAX_RECORDS_PER_FILE"

  /** Read at each write, so a bad value fails that write naming the
    * variable rather than poisoning this object's initialisation. */
  def maxRecordsPerFile: Long = maxRecordsPerFile(sys.env.get(Var))

  private[graft] def maxRecordsPerFile(setting: Option[String]): Long =
    setting.fold(8000000L)(GraftSession.positiveSetting(Var, _, Long.MaxValue))
}
