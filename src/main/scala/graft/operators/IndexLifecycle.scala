package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.core.{Concurrency, IndexLayout}

/** The one lifecycle kernel of the persisted index families
  * ([[TextIndex]], [[MinHashIndex]], [[IvfIndex]], [[ProductQuantizer]]):
  * `recover`, `delete`, `upsert` and `compact` are written once here and
  * run from the declarative [[Spec]] each family states as its
  * `lifecycle` val. Every mutation is single-writer (no concurrent
  * append, probe or mutation during a swap), and every rewrite goes
  * through the crash-safe [[StagedSwap]]: a crash leaves each artifact
  * old or new, never mixed, and the next mutation's `recover` repairs it.
  *
  * When writes straight into live artifacts may overlap is decided here
  * too, by one rule: [[writeAll]]. The kernel's own rewrites each stage
  * into a tmp dir and read only pre-swap state, so they always overlap. */
object IndexLifecycle {

  /** An artifact whose rows carry the indexed ids: its subdir, its id
    * column (None: the caller's own name, discovered as the first scalar
    * column other than the key), and its partition key (None: flat). */
  final case class IdArtifact(sub: String, idCol: Option[String],
      key: Option[String]) {
    def idColIn(schema: StructType): String = idCol.getOrElse(
      schema.fields.find(f => !key.contains(f.name) &&
          !f.dataType.isInstanceOf[ArrayType]).map(_.name)
        .getOrElse(throw new IllegalStateException(s"no id column in $sub/")))
  }

  /** Where a family's partition count lives. */
  sealed trait Partitions
  /** An int column of the one-row `meta/` artifact. */
  final case class MetaColumn(name: String) extends Partitions
  /** The distinct values of `column` in the parameter artifact `sub`. */
  final case class DistinctCount(sub: String, column: String)
      extends Partitions

  /** A delete's emptying guard: given the cached delete ids, reject a
    * delete that would leave an unreadable index, and return the step to
    * run once the id artifacts are rewritten. */
  type Guard = (SparkSession, String, DataFrame) => () => Unit

  /** One family's lifecycle facts.
    *
    * @param idArtifacts the id-bearing artifacts every delete rewrites;
    *   the FIRST is the membership artifact that the default emptying
    *   guard, [[rows]] and snapshot erasure read.
    * @param flatParams flat parameter artifacts [[compact]] resizes.
    * @param recovered every subdir any mutation swaps.
    * @param audit the family's [[IndexAudit]] fsck.
    * @param guard a family-specific emptying guard (None: the membership
    *   artifact must keep a row). */
  final case class Spec(name: String, idArtifacts: Seq[IdArtifact],
      partitions: Partitions, flatParams: Seq[String],
      recovered: Seq[String], audit: (SparkSession, String) => DataFrame,
      guard: Option[Guard] = None) {
    require(idArtifacts.nonEmpty, s"$name: no id artifact")
    require((idArtifacts.map(_.sub) ++ flatParams).forall(recovered.contains),
      s"$name: every swapped subdir must be recovered")

    def membership: IdArtifact = idArtifacts.head

    /** Writer-restart repair of every swapped subdir, run BEFORE reading
      * or mutating ([[StagedSwap.recoverSub]]): every mutation calls it,
      * and restarting ingest streams call it per batch so a mid-swap
      * crash is never misread as an absent index. */
    def recover(spark: SparkSession, path: String): Unit =
      recovered.foreach(StagedSwap.recoverSub(spark, path, _))

    /** Targeted delete (right-to-be-forgotten) of `ids` (a one-column
      * frame), without a rebuild: each id artifact is rewritten through
      * an anti-join under [[StagedSwap]], the rewrites as concurrent jobs.
      * No repartition — a broadcast anti-join keeps a partition-aligned
      * layout aligned (an explicit exchange measured +20% on the text
      * lifecycle queries). Any subset of the artifacts swapped is a sound
      * index (probes join artifacts on id, so an id gone from one never
      * surfaces), and rerunning the SAME delete completes it. Absent ids
      * are no-ops; an emptying delete is rejected (drop the directory). */
    def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
      require(ids.columns.length == 1,
        s"ids must be a one-column frame, got ${ids.columns.toSeq}")
      recover(spark, path)
      val del = ids.toDF("__del_id").distinct().cache()
      try {
        val commit = guard.getOrElse(keepsARow _)(spark, path, del)
        fanOut(idArtifacts.map(a => () =>
          StagedSwap.swapSub(spark, path, a.sub, "_del") { tmp =>
            val live = spark.read.parquet(s"$path/${a.sub}")
            writer(live.join(del,
              col(a.idColIn(live.schema)) === col("__del_id"), "left_anti"),
              a.key).parquet(tmp)
          }))
        commit()
      } finally del.unpersist()
    }

    /** The default emptying guard: a zero-row rewrite under partitionBy
      * writes NO data files, bricking every later read with an
      * unreadable-schema error. `head(1)` stops at the first survivor. */
    private def keepsARow(spark: SparkSession, path: String,
        del: DataFrame): () => Unit = {
      val live = spark.read.parquet(s"$path/${membership.sub}")
      require(live.join(del,
          col(membership.idColIn(live.schema)) === col("__del_id"), "left_anti")
          .head(1).nonEmpty,
        "delete would empty the index; drop the index directory instead")
      () => ()
    }

    /** Upsert (replace-or-insert): delete the batch's ids, then the
      * family's own `append` — replaced ids serve only their new rows,
      * absent ids are plain inserts. A crash between the halves leaves
      * the batch ids absent, and rerunning the same upsert completes it.
      * A batch replacing the whole index is rejected by the emptying
      * guard — save instead. */
    def upsert(batch: DataFrame, idCol: String, path: String)(
        append: => Unit): Unit = {
      delete(batch.sparkSession, path, batch.select(col(idCol)))
      append
    }

    /** Compact an index that appends have fragmented: each partitioned
      * id artifact is rewritten to ~one file per partition, and each
      * flat artifact to max(1, bytes / 128 MiB) files when it holds more
      * — so compact clears everything [[IndexMaintenance]]'s policy flags
      * (a flagged artifact compact never rewrote would re-trigger
      * auto-compact every pass). Contents are preserved exactly. Each
      * rewrite stages into a sibling directory and swaps via
      * [[StagedSwap]], so a crash is repaired by the next [[recover]];
      * the rewrites run as concurrent jobs (one artifact compacted and
      * another not is a valid state). */
    def compact(spark: SparkSession, path: String): Unit = {
      recover(spark, path)
      val n = partitionCount(spark, path)
      val partitioned = idArtifacts.flatMap(a => a.key.map(k => () =>
        StagedSwap.swapSub(spark, path, a.sub, "_compact")(
          aligned(spark.read.parquet(s"$path/${a.sub}"), n, k).parquet(_))))
      val flat = (idArtifacts.filter(_.key.isEmpty).map(_.sub) ++ flatParams)
        .flatMap(resized(spark, path, _))
      fanOut(partitioned ++ flat)
    }

    /** The leg resizing flat artifact `sub`, if it holds more files than
      * its size calls for. */
    private def resized(spark: SparkSession, path: String,
        sub: String): Option[() => Unit] = {
      val p = new Path(s"$path/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val target = math.max(1L,
          fs.getContentSummary(p).getLength / (128L << 20)).toInt
        if (IndexMaintenance.dataFiles(fs, p)._2 <= target) None
        else Some(() => StagedSwap.swapSub(spark, path, sub, "_compact")(
          writer(spark.read.parquet(p.toString).repartition(target), None)
            .parquet(_)))
      }
    }

    private def partitionCount(spark: SparkSession, path: String): Int =
      partitions match {
        case MetaColumn(c) =>
          spark.read.parquet(s"$path/meta").head().getAs[Int](c)
        case DistinctCount(sub, c) =>
          spark.read.parquet(s"$path/$sub").select(col(c)).distinct()
            .count().toInt
      }

    /** Rows in the membership artifact. */
    def rows(spark: SparkSession, path: String): Long =
      spark.read.parquet(s"$path/${membership.sub}").count()

    /** The membership artifact's id column at `path`. */
    def idColName(spark: SparkSession, path: String): String =
      membership.idColIn(spark.read.parquet(s"$path/${membership.sub}").schema)
  }

  /** The one rule for overlapping a family's writes into its live
    * artifacts: concurrent jobs only while `path` does not exist yet;
    * over an existing index, the given order — its readers (an ingest
    * batch's seen-set, a probe) must not see a new artifact beside an
    * old one, and a concurrent commit recaches frames that read the
    * index mid-write. Results come back in leg order. */
  def writeAll(spark: SparkSession, path: String,
      legs: Seq[() => Any]): Seq[Any] = {
    val root = new Path(path)
    if (root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root))
      legs.map(_())
    else Concurrency.runAll(legs)
  }

  private def fanOut(legs: Seq[() => Unit]): Unit =
    if (legs.size > 1) Concurrency.runAll(legs) else legs.foreach(_())

  /** A writer into an artifact partitioned by `key` (None: flat), under
    * the per-file row cap. */
  private def writer(df: DataFrame,
      key: Option[String]): DataFrameWriter[Row] = {
    val w = df.write.option("maxRecordsPerFile", IndexLayout.maxRecordsPerFile)
    key.fold(w)(w.partitionBy(_))
  }

  /** The partition-aligned write behind every family's save, append and
    * compact: `n` tasks that each hold whole `key` partitions, so
    * partitionBy emits ~one file per partition dir — not input-partitions
    * × n small files, which would make a fresh save flag
    * [[IndexMaintenance.needsCompact]]. */
  private[operators] def aligned(df: DataFrame, n: Int,
      key: String): DataFrameWriter[Row] =
    writer(df.repartition(n, col(key)), Some(key))
}
