package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.storage.StorageLevel

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

  /** Where one of a family's parameters lives: its partition count, or
    * a figure a stat or fsck check reads. */
  sealed trait Param
  /** A numeric or boolean (1/0) column of the one-row `meta/` artifact. */
  final case class MetaColumn(name: String) extends Param
  /** The distinct values of `column` in the parameter artifact `sub`. */
  final case class DistinctCount(sub: String, column: String) extends Param

  /** The [[Param]]s of the index at `path`, the one reader of `meta/`: it
    * is read once for all its columns, and each artifact [[read]] once. */
  private[operators] final class Params(spark: SparkSession, path: String) {
    private lazy val meta = read("meta").head()
    private val artifacts = scala.collection.mutable.Map.empty[String, DataFrame]
    def apply(p: Param): Long = p match {
      case MetaColumn(c) => meta.getAs[Any](c) match {
        case b: Boolean => if (b) 1L else 0L
        case n: Number => n.longValue
      }
      case DistinctCount(sub, c) => read(sub).select(col(c)).distinct().count()
    }
    /** Artifact `sub`, read once: each read infers its schema with a job
      * of its own. */
    def read(sub: String): DataFrame = artifacts.synchronized(
      artifacts.getOrElseUpdate(sub, spark.read.parquet(s"$path/$sub")))
  }

  /** A delete's emptying guard: given the membership artifact's live rows
    * and the cached delete ids, reject a delete that would leave an
    * unreadable index, and return the step to run once the id artifacts
    * are rewritten. */
  type Guard = (SparkSession, String, DataFrame, DataFrame) => () => Unit

  /** One family's lifecycle facts.
    *
    * @param idArtifacts the id-bearing artifacts every delete rewrites;
    *   the FIRST is the membership artifact that the default emptying
    *   guard, [[rows]] and snapshot erasure
    *   ([[IndexSnapshots.exposure]]) read.
    * @param flatParams flat parameter artifacts [[compact]] resizes.
    * @param recovered every subdir any mutation swaps.
    * @param checks the family's fsck invariants, run by [[audit]].
    * @param stats the family's dashboard figures, run by [[measure]].
    * @param guard a family-specific emptying guard (None: the membership
    *   artifact must keep a row). */
  final case class Spec(name: String, idArtifacts: Seq[IdArtifact],
      partitions: Param, flatParams: Seq[String],
      recovered: Seq[String], checks: Seq[IndexAudit.Check],
      stats: Seq[IndexAudit.Stat], guard: Option[Guard] = None) {
    require(idArtifacts.nonEmpty, s"$name: no id artifact")
    require((idArtifacts.map(_.sub) ++ flatParams).forall(recovered.contains),
      s"$name: every swapped subdir must be recovered")

    def membership: IdArtifact = idArtifacts.head

    /** fsck: one (family, check, value, pass) row per declared check
      * ([[IndexAudit.run]]). */
    def audit(spark: SparkSession, path: String): DataFrame = {
      import spark.implicits._
      IndexAudit.run(spark, path, this, checks)
        .map { case (c, v, ok) => (name, c, v, ok) }
        .toDF("family", "check", "value", "pass")
    }

    /** The dashboard: one (stat, value) row per declared stat, in
      * declaration order, exact longs ([[IndexAudit.run]]). */
    def measure(spark: SparkSession, path: String): DataFrame = {
      import spark.implicits._
      IndexAudit.run(spark, path, this, stats)
        .map { case (s, v, _) => (s, v) }.toDF("stat", "value")
    }

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
      * are no-ops; an emptying delete is rejected (drop the directory).
      * The distinct ids are cached for the guard and the rewrites, unless
      * the caller cached `ids` itself to share one id set among several
      * deletes (a second cache of the same plan would only be refused). */
    def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
      require(ids.columns.length == 1,
        s"ids must be a one-column frame, got ${ids.columns.toSeq}")
      recover(spark, path)
      val owned = ids.storageLevel == StorageLevel.NONE
      val del0 = ids.toDF("__del_id").distinct()
      val del = if (owned) del0.cache() else del0
      try {
        // each artifact is read once, on this thread: the guard and the
        // rewrite share the membership frame
        val live = idArtifacts.map(a => spark.read.parquet(s"$path/${a.sub}"))
        val commit = guard.getOrElse(keepsARow _)(spark, path, live.head, del)
        fanOut(idArtifacts.zip(live).map { case (a, l) => () =>
          StagedSwap.subdir(spark, path, a.sub, "_del").swap(tmp =>
            writer(survivors(a, l, del), a.key).parquet(tmp))
        })
        commit()
      } finally if (owned) del.unpersist()
    }

    /** The default emptying guard: a zero-row rewrite under partitionBy
      * writes NO data files, bricking every later read with an
      * unreadable-schema error. `head(1)` stops at the first survivor. */
    private def keepsARow(spark: SparkSession, path: String, live: DataFrame,
        del: DataFrame): () => Unit = {
      require(survivors(membership, live, del).head(1).nonEmpty,
        "delete would empty the index; drop the index directory instead")
      () => ()
    }

    /** The rows of artifact `a` (read as `live`) whose id `del` lacks. */
    private def survivors(a: IdArtifact, live: DataFrame,
        del: DataFrame): DataFrame =
      live.join(del, col(a.idColIn(live.schema)) === col("__del_id"),
        "left_anti")

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
      * flat artifact to [[IndexMaintenance.targetFiles]] files when it
      * holds more — so compact clears everything [[IndexMaintenance]]'s
      * policy flags (a flagged artifact compact never rewrote would
      * re-trigger auto-compact every pass). Contents are preserved
      * exactly. Each rewrite stages into a sibling directory and swaps via
      * [[StagedSwap]], so a crash is repaired by the next [[recover]];
      * the rewrites run as concurrent jobs (one artifact compacted and
      * another not is a valid state). */
    def compact(spark: SparkSession, path: String): Unit = {
      recover(spark, path)
      val n = new Params(spark, path)(partitions).toInt
      val partitioned = idArtifacts.flatMap(a => a.key.map(k => () =>
        StagedSwap.subdir(spark, path, a.sub, "_compact").swap(
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
        val target =
          IndexMaintenance.targetFiles(fs.getContentSummary(p).getLength)
        if (IndexMaintenance.dataFiles(fs, p)._2 <= target) None
        else Some(() => StagedSwap.subdir(spark, path, sub, "_compact").swap(
          writer(spark.read.parquet(p.toString).repartition(target), None)
            .parquet(_)))
      }
    }

    /** Rows in the membership artifact. */
    def rows(spark: SparkSession, path: String): Long =
      spark.read.parquet(s"$path/${membership.sub}").count()
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
