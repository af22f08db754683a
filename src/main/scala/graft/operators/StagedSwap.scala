package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, SparkSession}

/** Crash-safe staged directory swap shared by every rewrite of a live
  * directory — [[IndexLifecycle]]'s deletes and compacts, meta writes,
  * refits, snapshot restores, sink compaction and the streaming state
  * stores: write the
  * rewritten copy to `tmp`, stage the live directory aside as `old`,
  * promote `tmp`, drop `old`.
  *
  * The dangerous window is between rename(live→old) and rename(tmp→live):
  * a crash there leaves NO live directory, only `old` (the original) and
  * `tmp` (the fully written new copy — `write(tmp)` completed before any
  * rename started). A naive rerun that leads with delete(tmp)/delete(old)
  * would destroy both surviving copies before its read of `live` failed —
  * permanent index loss. So every swap begins with [[recover]]: if `live`
  * is missing, restore it (preferring `tmp`, which is complete and newer,
  * falling back to `old`) BEFORE any delete; leftovers are only deleted
  * once `live` is confirmed present. A failed promote mid-swap likewise
  * restores `old` before throwing, so `live` never stays missing after an
  * exception either.
  *
  * Single-writer contract (same as the callers'): one swapper at a time.
  */
object StagedSwap {

  /** Every tmp-staging suffix any index mutation uses (`_old` is the
    * shared stage-aside name). ONE definition — IndexSnapshots'
    * quiescence check and IndexMaintenance's artifact filter reference
    * it, so a future mutation adding a suffix cannot desynchronize
    * them. */
  val tmpSuffixes: Seq[String] = Seq("_del", "_compact", "_rst")
  val oldSuffix: String = "_old"
  val allStagingSuffixes: Seq[String] = tmpSuffixes :+ oldSuffix

  /** One staged directory: the `live` copy, the `tmp` a rewrite is
    * written to, and the `old` name `live` is staged aside as during the
    * promote. Built by the three naming conventions in use — [[subdir]],
    * [[sibling]] and [[state]] — so no caller builds the triple or
    * resolves its FileSystem by hand. */
  final case class Staged(fs: FileSystem, live: Path, tmp: Path, old: Path) {

    def exists: Boolean = fs.exists(live)

    /** If `live` is missing, restore it from a crashed prior swap's
      * leftovers. Safe no-op when `live` exists.
      *
      * `tmp` is trusted ONLY when it carries the committer's `_SUCCESS`
      * marker: Spark's parquet committer creates it only after every task
      * file is committed, so a marked `tmp` is a complete dataset while an
      * unmarked one may be a valid-but-truncated parquet prefix — promoting
      * it would silently surface partial data. In the swap() flow a
      * `tmp`+`old` pairing implies the write completed (rename(live→old)
      * only runs after `write(tmp)` returns), so the marker check there is
      * pure defence-in-depth against states the single-writer flow can't
      * produce (manual copies, a non-atomic cross-volume move); it costs
      * nothing because a completed write always has the marker. A lone
      * `tmp` with neither `live` nor `old` is the first-materialization
      * path (swap() permits an absent `live`, e.g. a new `stats` subdir on
      * an index saved by an older format): with the marker it is salvaged
      * (promoted to `live`, saving the recompute); without it, deleted as
      * an incomplete write. */
    def recover(): Unit = {
      def tmpComplete = fs.exists(new Path(tmp, "_SUCCESS"))
      if (!fs.exists(live)) {
        if (fs.exists(tmp) && fs.exists(old)) {
          if (tmpComplete) {
            // crash between the two renames: tmp is the fully written new copy
            if (!fs.rename(tmp, live))
              throw new java.io.IOException(s"swap recovery: cannot restore $tmp to $live")
            checkedDelete(fs, old)
          } else {
            // not a state swap() can leave behind — distrust tmp, keep old
            checkedDelete(fs, tmp)
            if (!fs.rename(old, live))
              throw new java.io.IOException(s"swap recovery: cannot restore $old to $live")
          }
        } else if (fs.exists(old)) {
          if (!fs.rename(old, live))
            throw new java.io.IOException(s"swap recovery: cannot restore $old to $live")
        } else if (fs.exists(tmp)) {
          if (tmpComplete) {
            // the write provably completed; only the promote was lost
            if (!fs.rename(tmp, live))
              throw new java.io.IOException(s"swap recovery: cannot promote completed $tmp to $live")
          } else {
            // first materialization crashed mid-write: tmp may be partial
            checkedDelete(fs, tmp)
          }
        }
        // neither leftover exists: nothing to recover; the caller's read of
        // `live` fails loudly, which is correct for a genuinely absent index
      }
    }

    /** Resolve which directory a READER should load, without mutating
      * anything, or fail with `FileNotFoundException(missing)` when no
      * readable copy exists (genuinely absent state). [[recover]] renames
      * tmp→live / old→live, which is correct for the single WRITER
      * restarting after its own crash — but a reader that runs those
      * renames while a live writer is inside swap()'s rename window
      * (between rename(live→old) and rename(tmp→live)) steals the
      * promote: the writer's rename(tmp→live) then fails, its fallback
      * rename(old→live) also fails (old already deleted), and the stream
      * crashes. Readers therefore only LOOK: prefer `live`; if a crashed
      * (or in-flight) swap left it absent, read the complete newer copy in
      * `tmp` (trusted only with its `_SUCCESS` marker, same rule as
      * recover), else fall back to `old`. The crashed writer's own restart
      * still runs recover() and repairs the directory; until then every
      * reader sees the surviving state with zero writes.
      *
      * Check-then-read race (inherent to a no-lock design): between this
      * exists(live) and the caller's actual read, a concurrent writer's
      * swap can rename `live` away. Readers therefore load through
      * [[read]], which re-resolves and retries once; the non-mutating
      * design removes the promote-steal hazard, the retry the reader
      * crash. */
    def readable(missing: => String): Path =
      if (fs.exists(live)) live
      else if (fs.exists(tmp) && fs.exists(new Path(tmp, "_SUCCESS"))) tmp
      else if (fs.exists(old)) old
      else throw new java.io.FileNotFoundException(missing)

    /** Load the readable copy ([[readable]]) with `load`. If the copy
      * vanishes under the load — a live writer's swap renamed it — resolve
      * again and load once more: the swap window is two renames wide, so
      * the second resolution lands on a complete copy. The retry covers
      * resolution and whatever `load` itself lists or reads (for
      * `spark.read.parquet`, the file listing); a lazy frame scanned
      * after a later swap can still fail. */
    def read[T](missing: => String)(load: Path => T): T =
      try load(readable(missing))
      catch { case e: Exception if vanished(e) => load(readable(missing)) }

    /** Run one swap: recover a crashed predecessor, clear leftovers (only
      * with `live` confirmed present), `write` the new copy to `tmp`, then
      * two renames. A legitimately absent `live` (first materialization of
      * a new subdirectory) skips the stage-aside and promotes `tmp`
      * directly. */
    def swap(write: String => Unit): Unit = {
      recover()
      if (fs.exists(live)) { checkedDelete(fs, tmp); checkedDelete(fs, old) }
      write(tmp.toString)
      if (fs.exists(live) && !fs.rename(live, old))
        throw new java.io.IOException(
          s"swap: cannot stage ${live.getName} aside ($live to $old)")
      if (!fs.rename(tmp, live)) {
        // put the original back before failing — live must never stay missing
        fs.rename(old, live)
        throw new java.io.IOException(
          s"swap: cannot promote ${live.getName} ($tmp to $live)")
      }
      checkedDelete(fs, old)
    }
  }

  private def staged(spark: SparkSession, live: Path, tmp: Path,
      old: Path): Staged =
    Staged(live.getFileSystem(spark.sparkContext.hadoopConfiguration),
      live, tmp, old)

  /** An index artifact subdir: `<path>/<sub>`, staged through
    * `<path>/<sub><tmpSuffix>` and `<path>/<sub>_old` — the convention
    * every index family, snapshot restore and sketch store shares. */
  def subdir(spark: SparkSession, path: String, sub: String,
      tmpSuffix: String): Staged =
    staged(spark, new Path(s"$path/$sub"), new Path(s"$path/$sub$tmpSuffix"),
      new Path(s"$path/$sub$oldSuffix"))

  /** A bare parquet corpus dir rewritten beside itself: `<path>`, staged
    * through `<path>_del` and `<path>_old`. */
  def sibling(spark: SparkSession, path: String): Staged =
    staged(spark, new Path(path), new Path(path + "_del"),
      new Path(path + oldSuffix))

  /** A streaming fold's state under `statePath`: `state`, staged through
    * the dot-prefixed `.state_tmp` and `.state_old`. */
  def state(spark: SparkSession, statePath: String): Staged =
    staged(spark, new Path(statePath, "state"),
      new Path(statePath, ".state_tmp"), new Path(statePath, ".state_old"))

  /** A table's partition dir `live`, staged through `<tmpRoot>/<name>`
    * and `<oldRoot>/<name>` — hidden roots beside the partitions, which
    * Spark's file index ignores. The roots are created here: a rename
    * into a missing parent returns false on strict-rename filesystems
    * (HDFS, object stores), which would abort the swap after its
    * rewrite. */
  def underRoots(spark: SparkSession, live: Path, tmpRoot: Path,
      oldRoot: Path): Staged = {
    val st = staged(spark, live, new Path(tmpRoot, live.getName),
      new Path(oldRoot, live.getName))
    st.fs.mkdirs(tmpRoot)
    st.fs.mkdirs(oldRoot)
    st
  }

  /** Writer-restart recovery for one artifact subdir under the shared
    * naming convention, without knowing WHICH mutation crashed: find the
    * surviving tmp candidate among [[tmpSuffixes]] (single-writer ⇒ at
    * most one) and run [[Staged.recover]] against it and `<sub>_old`.
    * Call at every mutation entry point (and at the head of a restarting
    * ingest stream's foreachBatch) BEFORE reading the artifact: a reader
    * that instead interprets the mid-swap missing-live state as "index
    * absent" and re-saves would overwrite the whole corpus with one
    * micro-batch. Cheap: a handful of fs.exists calls; a no-op when
    * `live` is present. */
  def recoverSub(spark: SparkSession, path: String, sub: String): Unit = {
    val candidates = tmpSuffixes.map(subdir(spark, path, sub, _))
    val st = candidates.head
    val fs = st.fs
    val tmps = candidates.map(_.tmp).filter(fs.exists)
    if (st.exists) {
      // live is healthy ⇒ every leftover staging dir is superseded
      // garbage, not ambiguity. A SEQUENTIAL single writer produces
      // coexisting suffixes legitimately: a crash mid-compact-write
      // leaves <sub>_compact with live intact, and later mutations'
      // swap() clears only their OWN suffix — so a subsequent crash
      // mid-delete-write adds <sub>_del beside it. Clear them all
      // (exactly what swap() does for its own suffix) instead of
      // hard-failing every future mutation pending manual cleanup.
      (tmps :+ st.old).filter(fs.exists).foreach(checkedDelete(fs, _))
    } else {
      // live missing: the surviving copies are all we have, and with
      // TWO complete tmp candidates we cannot tell which mutation was
      // in flight (promoting the stale one would silently roll back
      // the last committed mutation) — only HERE is manual resolution
      // required. An unmarked tmp is provably an incomplete write
      // (never renamed into), so it disambiguates for free.
      val complete = tmps.filter(t => fs.exists(new Path(t, "_SUCCESS")))
      require(complete.size <= 1,
        s"multiple complete staged tmp dirs for $path/$sub with live " +
          s"missing: $complete — cannot tell which crashed swap is " +
          "newest; resolve manually")
      tmps.filterNot(complete.contains).foreach(checkedDelete(fs, _))
      complete.headOption.fold(st)(t => st.copy(tmp = t)).recover()
    }
  }

  /** A path that disappeared under a read: `FileNotFoundException`, or
    * the `PATH_NOT_FOUND` analysis error `spark.read` raises for a
    * missing root, possibly as the cause of another exception. */
  private def vanished(e: Throwable): Boolean = e match {
    case null => false
    case _: java.io.FileNotFoundException => true
    case a: AnalysisException if a.getCondition == "PATH_NOT_FOUND" => true
    case _ => vanished(e.getCause)
  }

  /** Delete that fails loudly: a `false` return with the path still
    * present (permissions, open handles, an object-store hiccup) would
    * otherwise leave a stale partial directory for every future recover
    * to silently trip over. */
  private def checkedDelete(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new java.io.IOException(s"swap: cannot delete $p")
}
