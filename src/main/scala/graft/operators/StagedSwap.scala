package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

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

  /** Writer-restart recovery for one artifact subdir under the shared
    * naming convention, without knowing WHICH mutation crashed: find the
    * surviving tmp candidate among [[tmpSuffixes]] (single-writer ⇒ at
    * most one) and run [[recover]] against it and `<sub>_old`. Call at
    * every mutation entry point (and at the head of a restarting ingest
    * stream's foreachBatch) BEFORE reading the artifact: a reader that
    * instead interprets the mid-swap missing-live state as "index
    * absent" and re-saves would overwrite the whole corpus with one
    * micro-batch. Cheap: a handful of fs.exists calls; a no-op when
    * `live` is present. */
  def recoverSub(spark: org.apache.spark.sql.SparkSession, path: String,
      sub: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new Path(s"$path/$sub")
    val fs = live.getFileSystem(conf)
    val tmps = tmpSuffixes.map(sfx => new Path(s"$path/$sub$sfx"))
      .filter(fs.exists)
    val old = new Path(s"$path/$sub$oldSuffix")
    if (fs.exists(live)) {
      // live is healthy ⇒ every leftover staging dir is superseded
      // garbage, not ambiguity. A SEQUENTIAL single writer produces
      // coexisting suffixes legitimately: a crash mid-compact-write
      // leaves <sub>_compact with live intact, and later mutations'
      // swap() clears only their OWN suffix — so a subsequent crash
      // mid-delete-write adds <sub>_del beside it. Clear them all
      // (exactly what swap() does for its own suffix) instead of
      // hard-failing every future mutation pending manual cleanup.
      (tmps :+ old).filter(fs.exists).foreach(checkedDelete(fs, _))
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
      recover(fs, live,
        complete.headOption.getOrElse(new Path(s"$path/$sub${tmpSuffixes.head}")),
        old)
    }
  }

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
  def recover(fs: FileSystem, live: Path, tmp: Path, old: Path): Unit = {
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
    * anything. [[recover]] renames tmp→live / old→live, which is correct
    * for the single WRITER restarting after its own crash — but a reader
    * that runs those renames while a live writer is inside swap()'s
    * rename window (between rename(live→old) and rename(tmp→live))
    * steals the promote: the writer's rename(tmp→live) then fails, its
    * fallback rename(old→live) also fails (old already deleted), and the
    * stream crashes. Readers therefore only LOOK: prefer `live`; if a
    * crashed (or in-flight) swap left it absent, read the complete newer
    * copy in `tmp` (trusted only with its `_SUCCESS` marker, same rule as
    * recover), else fall back to `old`. The crashed writer's own restart
    * still runs recover() and repairs the directory; until then every
    * reader sees the surviving state with zero writes. Returns None when
    * no readable copy exists (genuinely absent state).
    *
    * Check-then-read race (inherent to a no-lock design): between this
    * exists(live) and the caller's actual read, a concurrent writer's
    * swap can rename `live` away, so the read can still fail with
    * FileNotFoundException even after Some(live). The non-mutating
    * design removes the promote-steal hazard, not reader crashes —
    * callers racing a live writer must catch FileNotFoundException,
    * re-call readable(), and retry once (the swap window is two renames
    * wide, so a single re-resolution always lands on a complete copy). */
  def readable(fs: FileSystem, live: Path, tmp: Path, old: Path): Option[Path] =
    if (fs.exists(live)) Some(live)
    else if (fs.exists(tmp) && fs.exists(new Path(tmp, "_SUCCESS"))) Some(tmp)
    else if (fs.exists(old)) Some(old)
    else None

  /** Delete that fails loudly: a `false` return with the path still
    * present (permissions, open handles, an object-store hiccup) would
    * otherwise leave a stale partial directory for every future recover
    * to silently trip over. */
  private def checkedDelete(fs: FileSystem, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new java.io.IOException(s"swap: cannot delete $p")

  /** The one staging-name convention every index family shares: swap
    * `<path>/<sub>` with tmp `<path>/<sub><tmpSuffix>` and stage-aside
    * `<path>/<sub>_old`. Extracted so the staging discipline lives in
    * ONE place instead of a per-family copy of the three-Path dance. */
  def swapSub(spark: org.apache.spark.sql.SparkSession, path: String,
      sub: String, tmpSuffix: String)(write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new Path(s"$path/$sub")
    val tmp = new Path(s"$path/$sub$tmpSuffix")
    val old = new Path(s"$path/${sub}_old")
    swap(live.getFileSystem(conf), live, tmp, old)(write)
  }

  /** Run one swap: recover a crashed predecessor, clear leftovers (only
    * with `live` confirmed present), `write` the new copy to `tmp`, then
    * two renames. A legitimately absent `live` (first materialization of a
    * new subdirectory) skips the stage-aside and promotes `tmp` directly. */
  def swap(fs: FileSystem, live: Path, tmp: Path, old: Path)(
      write: String => Unit): Unit = {
    recover(fs, live, tmp, old)
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
