package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named snapshots + rollback for the persisted indexes — the "yesterday's
  * crawl poisoned the index" recovery path that append/delete/upsert
  * (forward-only mutations) cannot provide. Family-agnostic: an index is
  * its directory of artifact subdirectories (TextIndex `postings/docs/
  * meta`, MinHashIndex `sigs/bands/meta`, ProductQuantizer `coarse/
  * pq_model/codes/meta`, IvfIndex `centroids/lists/stats`), so one
  * snapshotter serves all four (and any future family that keeps the
  * same layout).
  *
  * Design notes, scale first:
  *  - [[snapshot]] is a FULL COPY under `<index>/_snapshots/<tag>/`. The
  *    families rewrite artifact files in place under [[StagedSwap]]
  *    (no immutable-segment manifest to pin), so copying is the honest
  *    snapshot; it is O(index bytes) and the caller chooses the moments
  *    (e.g. before each day's ingest). On an object store the copy is a
  *    server-side operation; nothing here reads rows — bytes stream
  *    through the filesystem layer, never through Spark.
  *  - [[snapshotIncremental]] is the O(changed bytes) form for a
  *    recurring cadence: artifact subdirs dedup through a
  *    content-addressed store (`_snapshots/_objects/`) and tags hold
  *    `.ref` pointers; [[prune]] refcounts and garbage-collects. Same
  *    restore/at/list surface, same crash and quiescence contracts.
  *  - Snapshots are IMMUTABLE: same-tag re-snapshot is rejected; `drop`
  *    then re-snapshot for a rolling "latest" discipline.
  *  - Crash-safe at every step. snapshot(): copies land in a hidden
  *    `.tmp_<tag>` staging dir, promoted by one rename — a crash leaves
  *    only staging, which [[list]] ignores and the rerun clears.
  *    restore(): each artifact subdir swaps in under [[StagedSwap]]
  *    (recover-first, `_SUCCESS`-gated), so a crash mid-restore leaves
  *    every subdir either pre- or post-restore and NEVER missing; the
  *    subdirs are not swapped atomically TOGETHER, so a crash can leave
  *    a mixed generation (restored postings under pre-restore meta) —
  *    rerunning the SAME restore is idempotent and converges it, the
  *    same crash-window discipline the families' append documents.
  *  - Single-writer, like every index mutation. snapshot() and restore()
  *    require a QUIESCENT index (no `_del`/`_old`/`_compact`/`_rst`
  *    staging leftovers): a leftover means a crashed mutation whose
  *    rerun must decide the index's true state first — snapshotting
  *    around it would freeze (or restore over) an undecided generation.
  *
  * Contract (IndexSnapshotsSpec, oracle q221): restore(tag) makes every
  * probe and [[TextIndex.stats]]-style dashboard frame bit-identical to
  * the index as it stood at snapshot(tag), regardless of the mutations
  * in between. */
object IndexSnapshots {

  private def stagingSuffixes = StagedSwap.allStagingSuffixes
  private[operators] val snapDirName = "_snapshots"

  /** Content-addressed store for [[snapshotIncremental]] dedup — lives
    * beside the tag dirs; never a valid tag name (tags must start
    * alphanumeric). */
  private[graft] val objectsDirName = "_objects"
  private val refSuffix = ".ref"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def validTag(tag: String): Unit =
    require(tag.nonEmpty && tag.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"snapshot tag '$tag' must be [A-Za-z0-9][A-Za-z0-9._-]*")

  /** Live artifact subdirectories of the index root: every child
    * directory that is not the snapshot store, not a hidden/staging
    * dir, and not a crashed swap's leftover. [[IndexMaintenance]] lists
    * the same set. */
  private[operators] def artifactDirs(f: FileSystem, root: Path): Seq[Path] = {
    require(f.exists(root), s"no index at $root")
    f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filterNot(p => p.getName == snapDirName || p.getName.startsWith("."))
      .filterNot(p => stagingSuffixes.exists(p.getName.endsWith))
  }

  /** Reject crashed-OTHER-mutation staging leftovers. `ownSuffixes` are
    * the suffixes the CALLER's own rerun recovers (restore owns `_rst`,
    * and `_old` when paired with it): excluding them keeps the
    * documented "rerun the SAME restore to converge" repair path
    * reachable — a quiescence check that rejected restore's own crash
    * leftovers would deadlock the recovery it prescribes. */
  private def requireQuiescent(f: FileSystem, root: Path,
      ownSuffixes: Set[String] = Set.empty,
      remedy: String = "rerun the interrupted mutation (its recover " +
        "path repairs the index) before snapshot/restore"): Unit = {
    val leftovers = f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => stagingSuffixes.exists(n.endsWith))
      .filterNot(n => ownSuffixes.exists(n.endsWith))
    require(leftovers.isEmpty, s"index at $root has crashed-mutation " +
      s"staging leftovers $leftovers — $remedy")
  }

  /** The directories under `snapRoot` (none when it is absent). */
  private def snapDirs(f: FileSystem, snapRoot: Path): Seq[FileStatus] =
    if (!f.exists(snapRoot)) Seq.empty
    else f.listStatus(snapRoot).toSeq.filter(_.isDirectory)

  /** The visible snapshot tags: the directories under `snapRoot` that
    * are neither hidden (staging, views, retired tags) nor the object
    * store. */
  private def tagDirs(f: FileSystem, snapRoot: Path): Seq[FileStatus] =
    snapDirs(f, snapRoot).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith(".") || n == objectsDirName
    }

  /** Recursive dir copy that writes the `_SUCCESS` marker LAST:
    * StagedSwap.recover (and `readable`) trust a marked tmp as a
    * COMPLETE dataset because Spark's committer creates the marker after
    * every task file — a naive FileUtil.copy of the whole dir replays
    * children in arbitrary order and can land `_SUCCESS` before the data
    * files, so a mid-copy crash would leave a partial directory that
    * recovery promotes as complete. */
  private def copyDir(f: FileSystem, src: Path, dst: Path,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    f.mkdirs(dst)
    val (markers, data) = f.listStatus(src).toSeq
      .partition(_.getPath.getName == "_SUCCESS")
    def copyOne(st: FileStatus): Unit =
      if (!FileUtil.copy(f, st.getPath, f, new Path(dst, st.getPath.getName),
          false, true, conf))
        throw new java.io.IOException(
          s"snapshot: cannot copy ${st.getPath} to $dst")
    // the data children — a partitioned artifact's bucket/band/list dirs
    // — copy CONCURRENTLY (bounded pool): FileUtil.copy streams each
    // sequentially on the calling thread, which serialized an entire
    // snapshot/restore behind one driver thread's byte loop (on an
    // object store these are server-side copies; either way the wall
    // time divides by the pool). `_SUCCESS` still lands strictly LAST —
    // the completeness-marker contract recover/readable trust.
    if (data.size > 1)
      graft.core.Concurrency.runAll(
        data.map(st => () => copyOne(st)), maxThreads = 16)
    else data.foreach(copyOne)
    markers.foreach(copyOne)
  }

  /** Freeze the index's current generation as `<index>/_snapshots/<tag>`.
    * Fails on an existing tag (snapshots are immutable — [[drop]] first)
    * and on a non-quiescent index. */
  def snapshot(spark: SparkSession, path: String, tag: String): Unit = {
    validTag(tag)
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, path)
    val root = new Path(path)
    requireQuiescent(f, root)
    val subs = artifactDirs(f, root)
    require(subs.nonEmpty, s"no artifact subdirectories under $root")
    val snapRoot = new Path(root, snapDirName)
    val dest = new Path(snapRoot, tag)
    require(!f.exists(dest), s"snapshot '$tag' already exists at $dest")
    val staging = new Path(snapRoot, s".tmp_$tag")
    if (f.exists(staging) && !f.delete(staging, true))
      throw new java.io.IOException(s"snapshot: cannot clear stale $staging")
    f.mkdirs(staging)
    // artifact subdirs copy into staging CONCURRENTLY (disjoint dest
    // dirs; the tag only becomes visible via the single rename below, so
    // partial-order states are invisible exactly as before)
    graft.core.Concurrency.runAll(
      subs.map(s => () => copyDir(f, s, new Path(staging, s.getName), conf)))
    if (!f.rename(staging, dest))
      throw new java.io.IOException(s"snapshot: cannot promote $staging to $dest")
  }

  /** Fingerprint of an artifact subdir: SHA-256 over the sorted
    * recursive (relative path, length) listing. Sufficient as a content
    * address HERE because every artifact generation is a fresh Spark
    * write whose part files carry task-attempt UUIDs in their names —
    * two different generations can never present the same name set, and
    * an unchanged subdir (copied or untouched) presents exactly the
    * same names and lengths. Deliberately excludes mtimes (copies
    * re-stamp them) and never reads file contents (O(metadata), not
    * O(bytes) — the point of an incremental snapshot). */
  private def fingerprint(f: FileSystem, dir: Path): String = {
    val base = dir.toUri.getPath
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      entries += s"${st.getPath.toUri.getPath.stripPrefix(base)}:${st.getLen}"
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def writeRef(f: FileSystem, file: Path, key: String): Unit = {
    val out = f.create(file, true)
    try out.write(key.getBytes("UTF-8")) finally out.close()
  }

  private def readRef(f: FileSystem, file: Path): String = {
    val in = f.open(file)
    try {
      val buf = new Array[Byte](256)
      val n = in.read(buf)
      new String(buf, 0, math.max(n, 0), "UTF-8").trim
    } finally in.close()
  }

  /** A snapshot's artifact entries: (artifact name, source path to copy
    * from) — a real copied subdir (full snapshots) or a `<name>.ref`
    * file resolved through the object store (incremental). Fails loudly
    * on a dangling ref (an object a buggy external cleanup removed —
    * [[gcObjects]] itself can never orphan a visible tag's ref). */
  private def entries(f: FileSystem, root: Path, snap: Path): Seq[(String, Path)] = {
    val objRoot = new Path(new Path(root, snapDirName), objectsDirName)
    f.listStatus(snap).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory) Some(name -> st.getPath)
      else if (name.endsWith(refSuffix)) {
        val obj = new Path(objRoot, readRef(f, st.getPath))
        require(f.exists(obj),
          s"snapshot entry $name references missing object $obj — " +
            "the object store was modified outside prune/gcObjects")
        Some(name.dropRight(refSuffix.length) -> obj)
      } else None
    }
  }

  /** [[snapshot]] at O(changed bytes): artifact subdirs are stored ONCE
    * in a content-addressed store (`_snapshots/_objects/<sha>`, keyed by
    * the [[fingerprint]] listing) and each tag records `<sub>.ref`
    * pointer files — a nightly cadence on a 100 TB index pays only for
    * the subdirs that day's mutations rewrote (e.g. an IVF append
    * rewrites lists/stats but shares centroids; a quiet day shares
    * everything). [[restore]] and [[at]] resolve refs transparently;
    * [[prune]] refcounts the store and garbage-collects unreferenced
    * objects. Same immutability, quiescence, and crash contracts as
    * [[snapshot]]: objects promote by atomic rename (a crash leaves only
    * hidden staging, swept by prune), the tag dir promotes last, and a
    * tag is visible ⟺ every one of its refs resolves. */
  def snapshotIncremental(spark: SparkSession, path: String, tag: String): Unit = {
    validTag(tag)
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, path)
    val root = new Path(path)
    requireQuiescent(f, root)
    val subs = artifactDirs(f, root)
    require(subs.nonEmpty, s"no artifact subdirectories under $root")
    val snapRoot = new Path(root, snapDirName)
    val dest = new Path(snapRoot, tag)
    require(!f.exists(dest), s"snapshot '$tag' already exists at $dest")
    val objRoot = new Path(snapRoot, objectsDirName)
    f.mkdirs(objRoot)
    val staging = new Path(snapRoot, s".tmp_$tag")
    if (f.exists(staging) && !f.delete(staging, true))
      throw new java.io.IOException(s"snapshot: cannot clear stale $staging")
    f.mkdirs(staging)
    subs.foreach { s =>
      val key = fingerprint(f, s)
      val obj = new Path(objRoot, key)
      if (!f.exists(obj)) {
        val objTmp = new Path(objRoot, s".tmp_$key")
        if (f.exists(objTmp) && !f.delete(objTmp, true))
          throw new java.io.IOException(s"snapshot: cannot clear stale $objTmp")
        copyDir(f, s, objTmp, conf)
        if (!f.rename(objTmp, obj))
          throw new java.io.IOException(s"snapshot: cannot promote $objTmp")
      }
      writeRef(f, new Path(staging, s"${s.getName}$refSuffix"), key)
    }
    if (!f.rename(staging, dest))
      throw new java.io.IOException(s"snapshot: cannot promote $staging to $dest")
  }

  /** Delete every object no VISIBLE tag references (plus crashed-copy
    * staging). Returns the deleted keys. Called by [[prune]] after tags
    * retire; public so a [[drop]]-heavy caller can reclaim too. Runs
    * under the family's single-writer contract: a snapshot MID-BUILD has
    * objects on disk whose refs still sit in hidden staging this scan
    * cannot see, so gc concurrent with [[snapshotIncremental]] could
    * collect them — the same no-concurrent-mutation rule every
    * operation here already requires covers it. */
  def gcObjects(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val snapRoot = new Path(new Path(path), snapDirName)
    val objRoot = new Path(snapRoot, objectsDirName)
    if (!f.exists(objRoot)) return Seq.empty
    val live: Set[String] = tagDirs(f, snapRoot)
      .flatMap { tagDir =>
        f.listStatus(tagDir.getPath).toSeq
          .filter(st => !st.isDirectory && st.getPath.getName.endsWith(refSuffix))
          .map(st => readRef(f, st.getPath))
      }.toSet
    f.listStatus(objRoot).toSeq.map(_.getPath)
      .filterNot(p => live.contains(p.getName))
      .map { p =>
        if (!f.delete(p, true) && f.exists(p))
          throw new java.io.IOException(s"gcObjects: cannot delete $p")
        p.getName
      }.sorted
  }

  /** Roll the index back to snapshot `tag`: each artifact subdir in the
    * snapshot swaps in under [[StagedSwap]]; live subdirs absent from
    * the snapshot (none for the shipped families) are dropped last.
    * Idempotent — rerun after any crash point to converge. The snapshot
    * itself is untouched (roll forward again by re-restoring another
    * tag). */
  def restore(spark: SparkSession, path: String, tag: String): Unit = {
    validTag(tag)
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, path)
    val root = new Path(path)
    val snap = new Path(new Path(root, snapDirName), tag)
    require(f.exists(snap), s"no snapshot '$tag' under $root/$snapDirName")
    // `_rst` (and the paired `_old`) are THIS operation's own crash
    // leftovers — StagedSwap.swap's recover step repairs them; only
    // other mutations' leftovers (`_del`/`_compact`) block a restore
    requireQuiescent(f, root, ownSuffixes = Set("_rst", "_old"))
    val snapSubs = entries(f, root, snap)
    require(snapSubs.nonEmpty, s"snapshot '$tag' is empty at $snap")
    // the per-artifact swaps touch DISJOINT subdirs, so they run
    // concurrently; the crash contract is unchanged — the subdirs were
    // never swapped atomically TOGETHER (a crash can leave a mixed
    // generation either way) and rerunning the SAME restore converges it
    graft.core.Concurrency.runAll(snapSubs.map { case (name, src) => () =>
      StagedSwap.subdir(spark, path, name, "_rst")
        .swap(t => copyDir(f, src, new Path(t), conf))
    })
    val snapNames = snapSubs.map(_._1).toSet
    artifactDirs(f, root).filterNot(p => snapNames.contains(p.getName))
      .foreach { extra =>
        if (!f.delete(extra, true) && f.exists(extra))
          throw new java.io.IOException(s"restore: cannot drop post-snapshot $extra")
      }
    // the swaps moved files BEHIND Spark's back (FileUtil + renames, not
    // Spark writes, which self-refresh): any plan cached over the old
    // generation (e.g. a caller's cached frame over the index's postings)
    // would keep serving pre-restore rows — re-read it from the restored files
    spark.catalog.refreshByPath(path)
  }

  /** Read-only time travel: the path of snapshot `tag`, usable wherever
    * an index path is (every family's probe/stats reads the same
    * artifact layout the snapshot preserves) — query a past generation
    * WITHOUT restoring it, e.g. `TextIndex.probe(spark, at(path, tag),
    * terms, k)` to diff yesterday's ranking against today's. Never pass
    * it to a MUTATION (append/delete/upsert/compact): snapshots are
    * immutable by contract, and nothing stops a caller armed with a raw
    * path except this sentence. Fails loudly on a missing tag rather
    * than returning a path whose read would fail later. */
  def at(spark: SparkSession, path: String, tag: String): String =
    at(spark, path, tag, maxViews = 0)

  /** [[at]] with an explicit serving-cost bound: `maxViews > 0` caps the
    * number of materialized `.view_*` copies held between prunes — after
    * this call's view exists, the OLDEST other views (materialization
    * mtime order, the promotion rename stamps it) are evicted down to
    * the cap. Views are pure caches (the next `at` of an evicted tag
    * rebuilds), so eviction never loses data; but it follows the same
    * single-writer discipline as prune's view sweep — a concurrent
    * reader still scanning a path a PREVIOUS `at` returned must not race
    * an eviction of that tag. `maxViews = 0` keeps the historical
    * contract: views accumulate until prune sweeps them or [[dropView]]
    * reclaims one explicitly. */
  def at(spark: SparkSession, path: String, tag: String,
      maxViews: Int): String = {
    validTag(tag)
    require(maxViews >= 0, s"maxViews must be >= 0, got $maxViews")
    val f = fs(spark, path)
    val root = new Path(path)
    val snapRoot = new Path(root, snapDirName)
    val dest = new Path(snapRoot, tag)
    require(f.exists(dest), s"no snapshot '$tag' at $dest")
    // incremental snapshots hold .ref pointers, not readable artifact
    // dirs: materialize ONCE into a hidden derived view (staged + atomic
    // rename, so existence ⟺ complete; a crash leaves only staging) and
    // serve that. Views are caches — every prune sweeps them (hidden-dir
    // rule) and the next at() rebuilds.
    val hasRefs = f.listStatus(dest).exists(st =>
      !st.isDirectory && st.getPath.getName.endsWith(refSuffix))
    val view = new Path(snapRoot, s".view_$tag")
    val result =
      if (!hasRefs) dest.toString // full-copy tag: readable directly
      else if (f.exists(view)) view.toString
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val staging = new Path(snapRoot, s".tmpview_$tag")
        if (f.exists(staging) && !f.delete(staging, true))
          throw new java.io.IOException(s"at: cannot clear stale $staging")
        f.mkdirs(staging)
        // disjoint dest dirs; visibility still gated by the one rename
        graft.core.Concurrency.runAll(entries(f, root, dest).map {
          case (name, src) => () => copyDir(f, src, new Path(staging, name), conf)
        })
        if (!f.rename(staging, view))
          throw new java.io.IOException(s"at: cannot promote $staging to $view")
        view.toString
      }
    // the cap applies on EVERY capped read — including a ref-less tag's
    // (which holds no view of its own but must still evict older tags'
    // stale view copies, or a full-copy-serving stream never reclaims)
    if (maxViews > 0) {
      val keep = if (hasRefs) math.max(maxViews - 1, 0) else maxViews
      val others = viewDirs(f, snapRoot)
        .filterNot(_.getPath.getName == view.getName)
        .sortBy(st => (st.getModificationTime, st.getPath.getName))
      others.dropRight(keep).foreach { st =>
        if (!f.delete(st.getPath, true) && f.exists(st.getPath))
          throw new java.io.IOException(s"at: cannot evict view ${st.getPath}")
      }
    }
    result
  }

  private def viewDirs(f: FileSystem, snapRoot: Path) =
    snapDirs(f, snapRoot).filter(_.getPath.getName.startsWith(".view_"))

  /** The materialized time-travel views as a dashboard frame: one (tag,
    * n_files, bytes) row per `.view_*` cache currently held on disk —
    * the explicit serving-cost companion to [[list]], so a read-heavy
    * consumer can SEE the storage its `at` calls accumulated between
    * prunes instead of discovering it in a disk audit. */
  def viewStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val snapRoot = new Path(new Path(path), snapDirName)
    val rows: Seq[(String, Long, Long)] = viewDirs(f, snapRoot)
      .map { st =>
        val s = f.getContentSummary(st.getPath)
        (st.getPath.getName.stripPrefix(".view_"), s.getFileCount, s.getLength)
      }.sortBy(_._1)
    rows.toDF("tag", "n_files", "bytes")
  }

  /** Reclaim snapshot `tag`'s materialized [[at]] view now instead of
    * waiting for the next prune. Returns whether a view existed. Loud on
    * a failed delete (a half-deleted view must not be servable); a
    * missing view is a normal no-op — full-copy snapshots never
    * materialize one. The tag itself is untouched: the next `at(tag)`
    * simply re-materializes. */
  def dropView(spark: SparkSession, path: String, tag: String): Boolean = {
    validTag(tag)
    val f = fs(spark, path)
    val view = new Path(new Path(new Path(path), snapDirName), s".view_$tag")
    if (!f.exists(view)) false
    else {
      if (!f.delete(view, true) && f.exists(view))
        throw new java.io.IOException(s"dropView: cannot delete $view")
      true
    }
  }

  /** The snapshot inventory as a dashboard frame: one (tag, n_files,
    * bytes) row per snapshot, exact longs, staging dirs excluded. */
  def list(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val snapRoot = new Path(new Path(path), snapDirName)
    val rows: Seq[(String, Long, Long)] = tagDirs(f, snapRoot).map { st =>
      val s = f.getContentSummary(st.getPath)
      (st.getPath.getName, s.getFileCount, s.getLength)
    }.sortBy(_._1)
    rows.toDF("tag", "n_files", "bytes")
  }

  /** Retention: drop every snapshot EXCEPT the `keepLast` most recent
    * (promotion order — the atomic rename stamps each snapshot dir's
    * mtime at creation; ties break toward the lexicographically later
    * tag) and any in `protect`. Returns the dropped tags.
    *
    * This is the unbounded-storage valve [[snapshot]]'s full-copy design
    * needs: a nightly-snapshot cadence on a 100 TB index multiplies
    * storage without bound unless something reclaims old generations.
    * Pure driver-side file metadata — one `_snapshots` listing, no rows.
    *
    * Safety:
    *  - Refuses to run while ANY mutation is mid-flight (any staging
    *    suffix under the index root — the [[snapshot]]/[[restore]]
    *    quiescence rule): a crashed restore's source tag is not
    *    recorded anywhere prune could read, so pruning around one risks
    *    deleting the very snapshot its rerun-to-converge repair path
    *    still needs — and a crashed restore can leave `_old`-only
    *    states a `_rst`-only check would miss. Residual caveat, same as
    *    restore's own crash contract: a crash BETWEEN two artifact
    *    swaps leaves NO staging at all (a mixed generation no
    *    filesystem check can see) — the single-writer discipline is to
    *    FINISH (rerun) an interrupted restore before running any other
    *    mutation, prune included. Crashed snapshot()/prune() leftovers
    *    (hidden `.tmp_`/`.del_` dirs) are swept here instead — they are
    *    garbage by construction, never a recovery input.
    *  - Each victim is renamed to a hidden `.del_<tag>` BEFORE deletion:
    *    one atomic rename makes it invisible to [[list]]/[[at]]/
    *    [[restore]], so a crash mid-delete can never leave a
    *    half-deleted snapshot that still looks restorable — the exact
    *    hazard [[drop]]'s "loud on failure" contract only reports,
    *    while prune (a policy loop over many tags) must survive.
    *    Restore-of-a-pruned-tag fails loudly at its existence check. */
  def prune(spark: SparkSession, path: String, keepLast: Int,
      protect: Set[String] = Set.empty): Seq[String] = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    protect.foreach(validTag)
    val f = fs(spark, path)
    val root = new Path(path)
    require(f.exists(root), s"no index at $root")
    requireQuiescent(f, root, remedy = "if it was a restore, its source " +
      "tag is unknown to prune; finish (rerun) the interrupted mutation first")
    val snapRoot = new Path(root, snapDirName)
    // crashed snapshot()/prune() staging AND materialized at() views:
    // garbage/caches by construction — views rebuild on the next at()
    snapDirs(f, snapRoot).map(_.getPath).filter(_.getName.startsWith("."))
      .foreach { p =>
        if (!f.delete(p, true) && f.exists(p))
          throw new java.io.IOException(s"prune: cannot clear stale $p")
      }
    val victims = tagDirs(f, snapRoot)
      .map(st => (st.getPath, st.getModificationTime))
      .sortBy { case (p, m) => (m, p.getName) }
      .dropRight(keepLast)
      .map(_._1)
      .filterNot(p => protect.contains(p.getName))
    val dropped = victims.map { p =>
      val shadow = new Path(snapRoot, s".del_${p.getName}")
      if (!f.rename(p, shadow))
        throw new java.io.IOException(s"prune: cannot retire $p to $shadow")
      if (!f.delete(shadow, true) && f.exists(shadow))
        throw new java.io.IOException(s"prune: cannot delete retired $shadow")
      p.getName
    }
    // retired tags may have been the last referents of shared objects
    if (dropped.nonEmpty) gcObjects(spark, path)
    dropped
  }

  /** Which standing snapshots still CONTAIN any of `ids` — the
    * right-to-be-forgotten blind spot: the families' `delete` scrubs
    * the LIVE generation, but every standing snapshot keeps the
    * pre-delete corpus until retention rotates it out (or
    * [[scrubSnapshots]] drops it). One (tag, n_exposed) row per visible
    * snapshot, exact longs.
    *
    * Reads ONLY `spec`'s membership artifact (`docs`/`sigs`/`codes`/
    * `lists`), never text or vectors — its id column as each tag froze
    * it, so PQ and IVF tags keep the caller's own id name;
    * incremental tags resolve their `.ref` through the object store and
    * read the artifact IN PLACE — no view materialization. One bounded
    * semi-join count per tag, and tags are bounded by the retention
    * policy, so the report is O(keepLast) small jobs. */
  def exposure(spark: SparkSession, path: String, ids: DataFrame,
      spec: IndexLifecycle.Spec): DataFrame = {
    import spark.implicits._
    require(ids.columns.length == 1,
      s"ids must be a one-column frame, got ${ids.columns.toSeq}")
    val f = fs(spark, path)
    val root = new Path(path)
    val wanted = ids.toDF("__fid").distinct()
    val tags = tagDirs(f, new Path(root, snapDirName)).map(_.getPath)
      .sortBy(_.getName)
    val sub = spec.membership.sub
    // the per-tag counts are independent READ-ONLY bounded jobs — run
    // them concurrently (§2.6 overlap); runAll preserves tag order
    val rows: Seq[(String, Long)] =
      if (tags.isEmpty) Seq.empty
      else graft.core.Concurrency.runAll(tags.map(tagDir => () => {
        val src = entries(f, root, tagDir).toMap.getOrElse(sub,
          throw new IllegalStateException(
            s"snapshot '${tagDir.getName}' has no '$sub' artifact"))
        val members = spark.read.parquet(src.toString)
        val id = members(spec.membership.idColIn(members.schema))
        val n = members.select(id.as("__fid"))
          .join(wanted, Seq("__fid"), "left_semi").count()
        (tagDir.getName, n)
      }))
    rows.toDF("tag", "n_exposed")
  }

  /** Drop every standing snapshot that still contains any of `ids`, then
    * GC the object store; returns the dropped tags. The erasure
    * companion to the families' `delete`: live scrubbing alone leaves
    * the forgotten rows RESTORABLE through every pre-delete snapshot.
    *
    * DROP, never rewrite-in-place: a snapshot is an internally
    * consistent index generation (meta stats ↔ postings ↔ sidecars —
    * exactly the invariants [[IndexAudit]] pins), so filtering one
    * artifact inside a frozen tag would corrupt it. The compliance flow
    * is scrub → the nightly [[Maintenance.cycle]] (or an explicit
    * snapshot) re-freezes the already-clean live generation. Runs under
    * the single-writer contract like every snapshot mutation. */
  def scrubSnapshots(spark: SparkSession, path: String, ids: DataFrame,
      spec: IndexLifecycle.Spec): Seq[String] = {
    import spark.implicits._
    val exposed = exposure(spark, path, ids, spec)
      .filter($"n_exposed" > 0L)
      .select($"tag").as[String].collect().toSeq.sorted // bounded: retention-sized
    exposed.foreach(tag => drop(spark, path, tag))
    if (exposed.nonEmpty) gcObjects(spark, path)
    exposed
  }

  /** Delete snapshot `tag`. Loud on failure (a half-deleted snapshot
    * must not look restorable). Drops the tag's materialized [[at]]
    * view FIRST — a re-snapshot under the same tag must never serve the
    * dropped generation through a stale view. Shared objects the tag
    * referenced stay until the next [[prune]]/[[gcObjects]]. */
  def drop(spark: SparkSession, path: String, tag: String): Unit = {
    validTag(tag)
    val f = fs(spark, path)
    val snapRoot = new Path(new Path(path), snapDirName)
    val dest = new Path(snapRoot, tag)
    require(f.exists(dest), s"no snapshot '$tag' to drop at $dest")
    val view = new Path(snapRoot, s".view_$tag")
    if (f.exists(view) && !f.delete(view, true) && f.exists(view))
      throw new java.io.IOException(s"drop: cannot delete stale view $view")
    if (!f.delete(dest, true) && f.exists(dest))
      throw new java.io.IOException(s"drop: cannot delete $dest")
  }
}
