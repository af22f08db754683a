package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The nightly maintenance job for a persisted index, as one call — the
  * composition every deployment otherwise hand-rolls from the lifecycle
  * primitives, in the one order that is safe:
  *
  *   1. `recover` — writer-restart repair first, so a crashed swap from
  *      yesterday is never misread by anything below;
  *   2. `compact` iff [[IndexMaintenance.needsCompact]] — BEFORE the
  *      audit and snapshot, so tonight's snapshot freezes the compacted
  *      layout (snapshotting first would copy the fragmentation and
  *      re-pay it on every restore);
  *   3. [[IndexAudit]] fsck — AFTER compact (validating the generation
  *      that will actually be frozen), BEFORE the snapshot: freezing a
  *      corrupt generation into the snapshot store would eventually
  *      rotate out the last good copy. Any failing check ABORTS the
  *      cycle loudly with the failing rows; the standing snapshots are
  *      exactly the restore candidates the operator then needs.
  *   4. [[IndexSnapshots.snapshotIncremental]] under the caller's tag —
  *      O(changed bytes) through the content-addressed store, so a
  *      nightly cadence is affordable by construction;
  *   5. [[IndexSnapshots.prune]] to `keepLast` (+ `protect`), whose
  *      refcounting GC reclaims rotated generations' objects.
  *
  * Single-writer: the cycle IS a writer (compact + snapshot + prune) —
  * pause ingest streams for the path, or run it from the stream's own
  * foreachBatch cadence. Idempotent per tag: a crashed cycle rerun with
  * the SAME tag converges (recover repairs, compact no-ops when clean,
  * the half-taken snapshot's staging is cleared and retaken; a cycle
  * that crashed AFTER its snapshot promoted refuses the duplicate tag —
  * pass `retakeTag = true` to drop and retake it, the rolling-latest
  * discipline).
  *
  * Returns a one-row report frame (family, compacted, fsck_checks,
  * snapshot_tag, pruned_tags, pruned_list) — exact longs/booleans, the
  * operational record a scheduler logs per night (prune's refcounting
  * GC runs inside step 5; its reclaimed objects are its own concern). */
object Maintenance {

  /** Run one maintenance cycle (see object doc for the step order and
    * why it is the only safe one). `tag` is the snapshot name for
    * tonight's generation — callers derive it from their scheduler's
    * date, keeping the engine clock-free. `family` is the index
    * family's lifecycle spec (e.g. [[TextIndex.lifecycle]]). */
  def cycle(spark: SparkSession, family: IndexLifecycle.Spec, path: String,
      tag: String, keepLast: Int, protect: Set[String] = Set.empty,
      maxFilesPerDir: Int = 4, retakeTag: Boolean = false): DataFrame = {
    import spark.implicits._
    family.recover(spark, path)
    val compacted =
      IndexMaintenance.needsCompact(spark, path, maxFilesPerDir)
    if (compacted) family.compact(spark, path)
    val audit = family.audit(spark, path)
    val failing = audit.filter(!org.apache.spark.sql.functions.col("pass"))
      .collect()
    if (failing.nonEmpty)
      throw new IllegalStateException(
        s"maintenance cycle for ${family.name} at $path ABORTED before " +
          s"snapshot: fsck failed ${failing.mkString("; ")} — restore a " +
          "standing snapshot or repair, then rerun")
    val nChecks = audit.count()
    if (retakeTag &&
        IndexSnapshots.list(spark, path)
          .filter($"tag" === tag).head(1).nonEmpty)
      IndexSnapshots.drop(spark, path, tag)
    IndexSnapshots.snapshotIncremental(spark, path, tag)
    val pruned = IndexSnapshots.prune(spark, path, keepLast, protect)
    Seq((family.name, compacted, nChecks, tag,
        pruned.size.toLong, pruned.mkString(",")))
      .toDF("family", "compacted", "fsck_checks", "snapshot_tag",
        "pruned_tags", "pruned_list")
  }
}
