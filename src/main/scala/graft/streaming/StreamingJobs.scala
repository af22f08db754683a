package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.apache.spark.sql.Row

import graft.sinks.Sinks.AlertHook

/** Structured Streaming assembly (SURVEY §2.10 T1-T7).
  *
  * Each builder takes a streaming DataFrame (Kafka, file, rate, or
  * MemoryStream in tests — the transform is source-agnostic) and returns
  * either a transformed stream or a configured writer.
  */
object StreamingJobs {

  /** Every-N-batches in-stream maintenance schedule for the ingest/upsert
    * jobs: after the Nth, 2Nth, … micro-batch's mutation commits, the
    * same foreachBatch (already the index's single writer, so no second
    * scheduler and no writer race) runs the full
    * [[graft.operators.Maintenance.cycle]] — recover → compact-iff-
    * fragmented → fsck GATE → incremental snapshot → prune-with-GC — so
    * a continuously-ingesting 100 TB index gets snapshots, retention,
    * and object GC without any external scheduler.
    *
    * Semantics:
    *  - Tags derive from the streaming batchId (`<tagPrefix><batchId>`):
    *    clock-free and REPLAY-STABLE — a redelivered batch re-takes its
    *    own tag (the cycle runs with `retakeTag = true`) and converges
    *    instead of failing on the duplicate or leaking a second tag.
    *  - A failing fsck THROWS out of the cycle, which fails the batch
    *    and halts the stream: corruption is never frozen into the
    *    snapshot store, and the standing snapshots are exactly the
    *    restore candidates the operator then needs (the
    *    [[graft.operators.Maintenance]] abort contract, now in-stream).
    *  - `keepLast`/`protect` bound snapshot storage between cycles; the
    *    incremental content-addressed store makes each cycle O(changed
    *    bytes), which is what makes a per-N-batches cadence affordable.
    *  - Cost shape: the gate is one modulus test per batch; the cycle
    *    itself (a directory listing, the audit's id-only joins, the
    *    changed-subdir copies) is paid once per N batches. */
  final case class MaintenancePolicy(
      everyNBatches: Int,
      keepLast: Int,
      protect: Set[String] = Set.empty,
      maxFilesPerDir: Int = 4,
      tagPrefix: String = "auto_b") {
    require(everyNBatches >= 1,
      s"everyNBatches must be >= 1, got $everyNBatches")
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    /** Due after batches N-1, 2N-1, … (0-indexed batchId): "every N
      * batches", counting from the stream's first batch. */
    private[streaming] def due(batchId: Long): Boolean =
      (batchId + 1) % everyNBatches == 0
    /** Zero-padded so the LEXICAL tag order equals batch order — "latest
      * tag" readers (max over list()) stay correct past batch 9. Twelve
      * digits holds the invariant to batchId 10^12 (≈31,000 years at one
      * batch per second) — the load-bearing ordering never inverts on a
      * real stream's horizon. */
    private[streaming] def tag(batchId: Long): String =
      f"$tagPrefix$batchId%012d"
  }

  private def maybeCycle(spark: SparkSession,
      family: graft.operators.IndexLifecycle.Spec, indexPath: String,
      batchId: Long, policy: Option[MaintenancePolicy]): Unit =
    policy.filter(_.due(batchId)).foreach { p =>
      // cold-start guard: a due batch before the index's first save
      // (empty early batches) has nothing to maintain — skipping beats
      // failing the stream on recover-of-nothing
      val root = new org.apache.hadoop.fs.Path(indexPath)
      val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(root))
        graft.operators.Maintenance.cycle(spark, family, indexPath,
          p.tag(batchId), p.keepLast, p.protect, p.maxFilesPerDir,
          retakeTag = true)
    }

  /** Whether the index at `indexPath` has artifact `sub`. Callers run
    * the family's recover() first, so a crashed swap is repaired and a
    * present artifact is a promoted, complete one. */
  private def hasArtifact(spark: SparkSession, indexPath: String,
      sub: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(indexPath, sub)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Opt-in in-stream compaction: one directory listing per batch, and a
    * compact only once append-accreted files pass the policy threshold
    * (the stream's foreachBatch IS the index's single writer, so the
    * swap is safe). */
  private def autoCompact(spark: SparkSession,
      family: graft.operators.IndexLifecycle.Spec, indexPath: String,
      filesPerDir: Option[Int]): Unit =
    if (filesPerDir.exists(t =>
        graft.operators.IndexMaintenance.needsCompact(spark, indexPath, t)))
      family.compact(spark, indexPath)

  /** Opt-in compaction of a keyed-append output corpus (answers, curated
    * docs): it accretes one file set per batch like the index does, so
    * the same files-per-dir rule and one listing per batch decide. */
  private def compactOutput(spark: SparkSession, outPath: String,
      maxFiles: Option[Int]): Unit =
    if (maxFiles.exists(t => graft.operators.IndexMaintenance.fragmented(
        1L, graft.operators.IndexMaintenance.dataFiles(spark, outPath), t)))
      graft.sinks.Sinks.compactParquet(spark, outPath)

  /** A fenced-out batch is normally checkpoint REPLAY (the engine
    * redelivered a batchId the state already folded) — but batch 0 fenced
    * by a positive committed id almost always means a FRESH checkpoint
    * was pointed at an EXISTING statePath: batchIds restart at 0, so
    * every new batch is silently dropped forever while the state just
    * stops updating. The pairing contract for every fold job here:
    * statePath and checkpoint are created and destroyed TOGETHER. Warn
    * loudly rather than fail — the state is still correct for its own
    * history, and a genuine replay of batch 0 against committed 0 passes
    * the fence without entering this path. */
  private def warnIfMismatchedCheckpoint(batchId: Long, committed: Long,
      statePath: String): Unit =
    if (batchId == 0L && committed > 0L)
      System.err.println(s"[graft] state at $statePath fenced out batch 0 " +
        s"(committed=$committed): a FRESH checkpoint is replaying against " +
        "an EXISTING state — statePath and checkpoint must be created and " +
        "destroyed together; new data is being dropped, not folded")

  /** The one staged-state fold behind every streaming sketch job. It
    * recovers a crashed swap BEFORE choosing between merge and a fresh
    * start: a crash in swap's rename window leaves `state` absent with
    * the full state in `.state_tmp`/`.state_old`, and reading
    * exists(state) first would silently restart the history from this
    * batch alone. Then it reads the prior state once, fences out a
    * redelivered batch, merges, and promotes the merged state in one
    * [[graft.operators.StagedSwap]] swap — state and fence together, so
    * they can never disagree. Single-writer: one stream per statePath.
    *
    * `read` turns the prior state's rows into the family's committed
    * batch id and its merge input; an idempotent merge reports -1 and is
    * never fenced. `merge` builds the next state from the prior merge
    * input, if any, and runs only for a batch that passes the fence. */
  private def foldState[S](batch: DataFrame, batchId: Long,
      statePath: String)(read: DataFrame => (Long, S))(
      merge: Option[S] => DataFrame): Unit = {
    val spark = batch.sparkSession
    val state = graft.operators.StagedSwap.state(spark, statePath)
    state.recover()
    val prior =
      if (state.exists) Some(read(spark.read.parquet(state.live.toString)))
      else None
    val committed = prior.fold(-1L)(_._1)
    if (batchId <= committed)
      warnIfMismatchedCheckpoint(batchId, committed, statePath)
    else {
      val next = merge(prior.map(_._2))
      state.swap(next.write.parquet(_))
    }
  }

  /** The state a [[foldState]] job last promoted under `statePath`,
    * resolved without mutating anything
    * ([[graft.operators.StagedSwap.Staged.read]]): a reader racing the
    * writer's rename window reads the surviving copy, retrying once if
    * the swap moves it, and leaves the repair to the writer's own
    * restart. */
  private def foldedState(spark: SparkSession, statePath: String,
      what: String): DataFrame =
    graft.operators.StagedSwap.state(spark, statePath)
      .read(s"no $what state under $statePath")(p => spark.read.parquet(p.toString))

  /** A `foreachBatch` writer under `checkpoint`: `run(batch, batchId)`
    * per micro-batch. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      run: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch(run)

  /** T2: at-least-once → effectively-once via event-time watermark + keyed
    * dedup. State is bounded by the watermark horizon — the streaming
    * equivalent of the JDBC ON CONFLICT absorption. */
  def dedupByKey(stream: DataFrame, keyCol: String, tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming content dedup — the streaming analog of
    * [[graft.operators.Dedup.exactDedup]]: drop records whose PAYLOAD
    * digest was already seen inside the watermark horizon (re-scraped
    * pages, replayed documents — same content under a fresh id, which
    * keyed dedup cannot catch). State per distinct digest is 16 bytes +
    * watermark bookkeeping, evicted at the horizon. */
  /** `digest` is pluggable like Dedup.dropSeenDocs's: pass
    * md5 ∘ TextFunctions.normalizeText for normalization-aware streaming
    * dedup (re-wrapped/re-cased redeliveries of the same content
    * collapse; the NFC kernel is a narrow codegen map, so the streaming
    * plan shape is unchanged). */
  def dedupByContent(stream: DataFrame, contentCol: String, tsCol: String,
      watermark: String = "10 minutes",
      digest: Column => Column = c => md5(c.cast("string"))): DataFrame =
    stream.withColumn("__digest", digest(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** T4: per-minute tumbling counts per type with watermarked late-data
    * handling; append-mode-compatible (final results only). */
  def tumblingCounts(stream: DataFrame, tsCol: String, typeCol: String,
      valueCol: String = "value", window_ : String = "1 minute",
      watermark: String = "5 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(typeCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("window.start").as("window_start"), col(typeCol),
        col("n"), col("total_value"))

  /** T9 streaming form: session windows (inactivity gap) per key with
    * watermarked state — sessions close `gap` after their last event, the
    * watermark bounds open-session state. Append-mode-compatible. */
  def sessionCounts(stream: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes", watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"))

  /** K7/T4: writer rotated by event date — the ES daily-index pattern as a
    * partitioned parquet stream. */
  def dateRotatedWriter(stream: DataFrame, tsCol: String, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    stream.withColumn("event_date", date_format(col(tsCol), "yyyy.MM.dd"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_date")
      .trigger(Trigger.AvailableNow())

  /** K1/T2 streaming form: idempotent keyed append via foreachBatch — the
    * reference's ON CONFLICT DO NOTHING absorbing redelivery, applied per
    * micro-batch. Combined with upstream watermark dedup this gives
    * effectively-once delivery into the table. */
  def idempotentParquetSink(stream: DataFrame, path: String,
      keys: Seq[String], checkpoint: String): DataStreamWriter[Row] =
    eachBatch(stream, checkpoint) { (batch, _) =>
      graft.sinks.Sinks.upsertIgnoreParquet(batch, path, keys)
    }

  /** Continuous-ingest NEAR-dup gate — the streaming face of the
    * persisted MinHash index ([[graft.operators.MinHashIndex]]): per
    * micro-batch, (1) drop every arriving doc that near-duplicates the
    * standing corpus via the index probe, (2) resolve intra-batch
    * near-dup clusters (two copies arriving in the SAME batch both pass
    * the probe) with the exact screen-and-verify pair stage plus a
    * min-id-per-component keeper, (3) emit the survivors idempotently,
    * and (4) append them to the index so the NEXT batch probes against
    * them. Watermark content dedup ([[dedupByContent]]) catches exact
    * redelivery cheaply upstream; this gate catches the near-miss copies
    * (re-crawls, boilerplate-trimmed rescrapes) those digests miss.
    *
    * Crash story (foreachBatch is at-least-once): the output write is an
    * idempotent keyed upsert and runs BEFORE the index append, and the
    * probe ignores hits against a doc's OWN id — so a replay after a
    * crash anywhere (including mid-append, which can leave a PARTIAL
    * band entry for a batch doc) re-admits the doc, re-upserts the same
    * output row, and re-appends its full band set. The append can at
    * worst duplicate signature rows, which never changes a probe verdict
    * (candidates are distinct-ed) and is cleaned by
    * [[graft.operators.MinHashIndex.compact]] on the maintenance
    * cadence. Single-writer contract: one such stream per index path.
    *
    * Cache note: the dedup operators cache their signature subplans
    * (the documented Dedup contract); a long-lived stream clears the
    * session cache per batch so entries don't accumulate — the default
    * assumes a dedicated streaming application owning its session, the
    * standard deployment. Pass `clearCachePerBatch = false` when the
    * session is shared (tests, notebooks) and accept the small leak. */
  def dedupOnArrival(stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String, checkpoint: String,
      minJac: Double = 0.5, clearCachePerBatch: Boolean = true,
      autoCompactFilesPerDir: Option[Int] = None,
      maintenance: Option[MaintenancePolicy] = None,
      outCompactFiles: Option[Int] = None): DataStreamWriter[Row] =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      // the intra-batch stage must judge near-dups by the SAME hash
      // parameters the index was built with, or same-batch and
      // cross-batch copies get two different similarity measures
      val (n, k, bands, seed) =
        graft.operators.MinHashIndex.params(spark, indexPath)
      // replay-safe probe: a crashed prior attempt may have appended
      // PART of this very batch's band rows before dying — a hit
      // against a doc's own id is that artifact, not evidence the
      // standing corpus held the content, and treating it as "seen"
      // would drop the doc while leaving its index entry partial
      // (under-indexed forever). Ids identify documents stably across
      // redelivery — the same contract the output upsert keys on.
      val hits = graft.operators.MinHashIndex.probe(
          batch, idCol, textCol, indexPath, minJac)
        .filter(col("corpus_id") =!= col(idCol))
        .select(col(idCol)).distinct()
      val fresh = batch.join(hits, Seq(idCol), "left_anti").persist()
      try {
        val pairs = graft.operators.Dedup.minhashNearDupPairs(
          fresh, idCol, textCol, n = n, k = k, bands = bands,
          minJac = minJac, seed = seed)
        val losers = graft.operators.Components
          .connectedComponents(pairs, "id_a", "id_b")
          .filter(col("node") =!= col("component"))
          .select(col("node").as(idCol))
        val kept = fresh.join(losers, Seq(idCol), "left_anti")
        graft.sinks.Sinks.upsertIgnoreParquet(kept, outPath, Seq(idCol))
        graft.operators.MinHashIndex.append(kept, idCol, textCol, indexPath)
        autoCompact(spark, graft.operators.MinHashIndex.lifecycle,
          indexPath, autoCompactFilesPerDir)
        maybeCycle(spark, graft.operators.MinHashIndex.lifecycle,
          indexPath, batchId, maintenance)
        compactOutput(spark, outPath, outCompactFiles)
      } finally {
        fresh.unpersist()
        if (clearCachePerBatch) spark.catalog.clearCache()
      }
    }

  /** Continuous search-index maintenance — [[dedupOnArrival]]'s
    * continuous-ingest discipline applied to the persisted BM25 inverted
    * index ([[graft.operators.TextIndex]]): each micro-batch appends
    * ONLY documents the index has never seen, so at-least-once
    * redelivery cannot double a document's postings (doubled tf/df
    * would silently corrupt every future score — worse than the
    * MinHash case, where duplicate band rows are harmless).
    *
    * Replay safety: ids identify documents stably across redelivery
    * (the dedupOnArrival contract); the anti-join against the index's
    * distinct doc_ids makes a replayed batch a no-op. Residual window:
    * a crash BETWEEN the postings job commit and the meta rewrite
    * leaves fresh postings under stale stats — structurally sound and
    * self-healing on the next append (TextIndex.append's documented
    * contract). Cold start: the first batch creates the index. */
  def indexOnArrival(stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, checkpoint: String,
      clearCachePerBatch: Boolean = true,
      autoCompactFilesPerDir: Option[Int] = None,
      maintenance: Option[MaintenancePolicy] = None): DataStreamWriter[Row] =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val docs = batch.dropDuplicates(idCol).persist()
      try {
        // writer-restart repair FIRST: a crash inside a prior batch's
        // auto-compact (or any other swap) must not be misread below
        // as "index absent" and overwritten by save()
        graft.operators.TextIndex.recover(spark, indexPath)
        def readIds(sub: String, idName: String) =
          try Some(spark.read.parquet(s"$indexPath/$sub")
            .select(col(idName).as("__seen_id")).distinct())
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        // cold-start detection keys on META, not on postings/docs:
        // save writes meta LAST and atomically (TextIndex.writeMeta's
        // swap), so a missing meta after recover() ⟺ no save ever
        // completed here — re-running save() cannot overwrite a live
        // corpus, and it SELF-HEALS save's own crash windows (postings
        // written, docs/meta not), which previously wedged the stream:
        // the partial postings made the batch look fully "seen", the
        // empty append then failed reading the missing meta, forever.
        // seen-set = docs sidecar ∪ postings distinct. The union is
        // load-bearing twice over: (a) append commits postings BEFORE
        // the docs sidecar, so after a crash in that window a
        // docs-only seen-set would re-append the redelivered batch and
        // DOUBLE its tf/df — postings must count as "seen" too;
        // (b) a docs-only check would also treat a pre-sidecar-format
        // index as absent and let save() overwrite the whole corpus
        // with one micro-batch. The sidecar side stays for empty-doc
        // correctness (token-less docs never reach postings).
        val indexed = if (!hasArtifact(spark, indexPath, "meta")) None
          else (readIds("docs", "doc_id"),
            readIds("postings", "doc_id")) match {
            case (Some(d), Some(p)) => Some(d.unionByName(p).distinct())
            case (d, p) => d.orElse(p)
          }
        indexed match {
          case None =>
            graft.operators.TextIndex.save(docs, idCol, textCol, indexPath)
          case Some(seen) =>
            val fresh = docs.join(seen,
              docs(idCol) === col("__seen_id"), "left_anti")
            graft.operators.TextIndex.append(fresh, idCol, textCol, indexPath)
        }
        autoCompact(spark, graft.operators.TextIndex.lifecycle,
          indexPath, autoCompactFilesPerDir)
        maybeCycle(spark, graft.operators.TextIndex.lifecycle,
          indexPath, batchId, maintenance)
      } finally {
        docs.unpersist()
        if (clearCachePerBatch) spark.catalog.clearCache()
      }
    }

  /** Continuous index maintenance for a MUTABLE corpus — the edit path
    * [[indexOnArrival]] deliberately refuses (its seen-set SKIPS known
    * ids, exactly wrong for a crawl refresh where a known id means the
    * document CHANGED). Each micro-batch [[graft.operators.TextIndex
    * .upsert]]s: known ids serve only their new text, fresh ids insert,
    * corpus stats stay corrected. Cold start: the first batch creates
    * the index.
    *
    * Replay safety: upsert is idempotent per batch (delete-then-append
    * under recover-first swaps), so at-least-once redelivery converges;
    * a crash between upsert's halves leaves the batch ids absent under
    * sound stats and the replay completes them. Intra-batch conflicts
    * (two edits of one id in one batch) resolve DETERMINISTICALLY to
    * the lexicographically greatest text — arbitrary-row dropDuplicates
    * would let a replayed batch pick the OTHER edit and diverge; feeds
    * with a real version column should pre-reduce to one row per id.
    * Single-writer, like every index mutation. */
  def upsertOnArrival(stream: DataFrame, idCol: String, textCol: String,
      indexPath: String, checkpoint: String,
      clearCachePerBatch: Boolean = true,
      autoCompactFilesPerDir: Option[Int] = None,
      maintenance: Option[MaintenancePolicy] = None): DataStreamWriter[Row] =
    upsertStream(stream, idCol, textCol, indexPath, checkpoint,
        clearCachePerBatch, autoCompactFilesPerDir, maintenance,
        graft.operators.TextIndex.lifecycle) { docs =>
      val spark = docs.sparkSession
      // writer-restart repair FIRST: the exists probe below must never
      // see a mid-swap missing artifact as an absent index
      graft.operators.TextIndex.recover(spark, indexPath)
      // cold-start keys on META (save's LAST write, atomic under
      // TextIndex.writeMeta's swap): a missing meta after recover() ⟺
      // no save ever completed here, so save() is always safe AND
      // self-heals save's own crash windows (postings written, docs/meta
      // not — previously the require below misdiagnosed that state as
      // pre-sidecar and wedged the stream on every restart). With meta
      // present, probe the docs sidecar: a pre-sidecar-format index
      // (postings + meta, no docs) can't be repaired here — upsert's
      // delete half needs the sidecar for stats — so it fails loudly
      // instead of falling through to save().
      if (!hasArtifact(spark, indexPath, "meta"))
        graft.operators.TextIndex.save(docs, idCol, textCol, indexPath)
      else {
        val (hasDocs, hasPostings) = (hasArtifact(spark, indexPath, "docs"),
          hasArtifact(spark, indexPath, "postings"))
        require(hasDocs || !hasPostings,
          s"$indexPath has postings but no docs sidecar (pre-sidecar " +
            "format or partial manual copy): refusing to overwrite — " +
            "backfill docs/ from the corpus, or rebuild with save()")
        if (hasDocs)
          graft.operators.TextIndex.upsert(docs, idCol, textCol, indexPath)
        else // meta-only residue is no index; rebuild it
          graft.operators.TextIndex.save(docs, idCol, textCol, indexPath)
      }
    }

  /** Continuous near-dup-index maintenance for a MUTABLE corpus —
    * [[upsertOnArrival]]'s discipline for the MinHash index:
    * [[dedupOnArrival]] is append-only (a known id means "drop the
    * duplicate"), exactly wrong for a crawl refresh where a known id
    * means the document CHANGED and its OLD signature must stop
    * matching. Each micro-batch [[graft.operators.MinHashIndex
    * .upsert]]s: edited ids serve only their new signatures (a bare
    * append would leave BOTH generations' band rows live — stale
    * dual-signature matching), fresh ids insert, redelivery converges.
    * Cold start: the first batch creates the index. Intra-batch
    * conflicts resolve to the greatest text (the replay rule).
    * Single-writer. */
  def upsertMinHashOnArrival(stream: DataFrame, idCol: String,
      textCol: String, indexPath: String, checkpoint: String,
      clearCachePerBatch: Boolean = true,
      autoCompactFilesPerDir: Option[Int] = None,
      maintenance: Option[MaintenancePolicy] = None): DataStreamWriter[Row] =
    upsertStream(stream, idCol, textCol, indexPath, checkpoint,
        clearCachePerBatch, autoCompactFilesPerDir, maintenance,
        graft.operators.MinHashIndex.lifecycle) { docs =>
      val spark = docs.sparkSession
      // writer-restart repair FIRST (the upsert's delete half swaps
      // sigs/bands; a crash there must not trigger a save overwrite)
      graft.operators.MinHashIndex.recover(spark, indexPath)
      // cold-start keys on META (save's LAST write, atomic): a missing
      // meta ⟺ no save ever completed, so save() is safe and self-heals
      // a cold-start save that crashed after writing sigs — a sigs-keyed
      // probe wedged that state forever (upsert's first read of the
      // missing meta failed on every restart)
      if (hasArtifact(spark, indexPath, "meta"))
        graft.operators.MinHashIndex.upsert(docs, idCol, textCol, indexPath)
      else
        graft.operators.MinHashIndex.save(docs, idCol, textCol, indexPath)
    }

  /** Continuous vector-index maintenance — [[upsertOnArrival]]'s
    * discipline for the persisted IVFADC index: an embedding-service
    * stream of (id, vector) rows drains per micro-batch into
    * [[graft.operators.ProductQuantizer.upsert]], so re-embedded ids
    * move cells and serve only their new codes, fresh ids insert, and
    * at-least-once redelivery converges (a bare `append` would DOUBLE a
    * replayed batch's codes — duplicate candidates in every future
    * probe). Codebooks stay immutable (the append maintenance-cadence
    * contract): a distribution shift big enough to invalidate them is a
    * batch refit+save, not a streaming concern.
    *
    * NO cold start: the index must already exist (fit+save need a
    * training corpus, not a first micro-batch) — absent index fails the
    * stream loudly rather than training codebooks on whatever trickled
    * in first. Intra-batch conflicts (two embeddings of one id) resolve
    * deterministically to the greatest vector under array ordering, the
    * [[upsertOnArrival]] replay rule. Single-writer. */
  def upsertVectorsOnArrival(stream: DataFrame, idCol: String,
      vecCol: String, indexPath: String, checkpoint: String,
      clearCachePerBatch: Boolean = true,
      autoCompactFilesPerDir: Option[Int] = None,
      maintenance: Option[MaintenancePolicy] = None): DataStreamWriter[Row] =
    upsertStream(stream, idCol, vecCol, indexPath, checkpoint,
      clearCachePerBatch, autoCompactFilesPerDir, maintenance,
      graft.operators.ProductQuantizer.lifecycle)(
      graft.operators.ProductQuantizer.upsert(_, idCol, vecCol, indexPath))

  /** [[upsertVectorsOnArrival]]'s discipline for the EXACT-vector
    * [[graft.operators.IvfIndex]] (the family q223 oracles): each
    * micro-batch [[graft.operators.IvfIndex.upsert]]s, so re-embedded
    * ids move lists and serve only their new vectors, fresh ids insert,
    * and at-least-once redelivery converges. Centroids stay immutable
    * per batch ([[graft.operators.IvfIndex.refit]] is the
    * maintenance-cadence path, a batch op, never a streaming concern).
    * NO cold start, same rule as the PQ job: fit+save need a training
    * corpus, not a first micro-batch — an absent index fails the stream
    * loudly. Intra-batch conflicts resolve deterministically to the
    * greatest vector (the replay rule). Single-writer. */
  def upsertIvfOnArrival(stream: DataFrame, idCol: String,
      vecCol: String, indexPath: String, checkpoint: String,
      clearCachePerBatch: Boolean = true,
      autoCompactFilesPerDir: Option[Int] = None,
      maintenance: Option[MaintenancePolicy] = None): DataStreamWriter[Row] =
    upsertStream(stream, idCol, vecCol, indexPath, checkpoint,
      clearCachePerBatch, autoCompactFilesPerDir, maintenance,
      graft.operators.IvfIndex.lifecycle)(
      graft.operators.IvfIndex.upsert(_, idCol, vecCol, indexPath))

  /** The upsert streams' shared loop: one row per id (the greatest
    * payload — the deterministic replay rule), the family's upsert for a
    * non-empty batch, auto-compact, then the due maintenance cycle. */
  private def upsertStream(stream: DataFrame, idCol: String,
      payloadCol: String, indexPath: String, checkpoint: String,
      clearCachePerBatch: Boolean, autoCompactFilesPerDir: Option[Int],
      maintenance: Option[MaintenancePolicy],
      family: graft.operators.IndexLifecycle.Spec)(
      upsert: DataFrame => Unit): DataStreamWriter[Row] =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val rows = batch.groupBy(col(idCol))
        .agg(max(col(payloadCol)).as(payloadCol)).persist()
      try {
        if (rows.head(1).nonEmpty) {
          upsert(rows)
          autoCompact(spark, family, indexPath, autoCompactFilesPerDir)
        }
        maybeCycle(spark, family, indexPath, batchId, maintenance)
      } finally {
        rows.unpersist()
        if (clearCachePerBatch) spark.catalog.clearCache()
      }
    }

  /** An erasure fan-out target for [[forgetOnArrival]] — one case per
    * persisted index family, each delegating to that index's idempotent
    * `delete(ids)` (tombstone-free filtered rewrite under StagedSwap).
    * `rows` reads the family's membership count (one aggregate over the
    * id-bearing artifact, no text/vectors) — the before/after evidence
    * the opt-in erasure audit records. */
  sealed trait ErasureTarget {
    def path: String
    def family: String
    def delete(spark: SparkSession, ids: DataFrame): Unit
    def rows(spark: SparkSession): Long
    /** Drop the standing snapshots that still hold any of `ids`, returning
      * their tags. A bare directory carries no snapshot store. */
    def scrub(spark: SparkSession, ids: DataFrame): Seq[String] = Nil
  }
  /** A persisted index family at `path`: delete, membership rows and
    * the snapshot scrub all come from the family's lifecycle spec. */
  sealed abstract class IndexAt(spec: graft.operators.IndexLifecycle.Spec)
      extends ErasureTarget {
    def delete(spark: SparkSession, ids: DataFrame): Unit =
      spec.delete(spark, path, ids)
    def rows(spark: SparkSession): Long = spec.rows(spark, path)
    override def scrub(spark: SparkSession, ids: DataFrame): Seq[String] =
      graft.operators.IndexSnapshots.scrubSnapshots(spark, path, ids, spec)
  }
  /** [[graft.operators.TextIndex]] (BM25) at `path`. */
  final case class TextIndexAt(path: String)
      extends IndexAt(graft.operators.TextIndex.lifecycle) {
    def family = "text_bm25"
  }
  /** [[graft.operators.MinHashIndex]] (near-dup) at `path`. */
  final case class MinHashIndexAt(path: String)
      extends IndexAt(graft.operators.MinHashIndex.lifecycle) {
    def family = "minhash"
  }
  /** [[graft.operators.ProductQuantizer]] (IVFADC vectors) at `path`. */
  final case class PqIndexAt(path: String)
      extends IndexAt(graft.operators.ProductQuantizer.lifecycle) {
    def family = "ivfadc"
  }
  /** [[graft.operators.IvfIndex]] (exact-vector IVF) at `path`. */
  final case class IvfIndexAt(path: String)
      extends IndexAt(graft.operators.IvfIndex.lifecycle) {
    def family = "ivf_exact"
  }
  /** A plain keyed parquet CORPUS at `path` — the curated-output half of
    * the erasure story the index targets alone miss: [[dedupOnArrival]]'s
    * `outPath` (and any `upsertIgnoreParquet` sink) retains a forgotten
    * document even after every index dropped it. Delete is an anti-join
    * filtered rewrite under the [[graft.operators.StagedSwap]] swap
    * (recover-first, so a crashed prior rewrite is repaired before the
    * read; the tmp write reads the live dir it will replace — the
    * standard pattern). Idempotent: absent ids are no-ops. No snapshot
    * store applies to a bare corpus dir, so the scrub half is a no-op. */
  final case class ParquetCorpusAt(path: String, idColumn: String)
      extends ErasureTarget {
    def family = "parquet_corpus"
    def delete(spark: SparkSession, ids: DataFrame): Unit = {
      val del = ids.toDF("__del_id").distinct()
      graft.sinks.Sinks.rewriteCorpus(spark, path) { (_, dir) =>
        spark.read.parquet(path)
          .join(del, col(idColumn) === col("__del_id"), "left_anti")
          .write.parquet(dir)
      }
    }
    def rows(spark: SparkSession): Long =
      graft.operators.StagedSwap.sibling(spark, path)
        .read(s"no corpus at $path")(p => spark.read.parquet(p.toString).count())
  }
  /** A streaming-serving ANSWERS directory — the write-once
    * (query_id, rank, hit, …) rows [[probeOnArrival]] /
    * [[vectorProbeOnArrival]] upsert — as an erasure target: rows whose
    * HIT column (`hitColumn`: doc_id / id) references a forgotten id are
    * dropped. This is VALUE-COLUMN erasure — the forgotten id stands in
    * served results as a ranked hit, not as the row key — and it was the
    * last place a forgotten document survived after the index families,
    * standing snapshots, and the curated corpus were all scrubbed.
    *
    * GAP SEMANTICS, deliberately: surviving ranks keep their original
    * numbers (…, 3, 5, …) rather than being recompacted. Recompaction
    * would (a) falsify the serving record — rank is part of the answer
    * that was actually served, and an answer list that never existed
    * must not be fabricated after the fact; (b) rewrite the write-once
    * (query_id, rank) KEYS, re-opening the vacated keys to any replayed
    * probe batch and breaking the first-committed-answer contract. The
    * gaps themselves are the audit trail: a missing rank says "a result
    * stood here and was erased".
    *
    * Replay window: a probe batch replayed AFTER the index delete
    * re-scores against the post-delete index and cannot re-emit the
    * forgotten id; only a probe batch in flight ACROSS the erasure could
    * land a stale hit, and the forget stream's own at-least-once replay
    * then re-erases it — the same convergence story as every other
    * target. The rewrite itself is the [[ParquetCorpusAt]] anti-join
    * under the StagedSwap discipline (recover-first, idempotent, absent
    * ids are no-ops); no snapshot store applies to a bare answers dir,
    * so the scrub half is a no-op by construction. */
  final case class ServedAnswersAt(path: String, hitColumn: String)
      extends ErasureTarget {
    def family = "served_answers"
    private val rewrite = ParquetCorpusAt(path, hitColumn)
    def delete(spark: SparkSession, ids: DataFrame): Unit =
      rewrite.delete(spark, ids)
    def rows(spark: SparkSession): Long = rewrite.rows(spark)
  }

  /** Continuous right-to-be-forgotten propagation — the delete half of
    * [[indexOnArrival]]'s lifecycle: a stream of document ids (an
    * erasure queue — the GDPR/user-deletion feed every serving system
    * must consume) drains per micro-batch into EVERY index serving the
    * corpus (the realistic shape: one feed, fan-out to the BM25,
    * near-dup, and vector indexes at once), so each converges to its
    * rebuilt-without-them state (corrected BM25 df/N stats, never a
    * stale tombstone) without ever rebuilding.
    *
    * Replay safety: every target's delete is idempotent (stats recompute
    * from the surviving artifacts; absent ids are no-ops), so
    * at-least-once redelivery of an erasure batch converges to the same
    * indexes — the [[distinctOnArrival]] idempotence discipline,
    * inherited from the operators instead of re-proven here. A crash
    * BETWEEN targets of one batch is likewise safe: the replayed batch
    * re-deletes ids already gone from the first target (no-op) and
    * completes the rest. Empty batches skip the filtered rewrites
    * entirely (a no-op delete would still rewrite every artifact under
    * StagedSwap).
    *
    * Single-writer contract: the forget stream must be each index's ONLY
    * writer while it runs (same as append/compact) — pause ingest or
    * fuse erasure into the ingest stream's foreachBatch when both run
    * continuously. */
  /** @param auditPath when set, one (batch_id, family, path,
    *   ids_requested, rows_before, rows_after) row per (batch, target)
    *   appends there after each target's delete — the "prove you
    *   forgot" evidence a compliance review asks for. Each audit row
    *   costs two membership counts (id-column aggregates — no text or
    *   vectors move); the append is at-least-once like the deletes
    *   (foreachBatch replay can duplicate a batch's rows — dedupe on
    *   (batch_id, family) downstream; rows_before/rows_after converge
    *   because the deletes are idempotent).
    * @param scrubSnapshots when true, each target's delete is followed by
    *   [[graft.operators.IndexSnapshots.scrubSnapshots]] — standing
    *   snapshots that still CONTAIN any of the batch's ids are DROPPED
    *   (and their objects GC'd), closing the right-to-be-forgotten blind
    *   spot where live scrubbing leaves the rows restorable through
    *   every pre-delete snapshot. Idempotent under replay (an already
    *   -dropped tag no longer exposes). When auditing, an extra
    *   `<family>:snapshots` row records tags before/after per target —
    *   same six columns, so existing audit readers keep working. The
    *   maintenance cadence then re-freezes the clean live generation. */
  def forgetOnArrival(stream: DataFrame, idCol: String,
      targets: Seq[ErasureTarget], checkpoint: String,
      clearCachePerBatch: Boolean = true,
      auditPath: Option[String] = None,
      scrubSnapshots: Boolean = false): DataStreamWriter[Row] = {
    require(targets.nonEmpty, "forgetOnArrival needs at least one target")
    require(targets.map(_.path).distinct.length == targets.length,
      s"duplicate erasure-target paths: ${targets.map(_.path)}")
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val ids = batch.select(col(idCol)).distinct().persist()
      try {
        if (ids.head(1).nonEmpty) {
          val nIds = ids.count()
          val audit = targets.flatMap { t =>
            val before = if (auditPath.isDefined) t.rows(spark) else 0L
            t.delete(spark, ids)
            val deleteRow = (batchId, t.family, t.path, nIds, before,
              if (auditPath.isDefined) t.rows(spark) else 0L)
            if (!scrubSnapshots) Seq(deleteRow)
            else {
              val tagsBefore =
                graft.operators.IndexSnapshots.list(spark, t.path).count()
              val dropped = t.scrub(spark, ids)
              Seq(deleteRow,
                (batchId, s"${t.family}:snapshots", t.path, nIds,
                  tagsBefore, tagsBefore - dropped.size))
            }
          }
          auditPath.foreach { p =>
            audit.toDF("batch_id", "family", "path", "ids_requested",
                "rows_before", "rows_after")
              .coalesce(1).write.mode("append").parquet(p)
          }
        }
      } finally {
        ids.unpersist()
        if (clearCachePerBatch) spark.catalog.clearCache()
      }
    }
  }

  /** Streaming retrieval SERVING — the read side of the index lifecycle
    * the ingest/upsert/forget streams maintain: queries arrive on a
    * stream as (`queryIdCol`, `termsCol: array<string>`), each
    * micro-batch runs [[graft.operators.TextIndex.probeAll]] (ONE
    * distributed plan per batch, shape independent of batch size —
    * never a per-query driver loop) against the persisted BM25 index,
    * and the per-query top-k lands in `outPath` as an idempotent keyed
    * upsert on (query_id, rank).
    *
    * Contracts:
    *  - Query ids are UNIQUE PER ASK (re-ask under a fresh id): the
    *    keyed upsert absorbs at-least-once redelivery by ignoring rows
    *    whose (query_id, rank) already landed, so answers are
    *    write-once — a redelivered batch that recomputes against a
    *    mutated index cannot half-overwrite its first answer (it is
    *    ignored wholesale, converging on the first-committed ranking).
    *  - Intra-batch duplicate ids (source-side redelivery) reduce
    *    DETERMINISTICALLY to the greatest terms array before the probe:
    *    probeAll refuses duplicates (they would double-count shared
    *    terms), and an arbitrary dropDuplicates could pick the OTHER
    *    copy on replay and diverge.
    *  - Zero-match queries (terms absent from the index) emit no rows —
    *    the inverted-index contract; distinguish "no answer yet" from
    *    "no matches" downstream by joining asks against `outPath`.
    *  - With `snapshotTag = None` the job is READ-ONLY on the index.
    *    Concurrent single-writer mutations swap artifact dirs
    *    atomically, so a batch planned across a swap can fail its read
    *    and retry (at-least-once recovers it); for strict generation
    *    isolation pass `snapshotTag` (below) and roll it on the
    *    maintenance cadence.
    *  - With `snapshotTag = Some(_)` the job is NOT read-only: the
    *    per-batch [[graft.operators.IndexSnapshots.at]] materializes
    *    (and, past `snapshotMaxViews`, EVICTS) `.view_*` dirs under the
    *    index's `_snapshots` store — so a tag-serving stream counts
    *    against the view store's single-writer discipline. Run AT MOST
    *    ONE eviction-capable serving stream per index: two such streams
    *    can delete each other's views mid-scan (transient batch
    *    failures, spurious IOExceptions from concurrent deletes), and a
    *    serving stream also races a maintenance stream's own
    *    dropView/prune/gcObjects. Additional concurrent readers of the
    *    same index must either serve the live path (`snapshotTag =
    *    None`) or resolve views out-of-band and never evict. The index
    *    ARTIFACTS themselves stay untouched either way — "writer" here
    *    means the `_snapshots` view cache only.
    *  - ROLLING-LATEST HANDOFF: with `snapshotTag = Some(t)`, every
    *    micro-batch re-resolves the tag through
    *    [[graft.operators.IndexSnapshots.at]] and serves THAT frozen
    *    generation — so when the maintenance cycle retakes the tag
    *    (`retakeTag`, the nightly rolling-latest discipline), the
    *    serving stream picks up the new generation on its next batch
    *    WITHOUT a restart, old answers stay immutable (write-once),
    *    and a batch never straddles two generations. The per-batch
    *    `refreshByPath` is load-bearing: a retake rebuilds the view at
    *    the SAME hidden path, behind Spark's file-listing caches.
    *    `snapshotMaxViews` bounds the view copies held between prunes
    *    (the [[graft.operators.IndexSnapshots.at]] LRU cap). */
  def probeOnArrival(queries: DataFrame, queryIdCol: String,
      termsCol: String, indexPath: String, outPath: String,
      checkpoint: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0,
      clearCachePerBatch: Boolean = true,
      snapshotTag: Option[String] = None,
      snapshotMaxViews: Int = 2,
      outCompactFiles: Option[Int] = None): DataStreamWriter[Row] =
    eachBatch(queries, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val qs = batch.groupBy(col(queryIdCol))
        .agg(max(col(termsCol)).as(termsCol))
        .persist()
      try {
        if (qs.head(1).nonEmpty) {
          val servePath = resolveServePath(spark, indexPath,
            snapshotTag, snapshotMaxViews)
          val topk = graft.operators.TextIndex.probeAll(
            qs, queryIdCol, termsCol, servePath, k, k1, b, maxDfFrac)
          graft.sinks.Sinks.upsertIgnoreParquet(
            topk, outPath, Seq("query_id", "rank"))
          compactOutput(spark, outPath, outCompactFiles)
        }
      } finally {
        qs.unpersist()
        if (clearCachePerBatch) spark.catalog.clearCache()
      }
    }

  /** Per-batch generation resolution for the serving jobs: a tag
    * resolves through [[graft.operators.IndexSnapshots.at]] (with the
    * view cap) and gets a defensive `refreshByPath` — a retaken tag
    * rebuilds its view at the same path behind Spark's listing caches,
    * and serving a stale listing would mix generations. */
  private def resolveServePath(spark: SparkSession, indexPath: String,
      snapshotTag: Option[String], maxViews: Int): String =
    snapshotTag match {
      case None => indexPath
      case Some(t) =>
        val p = graft.operators.IndexSnapshots.at(spark, indexPath, t,
          maxViews)
        spark.catalog.refreshByPath(p)
        p
    }

  /** [[probeOnArrival]]'s vector twin — streaming ANN serving over the
    * persisted IVFADC index: query embeddings arrive as (`queryIdCol`,
    * `vecCol: array<double>`), each micro-batch runs ONE
    * [[graft.operators.ProductQuantizer.probeSaved]] plan (list-pruned
    * codes scan, broadcast probe set, ADC fold, per-query top-k) and
    * answers land write-once on (query_id, rank). Same contracts as the
    * text job: unique ids per ask, deterministic intra-batch dedup,
    * read-only on the index artifacts (with `snapshotTag` set the
    * stream WRITES the `_snapshots` view cache and counts against its
    * single-writer discipline — see [[probeOnArrival]]'s contract),
    * optional `idFilter` for filtered search (the q218 semi-join —
    * applied BEFORE ranking, never after), per-batch `snapshotTag`
    * resolution for the rolling-latest generation handoff. */
  def vectorProbeOnArrival(queries: DataFrame, queryIdCol: String,
      vecCol: String, indexPath: String, outPath: String,
      checkpoint: String, k: Int, nProbe: Int,
      idFilter: Option[DataFrame] = None,
      clearCachePerBatch: Boolean = true,
      snapshotTag: Option[String] = None,
      snapshotMaxViews: Int = 2,
      outCompactFiles: Option[Int] = None): DataStreamWriter[Row] =
    eachBatch(queries, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val qs = batch.groupBy(col(queryIdCol))
        .agg(max(col(vecCol)).as(vecCol))
        .persist()
      try {
        if (qs.head(1).nonEmpty) {
          val servePath = resolveServePath(spark, indexPath,
            snapshotTag, snapshotMaxViews)
          val topk = graft.operators.ProductQuantizer.probeSaved(
            qs, queryIdCol, vecCol, spark, servePath, k, nProbe, idFilter)
          graft.sinks.Sinks.upsertIgnoreParquet(
            topk, outPath, Seq("query_id", "rank"))
          compactOutput(spark, outPath, outCompactFiles)
        }
      } finally {
        qs.unpersist()
        if (clearCachePerBatch) spark.catalog.clearCache()
      }
    }

  /** Stream-static enrichment join: per micro-batch broadcast-hash join
    * against a (small) dimension table — no state store involved. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming incremental distinct maintenance —
    * [[graft.operators.IncrementalDistinct]] folded continuously: per
    * micro-batch, state' = union(state, sketch(batch)), promoted with the
    * [[graft.operators.StagedSwap]] crash discipline (the merged plan
    * reads the live state lazily; swap() writes the new copy fully
    * before any rename touches live).
    *
    * Crash story: foreachBatch is at-least-once, and the HLL union is a
    * register-wise MAX — folding the same batch in twice moves no
    * register — so a replayed batch leaves the state bit-meaningfully
    * identical with NO output-side dedup at all. That idempotence is
    * exactly what count-based distinct state can never offer (a replayed
    * count merge double-counts; StreamingDistinctSpec pins both facts).
    * Single-writer contract: one such stream per statePath. */
  def distinctOnArrival(stream: DataFrame, keys: Seq[String],
      valueCol: String, statePath: String, checkpoint: String,
      lgK: Int = 12): DataStreamWriter[Row] =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val fresh = graft.operators.IncrementalDistinct
        .state(batch, keys, valueCol, lgK)
      // a replayed batch moves no register: the merge needs no fence
      foldState(batch, batchId, statePath)(prior => (-1L, prior))(
        _.fold(fresh)(p => graft.operators.IncrementalDistinct.merge(Seq(p, fresh))))
    }

  /** Read the current estimates off a [[distinctOnArrival]] state path.
    * A writer crash in swap's rename window leaves `state` absent with
    * the complete copy in `.state_tmp`/`.state_old`: the reader sees that
    * copy, not an ENOENT, and never repairs ([[foldedState]]). Fails
    * loudly when no copy exists at all. */
  def distinctEstimates(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.IncrementalDistinct.estimate(
      foldedState(spark, statePath, "distinct"))

  /** Streaming frequent-items maintenance — [[graft.operators.HeavyHitters]]'
    * Misra–Gries summary folded continuously: per micro-batch, the batch's
    * distributed MG summary (one two-phase aggregate, ≤ capacity entries
    * cross the wire per partial) merges into the persisted summary under
    * the [[graft.operators.StagedSwap]] crash discipline.
    *
    * Crash story — the OPPOSITE corner from [[distinctOnArrival]]: an HLL
    * union is a register max, so a replayed batch is naturally a no-op;
    * an MG merge ADDS counts, so at-least-once redelivery would inflate
    * every estimate. The state therefore carries the last folded batchId
    * and a redelivered batch (batchId ≤ committed) is skipped — the
    * classic transactional-foreachBatch fence, state and fence promoted
    * in ONE atomic swap so they can never disagree. Together the two ops
    * document both exactly-once disciplines: idempotent-by-algebra and
    * fenced-by-version. Single-writer contract: one stream per statePath.
    *
    * Error contract (mergeable-summaries): across everything folded, any
    * item with true count > n/(capacity+1) is present, and every estimate
    * undercounts by at most n/(capacity+1). Driver-side work per batch is
    * ≤ 2·capacity map entries — parameter-bounded, corpus-independent.
    * statePath↔checkpoint pairing contract: see
    * [[groupedQuantilesOnArrival]]. */
  def heavyHittersOnArrival(stream: DataFrame, itemCol: String,
      capacity: Int, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpoint)(
      foldHeavyHitters(_, _, itemCol, capacity, statePath))

  /** One micro-batch fold — exposed for redelivery tests: calling it
    * twice with the same batchId must leave the state bit-identical. */
  private[graft] def foldHeavyHitters(batch: DataFrame, batchId: Long,
      itemCol: String, capacity: Int, statePath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // The fence must survive an EMPTY summary: an empty first micro-batch,
    // or a capacity-full decrement step that zeroes every counter (which
    // MG's algebra permits), yields zero data rows — if the fence lived
    // only in data rows, the next read would derive committed = -1 and a
    // redelivered batch would re-merge and inflate counts. So every write
    // includes a SENTINEL row (item = null — null can never collide with a
    // real item because summarize() groups non-null values) carrying the
    // committed batchId; data rows carry it too, redundantly. committed is
    // read as max over all rows, so either form of the state is fenced.
    foldState(batch, batchId, statePath) { prior =>
      val rows = prior.select($"item", $"est_count", $"batch_id")
        .as[(Option[String], Long, Long)].collect()
      (rows.iterator.map(_._3).foldLeft(-1L)(math.max),
        rows.iterator.collect { case (Some(k), c, _) => k -> c }.toMap)
    } { prior =>
      val batchCounts = graft.operators.HeavyHitters
        .summarize(batch, itemCol, capacity)
        .as[(String, Long)].collect().toMap
      val merged = graft.operators.HeavyHitters.mergeCounts(
        prior.getOrElse(Map.empty), batchCounts, capacity)
      ((None: Option[String], 0L, batchId) +:
        merged.toSeq.map { case (k, c) => (Option(k), c, batchId) })
        .toDF("item", "est_count", "batch_id").coalesce(1)
    }
  }

  /** Current estimates off a [[heavyHittersOnArrival]] state path,
    * heaviest first, read like [[distinctEstimates]]. Filters out the
    * fence sentinel row. */
  def heavyHitterEstimates(spark: SparkSession, statePath: String): DataFrame =
    foldedState(spark, statePath, "heavy-hitters")
      .filter(col("item").isNotNull).select(col("item"), col("est_count"))
      .orderBy(col("est_count").desc, col("item"))

  /** Streaming quantile maintenance — [[graft.operators.QuantileSketch]]
    * folded continuously: per micro-batch, ONE distributed sketch
    * aggregate over the batch, then a driver-side [[graft.operators
    * .QuantileSketch.merge]] into the persisted summary under the
    * [[graft.operators.StagedSwap]] discipline. The standing p50/p90/p99
    * of an unbounded stream in capacity·log(n/capacity) longs — with the
    * summary's self-certified rank-error bound riding along, so a reader
    * always knows how much to trust tonight's tail latency number.
    *
    * MRL merges are NOT replay-free (a re-folded batch doubles its
    * items), so the state carries the last folded batchId and a
    * redelivered batch is fenced out — the [[histogramOnArrival]]
    * exactly-once corner. The state is always exactly ONE row (an empty
    * summary is still a row), so the row itself is the fence.
    * Single-writer contract: one stream per statePath.
    * statePath↔checkpoint pairing contract: see
    * [[groupedQuantilesOnArrival]]. */
  def quantilesOnArrival(stream: DataFrame, valueCol: String,
      capacity: Int, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpoint)(
      foldQuantiles(_, _, valueCol, capacity, statePath))

  /** One micro-batch fold — exposed for redelivery tests: calling it
    * twice with the same batchId must leave the state bit-identical. */
  private[graft] def foldQuantiles(batch: DataFrame, batchId: Long,
      valueCol: String, capacity: Int, statePath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    foldState(batch, batchId, statePath) { prior =>
      val r = prior.head()
      (r.getAs[Long]("batch_id"), graft.operators.QuantileSketch.summaryOfRow(r))
    } { prior =>
      val batchSummary =
        graft.operators.QuantileSketch.sketch(batch, valueCol, capacity)
      val merged = prior.fold(batchSummary)(
        graft.operators.QuantileSketch.merge(_, batchSummary))
      Seq((merged.capacity, merged.buf.toList,
          merged.levels.map(_.toList).toList, merged.n, merged.err, batchId))
        .toDF("capacity", "buf", "levels", "n", "err", "batch_id").coalesce(1)
    }
  }

  /** Current quantile estimates off a [[quantilesOnArrival]] state path:
    * one (p, n, err, q) row per requested p. Non-mutating crash-window
    * tolerance via [[foldedState]]. */
  def quantileEstimates(spark: SparkSession, statePath: String,
      ps: Seq[Double]): DataFrame = {
    import spark.implicits._
    require(ps.nonEmpty, "at least one quantile requested")
    val s = graft.operators.QuantileSketch.summaryOfRow(
      foldedState(spark, statePath, "quantile").head())
    ps.map(p => (p, s.n, s.err, s.quantile(p)))
      .toDF("p", "n", "err", "q").orderBy(col("p"))
  }

  /** Streaming PER-STRATUM quantile maintenance — [[quantilesOnArrival]]
    * generalized to the grouped store ([[graft.operators.QuantileSketch
    * .summarizeToStore]]/[[graft.operators.QuantileSketch.mergeGrouped]],
    * the q235 machinery): per micro-batch, ONE distributed grouped
    * sketch aggregate over the batch, then a DISTRIBUTED group-keyed
    * merge into the persisted store under the [[graft.operators
    * .StagedSwap]] discipline — millions of strata (per-language length
    * percentiles, the corpus-health cadence) never touch the driver,
    * unlike the single-summary job's driver-side merge.
    *
    * Replay fence: MRL merges are not replay-free, so every state row
    * carries the last folded batchId and a redelivered batch is fenced
    * out. A null-group SENTINEL row is always written
    * ([[graft.operators.QuantileSketch.summarizeToStore]] filters null
    * groups, so no real stratum can collide with it), keeping the fence
    * alive even when a batch drains zero data rows — the
    * [[histogramOnArrival]] corner. `capacity` is fixed per statePath
    * (the grouped merge enforces it where groups meet). Single-writer
    * contract: one stream per statePath.
    *
    * PAIRING CONTRACT (all fenced fold jobs): statePath and checkpoint
    * are created and destroyed TOGETHER. A fresh checkpoint restarts
    * batchIds at 0, so pointing one at an existing statePath makes the
    * fence silently drop every new batch — the fold warns loudly
    * ([[warnIfMismatchedCheckpoint]]) when it sees that signature. */
  def groupedQuantilesOnArrival(stream: DataFrame, valueCol: String,
      byCol: String, capacity: Int, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpoint)(
      foldGroupedQuantiles(_, _, valueCol, byCol, capacity, statePath))

  /** One micro-batch fold — exposed for redelivery tests: calling it
    * twice with the same batchId must leave the state bit-identical. */
  private[graft] def foldGroupedQuantiles(batch: DataFrame, batchId: Long,
      valueCol: String, byCol: String, capacity: Int,
      statePath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    foldState(batch, batchId, statePath)(prior =>
      (prior.agg(max(col("batch_id"))).head().getLong(0), prior)) { prior =>
      val batchStore = graft.operators.QuantileSketch
        .summarizeToStore(batch, valueCol, byCol, capacity)
      val merged = prior.fold(batchStore)(p =>
        graft.operators.QuantileSketch.mergeGrouped(
          p.filter(col("g").isNotNull).drop("batch_id"), batchStore))
      val sentinel = Seq((null: String, capacity, Seq.empty[Long],
          Seq.empty[Seq[Long]], 0L, 0L))
        .toDF("g", "capacity", "buf", "levels", "n", "err")
      // the write's lineage READS the live dir it will replace — StagedSwap
      // writes tmp fully (live untouched) before the promote rename
      merged.unionByName(sentinel).withColumn("batch_id", lit(batchId))
    }
  }

  /** Current per-stratum estimates off a [[groupedQuantilesOnArrival]]
    * state path: one (byCol, p, n, q) row per stratum × p —
    * [[graft.operators.QuantileSketch.quantilesOfStore]]'s shape, the
    * q235 read surface. Non-mutating crash-window tolerance via
    * [[foldedState]]. */
  def groupedQuantileEstimates(spark: SparkSession, statePath: String,
      byCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "at least one quantile requested")
    graft.operators.QuantileSketch.quantilesOfStore(
        foldedState(spark, statePath, "grouped quantile")
          .filter(col("g").isNotNull), byCol, ps)
      .orderBy(col(byCol), col("p"))
  }

  /** Streaming histogram maintenance for the drift gate
    * ([[graft.operators.Drift]]): per micro-batch, the batch's exact
    * per-bin counts fold into the persisted cumulative histogram under
    * the [[graft.operators.StagedSwap]] discipline. Counts ADD — the
    * same exactly-once corner as [[heavyHittersOnArrival]]'s MG merge,
    * the opposite of HLL's free replay — so the state carries the last
    * folded batchId in an always-written sentinel row (bin = −1) and a
    * redelivered batch is fenced out even when the state holds zero
    * data rows. The bucketing is [[graft.operators.Drift.binOf]], the
    * SAME expression the batch gate uses, so streamed counts are
    * bit-identical to a batch recount of the union of all batches.
    * Single-writer contract: one stream per statePath.
    * statePath↔checkpoint pairing contract: see
    * [[groupedQuantilesOnArrival]]. */
  def histogramOnArrival(stream: DataFrame, valueCol: String, nBins: Int,
      lo: Double, hi: Double, statePath: String, checkpoint: String)
      : DataStreamWriter[Row] =
    eachBatch(stream, checkpoint)(
      foldHistogram(_, _, valueCol, nBins, lo, hi, statePath))

  /** One micro-batch fold — exposed for redelivery tests: calling it
    * twice with the same batchId must leave the state bit-identical. */
  private[graft] def foldHistogram(batch: DataFrame, batchId: Long,
      valueCol: String, nBins: Int, lo: Double, hi: Double,
      statePath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    foldState(batch, batchId, statePath) { prior =>
      val rows = prior.select($"bin", $"n", $"batch_id")
        .as[(Long, Long, Long)].collect()
      (rows.iterator.map(_._3).foldLeft(-1L)(math.max),
        rows.iterator.collect { case (b, n, _) if b >= 0 => b -> n }.toMap)
    } { prior =>
      val before = prior.getOrElse(Map.empty)
      val batchCounts = graft.operators.Drift
        .binCounts(batch, valueCol, nBins, lo, hi)
        .as[(Long, Long)].collect().toMap // ≤ nBins entries — param-bounded
      val merged = (before.keySet ++ batchCounts.keySet).toSeq.sorted.map(b =>
        (b, before.getOrElse(b, 0L) + batchCounts.getOrElse(b, 0L), batchId))
      ((-1L, 0L, batchId) +: merged).toDF("bin", "n", "batch_id").coalesce(1)
    }
  }

  /** The drift frame of a [[histogramOnArrival]] state against a static
    * baseline — [[graft.operators.Drift.driftFromCounts]] over the
    * persisted cumulative counts. Non-mutating crash-window tolerance,
    * same as the other estimate readers. */
  def histogramDrift(spark: SparkSession, statePath: String,
      baseline: DataFrame, valueCol: String, nBins: Int, lo: Double,
      hi: Double, threshold: Double = 0.01, eps: Double = 1e-9): DataFrame =
    graft.operators.Drift.driftFromCounts(
      graft.operators.Drift.binCounts(baseline, valueCol, nBins, lo, hi)
        .withColumnRenamed("n", "n_base"),
      histogramCounts(spark, statePath).withColumnRenamed("n", "n_cur"),
      nBins, lo, hi, threshold, eps)

  /** The (bin, n) data rows of a [[histogramOnArrival]] state, without
    * the fence sentinel. */
  private def histogramCounts(spark: SparkSession,
      statePath: String): DataFrame =
    foldedState(spark, statePath, "histogram")
      .filter(col("bin") >= 0).select(col("bin"), col("n"))

  /** [[histogramOnArrival]] with the monitoring loop closed: after each
    * fold, the cumulative state is compared against the static baseline
    * and any bin newly crossing the drift threshold fires ONE alert
    * through the [[graft.sinks.Sinks.AlertHook]] seam (K10's webhook
    * path). "Newly" is per-process: the fired set is kept in memory so a
    * long-running stream alerts on each bin's first crossing rather
    * than every micro-batch — after a restart the current crossings fire
    * once more, which is at-least-once alerting (the right default for
    * a pager; the state itself stays exactly-once under the fence). */
  def driftAlertsOnArrival(stream: DataFrame, valueCol: String, nBins: Int,
      lo: Double, hi: Double, baseline: DataFrame, statePath: String,
      checkpoint: String, hook: graft.sinks.Sinks.AlertHook,
      channel: String = "#drift", threshold: Double = 0.01)
      : DataStreamWriter[Row] = {
    val fired = scala.collection.mutable.Set.empty[Long]
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      foldHistogram(batch, batchId, valueCol, nBins, lo, hi, statePath)
      val drifted = histogramDrift(batch.sparkSession, statePath,
          baseline, valueCol, nBins, lo, hi, threshold)
        .filter(col("drifted"))
        .select(col("bin"), col("lo_edge"), col("hi_edge"),
          col("p_base"), col("p_cur"))
        .collect() // ≤ nBins rows — parameter-bounded
      drifted.foreach { r =>
        val bin = r.getLong(0)
        if (fired.add(bin)) hook.send(
          f"drift: $valueCol bin $bin [${r.getDouble(1)}%.1f, ${r.getDouble(2)}%.1f) " +
            f"share ${r.getDouble(3)}%.4f -> ${r.getDouble(4)}%.4f", channel)
      }
    }
  }

  case class CusumEvent(key: Long, ts: java.sql.Timestamp, tie: Long, v: Double)
  case class CusumAlarm(key: Long, rn: Long, vu: Long, cpos: Long,
      cneg: Long, alarm: Boolean)
  case class CusumState(sp: Long, sn: Long, n: Long)

  /** Streaming CUSUM monitoring — [[graft.operators.TimeSeriesOps.cusum]]
    * maintained continuously: `mapGroupsWithState`-style keyed state
    * carries each key's (sp, sn, count) across micro-batches, each
    * batch's events fold in (ts, tie) order, and the emitted rows are
    * the SAME exact integers the batch operator produces over the
    * concatenated prefix (CusumSpec pins the equivalence). State is
    * three longs per key — the cheapest stateful operator in the file.
    * Ordering contract: in-order WITHIN a batch is handled here
    * (sorted fold); cross-batch order is the caller's watermark
    * discipline, the same contract the batch form's (ts, tie) sort
    * assumes of its input. */
  def cusumOnArrival(events: org.apache.spark.sql.Dataset[CusumEvent],
      refUnits: Long, hUnits: Long, valueUnits: Int = 1000)
      : org.apache.spark.sql.Dataset[CusumAlarm] = {
    require(hUnits > 0, s"hUnits must be > 0, got $hUnits")
    require(valueUnits >= 1, s"valueUnits must be >= 1, got $valueUnits")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, evs, state) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
          val out = evs.toSeq.sortBy(e => (e.ts.getTime, e.tie)).map { e =>
            val vu = math.floor(e.v * valueUnits + 0.5).toLong
            val spRaw = math.max(0L, st.sp + vu - refUnits)
            val snRaw = math.max(0L, st.sn + refUnits - vu)
            val alarm = spRaw > hUnits || snRaw > hUnits
            st = CusumState(
              if (spRaw > hUnits) 0L else spRaw,
              if (snRaw > hUnits) 0L else snRaw,
              st.n + 1)
            CusumAlarm(key, st.n, vu, st.sp, st.sn, alarm)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Quantile estimates off a [[histogramOnArrival]] state path —
    * [[graft.operators.Drift.binnedQuantiles]] over the persisted
    * cumulative counts: the SAME state serves the drift gate and a
    * streaming quantile summary (exactly mergeable by construction,
    * where KLL/t-digest compaction would be merge-order-dependent).
    * Error ≤ one bin width; non-mutating read. */
  def histogramQuantiles(spark: SparkSession, statePath: String,
      nBins: Int, lo: Double, hi: Double, ps: Seq[Double]): DataFrame =
    graft.operators.Drift.binnedQuantiles(
      histogramCounts(spark, statePath), nBins, lo, hi, ps)

  case class HoltEvent(key: Long, ts: java.sql.Timestamp, tie: Long, v: Double)
  case class HoltPoint(key: Long, rn: Long, vu: Long, level: Long,
      trend: Long, forecast: Long)
  case class HoltState(l: Long, b: Long, n: Long)

  /** Streaming Holt smoothing — [[graft.operators.TimeSeriesOps.holt]]
    * maintained continuously, the [[cusumOnArrival]] discipline: keyed
    * state carries (level, trend, count), each batch folds in (ts, tie)
    * order with `Math.floorDiv` (the same floor the batch operator's
    * column arithmetic takes), and the emitted integers are bit-equal
    * to the batch form over the concatenated prefix (StreamingHoltSpec
    * pins it). State is three longs per key. */
  def holtOnArrival(events: org.apache.spark.sql.Dataset[HoltEvent],
      valueUnits: Int = 1000, denA: Int = 8, denB: Int = 16)
      : org.apache.spark.sql.Dataset[HoltPoint] = {
    require(denA >= 2 && denB >= 2, s"denominators must be >= 2, got $denA/$denB")
    require(valueUnits >= 1, s"valueUnits must be >= 1, got $valueUnits")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, evs, state) =>
          var st = state.getOption.getOrElse(HoltState(0L, 0L, 0L))
          val out = evs.toSeq.sortBy(e => (e.ts.getTime, e.tie)).map { e =>
            val vu = math.floor(e.v * valueUnits + 0.5).toLong
            val (l2, b2) =
              if (st.n == 0L) (vu, 0L)
              else {
                val l = Math.floorDiv(vu + (st.l + st.b) * (denA - 1), denA.toLong)
                (l, Math.floorDiv((l - st.l) + st.b * (denB - 1), denB.toLong))
              }
            st = HoltState(l2, b2, st.n + 1)
            HoltPoint(key, st.n, vu, l2, b2, l2 + b2)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Stream-stream inner join with event-time range: both sides watermarked
    * so the state store evicts rows once the other side can no longer
    * match (the condition bounds the buffering window). */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, withinMinutes: Int,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinMinutes MINUTES"))
      .drop(r(key)) // keep one unambiguous copy of the join key
  }

  /** LEFT OUTER stream-stream join — [[streamStreamJoin]]'s
    * did-not-convert variant: every left row is emitted exactly once,
    * WITH its match when one arrives inside the event-time window, or
    * with nulls once the watermark proves no match can still arrive
    * (left_ts + window + watermark delay all passed). The null rows are
    * therefore emitted LATE by construction — they surface in the batch
    * where state eviction runs, which is the correctness price of
    * "unmatched" being a negative over an unbounded stream. State stays
    * watermark-bounded on both sides, same as the inner form; the classic
    * consumer is funnel abandonment (clicked, never bought). */
  def streamStreamJoinOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, withinMinutes: Int,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinMinutes MINUTES"),
      "left_outer")
      .drop(r(key))
  }

  /** T7/K10: query-lifecycle alerting — the DAG failure-callback as a
    * StreamingQueryListener. */
  final class AlertListener(hook: AlertHook, channel: String = "#alerts")
      extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      hook.send(s"query ${e.name} started", channel)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val status = e.exception.map(msg => s"FAILED: $msg").getOrElse("stopped cleanly")
      hook.send(s"query ${e.id} $status", channel)
    }
  }
}
