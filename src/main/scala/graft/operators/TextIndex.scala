package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Persisted inverted index for BM25 retrieval — the third member of the
  * persisted-index family beside [[IvfIndex]] (vectors) and
  * [[MinHashIndex]] (near-dup signatures): build the postings once over
  * the standing corpus, then serve keyword queries without ever scanning
  * corpus text again. [[Bm25.search]] is the scan-per-query form (right
  * for one-off batch scoring); this is the many-queries form — per-query
  * cost is proportional to the QUERY TERMS' postings, not the corpus.
  *
  * On-disk layout under `path`:
  *  - `postings/` (term, doc_id, tf, dl) parquet, partitionBy(bucket)
  *    with bucket = pmod(xxhash64(term), nBuckets). The doc length is
  *    DENORMALIZED into each posting so probing needs no doc-table join
  *    — a probe touches only its query terms' bucket files (file-level
  *    partition pruning, the IvfIndex list-file discipline).
  *  - `meta/` one row (n_docs, sum_dl, n_buckets) — the corpus-level
  *    BM25 statistics, so scoring never recounts the corpus.
  *  - `docs/` (doc_id, dl) one row per indexed document — the membership
  *    sidecar [[delete]] corrects stats from (postings alone can't see a
  *    token-less document, so a postings-derived correction would leave
  *    n_docs stale) and the cheapest already-indexed check for ingest
  *    dedup (no postings aggregate needed).
  *
  * Probe scale shape: the bucket scan reads |query| partitions; per-term
  * df comes from ONE aggregate over those pruned postings; per-doc tf
  * maps gather through ONE (doc_id)-keyed aggregate whose values are
  * ≤ |query| entries; the top-k is orderBy+limit (TakeOrdered). Scores
  * replicate [[Bm25.search]]'s pinned expression tree bit-for-bit, so
  * `probe(save(corpus), q) == search(corpus, q)` whenever at least k
  * documents match a query term (an inverted index never surfaces
  * zero-match documents; the scan form ranks them at score 0).
  *
  * [[append]] admits a new batch: postings append file-wise into the
  * bucket layout, then meta rewrites with the merged statistics. A crash
  * between the two writes leaves fresh postings under stale corpus
  * stats — structurally sound (probes keep working, scores shift
  * slightly) and repaired by re-running the meta rewrite; the same
  * consistent-read/stale-stats contract as IvfIndex.append. */
object TextIndex {

  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val ws = TextFunctions.tokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), ws.as("__ws"))
      .select(col("doc_id"), size(col("__ws")).cast("long").as("dl"),
        explode(col("__ws")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
  }

  /** The (doc_id, dl) membership sidecar rows of a document frame. */
  private def docRowsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("dl"))

  /** This family's lifecycle facts: docs (the membership sidecar) and
    * postings carry the ids; buckets come from meta; the one
    * surviving-docs aggregate is the delete guard and the new meta. */
  val lifecycle: IndexLifecycle.Spec = IndexLifecycle.Spec("text",
    Seq(IndexLifecycle.IdArtifact("docs", Some("doc_id"), None),
      IndexLifecycle.IdArtifact("postings", Some("doc_id"), Some("bucket"))),
    IndexLifecycle.MetaColumn("n_buckets"), flatParams = Nil,
    recovered = Seq("postings", "docs", "meta"), IndexAudit.auditText,
    guard = Some(survivingMeta))

  /** [[IndexLifecycle.Spec.recover]] on this family's artifacts. */
  def recover(spark: SparkSession, path: String): Unit =
    lifecycle.recover(spark, path)

  /** Every meta write goes through [[StagedSwap]] so meta is NEVER
    * half-written: a readable meta therefore means "a save once
    * COMPLETED here" (meta is save's last write), which is exactly the
    * signal a restarting ingest stream keys its cold-start decision on —
    * an unreadable meta after [[recover]] can only be a save that never
    * finished, so re-running save() cannot overwrite a live corpus. A
    * plain `mode("overwrite")` here would break that inference: its
    * delete-then-write window leaves meta unreadable on an ESTABLISHED
    * index, and the stream's replay would save() one micro-batch over
    * the whole corpus. */
  private def writeMeta(spark: SparkSession, path: String, n: Long,
      sdl: Long, nBuckets: Int): Unit = {
    import spark.implicits._
    StagedSwap.swapSub(spark, path, "meta", "_del") { tmp =>
      Seq((n, sdl, nBuckets)).toDF("n_docs", "sum_dl", "n_buckets")
        .coalesce(1).write.parquet(tmp)
    }
  }

  /** Build and persist the index over `docs`. Overwrites `path`. Meta is
    * written LAST (and atomically) — an index without readable meta is
    * by construction a save that never completed, never a served one.
    *
    * Crash contract: over a FRESH `path` the postings write and the
    * stats aggregate overlap ([[IndexLifecycle.writeAll]]); over an
    * existing index everything runs in order — postings, stats
    * aggregate, docs, meta — because `docs` may read this index and no
    * commit may recache it under the aggregate. A crash mid-save over
    * an existing index leaves new artifacts under the old meta; rerun
    * the save.
    *
    * Cost shape (r16): TWO tokenization passes over the corpus (the r15
    * form paid three — postings, the docs sidecar, and a third full text
    * scan for the corpus stats; stats now aggregate over the cached
    * narrow (doc_id, dl) sidecar frame, which costs 16 bytes/row to
    * hold). Postings land bucket-aligned ([[IndexLifecycle.aligned]]). */
  def save(docs: DataFrame, idCol: String, textCol: String, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = docs.sparkSession
    val docRows = docRowsOf(docs, idCol, textCol).persist()
    try {
      // the postings write and the sidecar stats aggregate are the two
      // tokenization passes — independent reads, so on a fresh path they
      // run as concurrent jobs (§2.6, r17): the narrow aggregate
      // back-fills the big write's stage tails. Ordering constraints
      // preserved: the stats aggregate still runs BEFORE the sidecar
      // write (the append-path recache discipline — `docs` may read this
      // index), and meta still lands LAST.
      val wave = IndexLifecycle.writeAll(spark, path, Seq[() => Any](
        () => IndexLifecycle.aligned(postingsOf(docs, idCol, textCol,
          nBuckets), nBuckets, "bucket").mode("overwrite")
          .parquet(s"$path/postings"),
        () => docRows.agg(count(lit(1)),
          coalesce(sum(col("dl")), lit(0L))).collect().head))
      val r = wave(1).asInstanceOf[org.apache.spark.sql.Row]
      docRows.write.mode("overwrite").parquet(s"$path/docs")
      writeMeta(spark, path, r.getLong(0), r.getLong(1), nBuckets)
    } finally docRows.unpersist()
  }

  /** Admit a new batch into an EXISTING index: postings append into the
    * bucket layout (bucket-aligned — one file per bucket per batch, not
    * shuffle-partitions × buckets), then meta rewrites with merged
    * statistics. Cost shape (r16): two tokenization passes over the
    * batch (postings + the cached sidecar rows, whose aggregate also
    * feeds meta) — the r15 form paid a third for the stats. */
  def append(batch: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = batch.sparkSession
    recover(spark, path)
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val nBuckets = meta.getInt(2)
    IndexLifecycle.aligned(postingsOf(batch, idCol, textCol, nBuckets),
      nBuckets, "bucket").mode("append").parquet(s"$path/postings")
    val docRows = docRowsOf(batch, idCol, textCol).persist()
    try {
      // stats aggregate FIRST, sidecar write second: `batch` may read
      // THIS index (an ingest stream's seen-set anti-join does), and the
      // sidecar write's recacheByPath re-resolves such a cached plan's
      // file listing to include the rows just written — an after-write
      // aggregate would recompute over a self-excluding (empty) batch
      // and silently lose the meta increment. Aggregating first pins the
      // cache to the pre-write listing; the write then reuses it.
      // Never overlapped with the postings write: the seen-set reads
      // postings TOO, and a concurrent postings commit recaches the
      // sidecar frame mid-wave, landing the sidecar EMPTY (q247's fsck
      // caught it) — the [[IndexLifecycle.writeAll]] rule.
      val r = docRows.agg(count(lit(1)),
        coalesce(sum(col("dl")), lit(0L))).collect().head
      docRows.write.mode("append").parquet(s"$path/docs")
      writeMeta(spark, path, meta.getLong(0) + r.getLong(0),
        meta.getLong(1) + r.getLong(1), nBuckets)
    } finally docRows.unpersist()
  }

  /** Upsert (replace-or-insert) a batch — the document-EDITED path:
    * re-ingesting a crawl where some documents changed and some are new
    * ([[IndexLifecycle.Spec.upsert]]); the corpus stats stay corrected
    * through both halves. Contract (TextIndexSpec + the q220 oracle):
    * post-upsert probe ≡ probe of an index rebuilt with the batch
    * replacing its ids. */
  def upsert(batch: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    lifecycle.upsert(batch, idCol, path)(append(batch, idCol, textCol, path))

  /** Operational snapshot of a persisted index — the serving-dashboard
    * frame every index deployment needs: one (stat, value) row per
    * metric, all exact longs so the frame is hash-comparable.
    *
    *  - `n_docs`/`sum_dl`/`n_buckets`: the scoring stats probes read
    *    (from meta).
    *  - `doc_rows`: rows actually in the docs sidecar. `doc_rows ≠
    *    n_docs` is THE staleness signal of [[append]]'s documented
    *    crash window (fresh postings under stale meta) — the condition
    *    a dashboard alert should page on.
    *  - `posting_doc_ids`: distinct doc ids IN the postings.
    *    `posting_doc_ids > doc_rows + (token-less docs)` means some
    *    append crashed between its postings and docs writes and its
    *    redelivery was (correctly) fenced by the seen-set — postings
    *    exist for docs the sidecar and meta never counted. Repair:
    *    [[upsert]] the drifted ids (delete clears the partial postings,
    *    append re-ingests them consistently).
    *  - `posting_rows`/`distinct_terms`/`nonempty_buckets`: inverted-
    *    file shape (vocabulary size, bucket occupancy for the pruning
    *    layout).
    *
    * One bounded aggregate per artifact; no corpus text is read. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val p = spark.read.parquet(s"$path/postings")
      .agg(count(lit(1)), countDistinct(col("term")),
        countDistinct(col("bucket")), countDistinct(col("doc_id")))
      .collect().head
    val docRows = spark.read.parquet(s"$path/docs").count()
    Seq(
      "n_docs" -> meta.getLong(0),
      "sum_dl" -> meta.getLong(1),
      "n_buckets" -> meta.getInt(2).toLong,
      "doc_rows" -> docRows,
      "posting_doc_ids" -> p.getLong(3),
      "posting_rows" -> p.getLong(0),
      "distinct_terms" -> p.getLong(1),
      "nonempty_buckets" -> p.getLong(2)
    ).toDF("stat", "value")
  }

  /** Compact an index that has accreted small files through [[append]]/
    * [[upsert]]: `postings/` to ~one file per bucket partition, `docs/`
    * to size-proportional file counts, contents and meta untouched
    * (spec-pinned: probe AND stats identical pre/post). See
    * [[IndexLifecycle.Spec.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    lifecycle.compact(spark, path)

  /** Targeted delete (right-to-be-forgotten): remove `ids` (a one-column
    * frame of doc ids) from the index WITHOUT a corpus rebuild — postings
    * and the docs sidecar rewrite filtered ([[IndexLifecycle.Spec.delete]]),
    * then meta rewrites with the CORRECTED statistics (n_docs and sum_dl
    * of exactly the surviving documents, so BM25's idf/avgdl never go
    * stale — a tombstone-only design would keep scoring deleted mass
    * forever). Contract (TextIndexSpec): post-delete probe ≡ probe of an
    * index rebuilt without the ids.
    *
    * Crash windows: any subset of {postings, docs} swapped under the old
    * meta is structurally sound (the [[append]] stale-stats contract),
    * and rerunning the SAME delete converges, because meta is RECOMPUTED
    * from the surviving sidecar rows, never decremented. Deleting the
    * ENTIRE corpus is rejected — drop the directory instead. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    lifecycle.delete(spark, path, ids)

  /** The delete guard: ONE aggregate over the surviving sidecar rows
    * (docs anti-join the delete set — the post-swap sidecar on a fresh
    * run and on every crash-rerun) is both the emptying check and the
    * recomputed meta written after the rewrites. Rows > 0 alone is not
    * enough: if every survivor is token-less (dl = 0 ⇒ no postings rows)
    * the postings rewrite emits no data files and every later read dies
    * on an unreadable schema. A doc emits postings iff its sidecar
    * dl ≥ 1 (both derive from the same tokens()), so sum(dl) > 0 ⟺ the
    * rewrite keeps a postings row — no postings anti-join needed. */
  private def survivingMeta(spark: SparkSession, path: String,
      del: DataFrame): () => Unit = {
    val nBuckets = spark.read.parquet(s"$path/meta").collect().head.getInt(2)
    val surviving = spark.read.parquet(s"$path/docs")
      .join(del, col("doc_id") === col("__del_id"), "left_anti")
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .collect().head
    require(surviving.getLong(0) > 0,
      "delete would empty the index; drop the index directory instead")
    require(surviving.getLong(1) > 0,
      "delete would leave an index whose surviving documents are all " +
        "token-less (zero postings rows); drop the index directory " +
        "and rebuild instead")
    () => writeMeta(spark, path, surviving.getLong(0), surviving.getLong(1),
      nBuckets)
  }

  /** Top-k BM25 over the persisted index — same output contract as
    * [[Bm25.search]] restricted to documents matching ≥ 1 query term.
    *
    * `maxDfFrac` makes the serving cost model explicit: a query term
    * appearing in most documents (a stopword) makes the "pruned"
    * postings frame corpus-sized — the aggregates stay distributed, so
    * correctness holds, but the probe silently costs a corpus scan.
    * Setting it < 1 fails loudly (naming the degenerate terms) when any
    * term's df exceeds that fraction of the corpus; the df map is
    * already on the driver, so the check is free. Default 1.0 keeps the
    * permissive behavior.
    *
    * Cache hygiene: the pruned postings are deliberately NOT cached —
    * they are read twice (term-df aggregate, then the per-doc tf-map
    * aggregate), but both reads are bucket-pruned file scans, while a
    * per-probe `.cache()` pinned query-dependent fragments a
    * long-running serving process never released (and went corpus-sized
    * on stopword terms). Two pruned scans beat an unbounded cache.
    * Corollary (the single-writer read contract): the two scans list
    * files independently, so a probe racing a CONCURRENT swap
    * (delete/compact/restore) can straddle generations — same rule as
    * every family's mutations document: no concurrent probe during a
    * swap; serve from a snapshot ([[IndexSnapshots.at]]) while the live
    * index mutates. */
  def probe(spark: SparkSession, path: String, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term required")
    require(queryTerms.distinct.size == queryTerms.size,
      s"query terms must be distinct, got $queryTerms")
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (n, sdl, nBuckets) = (meta.getLong(0), meta.getLong(1), meta.getInt(2))
    val avgdl = sdl.toDouble / n
    // bucket ids via the SAME hash the writer used (a one-row Spark job,
    // not a driver reimplementation that could drift from xxhash64)
    val buckets = queryTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .collect().map(_.getLong(0)).distinct.toSeq
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(queryTerms: _*))
    val dfs = post.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (maxDfFrac < 1.0) {
      val degenerate = queryTerms.filter(t =>
        dfs.getOrElse(t, 0L).toDouble > maxDfFrac * n)
      require(degenerate.isEmpty,
        s"degenerate (stopword-scale) query terms $degenerate: df exceeds " +
          s"maxDfFrac=$maxDfFrac of the $n-doc corpus — drop them from the " +
          "query or raise maxDfFrac to pay the corpus-scale probe knowingly")
    }
    val idfs = queryTerms.map { t =>
      val df = dfs.getOrElse(t, 0L).toDouble
      StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0)
    }
    val perDoc = post.groupBy("doc_id")
      .agg(max(col("dl")).as("__dl"),
        map_from_entries(collect_list(struct(col("term"), col("tf")))).as("__tfs"))
    val score = queryTerms.indices.map { i =>
      val tf = coalesce(element_at(col("__tfs"), queryTerms(i)), lit(0L))
        .cast("double")
      lit(idfs(i)) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl)))
    }.reduce(_ + _)
    val named = queryTerms.map { t =>
      coalesce(element_at(col("__tfs"), t), lit(0L)).as(s"tf_$t") }
    perDoc.select((col("doc_id") +: named) :+ round(score, 6).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Batched top-k BM25 — the many-queries serving form [[probe]]'s
    * one-`Seq[String]` signature can't reach: evaluating a retrieval
    * sweep, a RAG batch, or a quality harness through `probe` means a
    * driver loop of N small jobs, while this is ONE distributed plan
    * whose SHAPE is independent of the number of queries (the
    * [[ProductQuantizer.probeSaved]]/[[MinHashIndex.probe]] contract,
    * brought to the text family).
    *
    * `queries` carries (`queryIdCol`, `termsCol: array<string>`); output
    * is (query_id, doc_id, score, rank) with rank 1..k per query over
    * (round-6 score DESC, doc_id) — [[probe]]'s ranking keys, so
    * `probeAll(queries)` row-for-row equals N single probes
    * (TextIndexSpec pins it; the q225 oracle replays it relationally).
    *
    * Plan shape, corpus-scale path in CAPS: bucket-prune the postings to
    * the query terms' partitions (bucket ids via one bounded job using
    * the writer's own xxhash64, then static `isin` pruning — readable at
    * planning time exactly like the single probe); one bounded aggregate
    * over the pruned postings for per-term df (the scale analogue of
    * probe's driver df map — it stays a frame and broadcasts); ONE JOIN
    * of the PRUNED POSTINGS against the broadcast (query, term, idf)
    * frame; one per-(query, doc) AGGREGATE summing contributions in the
    * QUERY'S OWN term order (posexplode position carried through the
    * join, array_sort on it before the fold) — float addition is
    * order-sensitive, and [[probe]]'s reduce sums in queryTerms order,
    * so any other fold order could flip a round-6 boundary and break the
    * row-for-row contract (a nondeterministic order would flake the hash
    * run-to-run); one rank window that WindowGroupLimit cuts to ~k rows
    * per partition map-side before the query_id exchange. Nothing
    * driver-side scales with the corpus, and nothing in the plan scales
    * with the number of queries.
    *
    * One row per query id, enforced (one bounded aggregate): duplicate
    * query_id rows would silently DOUBLE shared terms' contributions in
    * the per-(query, doc) sum — the batched analogue of [[probe]]'s
    * duplicate-terms rejection, failed loudly the same way. Per-row
    * duplicate terms inside one array are deduped (array_distinct),
    * matching probe's contract that terms are distinct.
    *
    * Queries whose terms all miss the index (or with empty term arrays)
    * emit no rows — the inverted-index contract, same as a zero-match
    * single probe. `maxDfFrac` < 1 rejects stopword-scale terms loudly
    * (one extra bounded collect), the [[probe]] advisory. */
  def probeAll(queries: DataFrame, queryIdCol: String, termsCol: String,
      path: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val spark = queries.sparkSession
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (n, sdl, nBuckets) = (meta.getLong(0), meta.getLong(1), meta.getInt(2))
    val avgdl = sdl.toDouble / n
    val dup = queries.agg(count(lit(1)),
      countDistinct(col(queryIdCol))).collect().head
    require(dup.getLong(0) == dup.getLong(1),
      s"queries must carry ONE row per $queryIdCol (got ${dup.getLong(0)} " +
        s"rows over ${dup.getLong(1)} distinct ids): duplicate rows would " +
        "double-count shared terms — union term arrays per id first")
    val qt = queries.select(col(queryIdCol).as("query_id"),
      posexplode(array_distinct(col(termsCol))))
      .select(col("query_id"), col("pos").as("__pos"), col("col").as("term"))
    // the terms' bucket ids: ≤ nBuckets values, via the writer's hash
    val buckets = qt.select(
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val pruned = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*))
    // per-term df over the pruned postings, restricted to query terms —
    // bounded by the batch's distinct-term count, so it broadcasts
    val qterms = qt.select(col("term")).distinct()
    val idfOf = pruned.join(broadcast(qterms), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
    if (maxDfFrac < 1.0) {
      val degenerate = idfOf.filter(col("__df") > lit(maxDfFrac * n))
        .select(col("term")).collect().map(_.getString(0)).toSeq
      require(degenerate.isEmpty,
        s"degenerate (stopword-scale) query terms $degenerate: df exceeds " +
          s"maxDfFrac=$maxDfFrac of the $n-doc corpus — drop them from the " +
          "batch or raise maxDfFrac to pay the corpus-scale probe knowingly")
    }
    // (query_id, pos, term, idf): both inputs bounded; missing terms
    // (df = 0) drop out here, matching their zero contribution in the
    // single probe
    val qtIdf = qt.join(idfOf, Seq("term"))
      .select(col("query_id"), col("__pos"), col("term"),
        log((lit(n.toDouble) - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0)).as("__idf"))
    val tfD = col("tf").cast("double")
    val scored = pruned.join(broadcast(qtIdf), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("__pos"),
        (col("__idf") * (tfD * lit(k1 + 1.0)) /
          (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
          .as("__c"))
      .groupBy(col("query_id"), col("doc_id"))
      // fold in the query's own term order (__pos): probe's reduce sums
      // in queryTerms order, and float addition must match it exactly
      .agg(aggregate(
        array_sort(collect_list(struct(col("__pos"), col("__c")))),
        lit(0.0), (acc, x) => acc + x.getField("__c")).as("__s"))
      .select(col("query_id"), col("doc_id"), round(col("__s"), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("doc_id"), col("score"),
        col("__rn").cast("long").as("rank"))
  }
}
