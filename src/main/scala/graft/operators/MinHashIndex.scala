package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH index for INCREMENTAL near-dup screening: build
  * the index once over the standing corpus, then test every arriving batch
  * against it without touching the corpus text again — the continuous
  * form of the reference's dedup-before-insert contract
  * (`api_rapid/insert_csv_to_postgres.py:61`), upgraded from exact rows
  * to near-duplicates. The batch/probe split mirrors [[IvfIndex]]'s
  * fit/probe: the expensive global pass happens once at build time,
  * per-batch cost is proportional to the batch.
  *
  * On-disk layout under `path`:
  *  - `bands/`  (band_hash, id) parquet, partitionBy(band_idx) — the LSH
  *    buckets. 16 longs + an id per doc; at 100 TB of text this index is
  *    ~0.1% of the corpus.
  *  - `sigs/`   (id, sig: array<long>) — full k-min signatures for
  *    verification by the standard MinHash estimator (fraction of equal
  *    signature positions), so probing never needs corpus text.
  *  - `meta/`   one row (n, k, bands, seed) — probe reads its parameters
  *    from here; a batch probed with different hashing than the index was
  *    built with would silently match nothing.
  *
  * Scale shape of [[probe]]: batch signatures/bands compute row-local;
  * the only exchanges are the (band_idx, band_hash) bucket join, the
  * candidate (batch_id, corpus_id) distinct, and two id-keyed signature
  * rejoins. Nothing ever shuffles a signature array or document text —
  * the same discipline as the LSH-ANN and fuzzy-join candidate stages.
  *
  * Estimator, not exact: a probe hit means estimated Jaccard >= the
  * threshold (unbiased, stderr ~ sqrt(j(1-j)/k) ≈ 0.06 at k=64). Route
  * hits into an exact verification against gathered text if the policy
  * needs certainty; [[dropSeenNearDups]] takes the estimate as-is, which
  * is the usual curation choice (biased toward removal). */
object MinHashIndex {

  /** LSH bands of a signature frame: (id, band_idx, band_hash). */
  private def banded(sigs: DataFrame, idCol: String, k: Int,
      bands: Int): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")
    val r = k / bands
    val bandCols = (0 until bands).map(b => xxhash64(slice(col("sig"), b * r + 1, r)))
    sigs.select(col(idCol).as("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Build and persist the index over `docs`. Overwrites `path`. Meta is
    * written LAST and atomically (under [[StagedSwap]], the
    * [[TextIndex]] discipline): meta is this family's only
    * corpus-parameter artifact and no mutation after save ever rewrites
    * it, so "meta readable" ⟺ "a save once completed here" — the signal
    * a restarting ingest stream keys its cold-start decision on. A
    * plain overwrite's delete-then-write window would break that
    * inference.
    *
    * Crash contract: over a FRESH `path` the sigs and bands writes
    * overlap ([[IndexLifecycle.writeAll]]); over an existing index they
    * run in order — sigs, bands, meta — so a crash never leaves new
    * bands over old sigs. A crash mid-save over an existing index leaves
    * new sigs (and maybe bands) under the old meta; rerun the save. */
  def save(docs: DataFrame, idCol: String, textCol: String, path: String,
      n: Int = 3, k: Int = 64, bands: Int = 16, seed: Long = 42L): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = Dedup.minhashSignatures(docs, idCol, textCol, n, k, seed)
      .select(col(idCol).as("id"), col("sig")).cache()
    try {
      // materialize the signature cache ONCE, then the two artifact
      // writes (disjoint subdirs, both reading the cache) run as
      // concurrent jobs on a fresh path (§2.6, r17). Meta lands LAST.
      sigs.count()
      IndexLifecycle.writeAll(spark, path, Seq(
        () => sigs.write.mode("overwrite").parquet(s"$path/sigs"),
        () => IndexLifecycle.aligned(banded(sigs, "id", k, bands), bands,
          "band_idx").mode("overwrite").parquet(s"$path/bands")))
      StagedSwap.swapSub(spark, path, "meta", "_del") { tmp =>
        Seq((n, k, bands, seed)).toDF("n", "k", "bands", "seed")
          .coalesce(1).write.parquet(tmp)
      }
    } finally sigs.unpersist()
  }

  /** This family's lifecycle facts: sigs (membership) and the
    * band-partitioned buckets carry the ids; the band count is in meta. */
  val lifecycle: IndexLifecycle.Spec = IndexLifecycle.Spec("minhash",
    Seq(IndexLifecycle.IdArtifact("sigs", Some("id"), None),
      IndexLifecycle.IdArtifact("bands", Some("id"), Some("band_idx"))),
    IndexLifecycle.MetaColumn("bands"), flatParams = Nil,
    recovered = Seq("sigs", "bands", "meta"), IndexAudit.auditMinHash)

  /** [[IndexLifecycle.Spec.recover]] on this family's artifacts. */
  def recover(spark: SparkSession, path: String): Unit =
    lifecycle.recover(spark, path)

  /** Admit a new batch into an EXISTING index: append its signatures and
    * bands (parquet append — partitionBy(band_idx) layouts merge
    * file-wise, no rewrite of standing data). The continuous-ingest
    * cycle is probe → drop hits → append survivors; see
    * StreamingJobs/MinHashIndexSpec for the foreachBatch composition.
    * Caller screens the batch FIRST if near-dups should not enter. */
  def append(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    recover(spark, path)
    val (n, k, bands, seed) = meta(spark, path)
    val sigs = Dedup.minhashSignatures(newDocs, idCol, textCol, n, k, seed)
      .select(col(idCol).as("id"), col("sig")).cache()
    try {
      // the index exists, so writeAll keeps the strict sigs → bands
      // order: an ingest batch's lineage reads THIS index, and a
      // concurrent commit would recache the signature frame mid-wave
      IndexLifecycle.writeAll(spark, path, Seq(
        () => sigs.write.mode("append").parquet(s"$path/sigs"),
        () => IndexLifecycle.aligned(banded(sigs, "id", k, bands), bands,
          "band_idx").mode("append").parquet(s"$path/bands")))
    } finally sigs.unpersist()
  }

  /** Upsert (replace-or-insert) a batch — the document-edited path
    * ([[IndexLifecycle.Spec.upsert]]): re-ingested docs carry their NEW
    * signatures, never a stale dual signature. Contract
    * (MinHashIndexSpec): post-upsert probe ≡ probe of an index rebuilt
    * with the batch replacing its ids. */
  def upsert(batch: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    lifecycle.upsert(batch, idCol, path)(append(batch, idCol, textCol, path))

  /** Targeted delete (right-to-be-forgotten): remove `ids` (a one-column
    * frame) from the index without a rebuild — `sigs/` and `bands/`
    * rewrite filtered ([[IndexLifecycle.Spec.delete]]). Signatures and
    * bands are strictly per-row artifacts (no corpus-level stats to
    * correct, unlike [[TextIndex.delete]]), so post-delete probe is
    * EXACTLY probe of an index rebuilt without the ids
    * (MinHashIndexSpec pins it). A band hit whose signature is gone
    * drops out of the candidate join (inner on id), so a crash between
    * the two swaps never surfaces a deleted id. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    lifecycle.delete(spark, path, ids)

  /** Compact an index that has accreted small files through [[append]]:
    * `bands/` to ~one file per band partition, `sigs/` to
    * size-proportional file counts, contents exactly preserved
    * (spec-pinned: probe results identical pre/post). See
    * [[IndexLifecycle.Spec.compact]]. */
  def compact(spark: SparkSession, path: String): Unit =
    lifecycle.compact(spark, path)

  private def meta(spark: SparkSession, path: String): (Int, Int, Int, Long) = {
    val row = spark.read.parquet(s"$path/meta").head()
    (row.getAs[Int]("n"), row.getAs[Int]("k"), row.getAs[Int]("bands"),
      row.getAs[Long]("seed"))
  }

  /** The index's persisted hash parameters (n, k, bands, seed) — for
    * callers that must run OTHER minhash machinery consistently with
    * this index (e.g. the streaming gate's intra-batch pair stage). */
  def params(spark: SparkSession, path: String): (Int, Int, Int, Long) =
    meta(spark, path)

  /** Operational snapshot — one (stat, value) row per metric, exact
    * longs (the [[TextIndex.stats]] dashboard discipline):
    *
    *  - `sig_rows`: indexed documents. `band_rows` must equal
    *    sig_rows × bands; drift between the two is the staleness signal
    *    of a crash between [[append]]'s two writes.
    *  - `distinct_banded_ids`: ids present in the band layout (the other
    *    side of the same invariant).
    *  - `max_bucket_size`: occupancy of the fullest (band_idx,
    *    band_hash) bucket — THE skew number for probe cost: a probe
    *    joining into a pathological bucket (e.g. a boilerplate-heavy
    *    corpus hashing many docs identically) pays candidates
    *    proportional to it. Watch it grow; split/shard when it runs hot.
    *  - `n`/`k`/`bands`/`seed`: the hash parameters (from meta). */
  def stats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (n, k, bands, seed) = meta(spark, path)
    val sigRows = spark.read.parquet(s"$path/sigs").count()
    val b = spark.read.parquet(s"$path/bands")
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")), countDistinct(col("band_idx"), col("band_hash")),
        max(col("c"))).collect().head
    val distinctIds = spark.read.parquet(s"$path/bands")
      .select(col("id")).distinct().count()
    Seq(
      "sig_rows" -> sigRows,
      "band_rows" -> b.getLong(0),
      "nonempty_buckets" -> b.getLong(1),
      "max_bucket_size" -> b.getLong(2),
      "distinct_banded_ids" -> distinctIds,
      "n" -> n.toLong,
      "k" -> k.toLong,
      "bands" -> bands.toLong,
      "seed" -> seed
    ).toDF("stat", "value")
  }

  /** Probe a batch against the index: every (batch id, corpus id) pair
    * whose estimated Jaccard >= minEstJac, as (idCol, corpus_id,
    * est_jaccard). Hash parameters come from the index's meta. */
  def probe(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, minEstJac: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    val (n, k, bands, seed) = meta(spark, path)
    // NO cache: the signature subplan feeds both the banded candidate join
    // and the __sa rejoin, but it is a row-local codegen map over the BATCH
    // (the small side by contract) — recomputing it once costs microseconds
    // per row, where a .cache() here would grow executor storage unboundedly
    // in a long-running foreachBatch ingest loop unless every caller
    // remembered to clear it. Leaving nothing cached makes probe safe to
    // call forever.
    val sigs = Dedup.minhashSignatures(newDocs, idCol, textCol, n, k, seed)
      .select(col(idCol).as("__bid"), col("sig"))
    val cands = banded(sigs, "__bid", k, bands)
      .withColumnRenamed("id", "__bid")
      .join(spark.read.parquet(s"$path/bands"), Seq("band_idx", "band_hash"))
      .select(col("__bid"), col("id").as("corpus_id"))
      .distinct()
    cands
      .join(sigs.select(col("__bid"), col("sig").as("__sa")), "__bid")
      .join(spark.read.parquet(s"$path/sigs")
        .select(col("id").as("corpus_id"), col("sig").as("__sb")), "corpus_id")
      // codegen estimator kernel — the interpreted aggregate(zip_with(...))
      // form pays lambda dispatch per signature position per candidate pair
      .withColumn("est_jaccard",
        graft.functions.expressions.SketchExpressions.sig_agreement(
          col("__sa"), col("__sb")))
      .filter(col("est_jaccard") >= minEstJac)
      .select(col("__bid").as(idCol), col("corpus_id"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** The curation form: the batch minus everything that near-duplicates
    * the indexed corpus (docs too short to shingle pass through — they
    * cannot match). */
  def dropSeenNearDups(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, minEstJac: Double = 0.5): DataFrame =
    newDocs.join(
      probe(newDocs, idCol, textCol, path, minEstJac)
        .select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")
}
