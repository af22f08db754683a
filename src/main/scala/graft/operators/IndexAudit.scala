package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** fsck for the persisted index families — cross-ARTIFACT consistency
  * the per-family `stats` dashboards don't check (stats reads each
  * artifact alone; corruption that matters lives BETWEEN them): a
  * maintenance cadence runs this after crashes, restores, manual
  * surgery, or object-store mishaps, and trusts the index only when
  * every row passes.
  *
  * Output contract (all four auditors): one (family, check, value,
  * pass) row per invariant, exact longs — `value` is the observed
  * count (a corpus-anchored total for count checks, a VIOLATION count
  * for membership/placement checks, so healthy indexes show the corpus
  * number or 0) and `pass` the invariant verdict. On a healthy index
  * every value is derivable from the corpus alone, which is what lets
  * q232 pin the whole audit surface under the DuckDB hash.
  *
  * Scale shape: id-column joins and aggregates only — no text, no
  * vectors, no signatures move; the widest check is one corpus-scale
  * anti-join on doc ids. Placement checks (bucket = hash(term),
  * code width) are row-local codegen predicates under a count.
  *
  * What each family checks and why it can break:
  *  - Text: meta's (n_docs, sum_dl) vs the docs sidecar (a crash
  *    between append's postings/docs writes and the meta rewrite
  *    drifts them — the documented stale-stats window); orphan
  *    postings (a delete that missed a bucket partition leaves score
  *    rows for erased docs — a right-to-be-forgotten violation);
  *    missing postings (a tokened doc with no postings can never be
  *    retrieved); bucket placement (a row whose `bucket` disagrees
  *    with pmod(xxhash64(term), n_buckets) is INVISIBLE to every
  *    bucket-pruned probe — silent recall loss no probe-side test can
  *    see); denormalized dl agreement postings↔sidecar (a stale dl
  *    skews that doc's BM25 length normalization).
  *  - MinHash: band fan-out (every sig row must band into exactly
  *    `bands` buckets — a partial band write from a crashed append
  *    makes a doc probabilistically invisible to probes); sig↔band id
  *    agreement both directions.
  *  - PQ: duplicate code ids (an upsert crash window); code width vs
  *    the codebook's subspace count (a probe ADC-sums m entries —
  *    width drift corrupts scores, not just recall); list_id domain vs
  *    the coarse codebook (an unknown cell is never probed).
  *  - IVF: duplicate vector ids; list_id domain vs centroids. */
object IndexAudit {

  private def row(spark: SparkSession, family: String, check: String,
      value: Long, pass: Boolean): DataFrame = {
    import spark.implicits._
    Seq((family, check, value, pass)).toDF("family", "check", "value", "pass")
  }

  private def unionAll(rows: Seq[DataFrame]): DataFrame =
    rows.reduce(_ unionAll _)

  /** Audit a [[TextIndex]] at `path`. */
  def auditText(spark: SparkSession, path: String): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (n, sdl, nBuckets) =
      (meta.getLong(0), meta.getLong(1), meta.getInt(2))
    val docs = spark.read.parquet(s"$path/docs")
    val postings = spark.read.parquet(s"$path/postings")
    // two passes over postings, not four (r16): the placement scan needs
    // (bucket, term); every id-level check shares ONE cached per-doc
    // distinct frame. The independent counts run as concurrent jobs
    // (§2.6, r17): wave 1 overlaps the sidecar aggregate, the placement
    // scan, and the shared frame's materialization; wave 2 overlaps the
    // three id-level checks over the materialized cache.
    val pd = postings.select(col("doc_id"), col("dl").as("__pdl"))
      .distinct().cache()
    val (orphans, missing, dlMismatch, nSide, sdlSide, misplaced) = try {
      val wave1 = graft.core.Concurrency.runAll(Seq[() => Any](
        () => docs.agg(count(lit(1)),
          coalesce(sum(col("dl")), lit(0L))).collect().head,
        () => postings.filter(col("bucket") =!=
          pmod(xxhash64(col("term")), lit(nBuckets.toLong))).count(),
        () => pd.count()))
      val side = wave1(0).asInstanceOf[org.apache.spark.sql.Row]
      val mis = wave1(1).asInstanceOf[Long]
      val pids = pd.select(col("doc_id")).distinct()
      val wave2 = graft.core.Concurrency.runAll(Seq(
        () => pids
          .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti").count(),
        () => docs.filter(col("dl") > 0).select(col("doc_id"))
          .join(pids, Seq("doc_id"), "left_anti").count(),
        () => pd
          .join(docs.select(col("doc_id"), col("dl")), Seq("doc_id"))
          .filter(col("__pdl") =!= col("dl")).count()))
      (wave2(0), wave2(1), wave2(2), side.getLong(0), side.getLong(1), mis)
    } finally pd.unpersist()
    unionAll(Seq(
      row(spark, "text", "n_docs", nSide, nSide == n),
      row(spark, "text", "sum_dl", sdlSide, sdlSide == sdl),
      row(spark, "text", "orphan_postings", orphans, orphans == 0L),
      row(spark, "text", "missing_postings", missing, missing == 0L),
      row(spark, "text", "bucket_misplacement", misplaced, misplaced == 0L),
      row(spark, "text", "dl_mismatch", dlMismatch, dlMismatch == 0L)))
  }

  /** Audit a [[MinHashIndex]] at `path`. */
  def auditMinHash(spark: SparkSession, path: String): DataFrame = {
    val bands = spark.read.parquet(s"$path/meta").head().getAs[Int]("bands")
    val sigs = spark.read.parquet(s"$path/sigs").select(col("id"))
    val banded = spark.read.parquet(s"$path/bands")
    // one cached distinct-id frame serves both membership directions
    // (r16; was two more full scans of the band layout); the independent
    // counts run as concurrent jobs in two waves (§2.6, r17)
    val bandIds = banded.select(col("id")).distinct().cache()
    val (nSigs, fanout, orphanBands, missingBands) = try {
      val wave1 = graft.core.Concurrency.runAll(Seq(
        () => sigs.count(),
        () => banded.groupBy(col("id"))
          .agg(countDistinct(col("band_idx")).as("__b"))
          .filter(col("__b") =!= bands.toLong).count(),
        () => bandIds.count()))
      val wave2 = graft.core.Concurrency.runAll(Seq(
        () => bandIds.join(sigs.distinct(), Seq("id"), "left_anti").count(),
        () => sigs.distinct().join(bandIds, Seq("id"), "left_anti").count()))
      (wave1(0), wave1(1), wave2(0), wave2(1))
    } finally bandIds.unpersist()
    unionAll(Seq(
      row(spark, "minhash", "sig_rows", nSigs, true),
      row(spark, "minhash", "band_fanout_violations", fanout, fanout == 0L),
      row(spark, "minhash", "orphan_band_ids", orphanBands, orphanBands == 0L),
      row(spark, "minhash", "missing_band_ids", missingBands,
        missingBands == 0L)))
  }

  /** Audit a [[ProductQuantizer]] index at `dir`. */
  def auditPq(spark: SparkSession, dir: String): DataFrame = {
    val m = spark.read.parquet(s"$dir/pq_model")
      .select(col("subspace")).distinct().count()
    val codes = spark.read.parquet(s"$dir/codes")
    val idCol = ProductQuantizer.lifecycle.membership.idColIn(codes.schema)
    // independent counts as concurrent jobs (§2.6, r17)
    val pqWave = graft.core.Concurrency.runAll(Seq[() => Any](
      () => codes.agg(count(lit(1)), countDistinct(col(idCol))).collect().head,
      () => codes.filter(size(col("codes")) =!= m.toInt).count(),
      () => codes.select(col("list_id")).distinct()
        .join(spark.read.parquet(s"$dir/coarse")
          .select(col("cluster_id").as("list_id")).distinct(),
          Seq("list_id"), "left_anti").count()))
    val c = pqWave(0).asInstanceOf[org.apache.spark.sql.Row]
    val widthBad = pqWave(1).asInstanceOf[Long]
    val unknownList = pqWave(2).asInstanceOf[Long]
    unionAll(Seq(
      row(spark, "pq", "code_rows", c.getLong(0),
        c.getLong(0) == c.getLong(1)),
      row(spark, "pq", "code_width_violations", widthBad, widthBad == 0L),
      row(spark, "pq", "unknown_list_ids", unknownList, unknownList == 0L)))
  }

  /** Audit an [[IvfIndex]] at `dir`. */
  def auditIvf(spark: SparkSession, dir: String): DataFrame = {
    val lists = spark.read.parquet(s"$dir/lists")
    val idCol = IvfIndex.lifecycle.membership.idColIn(lists.schema)
    val centroids = spark.read.parquet(s"$dir/centroids")
    // independent counts as concurrent jobs (§2.6, r17)
    val ivfWave = graft.core.Concurrency.runAll(Seq[() => Any](
      () => lists.agg(count(lit(1)), countDistinct(col(idCol))).collect().head,
      () => centroids.count(),
      () => lists.select(col("list_id")).distinct()
        .join(centroids.select(col("list_id")).distinct(),
          Seq("list_id"), "left_anti").count()))
    val c = ivfWave(0).asInstanceOf[org.apache.spark.sql.Row]
    val nCentroidRows = ivfWave(1).asInstanceOf[Long]
    val unknownList = ivfWave(2).asInstanceOf[Long]
    unionAll(Seq(
      row(spark, "ivf", "vector_rows", c.getLong(0),
        c.getLong(0) == c.getLong(1)),
      row(spark, "ivf", "centroid_rows", nCentroidRows, nCentroidRows > 0L),
      row(spark, "ivf", "unknown_list_ids", unknownList, unknownList == 0L)))
  }
}
