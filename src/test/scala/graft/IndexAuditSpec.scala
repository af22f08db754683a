package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, MinHashIndex, ProductQuantizer, TextIndex}

/** fsck negative tests: every audit passes on a healthy index, and each
  * planted cross-artifact corruption flips exactly its check — the
  * failures the per-family stats dashboards cannot see. */
class IndexAuditSpec extends SparkSpec {
  import spark.implicits._

  private def words(seed: String, n: Int): String =
    (1 to n).map(i => s"w${seed}_$i").mkString(" ")
  private lazy val docs = (1 to 30)
    .map(i => (i.toLong, words(s"c$i", 20) + (if (i % 3 == 0) " spark" else "")))
    .toDF("doc_id", "text").cache()

  private def failing(audit: org.apache.spark.sql.DataFrame): Set[String] =
    audit.filter(!$"pass").select($"check").as[String].collect().toSet

  test("text: healthy index passes; sidecar tamper and wrong-bucket " +
      "postings are each caught by their check") {
    val path = Files.createTempDirectory("fsck_tx").toString
    TextIndex.save(docs, "doc_id", "text", path)
    assert(failing(TextIndex.lifecycle.audit(spark, path)) === Set.empty)
    // corruption 1: a doc vanishes from the sidecar but not the postings
    // (a botched manual delete) -> orphan postings + stats drift
    val side = spark.read.parquet(s"$path/docs").cache()
    side.count()
    side.filter($"doc_id" =!= 1L)
      .write.mode("overwrite").parquet(s"$path/docs")
    val f1 = failing(TextIndex.lifecycle.audit(spark, path))
    assert(f1.contains("orphan_postings") && f1.contains("n_docs"), f1.toString)
    assert(f1 === Set("n_docs", "sum_dl", "orphan_postings"), f1.toString)
    side.unpersist()
    // heal, then corruption 2: a posting physically in the WRONG bucket
    // partition (invisible to every pruned probe)
    TextIndex.save(docs, "doc_id", "text", path)
    val wrongBucket = (pmod(xxhash64(lit("w_planted_1")), lit(64L)) + 1) % 64
    Seq(("w_planted_1", 1L, 1L, 20L)).toDF("term", "doc_id", "tf", "dl")
      .withColumn("bucket", wrongBucket)
      .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
    spark.catalog.refreshByPath(path)
    val f2 = failing(TextIndex.lifecycle.audit(spark, path))
    assert(f2 === Set("bucket_misplacement"), f2.toString)
  }

  test("text: a stale denormalized dl is caught") {
    val path = Files.createTempDirectory("fsck_dl").toString
    TextIndex.save(docs, "doc_id", "text", path)
    // plant a posting whose dl disagrees with the sidecar for doc 1
    Seq(("w_dl_planted", 1L, 1L, 999L)).toDF("term", "doc_id", "tf", "dl")
      .withColumn("bucket", pmod(xxhash64($"term"), lit(64L)))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/postings")
    spark.catalog.refreshByPath(path)
    val f = failing(TextIndex.lifecycle.audit(spark, path))
    assert(f === Set("dl_mismatch"), f.toString)
  }

  test("text: a tokened doc whose postings vanished is caught") {
    val path = Files.createTempDirectory("fsck_miss").toString
    TextIndex.save(docs, "doc_id", "text", path)
    // plant: doc 1 keeps its sidecar row but loses every posting (a
    // partial rewrite that dropped its rows) -> it can never be retrieved
    val postings = spark.read.parquet(s"$path/postings").cache()
    postings.count()
    postings.filter($"doc_id" =!= 1L)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/postings")
    postings.unpersist()
    spark.catalog.refreshByPath(path)
    val f = failing(TextIndex.lifecycle.audit(spark, path))
    assert(f === Set("missing_postings"), f.toString)
  }

  test("minhash: band rows for an id absent from sigs are caught") {
    val path = Files.createTempDirectory("fsck_orph").toString
    MinHashIndex.save(docs, "doc_id", "text", path)
    // plant: a full band set for id 9999, which has no signature (a
    // delete that rewrote sigs but missed bands)
    val bands = spark.read.parquet(s"$path/bands").filter($"id" === 1L)
      .withColumn("id", lit(9999L)).cache()
    bands.count()
    bands.write.mode("append").partitionBy("band_idx").parquet(s"$path/bands")
    bands.unpersist()
    spark.catalog.refreshByPath(path)
    val f = failing(MinHashIndex.lifecycle.audit(spark, path))
    assert(f === Set("orphan_band_ids"), f.toString)
  }

  test("minhash: healthy passes; a sig row with no bands and a partial " +
      "band set are caught") {
    val path = Files.createTempDirectory("fsck_mh").toString
    MinHashIndex.save(docs, "doc_id", "text", path)
    assert(failing(MinHashIndex.lifecycle.audit(spark, path)) === Set.empty)
    // corruption: a signature appended without its band rows (crash
    // between append's two writes)
    val orphanSig = spark.read.parquet(s"$path/sigs").limit(1)
      .withColumn("id", lit(9999L))
    orphanSig.write.mode("append").parquet(s"$path/sigs")
    spark.catalog.refreshByPath(path)
    val f = failing(MinHashIndex.lifecycle.audit(spark, path))
    assert(f === Set("missing_band_ids"), f.toString)
    // heal; now a PARTIAL band set (some rows lost) -> fan-out violation
    MinHashIndex.save(docs, "doc_id", "text", path)
    val bands = spark.read.parquet(s"$path/bands").cache()
    bands.count()
    bands.filter(!($"id" === 1L && $"band_idx" === 0))
      .write.mode("overwrite").partitionBy("band_idx")
      .parquet(s"$path/bands")
    bands.unpersist()
    spark.catalog.refreshByPath(path)
    val f2 = failing(MinHashIndex.lifecycle.audit(spark, path))
    assert(f2 === Set("band_fanout_violations"), f2.toString)
  }

  test("pq: duplicate code ids, wrong code width, unknown list cell") {
    def vec(i: Int): Seq[Double] =
      Seq.tabulate(8)(d => if (d == i % 4) 10.0 + (i % 4) else 0.001 * i)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("fsck_pq").toString
    val pq = ProductQuantizer.fit(corpus, "vec_id", "embedding",
      m = 2, k = 4, iters = 1)
    val coarse = graft.operators.KMeans.fit(
      corpus, "vec_id", "embedding", k = 4, iters = 1)
    ProductQuantizer.save(corpus, "vec_id", "embedding", coarse, pq, path,
      residual = false)
    assert(failing(ProductQuantizer.lifecycle.audit(spark, path)) === Set.empty)
    val one = spark.read.parquet(s"$path/codes").limit(1).cache()
    one.count()
    // duplicate id (upsert crash window)
    one.write.mode("append").partitionBy("list_id").parquet(s"$path/codes")
    spark.catalog.refreshByPath(path)
    assert(failing(ProductQuantizer.lifecycle.audit(spark, path)) === Set("code_rows"))
    ProductQuantizer.save(corpus, "vec_id", "embedding", coarse, pq, path,
      residual = false)
    // wrong code width (m=2 index, 3-wide row) + unknown coarse cell
    one.withColumn("vec_id", lit(9999L))
      .withColumn("codes", array(lit(0), lit(0), lit(0)))
      .withColumn("list_id", lit(99))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/codes")
    spark.catalog.refreshByPath(path)
    val f = failing(ProductQuantizer.lifecycle.audit(spark, path))
    assert(f === Set("code_width_violations", "unknown_list_ids"), f.toString)
    one.unpersist()
  }

  test("ivf: healthy passes; unknown list cell and duplicate ids caught") {
    def vec(i: Int): Seq[Double] =
      Seq.tabulate(8)(d => if (d == i % 4) 10.0 + (i % 4) else 0.001 * i)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("fsck_ivf").toString
    val model = IvfIndex.fit(corpus, "vec_id", "embedding", nLists = 4,
      iters = 2)
    IvfIndex.save(corpus, "vec_id", "embedding", model, path)
    assert(failing(IvfIndex.lifecycle.audit(spark, path)) === Set.empty)
    val one = spark.read.parquet(s"$path/lists").limit(1).cache()
    one.count()
    one.withColumn("list_id", lit(99))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/lists")
    spark.catalog.refreshByPath(path)
    val f = failing(IvfIndex.lifecycle.audit(spark, path))
    assert(f === Set("vector_rows", "unknown_list_ids"), f.toString)
    one.unpersist()
    // heal, then plant an EMPTY centroids artifact with the same schema:
    // no list is probeable, and every list id is unknown
    IvfIndex.save(corpus, "vec_id", "embedding", model, path)
    val schema = spark.read.parquet(s"$path/centroids").schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema).write.mode("overwrite").parquet(s"$path/centroids")
    spark.catalog.refreshByPath(path)
    val f2 = failing(IvfIndex.lifecycle.audit(spark, path))
    assert(f2 === Set("centroid_rows", "unknown_list_ids"), f2.toString)
  }
}
