package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IndexSnapshots, IvfIndex, MinHashIndex, TextIndex}
import graft.streaming.StreamingJobs

/** Right-to-be-forgotten vs immutable snapshots: the families' delete
  * scrubs the LIVE generation only — every standing snapshot keeps the
  * pre-delete corpus restorable. exposure() reports which tags still
  * hold forgotten ids, scrubSnapshots() drops exactly those, and the
  * forgetOnArrival knob runs the scrub per erasure batch with audit
  * evidence. */
class SnapshotErasureSpec extends SparkSpec {
  import spark.implicits._

  private def words(seed: String, n: Int): String =
    (1 to n).map(i => s"w${seed}_$i").mkString(" ")
  private lazy val docs = (1 to 40)
    .map(i => (i.toLong, words(s"c$i", 25) + (if (i % 4 == 0) " spark" else "")))
    .toDF("doc_id", "text").cache()

  test("exposure counts forgotten ids per tag (incremental AND full " +
      "snapshots); scrub drops exactly the exposed tags and GCs") {
    val path = Files.createTempDirectory("scrub_tx").toString
    TextIndex.save(docs, "doc_id", "text", path)
    IndexSnapshots.snapshotIncremental(spark, path, "inc_pre")
    IndexSnapshots.snapshot(spark, path, "full_pre") // full-copy form too
    val forget = docs.filter($"doc_id" % 5 === 0).select($"doc_id")
    TextIndex.delete(spark, path, forget)
    Thread.sleep(20)
    IndexSnapshots.snapshotIncremental(spark, path, "clean")
    val exp = IndexSnapshots.exposure(spark, path, forget, TextIndex.lifecycle)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n5 = docs.filter($"doc_id" % 5 === 0).count()
    assert(exp === Map("inc_pre" -> n5, "full_pre" -> n5, "clean" -> 0L),
      s"exposure must count forgotten ids per tag: $exp")
    val dropped = IndexSnapshots.scrubSnapshots(
      spark, path, forget, TextIndex.lifecycle)
    assert(dropped === Seq("full_pre", "inc_pre"))
    assert(IndexSnapshots.list(spark, path).select($"tag")
      .as[String].collect().toSeq === Seq("clean"),
      "only the clean tag may survive the scrub")
    // the forgotten rows are no longer restorable through ANY tag
    IndexSnapshots.restore(spark, path, "clean")
    assert(spark.read.parquet(s"$path/docs")
      .filter($"doc_id" % 5 === 0).count() === 0L)
    intercept[IllegalArgumentException] {
      IndexSnapshots.restore(spark, path, "inc_pre")
    }
    // idempotent: nothing left to scrub
    assert(IndexSnapshots.scrubSnapshots(
      spark, path, forget, TextIndex.lifecycle) === Seq.empty)
  }

  test("a vector family's exposure reads the caller's id column from " +
      "each tag's membership artifact; scrub drops exactly the exposed tags") {
    val vectors = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(d => if (d == i % 4) 10.0 + (i % 4) else 0.001 * i))
    }.toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("scrub_ivf").toString
    val model = IvfIndex.fit(vectors, "vec_id", "embedding", nLists = 4,
      iters = 2)
    IvfIndex.save(vectors, "vec_id", "embedding", model, path)
    IndexSnapshots.snapshotIncremental(spark, path, "inc_pre")
    IndexSnapshots.snapshot(spark, path, "full_pre")
    // the erasure feed names its column differently from the index
    val forget = vectors.filter($"vec_id" % 5 === 0).select($"vec_id".as("gone"))
    IvfIndex.delete(spark, path, forget)
    Thread.sleep(20)
    IndexSnapshots.snapshotIncremental(spark, path, "clean")
    val exp = IndexSnapshots.exposure(spark, path, forget, IvfIndex.lifecycle)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exp === Map("inc_pre" -> 8L, "full_pre" -> 8L, "clean" -> 0L),
      s"exposure must count forgotten vec_ids per tag: $exp")
    assert(IndexSnapshots.scrubSnapshots(spark, path, forget,
      IvfIndex.lifecycle) === Seq("full_pre", "inc_pre"))
    assert(IndexSnapshots.list(spark, path).select($"tag")
      .as[String].collect().toSeq === Seq("clean"))
  }

  test("ParquetCorpusAt: the curated-output corpus joins the erasure " +
      "fan-out — forgotten rows leave the parquet too, idempotently, " +
      "and the snapshot scrub half is a harmless no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("scrub_corpus").toString
    val (corpus, tx, audit) = (s"$dir/corpus", s"$dir/tx", s"$dir/audit")
    docs.write.parquet(corpus)
    TextIndex.save(docs, "doc_id", "text", tx)
    val erase = docs.filter($"doc_id" % 4 === 0).select($"doc_id")
      .as[Long].collect().toSeq
    val source = MemoryStream[Long]
    val q = StreamingJobs.forgetOnArrival(
        source.toDF().toDF("doc_id"), "doc_id",
        Seq(StreamingJobs.ParquetCorpusAt(corpus, "doc_id"),
          StreamingJobs.TextIndexAt(tx)),
        s"$dir/ckpt", clearCachePerBatch = false,
        auditPath = Some(audit), scrubSnapshots = true)
      .start()
    try {
      source.addData(erase: _*)
      q.processAllAvailable()
      // redelivery (same ids again) must converge, not error or double
      source.addData(erase.take(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(corpus)
      .orderBy($"doc_id").as[(Long, String)].collect().toSeq
    val expect = docs.filter($"doc_id" % 4 =!= 0)
      .orderBy($"doc_id").as[(Long, String)].collect().toSeq
    assert(kept === expect, "forgotten rows must leave the corpus; " +
      "surviving rows byte-identical")
    // the index target converged too
    assert(spark.read.parquet(s"$tx/docs")
      .filter($"doc_id" % 4 === 0).count() === 0L)
    val a = spark.read.parquet(audit)
      .filter($"family" === "parquet_corpus" && $"batch_id" === 0L)
      .select($"rows_before", $"rows_after").as[(Long, Long)].head()
    assert(a === ((docs.count(), expect.size.toLong)),
      s"corpus audit must prove the exact removal: $a")
  }

  test("ServedAnswersAt: forgotten doc_ids leave the served-answers dir " +
      "under GAP semantics — survivors byte-identical with ORIGINAL " +
      "ranks, redelivery converges, audit rows land") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("scrub_answers").toString
    val (idx, out, audit) = (s"$dir/index", s"$dir/out", s"$dir/audit")
    TextIndex.save(docs, "doc_id", "text", idx)
    // serve two asks through the live stream into the write-once dir
    val asks = MemoryStream[(Long, Seq[String])]
    val serve = StreamingJobs.probeOnArrival(
        asks.toDF().toDF("query_id", "terms"), "query_id", "terms",
        idx, out, s"$dir/sckpt", k = 5, clearCachePerBatch = false)
      .start()
    try {
      asks.addData((1L, Seq("spark")), (2L, Seq("spark", "w_c8_3")))
      serve.processAllAvailable()
    } finally serve.stop()
    val before = spark.read.parquet(out)
      .select($"query_id", $"doc_id", $"score", $"rank")
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(before.nonEmpty)
    // forget a doc that IS a served hit (so the erasure bites) — pick the
    // rank-2 hit of query 1 so a surviving rank stands on each side
    val victim = before.filter(_._1 == 1L).find(_._4 == 2L).map(_._2).get
    val forget = MemoryStream[Long]
    val q = StreamingJobs.forgetOnArrival(
        forget.toDF().toDF("doc_id"), "doc_id",
        Seq(StreamingJobs.TextIndexAt(idx),
          StreamingJobs.ServedAnswersAt(out, "doc_id")),
        s"$dir/fckpt", clearCachePerBatch = false,
        auditPath = Some(audit))
      .start()
    try {
      forget.addData(victim)
      q.processAllAvailable()
      // redelivery (same id again) must converge, not error or re-delete
      forget.addData(victim)
      q.processAllAvailable()
    } finally q.stop()
    val after = spark.read.parquet(out)
      .select($"query_id", $"doc_id", $"score", $"rank")
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    // survivors byte-identical: exactly the pre-erasure rows minus every
    // row that served the victim — scores AND rank numbers untouched
    assert(after === before.filterNot(_._2 == victim),
      "survivors must keep their original scores and ranks")
    // GAP semantics: rank 2 of query 1 is a hole, ranks 1 and 3 stand
    val q1Ranks = after.filter(_._1 == 1L).map(_._4)
    assert(!q1Ranks.contains(2L), "the erased rank must stay a gap")
    assert(q1Ranks.contains(1L) && q1Ranks.contains(3L),
      "neighboring ranks must survive un-recompacted")
    // no doc_id anywhere references the forgotten id
    assert(after.forall(_._2 != victim))
    // the index target converged too (the fan-out ran both)
    assert(spark.read.parquet(s"$idx/docs")
      .filter($"doc_id" === victim).count() === 0L)
    // audit: served_answers rows_before/rows_after prove the removal
    val a = spark.read.parquet(audit)
      .filter($"family" === "served_answers" && $"batch_id" === 0L)
      .select($"rows_before", $"rows_after").as[(Long, Long)].head()
    assert(a === ((before.size.toLong, after.size.toLong)), a.toString)
  }

  test("forgetOnArrival with scrubSnapshots drops exposed tags on EVERY " +
      "fanned-out family and records the :snapshots audit rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("scrub_stream").toString
    val (tx, mh, audit) = (s"$dir/tx", s"$dir/mh", s"$dir/audit")
    TextIndex.save(docs, "doc_id", "text", tx)
    MinHashIndex.save(docs, "doc_id", "text", mh)
    Seq(tx, mh).foreach { p =>
      IndexSnapshots.snapshotIncremental(spark, p, "night0")
      Thread.sleep(20)
    }
    val source = MemoryStream[Long]
    val q = StreamingJobs.forgetOnArrival(
        source.toDF().toDF("doc_id"), "doc_id",
        Seq(StreamingJobs.TextIndexAt(tx), StreamingJobs.MinHashIndexAt(mh)),
        s"$dir/ckpt", clearCachePerBatch = false,
        auditPath = Some(audit), scrubSnapshots = true)
      .start()
    try {
      source.addData(docs.select($"doc_id").as[Long].collect()
        .filter(_ % 3 == 0).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // night0 froze pre-erasure corpora on both families: both dropped
    Seq(tx, mh).foreach { p =>
      assert(IndexSnapshots.list(spark, p).count() === 0L,
        s"exposed snapshot must be dropped at $p")
    }
    val rows = spark.read.parquet(audit)
      .select($"family", $"rows_before", $"rows_after")
      .as[(String, Long, Long)].collect().toSeq
    val byFam = rows.groupBy(_._1)
    assert(byFam.keySet === Set("text_bm25", "text_bm25:snapshots",
      "minhash", "minhash:snapshots"))
    // the :snapshots rows prove the drop: 1 tag before, 0 after
    Seq("text_bm25:snapshots", "minhash:snapshots").foreach { f =>
      assert(byFam(f).map(r => (r._2, r._3)) === Seq((1L, 0L)),
        s"audit must record the snapshot drop for $f: ${byFam(f)}")
    }
    // a fresh snapshot of the scrubbed generation stays clean + standing
    IndexSnapshots.snapshotIncremental(spark, tx, "night1")
    val forget = docs.filter($"doc_id" % 3 === 0).select($"doc_id")
    assert(IndexSnapshots.exposure(spark, tx, forget, TextIndex.lifecycle)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("night1", 0L)))
  }
}
