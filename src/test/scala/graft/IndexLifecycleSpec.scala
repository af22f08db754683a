package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, IndexMaintenance, IndexSnapshots, TextIndex}

/** The capstone composition: a serving index's WHOLE operational story,
  * end to end, exactly as a deployment would run it — continuous ingest
  * (auto-compacted), a nightly snapshot cadence with retention, an
  * erasure feed with the compliance audit, time travel across
  * generations, and a disaster rollback — asserting at every checkpoint
  * that the served answers equal a from-scratch batch rebuild of the
  * intended corpus. Each piece is pinned individually elsewhere
  * (TextIndexSpec, IndexSnapshotsSpec, oracles q213/q220–q228); this
  * spec pins that the pieces COMPOSE under the single-writer discipline
  * (one mutator at a time; streams stopped before batch mutations). */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def doc(day: Int, i: Int): (Long, String) = {
    val id = day * 1000L + i
    val body = (1 to 20).map(j => s"w${(id * 31 + j * 7) % 97}").mkString(" ")
    (id, s"spark day$day item$i $body")
  }

  private def probe(path: String, k: Int = 25) =
    TextIndex.probe(spark, path, Seq("spark", "w13", "w42"), k = k)
      .collect().toSeq

  private def rebuildProbe(corpus: Seq[(Long, String)], dir: String,
      k: Int = 25) = {
    val p = s"$dir/rebuild_${corpus.hashCode & 0x7fffffff}"
    TextIndex.save(corpus.toDF("doc_id", "text"), "doc_id", "text", p)
    TextIndex.probe(spark, p, Seq("spark", "w13", "w42"), k = k)
      .collect().toSeq
  }

  test("three serving days: ingest stream -> snapshot + prune -> erasure " +
      "with audit -> time travel -> rollback, every answer == batch rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingJobs
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("lifecycle").toString
    val idx = s"$dir/index"

    var corpus = Seq.empty[(Long, String)]
    var day = 0
    // ---- each "day": the ingest stream drains that day's batches ----
    def runIngestDay(batches: Seq[Seq[(Long, String)]]): Unit = {
      val source = MemoryStream[(Long, String)]
      val q = StreamingJobs.indexOnArrival(
          source.toDF().toDF("doc_id", "text"), "doc_id", "text",
          idx, s"$dir/ckpt_day$day", clearCachePerBatch = false,
          autoCompactFilesPerDir = Some(3))
        .start()
      try batches.foreach { b =>
        source.addData(b: _*)
        q.processAllAvailable()
        corpus = corpus ++ b
      } finally q.stop() // single-writer: the stream owns the index only here
      day += 1
    }

    // day 0: cold start + growth; nightly snapshot
    runIngestDay((0 until 4).map(b => (0 until 8).map(i => doc(0, b * 8 + i))))
    assert(probe(idx) === rebuildProbe(corpus, dir), "day-0 serving parity")
    IndexSnapshots.snapshot(spark, idx, "night0")

    // day 1: more ingest; nightly snapshot; retention keeps 2
    runIngestDay((0 until 3).map(b => (0 until 8).map(i => doc(1, b * 8 + i))))
    Thread.sleep(20)
    IndexSnapshots.snapshot(spark, idx, "night1")
    assert(IndexSnapshots.prune(spark, idx, keepLast = 2) === Seq.empty)

    // day 2: ingest, then the erasure feed (right-to-be-forgotten) with
    // the audit ledger; then the nightly snapshot + retention
    runIngestDay(Seq((0 until 8).map(i => doc(2, i))))
    val erase = corpus.map(_._1).filter(_ % 5 === 0L)
    val audit = s"$dir/audit"
    val esrc = MemoryStream[Long]
    val eq = StreamingJobs.forgetOnArrival(
        esrc.toDF().toDF("doc_id"), "doc_id",
        Seq(StreamingJobs.TextIndexAt(idx)), s"$dir/ckpt_erase",
        clearCachePerBatch = false, auditPath = Some(audit))
      .start()
    try {
      esrc.addData(erase: _*)
      eq.processAllAvailable()
    } finally eq.stop()
    val kept = corpus.filterNot { case (id, _) => id % 5 === 0L }
    assert(probe(idx) === rebuildProbe(kept, dir),
      "post-erasure serving parity (stats corrected, no tombstones)")
    val auditRow = spark.read.parquet(audit)
      .as[(Long, String, String, Long, Long, Long)].collect().head
    assert(auditRow._4 === erase.size.toLong &&
      auditRow._5 - auditRow._6 === erase.size.toLong,
      s"the audit must prove the exact removal: $auditRow")
    Thread.sleep(20)
    IndexSnapshots.snapshot(spark, idx, "night2")
    assert(IndexSnapshots.prune(spark, idx, keepLast = 2) === Seq("night0"))
    assert(IndexSnapshots.list(spark, idx).select($"tag")
      .as[String].collect().toSeq === Seq("night1", "night2"))

    // time travel: night1 serves the PRE-erasure two-day corpus exactly
    val night1 = IndexSnapshots.at(spark, idx, "night1")
    val twoDays = corpus.filter(_._1 < 2000L)
    assert(TextIndex.probe(spark, night1, Seq("spark", "w13", "w42"), k = 25)
      .collect().toSeq === rebuildProbe(twoDays, dir),
      "time-travel parity against the day-1 corpus")

    // disaster: a poison upsert ships; roll back to last night, parity holds
    TextIndex.upsert(
      kept.take(6).map { case (id, t) => (id, t + " poisoned") }
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    assert(probe(idx) !== rebuildProbe(kept, dir), "poison must be visible")
    IndexSnapshots.restore(spark, idx, "night2")
    assert(probe(idx) === rebuildProbe(kept, dir),
      "rollback parity: restore == the never-poisoned index")

    // the maintenance policy held through every phase
    assert(!IndexMaintenance.needsCompact(spark, idx, 3),
      "auto-compact must keep fragmentation under the policy all along")

    // and the whole composed state still equals the scan-form BM25
    val viaScan = Bm25.search(kept.toDF("doc_id", "text"), "doc_id", "text",
        Seq("spark", "w13", "w42"), k = 25)
      .collect().toSeq.filter(_.getDouble(4) > 0.0)
    assert(probe(idx) === viaScan,
      "three days of lifecycle == one batch Bm25.search of the intent")
  }

  test("wave-2 composition: nightly Maintenance.cycle (fsck gate + " +
      "incremental snapshots + retention) with streamed query serving " +
      "between days; rollback through the object store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingJobs
    import graft.operators.Maintenance
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("lifecycle2").toString
    val idx = s"$dir/index"
    var corpus = Seq.empty[(Long, String)]
    var day = 0

    def runIngestDay(batches: Seq[Seq[(Long, String)]]): Unit = {
      val source = MemoryStream[(Long, String)]
      val q = StreamingJobs.indexOnArrival(
          source.toDF().toDF("doc_id", "text"), "doc_id", "text",
          idx, s"$dir/ckpt_day$day", clearCachePerBatch = false,
          autoCompactFilesPerDir = Some(3))
        .start()
      try batches.foreach { b =>
        source.addData(b: _*)
        q.processAllAvailable()
        corpus = corpus ++ b
      } finally q.stop()
    }
    def night(): Unit = {
      // the single nightly call: recover -> compact-if-needed -> fsck
      // gate -> incremental snapshot -> prune to two generations
      Maintenance.cycle(spark, TextIndex.lifecycle, idx,
        s"night$day", keepLast = 2)
      day += 1
      Thread.sleep(20) // separate promotion mtimes for retention order
    }
    def serve(asks: Seq[(Long, Seq[String])]): Seq[(Long, Long, Double, Long)] = {
      // read-only serving between mutations, through the streaming job
      val source = MemoryStream[(Long, Seq[String])]
      val (out, ckpt) = (s"$dir/out_day$day", s"$dir/ckpt_serve$day")
      val q = StreamingJobs.probeOnArrival(
          source.toDF().toDF("query_id", "terms"), "query_id", "terms",
          idx, out, ckpt, k = 5, clearCachePerBatch = false)
        .start()
      try {
        source.addData(asks: _*)
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(out)
        .select($"query_id", $"doc_id", $"score", $"rank")
        .orderBy($"query_id", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
    }
    def expect(asks: Seq[(Long, Seq[String])]) =
      TextIndex.probeAll(asks.toDF("query_id", "terms"), "query_id",
          "terms", idx, k = 5)
        .orderBy($"query_id", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq

    // three days: ingest -> nightly cycle -> next-day serving
    runIngestDay((0 until 4).map(b => (0 until 8).map(i => doc(0, b * 8 + i))))
    night()
    val asks1 = Seq((1L, Seq("spark", "w13")), (2L, Seq("w42")))
    assert(serve(asks1) === expect(asks1), "day-1 serving parity")

    runIngestDay((0 until 3).map(b => (0 until 8).map(i => doc(1, b * 8 + i))))
    night()
    runIngestDay(Seq((0 until 8).map(i => doc(2, i))))
    night()

    // retention: exactly the last two nights stand; their snapshots
    // deduplicate through the content-addressed store (ref files only)
    assert(IndexSnapshots.list(spark, idx).select($"tag")
      .as[String].collect().toSeq === Seq("night1", "night2"))

    // disaster after night2: poison, then roll back THROUGH the object
    // store; fresh asks (new ids) serve the restored generation
    TextIndex.upsert(
      corpus.take(5).map { case (id, t) => (id, t + " poisoned") }
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    IndexSnapshots.restore(spark, idx, "night2")
    val asks2 = Seq((10L, Seq("spark", "w13")), (11L, Seq("w42")))
    assert(serve(asks2) === expect(asks2), "post-rollback serving parity")
    assert(probe(idx, 10) === rebuildProbe(corpus, dir, 10),
      "restored generation == batch rebuild of the full three-day corpus")

    // and the next nightly cycle still passes its fsck gate
    Maintenance.cycle(spark, TextIndex.lifecycle, idx, "night3",
      keepLast = 2)
  }
}
