package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.TextIndex
import graft.streaming.StreamingJobs

/** Streaming retrieval serving (probeOnArrival): batched probeAll per
  * micro-batch against the persisted BM25 index, write-once keyed
  * answers, deterministic intra-batch dedup, zero-match and empty-batch
  * behavior. */
class ProbeServingSpec extends SparkSpec {
  import spark.implicits._

  private def words(seed: String, n: Int): String =
    (1 to n).map(i => s"w${seed}_$i").mkString(" ")
  private lazy val docs = (1 to 40)
    .map(i => (i.toLong, words(s"c$i", 30) +
      (if (i % 4 == 0) " spark join" else "") +
      (if (i % 5 == 0) " merge scan" else "")))
    .toDF("doc_id", "text").cache()

  test("served answers equal probeAll equal per-query single probes; " +
      "redelivery and re-asks are write-once; zero-match asks emit nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("serve_bm25").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    TextIndex.save(docs, "doc_id", "text", idx)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String])]
    val q = StreamingJobs.probeOnArrival(
        source.toDF().toDF("query_id", "terms"), "query_id", "terms",
        idx, out, ckpt, k = 5, clearCachePerBatch = false)
      .start()
    try {
      // batch 1: two asks, one of them duplicated in-batch (redelivery)
      // with a LESSER terms array that must lose the deterministic reduce
      source.addData(
        (1L, Seq("spark", "join")),
        (1L, Seq("aaa")),
        (2L, Seq("merge", "scan")),
        (9L, Seq("no_such_term")))
      q.processAllAvailable()
      // batch 2: empty batch is a no-op, then a re-ask of id 1 with NEW
      // terms — write-once must keep the first answer
      source.addData()
      q.processAllAvailable()
      source.addData((1L, Seq("merge")), (3L, Seq("spark")))
      q.processAllAvailable()
      val served = spark.read.parquet(out)
        .select($"query_id", $"doc_id", $"score", $"rank")
      val got = served.orderBy($"query_id", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
      val expectQs = Seq(
        (1L, Seq("spark", "join")), (2L, Seq("merge", "scan")),
        (3L, Seq("spark"))).toDF("query_id", "terms")
      val expect = TextIndex.probeAll(expectQs, "query_id", "terms",
          idx, k = 5)
        .orderBy($"query_id", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq
      assert(got === expect,
        "served output must equal batched probeAll over first-asked terms")
      // ...and probeAll ≡ single probes is TextIndexSpec's pinned fact;
      // spot-check one query here end to end
      val single = TextIndex.probe(spark, idx, Seq("spark", "join"), k = 5)
        .select($"doc_id").as[Long].collect().toSeq
      assert(got.filter(_._1 == 1L).map(_._2) === single)
      assert(!got.exists(_._1 == 9L), "zero-match ask must emit no rows")
    } finally q.stop()
  }

  test("answers survive an index mutation between batches: old asks keep " +
      "their committed ranking, new asks see the new generation") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("serve_mut").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    TextIndex.save(docs, "doc_id", "text", idx)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String])]
    val q = StreamingJobs.probeOnArrival(
        source.toDF().toDF("query_id", "terms"), "query_id", "terms",
        idx, out, ckpt, k = 5, clearCachePerBatch = true)
      .start()
    try {
      source.addData((1L, Seq("spark", "join")))
      q.processAllAvailable()
      val a1 = spark.read.parquet(out).filter($"query_id" === 1L)
        .select($"query_id", $"doc_id", $"score", $"rank")
        .orderBy($"rank").as[(Long, Long, Double, Long)].collect().toSeq
      // single-writer mutation between batches (stream is idle): erase
      // HALF the spark-bearing docs (ids ≡ 0 mod 8), keeping matches
      TextIndex.delete(spark, idx,
        docs.filter($"doc_id" % 8 === 0).select($"doc_id"))
      source.addData((2L, Seq("spark", "join")))
      q.processAllAvailable()
      val served = spark.read.parquet(out)
        .select($"query_id", $"doc_id", $"score", $"rank")
      assert(served.filter($"query_id" === 1L).orderBy($"rank")
        .as[(Long, Long, Double, Long)].collect().toSeq === a1,
        "committed answers are immutable across index generations")
      val a2docs = served.filter($"query_id" === 2L)
        .select($"doc_id").as[Long].collect().toSet
      assert(a2docs.nonEmpty && a2docs.forall(_ % 8 != 0),
        "new asks must rank over the post-delete generation")
    } finally q.stop()
  }

  test("answer-corpus compaction: served output stays under the file " +
      "policy across many batches, committed answers byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("serve_outc").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    TextIndex.save(docs, "doc_id", "text", idx)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String])]
    val q = StreamingJobs.probeOnArrival(
        source.toDF().toDF("query_id", "terms"), "query_id", "terms",
        idx, out, ckpt, k = 5, clearCachePerBatch = false,
        outCompactFiles = Some(3))
      .start()
    try {
      (0 until 6).foreach { b =>
        source.addData((100L + b, Seq("spark", "join")))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(graft.operators.IndexMaintenance.dataFiles(spark, out) <= 4L,
      "the answers dir must stay compacted under the policy")
    val served = spark.read.parquet(out)
      .select($"query_id", $"doc_id", $"score", $"rank")
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(served.map(_._1).distinct === (0 until 6).map(100L + _),
      "every ask answered exactly once")
    // all asks share terms, so every answer block is the same ranking
    val blocks = served.groupBy(_._1).values.map(_.map(t => (t._2, t._3, t._4)))
    assert(blocks.toSet.size === 1, "compaction must not move any answer")
  }

  test("rolling-latest handoff: serving a snapshot tag isolates asks from " +
      "live mutations until a maintenance retake re-points the stream, " +
      "no restart, committed answers immutable") {
    import graft.operators.Maintenance
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("serve_retake").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    TextIndex.save(docs, "doc_id", "text", idx)
    // night 0: the cycle freezes generation 0 under the rolling tag
    Maintenance.cycle(spark, TextIndex.lifecycle, idx, "latest",
      keepLast = 3)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[String])]
    val q = StreamingJobs.probeOnArrival(
        source.toDF().toDF("query_id", "terms"), "query_id", "terms",
        idx, out, ckpt, k = 8, clearCachePerBatch = false,
        snapshotTag = Some("latest"))
      .start()
    try {
      source.addData((1L, Seq("spark", "join")))
      q.processAllAvailable()
      def servedDocs(qid: Long): Seq[Long] = spark.read.parquet(out)
        .filter($"query_id" === qid).orderBy($"rank")
        .select($"doc_id").as[Long].collect().toSeq
      val a1 = servedDocs(1L)
      assert(a1.nonEmpty)
      // LIVE index mutates (single-writer, stream idle): serving must
      // NOT see it — the frozen generation isolates asks
      TextIndex.delete(spark, idx,
        docs.filter($"doc_id" % 8 === 0).select($"doc_id"))
      source.addData((2L, Seq("spark", "join")))
      q.processAllAvailable()
      assert(servedDocs(2L) === a1,
        "pre-retake asks must serve the frozen generation, not live")
      // night 1: the cycle RETAKES the tag over the mutated live index;
      // the serving stream must pick the new generation up on its next
      // batch without a restart
      Maintenance.cycle(spark, TextIndex.lifecycle, idx, "latest",
        keepLast = 3, retakeTag = true)
      source.addData((3L, Seq("spark", "join")))
      q.processAllAvailable()
      val a3 = servedDocs(3L)
      assert(a3.nonEmpty && a3.forall(_ % 8 != 0),
        s"post-retake asks must rank over the new generation: $a3")
      assert(a3 !== a1, "the handoff must actually change the ranking")
      assert(servedDocs(1L) === a1 && servedDocs(2L) === a1,
        "committed answers stay immutable across the handoff")
    } finally q.stop()
  }

  test("vectorProbeOnArrival: streamed ANN asks equal batch probeSaved; " +
      "write-once under redelivery") {
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Seq[Double] =
      Seq.tabulate(8)(d => if (d == i % 4) 10.0 + (i % 4) else 0.001 * i)
    val corpus = (0 until 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("serve_vec").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    val pq = graft.operators.ProductQuantizer.fit(
      corpus, "vec_id", "embedding", m = 2, k = 4, iters = 2)
    val coarse = graft.operators.KMeans.fit(
      corpus, "vec_id", "embedding", k = 4, iters = 2)
    graft.operators.ProductQuantizer.save(
      corpus, "vec_id", "embedding", coarse, pq, idx, residual = false)
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingJobs.vectorProbeOnArrival(
        source.toDF().toDF("query_id", "embedding"), "query_id", "embedding",
        idx, out, ckpt, k = 5, nProbe = 4, clearCachePerBatch = false)
      .start()
    try {
      source.addData((101L, vec(1)), (101L, vec(1)), (102L, vec(2)))
      q.processAllAvailable()
      source.addData((101L, vec(3))) // re-ask: write-once keeps batch 1
      q.processAllAvailable()
      val served = spark.read.parquet(out)
        .select($"query_id", $"rank", $"id", $"approx_dist")
        .orderBy($"query_id", $"rank")
        .as[(Long, Long, Long, Double)].collect().toSeq
      val expect = graft.operators.ProductQuantizer.probeSaved(
          Seq((101L, vec(1)), (102L, vec(2))).toDF("query_id", "embedding"),
          "query_id", "embedding", spark, idx, k = 5, nProbe = 4)
        .orderBy($"query_id", $"rank")
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(served === expect)
    } finally q.stop()
  }
}
