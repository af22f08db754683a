package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IndexMaintenance, IndexSnapshots, Maintenance,
  TextIndex}

/** The one-call nightly cycle: recover → compact-if-fragmented → fsck
  * gate → incremental snapshot → prune. Order and abort semantics. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def words(seed: String, n: Int): String =
    (1 to n).map(i => s"w${seed}_$i").mkString(" ")
  private lazy val docs = (1 to 30)
    .map(i => (i.toLong, words(s"c$i", 20) + (if (i % 3 == 0) " spark" else "")))
    .toDF("doc_id", "text").cache()

  test("three nights over a mutating text index: compaction fires when " +
      "fragmented, snapshots accrete incrementally, retention holds, " +
      "answers never change") {
    val path = Files.createTempDirectory("mx_tx").toString
    TextIndex.save(docs.filter($"doc_id" <= 10), "doc_id", "text", path)
    def probe() = TextIndex.probe(spark, path, Seq("spark"), k = 10)
      .collect().toSeq
    def night(tag: String) = Maintenance.cycle(spark, TextIndex.lifecycle,
        path, tag, keepLast = 2)
      .as[(String, Boolean, Long, String, Long, String)].collect().head
    val n1 = night("d1")
    assert(n1._1 === "text" && n1._3 === 6L && n1._4 === "d1" && n1._5 === 0L)
    // day 2: several small appends fragment the postings
    (11 to 26 by 4).foreach { lo =>
      TextIndex.append(docs.filter($"doc_id" >= lo && $"doc_id" < lo + 4),
        "doc_id", "text", path)
    }
    assert(IndexMaintenance.needsCompact(spark, path, 4),
      "fixture must be fragmented before night 2")
    val before = probe()
    val n2 = night("d2")
    assert(n2._2, "night 2 must compact")
    assert(!IndexMaintenance.needsCompact(spark, path, 4))
    assert(probe() === before, "maintenance never changes answers")
    // day 3: quiet day — no compaction, snapshot shares every object
    val n3 = night("d3")
    assert(!n3._2, "quiet day must not compact")
    assert(n3._5 === 1L && n3._6 === "d1", "retention drops the oldest")
    assert(IndexSnapshots.list(spark, path).select($"tag")
      .as[String].collect().toSeq === Seq("d2", "d3"))
    // d2 and d3 froze the same generation: restore either, same probe
    IndexSnapshots.restore(spark, path, "d2")
    assert(probe() === before)
  }

  test("fsck failure aborts the cycle BEFORE the snapshot; standing " +
      "snapshots remain the restore candidates") {
    val path = Files.createTempDirectory("mx_abort").toString
    TextIndex.save(docs, "doc_id", "text", path)
    Maintenance.cycle(spark, TextIndex.lifecycle, path, "good",
      keepLast = 3)
    // corrupt BETWEEN artifacts: drop a doc from the sidecar only
    val side = spark.read.parquet(s"$path/docs").cache()
    side.count()
    side.filter($"doc_id" =!= 3L).write.mode("overwrite")
      .parquet(s"$path/docs")
    side.unpersist()
    spark.catalog.refreshByPath(path)
    val e = intercept[IllegalStateException] {
      Maintenance.cycle(spark, TextIndex.lifecycle, path, "bad",
        keepLast = 3)
    }
    assert(e.getMessage.contains("fsck failed"))
    assert(IndexSnapshots.list(spark, path).select($"tag")
      .as[String].collect().toSeq === Seq("good"),
      "no snapshot of the corrupt generation; the good one stands")
    // the documented repair: restore the standing snapshot, rerun
    IndexSnapshots.restore(spark, path, "good")
    Maintenance.cycle(spark, TextIndex.lifecycle, path, "bad",
      keepLast = 3)
    assert(IndexSnapshots.list(spark, path).count() === 2L)
  }

  test("retakeTag: a rolling-latest tag is droppable and retaken; " +
      "without it the duplicate tag fails loudly") {
    val path = Files.createTempDirectory("mx_retake").toString
    TextIndex.save(docs, "doc_id", "text", path)
    Maintenance.cycle(spark, TextIndex.lifecycle, path, "latest",
      keepLast = 5)
    intercept[IllegalArgumentException] {
      Maintenance.cycle(spark, TextIndex.lifecycle, path, "latest",
        keepLast = 5)
    }
    TextIndex.delete(spark, path,
      docs.filter($"doc_id" % 5 === 0).select($"doc_id"))
    Maintenance.cycle(spark, TextIndex.lifecycle, path, "latest",
      keepLast = 5, retakeTag = true)
    // the retaken tag serves the NEW generation
    val atLatest = IndexSnapshots.at(spark, path, "latest")
    assert(TextIndex.probe(spark, atLatest, Seq("spark"), k = 10)
      .collect().toSeq ===
      TextIndex.probe(spark, path, Seq("spark"), k = 10).collect().toSeq)
  }

  test("all four families run a clean cycle end to end") {
    def vec(i: Int): Seq[Double] =
      Seq.tabulate(8)(d => if (d == i % 4) 10.0 + (i % 4) else 0.001 * i)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val mh = Files.createTempDirectory("mx_mh").toString
    graft.operators.MinHashIndex.save(docs, "doc_id", "text", mh)
    val pq = Files.createTempDirectory("mx_pq").toString
    val pqm = graft.operators.ProductQuantizer.fit(
      corpus, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val coarse = graft.operators.KMeans.fit(
      corpus, "vec_id", "embedding", k = 4, iters = 1)
    graft.operators.ProductQuantizer.save(
      corpus, "vec_id", "embedding", coarse, pqm, pq, residual = false)
    val ivf = Files.createTempDirectory("mx_ivf").toString
    val im = graft.operators.IvfIndex.fit(
      corpus, "vec_id", "embedding", nLists = 4, iters = 2)
    graft.operators.IvfIndex.save(corpus, "vec_id", "embedding", im, ivf)
    for ((fam, p) <- Seq(
        graft.operators.MinHashIndex.lifecycle -> mh,
        graft.operators.ProductQuantizer.lifecycle -> pq,
        graft.operators.IvfIndex.lifecycle -> ivf)) {
      val r = Maintenance.cycle(spark, fam, p, "n1", keepLast = 1)
        .as[(String, Boolean, Long, String, Long, String)].collect().head
      assert(r._4 === "n1" && r._3 >= 3L, s"${fam.name}: $r")
      assert(IndexSnapshots.list(spark, p).count() === 1L)
    }
  }
}
