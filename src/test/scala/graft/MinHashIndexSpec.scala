package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MinHashIndex}

class MinHashIndexSpec extends SparkSpec {
  import spark.implicits._

  // corpus: 30 distinct docs; batch: 5 verbatim copies, 5 near-copies
  // (one token changed out of ~40), 5 fresh docs
  private def words(seed: String, n: Int): String =
    (1 to n).map(i => s"w${seed}_$i").mkString(" ")
  private lazy val corpus = (1 to 30).map(i => (i.toLong, words(s"c$i", 40)))
    .toDF("doc_id", "text").cache()
  private lazy val batch = (
    (101 to 105).map(i => (i.toLong, words(s"c${i - 100}", 40))) ++
    (111 to 115).map { i =>
      val base = words(s"c${i - 110}", 40).split(" ")
      (i.toLong, (base.take(20) :+ "CHANGED").++(base.drop(21)).mkString(" "))
    } ++
    (121 to 125).map(i => (i.toLong, words(s"fresh$i", 40)))
  ).toDF("doc_id", "text").cache()

  private lazy val indexPath = {
    val dir = Files.createTempDirectory("mh_index").toString
    MinHashIndex.save(corpus, "doc_id", "text", dir)
    dir
  }

  test("dedupOnArrival: probe drop, intra-batch keeper, index learns each batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def nearCopy(seed: String): String = {
      val base = words(seed, 40).split(" ")
      (base.take(20) :+ "CHANGED").++(base.drop(21)).mkString(" ")
    }
    val dir = Files.createTempDirectory("mh_stream").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    MinHashIndex.save(corpus, "doc_id", "text", idx)
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingJobs.dedupOnArrival(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, out, ckpt, clearCachePerBatch = false)
      .start()
    try {
      source.addData(
        (201L, words("c1", 40)),       // verbatim copy of corpus doc 1
        (202L, nearCopy("c2")),        // near-copy of corpus doc 2
        (203L, words("freshA", 40)),   // genuinely new
        (204L, nearCopy("freshA")),    // intra-batch near-dup of 203
        (205L, words("freshB", 40)))   // genuinely new
      q.processAllAvailable()
      val out1 = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
      assert(out1 === Set(203L, 205L),
        "corpus dups probe-dropped; intra-batch cluster keeps the min id")
      // the next batch probes against an index that LEARNED batch 1
      source.addData(
        (301L, nearCopy("freshA")),    // near-dups doc 203, accepted last batch
        (302L, words("freshC", 40)))   // genuinely new
      q.processAllAvailable()
      val out2 = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
      assert(out2 === Set(203L, 205L, 302L),
        "the index absorbed batch 1's survivors before batch 2 probed")
    } finally q.stop()
  }

  test("dedupOnArrival survives a query restart on the same checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def nearCopy(seed: String): String = {
      val base = words(seed, 40).split(" ")
      (base.take(20) :+ "CHANGED").++(base.drop(21)).mkString(" ")
    }
    val dir = Files.createTempDirectory("mh_restart").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    MinHashIndex.save(corpus, "doc_id", "text", idx)
    val source = MemoryStream[(Long, String)]
    def start() = graft.streaming.StreamingJobs.dedupOnArrival(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, out, ckpt, clearCachePerBatch = false)
      .start()
    val q1 = start()
    try {
      source.addData((401L, words("rsA", 40)), (402L, words("rsB", 40)))
      q1.processAllAvailable()
    } finally q1.stop()
    // a NEW query on the same checkpoint: offsets resume, the index and
    // output state carry over — batch 2's near-dup of a batch-1 doc drops
    val q2 = start()
    try {
      source.addData((501L, nearCopy("rsA")), (502L, words("rsC", 40)))
      q2.processAllAvailable()
      val outIds = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
      assert(outIds === Set(401L, 402L, 502L),
        "restart resumed cleanly: batch-1 survivors intact, near-dup of 401 dropped")
    } finally q2.stop()
  }

  test("probe finds verbatim and near-copies, not fresh docs") {
    val hits = MinHashIndex.probe(batch, "doc_id", "text", indexPath,
        minEstJac = 0.5)
      .as[(Long, Long, Double)].collect()
    val byBatch = hits.groupBy(_._1)
    // every verbatim copy hits its source with estimate 1.0
    for (i <- 101 to 105) {
      val h = byBatch.get(i.toLong).map(_.filter(_._2 == (i - 100).toLong))
      assert(h.exists(_.nonEmpty), s"verbatim copy $i missed")
      assert(h.get.head._3 === 1.0, s"verbatim copy $i estimate")
    }
    // every near-copy (one token of ~40 changed → true J ≈ 0.85) hits
    for (i <- 111 to 115) {
      assert(byBatch.get(i.toLong).exists(_.exists(_._2 == (i - 110).toLong)),
        s"near-copy $i missed")
    }
    // fresh docs match nothing
    for (i <- 121 to 125) assert(!byBatch.contains(i.toLong), s"fresh $i matched")
  }

  test("delete == rebuild: probe after delete matches an index saved without " +
      "the ids; deleted corpus docs stop matching their copies") {
    val dirA = Files.createTempDirectory("mh_del_a").toString
    val dirB = Files.createTempDirectory("mh_del_b").toString
    MinHashIndex.save(corpus, "doc_id", "text", dirA)
    // forget corpus docs 1-3: their verbatim copies 101-103 must stop hitting
    val delIds = corpus.filter($"doc_id" <= 3).select($"doc_id")
    MinHashIndex.delete(spark, dirA, delIds)
    MinHashIndex.save(corpus.filter($"doc_id" > 3), "doc_id", "text", dirB)
    def hits(dir: String) = MinHashIndex.probe(batch, "doc_id", "text", dir,
        minEstJac = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(h => (h._1, h._2)).toSeq
    val got = hits(dirA)
    assert(got === hits(dirB),
      "post-delete probe must equal the rebuilt-without-ids index")
    assert(!got.exists(_._2 <= 3), "a deleted corpus id surfaced")
    assert(got.exists(_._2 > 3), "surviving corpus ids must still match")
    // idempotent rerun, then absent-ids no-op
    MinHashIndex.delete(spark, dirA, delIds)
    MinHashIndex.delete(spark, dirA, spark.range(5000, 5003).toDF("doc_id"))
    assert(hits(dirA) === got)
    // compact after delete must not resurrect deleted rows or move answers
    MinHashIndex.compact(spark, dirA)
    assert(hits(dirA) === got, "compact changed post-delete probe answers")
  }

  test("upsert == rebuild-with-replacements: edited docs serve only their " +
      "new signatures, fresh docs insert") {
    val dirA = Files.createTempDirectory("mh_ups_a").toString
    val dirB = Files.createTempDirectory("mh_ups_b").toString
    MinHashIndex.save(corpus, "doc_id", "text", dirA)
    // docs 1-5 edited to entirely different text; 201-203 are new
    val ups = (
      (1 to 5).map(i => (i.toLong, words(s"edit$i", 40))) ++
      (201 to 203).map(i => (i.toLong, words(s"new$i", 40)))
    ).toDF("doc_id", "text")
    MinHashIndex.upsert(ups, "doc_id", "text", dirA)
    MinHashIndex.save(
      corpus.filter($"doc_id" > 5).unionByName(ups), "doc_id", "text", dirB)
    // probes: a copy of doc 1's OLD text (must hit nothing), a copy of its
    // NEW text (must hit doc 1), a copy of untouched doc 10 (still hits)
    val probes = Seq(
      (901L, words("c1", 40)),
      (902L, words("edit1", 40)),
      (903L, words("c10", 40)),
      (904L, words("new202", 40))).toDF("doc_id", "text")
    def hits(dir: String) =
      MinHashIndex.probe(probes, "doc_id", "text", dir, minEstJac = 0.5)
        .as[(Long, Long, Double)].collect().sortBy(h => (h._1, h._2)).toSeq
    val got = hits(dirA)
    assert(got === hits(dirB),
      "post-upsert probe must equal the rebuilt-with-replacements index")
    assert(!got.exists(h => h._1 === 901L && h._2 === 1L),
      "an upserted id still serves its OLD signature")
    assert(got.exists(h => h._1 === 902L && h._2 === 1L),
      "an upserted id must serve its new signature")
    assert(got.exists(h => h._1 === 903L && h._2 === 10L))
    assert(got.exists(h => h._1 === 904L && h._2 === 202L),
      "a fresh id must have been inserted")
    // idempotent rerun
    MinHashIndex.upsert(ups, "doc_id", "text", dirA)
    assert(hits(dirA) === got)
  }

  test("upsertMinHashOnArrival: streamed edits stop old-signature matches, " +
      "fresh ids insert, redelivery converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mh_upstream").toString
    val (idx, ckpt) = (s"$dir/index", s"$dir/ckpt")
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingJobs.upsertMinHashOnArrival(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, ckpt, clearCachePerBatch = false)
      .start()
    try {
      // batch 1 cold-starts the index with the corpus
      source.addData((1 to 30).map(i => (i.toLong, words(s"c$i", 40))): _*)
      q.processAllAvailable()
      // batch 2: docs 1-3 EDITED to new content + one fresh doc; then
      // batch 3 redelivers batch 2 verbatim
      val edits = (1 to 3).map(i => (i.toLong, words(s"edit$i", 40))) :+
        (400L, words("new400", 40))
      source.addData(edits: _*)
      q.processAllAvailable()
      source.addData(edits: _*)
      q.processAllAvailable()
      val probes = Seq(
        (901L, words("c1", 40)),    // old text of an edited doc
        (902L, words("edit2", 40)), // new text of an edited doc
        (903L, words("c10", 40)),   // untouched doc
        (904L, words("new400", 40))).toDF("doc_id", "text")
      val hits = MinHashIndex.probe(probes, "doc_id", "text", idx,
          minEstJac = 0.5)
        .as[(Long, Long, Double)].collect().toSeq
      assert(!hits.exists(h => h._1 == 901L && h._2 == 1L),
        "an edited id still matches its OLD signature")
      assert(hits.exists(h => h._1 == 902L && h._2 == 2L))
      assert(hits.exists(h => h._1 == 903L && h._2 == 10L))
      assert(hits.exists(h => h._1 == 904L && h._2 == 400L))
      // converged index == batch rebuild with the replacements
      val rebuilt = s"$dir/rebuilt"
      MinHashIndex.save(
        ((4 to 30).map(i => (i.toLong, words(s"c$i", 40))) ++ edits)
          .toDF("doc_id", "text"), "doc_id", "text", rebuilt)
      val viaRebuilt = MinHashIndex.probe(probes, "doc_id", "text", rebuilt,
          minEstJac = 0.5)
        .as[(Long, Long, Double)].collect().toSeq.sortBy(h => (h._1, h._2))
      assert(hits.sortBy(h => (h._1, h._2)) === viaRebuilt)
    } finally q.stop()
  }

  test("a cold-start save crash self-heals in upsertMinHashOnArrival: " +
      "unreadable meta means no save ever completed, so the replay re-saves") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mh_coldcrash").toString
    val (idx, ckpt) = (s"$dir/index", s"$dir/ckpt")
    val batch = (1 to 10).map(i => (i.toLong, words(s"cc$i", 40)))
    // simulate save dying AFTER sigs, BEFORE meta: the state a sigs-keyed
    // existence probe wedged forever (upsert's meta read failed every restart)
    MinHashIndex.save(batch.toDF("doc_id", "text"), "doc_id", "text", idx)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$idx/meta"), true))
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingJobs.upsertMinHashOnArrival(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, ckpt, clearCachePerBatch = false)
      .start()
    try {
      source.addData(batch: _*)
      q.processAllAvailable()
    } finally q.stop()
    val probes = Seq((901L, words("cc3", 40))).toDF("doc_id", "text")
    val hits = MinHashIndex.probe(probes, "doc_id", "text", idx,
      minEstJac = 0.5).as[(Long, Long, Double)].collect().toSeq
    assert(hits.exists(h => h._1 == 901L && h._2 == 3L),
      s"stream must re-save the crashed cold start, got $hits")
  }

  test("auto-compact on upsertMinHashOnArrival: file growth bounded by " +
      "the policy, answers unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mh_upac").toString
    val (idx, ckpt) = (s"$dir/index", s"$dir/ckpt")
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingJobs.upsertMinHashOnArrival(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, ckpt, clearCachePerBatch = false,
        autoCompactFilesPerDir = Some(2))
      .start()
    try {
      for (b <- 0 until 6) {
        source.addData((1 to 5).map(i =>
          ((b * 10 + i).toLong, words(s"s${b}_$i", 40))): _*)
        q.processAllAvailable()
      }
      assert(!graft.operators.IndexMaintenance.needsCompact(spark, idx, 2),
        "in-stream compaction must keep fragmentation under the policy")
      // converged index == batch rebuild of everything streamed
      val all = (0 until 6).flatMap(b => (1 to 5).map(i =>
        ((b * 10 + i).toLong, words(s"s${b}_$i", 40)))).toDF("doc_id", "text")
      val rebuilt = s"$dir/rebuilt"
      MinHashIndex.save(all, "doc_id", "text", rebuilt)
      val probes = Seq((901L, words("s2_3", 40)), (902L, words("s5_1", 40)))
        .toDF("doc_id", "text")
      def hits(p: String) = MinHashIndex.probe(probes, "doc_id", "text", p,
        minEstJac = 0.5).collect().toSeq.sortBy(_.toString)
      assert(hits(idx) === hits(rebuilt))
    } finally q.stop()
  }

  test("auto-compact on dedupOnArrival: file growth bounded by the " +
      "policy, dedup verdicts unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mh_ddac").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    MinHashIndex.save(corpus, "doc_id", "text", idx)
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingJobs.dedupOnArrival(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, out, ckpt, clearCachePerBatch = false,
        autoCompactFilesPerDir = Some(2))
      .start()
    try {
      for (b <- 0 until 5) {
        source.addData((1 to 4).map(i =>
          ((200 + b * 10 + i).toLong, words(s"f${b}_$i", 40))): _*)
        q.processAllAvailable()
      }
      assert(!graft.operators.IndexMaintenance.needsCompact(spark, idx, 2),
        "in-stream compaction must keep fragmentation under the policy")
      // all 20 fresh docs admitted; the compacted index still screens a
      // corpus dup AND a dup of a streamed survivor
      assert(spark.read.parquet(out).count() === 20L)
      source.addData(
        (501L, words("c1", 40)),     // verbatim copy of corpus doc 1
        (502L, words("f2_3", 40)),   // copy of a streamed survivor
        (503L, words("brandnew", 40)))
      q.processAllAvailable()
      val ids = spark.read.parquet(out).select($"doc_id")
        .as[Long].collect().toSet
      assert(ids.contains(503L) && !ids.contains(501L) && !ids.contains(502L),
        "compacted index must still screen corpus and streamed dups")
    } finally q.stop()
  }

  test("output-corpus compaction on dedupOnArrival: the kept-docs parquet " +
      "stays under the file policy with rows byte-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mh_outc").toString
    val (idx, out, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    MinHashIndex.save(corpus, "doc_id", "text", idx)
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingJobs.dedupOnArrival(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, out, ckpt, clearCachePerBatch = false,
        outCompactFiles = Some(3))
      .start()
    try {
      for (b <- 0 until 6) {
        source.addData((1 to 3).map(i =>
          ((400 + b * 10 + i).toLong, words(s"oc${b}_$i", 40))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // without the knob, six appended batches would hold >= 6 file sets;
    // the policy bounds the dir while preserving every kept row
    assert(graft.operators.IndexMaintenance.dataFiles(spark, out) <= 4L,
      "the output corpus must stay compacted under the policy")
    assert(spark.read.parquet(out).select($"doc_id").as[Long]
      .collect().toSet === (0 until 6).flatMap(b =>
        (1 to 3).map(i => (400 + b * 10 + i).toLong)).toSet)
    // compactParquet is idempotent and content-preserving standalone
    val before = spark.read.parquet(out).orderBy($"doc_id")
      .as[(Long, String)].collect().toSeq
    graft.sinks.Sinks.compactParquet(spark, out)
    assert(spark.read.parquet(out).orderBy($"doc_id")
      .as[(Long, String)].collect().toSeq === before)
  }

  test("stats: band/sig invariants across append; skew stat sees shared buckets") {
    val dir = Files.createTempDirectory("mh_stats").toString
    MinHashIndex.save(corpus, "doc_id", "text", dir)
    MinHashIndex.append(batch, "doc_id", "text", dir)
    val s = MinHashIndex.stats(spark, dir).as[(String, Long)].collect().toMap
    val total = corpus.count() + batch.count()
    assert(s("sig_rows") === total)
    assert(s("band_rows") === total * s("bands"),
      "sigs/bands drifted — the append crash-window staleness signal")
    assert(s("distinct_banded_ids") === total)
    // verbatim copies (101-105) hash identically in every band
    assert(s("max_bucket_size") >= 2, "copies must share a bucket")
    assert(s("n") === 3 && s("k") === 64 && s("bands") === 16 &&
      s("seed") === 42)
  }

  test("probe candidates equal the in-memory banding on the union (cross pairs)") {
    val union = corpus.unionByName(batch)
    val inMem = Dedup.minhashSignatures(union, "doc_id", "text")
    val all = Dedup.minhashCandidatePairs(inMem, "doc_id")
      .as[(Long, Long)].collect().toSet
    val cross = all.collect {
      case (a, b) if a <= 30 && b > 100 => (b, a)
      case (a, b) if b <= 30 && a > 100 => (a, b)
    }
    val probed = MinHashIndex.probe(batch, "doc_id", "text", indexPath,
        minEstJac = 0.0)
      .select($"doc_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(probed === cross,
      "persisted-index candidates must equal the in-memory LSH banding")
  }

  test("estimates track exact Jaccard within the k=64 error band") {
    val union = corpus.unionByName(batch)
    val exact = Dedup.minhashNearDupPairs(union, "doc_id", "text", minJac = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(p => (math.max(p._1, p._2), math.min(p._1, p._2)) -> p._3).toMap
    val hits = MinHashIndex.probe(batch, "doc_id", "text", indexPath,
        minEstJac = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(hits.nonEmpty)
    hits.foreach { case (b, c, est) =>
      exact.get((b, c)).foreach { j =>
        assert(math.abs(est - j) <= 0.25, s"pair ($b,$c): est $est vs exact $j")
      }
    }
  }

  test("dropSeenNearDups removes copies and near-copies, keeps fresh docs") {
    val kept = MinHashIndex.dropSeenNearDups(batch, "doc_id", "text",
        indexPath, minEstJac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === (121 to 125).map(_.toLong).toSet)
  }

  test("no signature array or text in any exchange key") {
    val plan = MinHashIndex.probe(batch, "doc_id", "text", indexPath,
      minEstJac = 0.5).queryExecution.executedPlan.toString
    "hashpartitioning\\([^)]*\\)".r.findAllIn(plan).foreach { p =>
      assert(!p.contains("sig#") && !p.contains("__sa#") &&
        !p.contains("__sb#") && !p.contains("text#"),
        s"payload column used as a partitioning key: $p")
    }
  }
  test("probe leaves nothing cached: safe for unbounded ingest loops") {
    // diff, not emptiness: the SparkContext (and its cache registry) is
    // shared by concurrently-running suites whose own .cache() calls are
    // none of this test's business — only NEW entries convict the probe
    val before = spark.sparkContext.getPersistentRDDs.keySet
    MinHashIndex.probe(batch, "doc_id", "text", indexPath, minEstJac = 0.5)
      .count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty,
      "probe must not grow executor storage across foreachBatch invocations")
  }

  test("sig_agreement codegen kernel equals the interpreted estimator bit-for-bit") {
    val sigs = Dedup.minhashSignatures(corpus.unionByName(batch), "doc_id", "text")
      .select($"doc_id".as("id"), $"sig")
    val paired = sigs.as("x").join(sigs.as("y"), $"x.id" < $"y.id")
      .select($"x.sig".as("sa"), $"y.sig".as("sb"))
    val both = paired.select(
        graft.functions.expressions.SketchExpressions
          .sig_agreement($"sa", $"sb").as("native"),
        expr("""aggregate(zip_with(sa, sb, (a, b) -> if(a = b, 1, 0)),
               |  0, (acc, x) -> acc + x) / cast(64 as double)""".stripMargin)
          .as("interpreted"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1)) // exact, not approx
    }
    // and it is registered as a SQL function
    val viaSql = spark.sql("SELECT sig_agreement(array(1L, 2L, 3L, 4L), " +
      "array(1L, 9L, 3L, 8L))").head().getDouble(0)
    assert(viaSql === 0.5)
  }

  test("compact shrinks append-accreted files; probe results are identical") {
    val dir = Files.createTempDirectory("mh_compact").toString
    MinHashIndex.save(corpus, "doc_id", "text", dir)
    // simulate continuous ingest: many tiny appends accrete files per band
    for (i <- 0 until 5) {
      val b = Seq((1000L + i, words(s"app$i", 40))).toDF("doc_id", "text")
      MinHashIndex.append(b, "doc_id", "text", dir)
    }
    def parquetFiles(sub: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir, sub)).count(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles("bands")
    val hitsBefore = MinHashIndex.probe(batch, "doc_id", "text", dir, minEstJac = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    MinHashIndex.compact(spark, dir)
    val after = parquetFiles("bands")
    val hitsAfter = MinHashIndex.probe(batch, "doc_id", "text", dir, minEstJac = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(hitsAfter === hitsBefore, "compaction must preserve probe results exactly")
    // 6 write batches × 16 bands before; ~1 file per band after
    assert(before >= 6 * 16, s"expected accreted files, got $before")
    assert(after <= 16 + 4, s"compaction should leave ~one file per band, got $after")
    // a second compact is a no-op shape-wise (idempotent)
    MinHashIndex.compact(spark, dir)
    assert(MinHashIndex.probe(batch, "doc_id", "text", dir, minEstJac = 0.3)
      .as[(Long, Long, Double)].collect().toSet === hitsBefore)
  }

  test("compact rerun after a crash in the rename window recovers the index") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val dir = Files.createTempDirectory("mh_crash").toString
    MinHashIndex.save(corpus, "doc_id", "text", dir)
    MinHashIndex.append(Seq((2000L, words("extra", 40))).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    def hits() = MinHashIndex.probe(batch, "doc_id", "text", dir, minEstJac = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val expected = hits()
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new Path(s"$dir/bands")
    val tmp = new Path(s"$dir/bands_compact")
    val old = new Path(s"$dir/bands_old")
    val fs = live.getFileSystem(conf)
    // the crash state: tmp fully written, live staged aside, never promoted
    assert(FileUtil.copy(fs, live, fs, tmp, false, conf))
    assert(fs.rename(live, old))
    MinHashIndex.compact(spark, dir)
    assert(fs.exists(live) && !fs.exists(tmp) && !fs.exists(old))
    assert(hits() === expected, "recovered index probes identically")
  }

  test("ingest cycle survives restart: checkpointed resume skips committed " +
      "batches, at-least-once redelivery self-dedups, compact mid-cadence") {
    import org.apache.spark.sql.{DataFrame, Dataset, Row}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mh_restart").toString
    val ckpt = Files.createTempDirectory("mh_restart_ckpt").toString
    MinHashIndex.save(Seq((1L, words("seed", 40))).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // the foreachBatch cycle under test — identical for live stream and
    // simulated redelivery
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    def cycle(batch: DataFrame): Unit = {
      val fresh = MinHashIndex.dropSeenNearDups(
        batch, "doc_id", "text", dir, minEstJac = 0.5)
      val kept = fresh.select("doc_id").as[Long].collect()
      if (kept.nonEmpty) MinHashIndex.append(fresh, "doc_id", "text", dir)
      admitted.synchronized { admitted ++= kept }
      spark.catalog.clearCache()
      ()
    }
    val source = MemoryStream[(Long, String)]
    def startQuery() = source.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt) // reliable checkpoint: survives stop
      .foreachBatch((b: Dataset[Row], _: Long) => cycle(b.toDF()))
      .start()
    val q1 = startQuery()
    source.addData((10L, words("novelA", 40)), (11L, words("seed", 40)))
    q1.processAllAvailable()
    q1.stop() // "kill" after the batch committed
    assert(admitted.toSet === Set(10L), s"batch 1: $admitted")
    // restart from the checkpoint: the committed batch must NOT replay
    val q2 = startQuery()
    source.addData((20L, words("novelA", 40)), (21L, words("novelB", 40)))
    q2.processAllAvailable()
    assert(admitted.sorted.toSeq === Seq(10L, 21L),
      s"restart must not re-admit batch 1 and must drop dups of it: $admitted")
    // maintenance compact between micro-batches (the single-writer window)
    MinHashIndex.compact(spark, dir)
    val batch3 = Seq((30L, words("novelB", 40)), (31L, words("novelC", 40)))
    source.addData(batch3: _*)
    q2.processAllAvailable()
    q2.stop()
    assert(admitted.sorted.toSeq === Seq(10L, 21L, 31L),
      s"post-compact batch must screen against the compacted index: $admitted")
    // the at-least-once window: a crash AFTER append but BEFORE the offset
    // commit redelivers the batch. The cycle is idempotent by construction:
    // every admitted doc now verbatim-matches itself in the index and drops.
    val sigCount = spark.read.parquet(s"$dir/sigs").count()
    cycle(batch3.toDF("doc_id", "text"))
    assert(spark.read.parquet(s"$dir/sigs").count() === sigCount,
      "redelivered batch must not append duplicate signatures")
    assert(admitted.sorted.toSeq === Seq(10L, 21L, 31L),
      s"redelivery must admit nothing: $admitted")
  }

  test("continuous ingest: per-micro-batch screen -> drop -> append via foreachBatch") {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mh_stream").toString
    // seed the index with one known doc
    MinHashIndex.save(Seq((1L, words("seed", 40))).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val source = MemoryStream[(Long, String)]
    val q = source.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the continuous-ingest cycle: screen against the standing index,
        // drop near-dups, admit survivors into the index
        val fresh = MinHashIndex.dropSeenNearDups(
          batch.toDF(), "doc_id", "text", dir, minEstJac = 0.5)
        val kept = fresh.select("doc_id").as[Long].collect()
        if (kept.nonEmpty) MinHashIndex.append(fresh, "doc_id", "text", dir)
        admitted.synchronized { admitted ++= kept }
        spark.catalog.clearCache()
        ()
      }
      .start()
    try {
      // batch 1: one dup of the seed + one fresh doc
      source.addData((10L, words("seed", 40)), (11L, words("novel", 40)))
      q.processAllAvailable()
      // batch 2: a near-dup (one token changed) of batch-1's ADMITTED doc
      // + one fresh doc — catches the index actually growing
      val near11 = {
        val b = words("novel", 40).split(" ")
        (b.take(5) :+ "X").++(b.drop(6)).mkString(" ")
      }
      source.addData((20L, near11), (21L, words("another", 40)))
      q.processAllAvailable()
    } finally q.stop()
    assert(admitted.toSet === Set(11L, 21L),
      s"dups of the seed AND of an earlier admitted batch must drop: $admitted")
  }
}
