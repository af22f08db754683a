package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sfDir).cache()

  lazy val exactPairs: Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJac = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

  test("corpus contains known near-duplicate pairs") {
    assert(exactPairs.nonEmpty, "fixture should contain near-dups")
  }

  test("contamination finds planted benchmark text, asymmetric by design") {
    import graft.operators.Contamination
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      // benchmark pasted inside a longer doc: containment 1.0, low jaccard
      (10L, "intro words here alpha beta gamma delta epsilon zeta and a long tail of unrelated prose"),
      // half the benchmark only: containment 0.5
      (11L, "alpha beta gamma delta plus other content"),
      (12L, "completely unrelated text with no overlap at all")).toDF("doc_id", "text")
    val hits = Contamination.ngramContainment(corpus, bench, "doc_id", "text",
        n = 3, minContainment = 0.9)
      .select($"corpus_id", $"containment").as[(Long, Double)].collect().toMap
    assert(hits.keySet === Set(10L))
    assert(hits(10L) === 1.0)
    val loose = Contamination.ngramContainment(corpus, bench, "doc_id", "text",
        n = 3, minContainment = 0.4)
      .select($"corpus_id").as[Long].collect().toSet
    assert(loose === Set(10L, 11L))
  }

  test("ppjoin prefix filtering is lossless: equals the naive exact join") {
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val naive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJac = t)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      val pp = Dedup.ppjoinJaccardPairs(docs, "doc_id", "text", n = 3, minJac = t)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      assert(pp === naive, s"ppjoin != naive at t=$t")
    }
  }

  test("minhash LSH recalls >= 90% of exact jaccard pairs, no false accepts") {
    val mh = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        n = 3, k = 64, bands = 16, minJac = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val recall = (mh intersect exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall, found ${mh.size} vs exact ${exactPairs.size}")
    // verification step re-computes exact jaccard, so no pair below threshold
    assert((mh diff exactPairs).isEmpty, "verified pairs must be a subset of exact")
  }

  test("simhash screen + exact verify equals the relational all-pairs answer") {
    // the q67 companion claim: at a generous hamming radius the SimHash
    // screen is lossless over true jaccard pairs (observed max hamming 9
    // on the fixtures), so screen-then-verify == exact, value for value
    val screened = Dedup.simhashScreenedJaccardPairs(docs, "doc_id", "text",
        n = 3, minJac = 0.5, maxHamming = 12)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJac = 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(screened === exact)
  }

  test("simhash banding is exact: finds every pair within maxHamming") {
    // The banded join must equal brute-force hamming filtering (pigeonhole).
    val fps = Dedup.simhash(docs, "doc_id", "text").cache()
    val brute = fps.as("x").join(fps.as("y"), $"x.doc_id" < $"y.doc_id")
      .withColumn("hamming", bit_count($"x.simhash".bitwiseXOR($"y.simhash")))
      .filter($"hamming" <= 6)
      .select($"x.doc_id", $"y.doc_id").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
  }

  test("simhash near-dup pairs cover the jaccard>=0.9 cluster cores") {
    val strong = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJac = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sh = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val recall = if (strong.isEmpty) 1.0
      else (sh intersect strong).size.toDouble / strong.size
    assert(recall >= 0.8, s"simhash recall $recall on strong pairs (${strong.size})")
  }

  test("jaccardPairsAuto: gate is plan-only — both branches return the exact answer") {
    val expected = exactPairs
    // corpus is below the default gate -> naive branch
    val auto = Dedup.jaccardPairsAuto(docs, "doc_id", "text", n = 3, minJac = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(auto === expected)
    // force the over-gate branch -> ppjoin, same answer
    val gated = Dedup.jaccardPairsAuto(docs, "doc_id", "text", n = 3, minJac = 0.5,
        naiveMaxDocs = 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(gated === expected)
  }

  test("jaccardPairsAuto: plan switches from naive to ppjoin above the gate") {
    // the ppjoin branch is the only one with window functions (prefix ranks)
    val below = Dedup.jaccardPairsAuto(docs, "doc_id", "text")
    assert(!below.queryExecution.optimizedPlan.toString.contains("row_number"),
      "below the gate the single-shuffle naive plan must be chosen")
    val above = Dedup.jaccardPairsAuto(docs, "doc_id", "text", naiveMaxDocs = 0)
    assert(above.queryExecution.optimizedPlan.toString.contains("row_number"),
      "above the gate the prefix-filtered ppjoin plan must be chosen")
    // boundary: the gate is inclusive — exactly-at-threshold stays naive
    val n = docs.count()
    val atGate = Dedup.jaccardPairsAuto(docs, "doc_id", "text", naiveMaxDocs = n)
    assert(!atGate.queryExecution.optimizedPlan.toString.contains("row_number"))
    val justBelow = Dedup.jaccardPairsAuto(docs, "doc_id", "text", naiveMaxDocs = n - 1)
    assert(justBelow.queryExecution.optimizedPlan.toString.contains("row_number"))
  }

  test("ppjoin at volume: the over-gate branch on a 30k-doc corpus, equal to naive") {
    // 30k synthetic docs, generated declaratively (no driver loop): doc i
    // draws 18 body tokens from a 50k vocabulary keyed by its GROUP id plus
    // 2 trailer tokens keyed by the doc itself. Docs 0..599 pair up into 300
    // near-dup groups (group = i/2, so each pair shares all 18 body tokens
    // and differs in the 2 trailers -> shingle Jaccard ~0.75); every other
    // doc is its own group and matches nothing. This is the first corpus
    // ABOVE the 20k gate, so jaccardPairsAuto takes the PPJoin branch on its
    // default settings — the branch r2 only ever ran on fixture rows.
    val nDocs = 30000L
    val body = transform(sequence(lit(1), lit(18)),
      i => concat(lit("w"), pmod(xxhash64(col("gid"), i), lit(50000))))
    val trailer = transform(sequence(lit(19), lit(20)),
      i => concat(lit("t"), pmod(xxhash64(col("id"), i), lit(50000))))
    val corpus = spark.range(nDocs)
      .withColumn("gid",
        when(col("id") < 600, floor(col("id") / 2)).otherwise(col("id")))
      .select(col("id").as("doc_id"),
        concat_ws(" ", concat(body, trailer)).as("text"))
      .cache()
    val t0 = System.nanoTime()
    val auto = Dedup.jaccardPairsAuto(corpus, "doc_id", "text", n = 3, minJac = 0.5)
    assert(auto.queryExecution.optimizedPlan.toString.contains("row_number"),
      "30k docs must route to the ppjoin branch")
    val pp = auto.select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"ppjoin over 30k docs: ${pp.size} pairs in $secs%.1f s")
    // exactly the 300 planted pairs, nothing else
    assert(pp.map(p => (p._1, p._2)) ===
      (0L until 600L by 2).map(i => (i, i + 1)).toSet)
    // lossless vs the naive branch on the same corpus
    val naive = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, minJac = 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(pp === naive)
    corpus.unpersist()
  }

  test("dropCommonSegments removes corpus boilerplate, keeps order, strict threshold") {
    // 10 docs: a universal header (df 10/10), a footer on docs 0..5
    // (df 6/10), a segment on EXACTLY 3 docs (df 3/10 — at the 0.3
    // threshold, strictly-above semantics must KEEP it), unique bodies
    val fx = (0 until 10).map { i =>
      val segs = Seq("HEADER") ++
        (if (i < 3) Seq("at threshold") else Nil) ++
        Seq(s"unique body $i", s"more text $i") ++
        (if (i < 6) Seq("FOOTER") else Nil)
      (i.toLong, segs.mkString("\n"))
    }.toDF("doc_id", "text")
    val out = Dedup.dropCommonSegments(fx, "doc_id", "text",
        sep = "\n", maxDfFrac = 0.3)
      .select($"doc_id", $"text", $"n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    out.foreach { case (i, text, nRemoved) =>
      val lines = text.split("\n").toSeq
      assert(!lines.contains("HEADER") && !lines.contains("FOOTER"), text)
      val expected = (if (i < 3) Seq("at threshold") else Nil) ++
        Seq(s"unique body $i", s"more text $i")
      assert(lines === expected, s"doc $i order/content")
      assert(nRemoved === (if (i < 6) 2L else 1L))
    }
    // boilerplate-free corpus passes through identically (threshold must
    // exceed 1/n here — on a tiny corpus every df-1 segment is "above 2%")
    val clean = (0 until 5).map(i => (i.toLong, s"only unique $i")).toDF("doc_id", "text")
    val untouched = Dedup.dropCommonSegments(clean, "doc_id", "text", maxDfFrac = 0.5)
      .select($"doc_id", $"text", $"n_removed").as[(Long, String, Long)].collect()
    assert(untouched.forall(_._3 === 0L))
    assert(untouched.map(r => r._1 -> r._2).toMap ===
      (0 until 5).map(i => i.toLong -> s"only unique $i").toMap)
  }

  test("in_sorted_longs equals linear membership over random sets") {
    val rnd = new scala.util.Random(7)
    val set = Array.fill(501)(rnd.nextLong() % 1000).distinct.sorted
    val probes = (Array.fill(2000)(rnd.nextLong() % 1000) ++ set.take(50))
      .toSeq.toDF("v")
    val got = probes.select($"v",
        graft.functions.expressions.SketchExpressions
          .in_sorted_longs($"v", set).as("hit"))
      .as[(Long, Boolean)].collect()
    val ref = set.toSet
    got.foreach { case (v, hit) => assert(hit === ref.contains(v), s"probe $v") }
    // unsorted input is rejected rather than silently wrong
    intercept[IllegalArgumentException] {
      graft.functions.expressions.SketchExpressions
        .in_sorted_longs($"v", Array(3L, 1L))
    }
  }

  test("sorted_intersect_count equals array_intersect size on real shingle arrays") {
    import graft.functions.expressions.ShingleHashes.shingle_hashes
    import graft.functions.expressions.SketchExpressions.sorted_intersect_count
    // shingle_hashes output is sorted-distinct by construction — the
    // kernel's input contract; compare against the built-in on every
    // cross pair of a doc sample, plus the empty-array edges
    val arrs = docs.limit(40).select($"doc_id",
      shingle_hashes(graft.functions.TextFunctions.tokens($"text"), 3).as("arr"))
    val pairs = arrs.as("x").join(arrs.as("y"), $"x.doc_id" <= $"y.doc_id")
      .select(
        sorted_intersect_count($"x.arr", $"y.arr").as("merge"),
        size(array_intersect($"x.arr", $"y.arr")).as("builtin"))
      .as[(Int, Int)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (m, b) => assert(m === b) }
    val edges = Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 5L, 9L), Array(5L, 9L, 11L))).toDF("a", "b")
      .select(sorted_intersect_count($"a", $"b")).as[Int].collect().toSeq
    assert(edges === Seq(0, 0, 2))
    // a null ELEMENT fails loudly instead of reading an undefined value
    // into a silently-garbage count (the check is static-type-gated, so
    // containsNull=false producers like shingle_hashes pay nothing)
    val err = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_count(array(1L, CAST(NULL AS BIGINT)), " +
        "array(1L, 2L))").collect()
    }
    assert(err.getMessage.contains("null array element"), err.getMessage)
    // nullable-typed input WITHOUT actual nulls still computes correctly
    val ok = spark.sql("SELECT sorted_intersect_count(" +
      "array(1L, CAST(2L AS BIGINT)), array(2L, 3L))").head().getInt(0)
    assert(ok === 1)
  }

  test("dropCommonSegments is idempotent at a fixed threshold") {
    // removing hot segments leaves every surviving segment's df unchanged
    // (only whole segments go), so a second pass finds nothing new
    val fx = (0 until 20).map { i =>
      val segs = Seq("HEADER") ++ Seq(s"body $i", s"tail ${i % 7}") ++
        (if (i % 2 == 0) Seq("FOOTER") else Nil)
      (i.toLong, segs.mkString("\n"))
    }.toDF("doc_id", "text")
    val once = Dedup.dropCommonSegments(fx, "doc_id", "text", maxDfFrac = 0.25)
      .select($"doc_id", $"text")
    val twice = Dedup.dropCommonSegments(once, "doc_id", "text", maxDfFrac = 0.25)
      .select($"doc_id", $"text", $"n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(twice.forall(_._3 === 0L), "second pass must remove nothing")
    assert(once.as[(Long, String)].collect().sortBy(_._1).toSeq ===
      twice.map(r => (r._1, r._2)).toSeq)
  }

  test("dropCommonSegments removal is a narrow map: no exchange touches the corpus") {
    val fx = (0 until 10).map(i => (i.toLong, s"HEADER\nbody $i")).toDF("doc_id", "text")
    val out = Dedup.dropCommonSegments(fx, "doc_id", "text", maxDfFrac = 0.5)
    // the df aggregate already ran (driver-side hot set); what remains is
    // the per-row rebuild — it must not shuffle document text
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("jaccardPairsAuto: knownCount drives the gate without a count job") {
    // a caller-supplied count above the gate flips to ppjoin even though the
    // actual corpus is tiny — and vice versa — proving the gate consults the
    // parameter, not the data
    val forcedUp = Dedup.jaccardPairsAuto(docs, "doc_id", "text",
      naiveMaxDocs = 20000L, knownCount = Some(20001L))
    assert(forcedUp.queryExecution.optimizedPlan.toString.contains("row_number"))
    val forcedDown = Dedup.jaccardPairsAuto(docs, "doc_id", "text",
      naiveMaxDocs = 20000L, knownCount = Some(5L))
    assert(!forcedDown.queryExecution.optimizedPlan.toString.contains("row_number"))
    // and both still return the exact answer
    assert(forcedUp.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      === exactPairs)
  }

  test("hot-bucket cap bounds a planted mega-bucket and audits it; cold pairs keep") {
    import graft.operators.Dedup.CappedCandidates
    def w(seed: String, n: Int): String = (1 to n).map(i => s"t${seed}_$i").mkString(" ")
    // 60 IDENTICAL docs: one signature, so one bucket of 60 in EVERY band —
    // uncapped that is 60*59/2 = 1770 pairs from each of 16 buckets.
    // Plus one true near-dup pair and some distinct docs in cold buckets.
    val nearA = w("pair", 40)
    val nearB = { val t = nearA.split(" "); (t.take(30) :+ "CHANGED").++(t.drop(31)).mkString(" ") }
    val mega = (1 to 60).map(i => (i.toLong, w("boiler", 40)))
    val rest = Seq((101L, nearA), (102L, nearB)) ++
      (111 to 120).map(i => (i.toLong, w(s"solo$i", 40)))
    val docs2 = (mega ++ rest).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs2, "doc_id", "text")
    val CappedCandidates(pairs, audit) =
      Dedup.minhashCandidatePairsCapped(sigs, "doc_id", maxBucketSize = 10)
    val got = pairs.as[(Long, Long)].collect().toSet
    // the mega-bucket's 1770 pairs are gone; the cold near-dup pair survives
    assert(got.contains((101L, 102L)), "cold-bucket true pair must survive the cap")
    assert(!got.exists { case (a, b) => a <= 60 && b <= 60 },
      s"mega-bucket candidates must be excluded, got ${got.size} pairs")
    // audit reports the skipped buckets: one 60-doc bucket per band
    val audited = audit.select($"band_idx", $"bucket_size").as[(Int, Long)].collect()
    assert(audited.length === 16, s"one over-cap bucket per band: $audited")
    assert(audited.forall(_._2 === 60L))
    // uncapped default is unchanged: the mega pairs are all there
    val uncapped = Dedup.minhashCandidatePairs(sigs, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(uncapped.count { case (a, b) => a <= 60 && b <= 60 } === 60 * 59 / 2)
    // and on the real fixture a permissive cap changes nothing
    val fixtureSigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val capped = Dedup.minhashCandidatePairsCapped(fixtureSigs, "doc_id",
      maxBucketSize = 50)
    assert(capped.pairs.as[(Long, Long)].collect().toSet ===
      Dedup.minhashCandidatePairs(fixtureSigs, "doc_id")
        .as[(Long, Long)].collect().toSet,
      "a cap above the fixture's max bucket size must not change recall")
    assert(capped.overCapBuckets.count() === 0)
  }

  test("minhash bands must tile the signature exactly") {
    val sigs = Dedup.minhashSignatures(docs.limit(5), "doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidatePairs(sigs, "doc_id", k = 64, bands = 7) // 7 ∤ 64
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidatePairs(sigs, "doc_id", k = 8, bands = 16) // bands > k
    }
  }

  test("exactDedupNarrow equals exactDedup on a unique-id corpus") {
    val a = Dedup.exactDedup(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val b = Dedup.exactDedupNarrow(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(b === a)
    // and it is idempotent
    val twice = Dedup.exactDedupNarrow(
        Dedup.exactDedupNarrow(docs, "doc_id", "text"), "doc_id", "text")
    assert(twice.count() === a.size)
  }

  test("exact dedup is idempotent and keeps min doc_id per digest") {
    val withDups = docs.union(docs.limit(10)) // inject exact duplicates
    val deduped = Dedup.exactDedup(withDups, "doc_id", "text")
    assert(deduped.count() === docs.count())
    val twice = Dedup.exactDedup(deduped, "doc_id", "text")
    assert(twice.count() === deduped.count())
  }

  test("exactDupGroups finds injected duplicates with correct counts") {
    val withDups = docs.union(docs.filter($"doc_id" < 5))
    val groups = Dedup.exactDupGroups(withDups, "doc_id", "text")
    assert(groups.count() === 5)
    assert(groups.agg(max($"dup_count")).as[Long].head() === 2L)
  }

  test("minhash signatures are deterministic across runs") {
    val s1 = Dedup.minhashSignatures(docs.limit(20), "doc_id", "text").collect()
    val s2 = Dedup.minhashSignatures(docs.limit(20), "doc_id", "text").collect()
    assert(s1.map(_.toSeq).toSet === s2.map(_.toSeq).toSet)
  }

  test("containmentPairs catches a quoted doc that Jaccard misses") {
    val small = (1 to 10).map(i => s"s$i").mkString(" ")          // 8 trigrams
    val big = ((1 to 10).map(i => s"s$i") ++ (1 to 60).map(i => s"b$i")).mkString(" ")
    val corpus = Seq((1L, small), (2L, big),
      (3L, (1 to 40).map(i => s"o$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text", minContain = 0.8)
      .as[(Long, Long, Double, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)),
      "only small-inside-big qualifies, and only in that direction")
    assert(pairs.head._3 === 1.0, "the quote is verbatim: containment 1.0")
    // the same pair under Jaccard: 8 shared / (8 + 68 - 8) ~= 0.12 — missed
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJac = 0.5)
    assert(jac.count() === 0, "Jaccard at any sane threshold misses the quote")
  }

  test("containmentPairs == brute force over the generated corpus") {
    val rnd = new scala.util.Random(7)
    // 60 docs over a small vocab so partial overlaps are common
    val corpus = (1 to 60).map { i =>
      val len = 6 + rnd.nextInt(20)
      (i.toLong, (0 until len).map(_ => s"w${rnd.nextInt(30)}").mkString(" "))
    }.toDF("doc_id", "text").cache()
    def bruteSets: Map[Long, Set[Seq[String]]] = corpus.as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> t.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.toSeq).toSet
      }.toMap
    val sets = bruteSets
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia != ib && sa.nonEmpty
        i = (sa intersect sb).size
        if i.toDouble / sa.size >= t
      } yield (ia, ib)).toSet
      val got = Dedup.containmentPairs(corpus, "doc_id", "text", minContain = t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got === want, s"threshold $t: got ${got.size}, want ${want.size}")
    }
  }

  test("containmentPairs: no document text in any exchange key") {
    val corpus = (1 to 30).map(i => (i.toLong, (1 to 20).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = Dedup.containmentPairs(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    "hashpartitioning\\([^)]*\\)".r.findAllIn(plan).foreach { p =>
      assert(!p.contains("text#"), s"document text used as a partitioning key: $p")
    }
  }

  test("hammingPairs == brute force at every radius on adversarial fingerprints") {
    // clustered fingerprints: bases plus perturbations at controlled bit
    // distances, so every radius has pairs just inside AND just outside
    val rnd = new scala.util.Random(42)
    val bases = Seq.fill(8)(rnd.nextLong())
    val fps = bases.zipWithIndex.flatMap { case (b, bi) =>
      (0 until 18).map { j =>
        var v = b
        val flips = rnd.nextInt(17) // 0..16 bit flips from the base
        (0 until flips).foreach(_ => v ^= 1L << rnd.nextInt(64))
        (bi * 100L + j, v)
      }
    } :+ (9999L, bases.head) // an exact duplicate of one base's first row
    val df = fps.toDF("id", "fp")
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
    } yield (ia, ib, java.lang.Long.bitCount(fa ^ fb))).toSet
    for (h <- Seq(0, 1, 3, 7, 12, 15)) {
      val got = Dedup.hammingPairs(df, "id", "fp", h)
        .as[(Long, Long, Int)].collect().toSet
      val want = brute.filter(_._3 <= h)
      assert(got === want, s"radius $h: got ${got.size}, want ${want.size}")
    }
  }
}
