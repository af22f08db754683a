package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Similarity
import Exact.{dsum, sqlDsum8}

/** Similarity search over the `embeddings` table (north star).
  *
  * The oracle side uses DuckDB's list_cosine_similarity over DOUBLE[] —
  * verified bit-identical to our sequential-fold arithmetic (dot /
  * (sqrt(na)*sqrt(nb)), left-to-right accumulation); outputs are rounded to
  * 6 decimals anyway so ranking is robust.
  */
object SimilarityQueries extends QueryModule {

  /** Brute-force exact cosine top-5 for 10 query vectors. */
  private def q28KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Similarity.cosineTopK(
        emb.filter($"vec_id" < 10), emb, "vec_id", "embedding", k = 5)
      .orderBy($"query_id", $"rank")
  }

  private val q28Sql =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, rank, neighbor_id, sim
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Embedding near-dup pairs, label-blocked, cosine >= 0.4. */
  private def q29NearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.nearDupPairs(Tables.embeddings(spark, dir),
        "vec_id", "embedding", blockCol = "label", minSim = 0.4)
      .orderBy($"id_a", $"id_b")
  }

  private val q29Sql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      |FROM embeddings a
      |JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  /** SemDeDup (Abbas et al., public): semantic dedup = cluster the
    * embedding space, prune cosine near-dups WITHIN each cluster, keep one
    * representative per duplicate group. Here the cluster assignment is the
    * `label` column (when this query was written a k-means assignment
    * would have been rows-only; q82 has since closed that — the same
    * workflow over REAL k-means cells, fully oracled via q81's portable
    * Lloyd — and this variant stays as the given-partition form), the within-block
    * pair stage is q29's, the grouping is star-contraction components, and
    * the representative is the component's min id. Output: the PRUNED rows
    * (vec_id, kept_id) — what a curation pipeline would anti-join away.
    * Oracle: same pairs relationally, closure via recursive CTE (the q53
    * pattern — a genuinely different algorithm from the engine's
    * alternating star contraction). */
  private def q63SemDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Similarity.nearDupPairs(Tables.embeddings(spark, dir),
      "vec_id", "embedding", blockCol = "label", minSim = 0.4)
    graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
      .filter($"node" =!= $"component")
      .select($"node".as("vec_id"), $"component".as("kept_id"))
      .orderBy($"vec_id")
  }

  private val q63Sql =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM embeddings a
      |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
      |    b.embedding::DOUBLE[]), 6) >= 0.4),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(n, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.n),
      |comp AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n)
      |SELECT node AS vec_id, component AS kept_id FROM comp
      |WHERE node <> component
      |ORDER BY vec_id""".stripMargin

  /** LSH-bucketed approximate top-k — the scale path. No SQL oracle (bucket
    * assignment is hash-based); recall vs q28 asserted in SimilaritySpec. */
  private def q30LshKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshCosineTopK(
        emb.filter($"vec_id" < 10), emb, "vec_id", "embedding",
        k = 5, nPlanes = 4, nTables = 8)
      .orderBy($"query_id", $"rank")
  }

  /** Centroid stats per label: elementwise mean over the embedding column
    * via decimal-exact per-dimension sums (posexplode + groupBy). */
  private def q31LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .filter($"pos" < 4)
      .withColumn("dim", $"pos".cast("long"))
      .groupBy($"label", $"dim")
      .agg(
        Exact.dsum($"x".cast("double"), 18, 8).as("dim_sum"),
        count(lit(1)).as("n"))
      .orderBy($"label", $"dim")
  }

  private val q31Sql =
    """SELECT label, dim, CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS dim_sum,
      |  COUNT(*) AS n
      |FROM (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings)
      |WHERE dim < 4
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Multimodal plumbing: opaque binary payloads with typed metadata.
    * The "decode" stage is a deterministic stand-in (sha256 + byte length —
    * the real image/audio decode would be a mapInPandas/mapPartitions over
    * the same binary column; see graft.operators.Multimodal). */
  private def q32BinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        $"text".cast("binary").as("payload"))
      .select(
        $"doc_id",
        sha2($"payload", 256).as("payload_sha256"),
        octet_length($"payload").cast("long").as("payload_bytes"))
      .orderBy($"doc_id")
  }

  private val q32Sql =
    """SELECT doc_id,
      |  sha256(text) AS payload_sha256,
      |  octet_length(encode(text)) AS payload_bytes
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Oracle companion for the covering-code hamming band join — the exact
    * machinery behind both the SimHash screen (q67) and the image dHash
    * near-dup chain ([[graft.operators.Multimodal]] dhashNearDupPairs,
    * until now spec-only: DuckDB can't replay a PNG decode). Fingerprints
    * are synthesized from doc_id arithmetic both engines replay exactly:
    * 16-doc clusters share a 63-bit multiplicative-mixed base and each
    * member XORs in up to three single-bit flips, so true within-cluster
    * distances span 0..6 across the radius-4 cut while cross-cluster
    * distances sit near 31. The engine side runs [[Dedup.hammingPairs]]
    * (banded, flip-expanded, exactly-once emission); the oracle
    * brute-forces all O(n²) pairs. Equality proves the ≤1-error cover
    * misses nothing, the first-tolerant-chunk rule never double-emits,
    * and the hamming arithmetic agrees — the q67 verdict, re-issued for
    * arbitrary non-SimHash fingerprints at a different radius (4 vs 12,
    * i.e. 3 chunks vs 7). */
  private def q168HammingPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = expr("doc_id DIV 16")
    val m = $"doc_id" % 16
    val p1 = (g * lit(2654435761L)) % lit(4294967296L)
    val p2 = (g * lit(1597334677L) + lit(12345L)) % lit(4294967296L)
    // 63-bit base: high 31 bits from p1, low 32 from p2 — stays positive
    // so the DuckDB replay never hits a signed-overflow error
    val base = (p1 % lit(2147483648L)) * lit(4294967296L) + p2
    val fp = (0 until 3).foldLeft(base) { (acc, j) =>
      acc.bitwiseXOR(
        when(lit(j) < m % 4,
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(((doc_id % 16) * 7 + $j * 13) % 63 AS INT))"))
          .otherwise(lit(0L)))
    }
    val fps = Tables.documents(spark, dir).select($"doc_id", fp.as("fp"))
    graft.operators.Dedup.hammingPairs(fps, "doc_id", "fp", maxHamming = 4)
      .select($"id_a", $"id_b", $"hamming".cast("long").as("hamming"))
      .orderBy($"id_a", $"id_b")
  }

  private val q168Sql =
    """WITH fp AS (
      |  SELECT doc_id,
      |    xor(xor(xor(
      |      ((((doc_id // 16) * 2654435761) % 4294967296) % 2147483648) * 4294967296
      |        + (((doc_id // 16) * 1597334677 + 12345) % 4294967296),
      |      CASE WHEN 0 < (doc_id % 16) % 4 THEN (CAST(1 AS BIGINT) << CAST(((doc_id % 16) * 7 + 0) % 63 AS INTEGER)) ELSE 0 END),
      |      CASE WHEN 1 < (doc_id % 16) % 4 THEN (CAST(1 AS BIGINT) << CAST(((doc_id % 16) * 7 + 13) % 63 AS INTEGER)) ELSE 0 END),
      |      CASE WHEN 2 < (doc_id % 16) % 4 THEN (CAST(1 AS BIGINT) << CAST(((doc_id % 16) * 7 + 26) % 63 AS INTEGER)) ELSE 0 END) AS fp
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 4
      |ORDER BY id_a, id_b""".stripMargin

  /** Deterministic constant-amplitude PCM WAV for q249: 65 windows × 4
    * samples (n = 260, the [[graft.operators.Multimodal]] eHash kernel's
    * exact window boundaries at this n), each window holding one
    * amplitude — so the engine's per-window energy sums are 4·a² with
    * count 4 and the cross-multiplied envelope-order bits reduce to
    * a(w) < a(w+1), a relation DuckDB replays exactly. Doc structure is
    * the q168 cluster trick: 8-doc groups share a pseudo-random
    * amplitude profile; member r ≠ 0 boosts ONE window ((r·8) mod 65)
    * far above the base range, flipping ≤2 order bits — true
    * within-group distances ≤ 4, cross-group ≈ 32. */
  private def q249Wav(d: Long): Array[Byte] = {
    val k = 4
    val n = 65 * k
    val g = d / 8
    val r = d % 8
    val pert = (r * 8) % 65
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val w = i / k
      // squared residue mod 900: a LINEAR profile mod 900 makes the
      // w→w+1 step constant, so nearly every order bit comes out 1 and
      // ALL groups collide within a few bits — the square decorrelates
      // consecutive windows (u stays < 1e6, so u·u fits a Long and a
      // DuckDB BIGINT alike)
      val u = (g * 2654435761L + w * 1103515245L + 12345L) % 1000003L
      val a =
        if (r > 0 && w == pert) 1200L
        else 100L + (u * u % 900L)
      val s = a.toShort
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Cross-engine verdict for the AUDIO fingerprint chain (north star):
    * [[graft.operators.Multimodal.audioEHash]] + `audioNearDupPairs`
    * were spec-only (DuckDB cannot decode WAV) — this closes the seam
    * with the q168 synthesis trick: REAL RIFF/WAVE payloads are built
    * from doc_id arithmetic on the executors (never the driver), the
    * PRODUCTION kernel decodes them (javax PCM parse, window energy
    * sums, BigInt cross-multiplied order bits, covering-code pairing),
    * and the oracle re-derives the expected envelope energies, the 64
    * order bits, and the brute-force ≤3-hamming pairs relationally.
    * One hash pins decode → envelope → bits → banded pairing end to
    * end: 'hash' rows carry each doc's 64-bit fingerprint as a bit
    * string (bin(), two's complement — no 1<<63 overflow on either
    * engine), 'pair' rows the near-dup verdicts. */
  private def q249AudioEnvelopeOracle(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val payloads = Tables.documents(spark, dir).select($"doc_id").as[Long]
      .map(d => (d, q249Wav(d))).toDF("doc_id", "payload")
    // decode ONCE: both output branches read the fingerprints, and
    // audioNearDupPairs would re-run the synthesis + decode internally
    val fps = graft.operators.Multimodal.audioEHash(payloads).toDF()
      .localCheckpoint()
    val hashRows = fps.select(lit("hash").as("kind"), $"doc_id".as("id_a"),
      lit(0L).as("id_b"), lpad(bin($"ehash"), 64, "0").as("v"))
    val pairRows = graft.operators.Dedup.hammingPairs(
        fps.filter($"status" === "decoded").select($"doc_id", $"ehash"),
        "doc_id", "ehash", maxHamming = 3)
      .select(lit("pair").as("kind"), $"id_a", $"id_b",
        $"hamming".cast("string").as("v"))
    hashRows.unionByName(pairRows).orderBy($"kind", $"id_a", $"id_b")
  }

  private val q249Sql =
    """WITH ws AS (SELECT unnest(generate_series(0, 64)) AS w),
      |amp AS (
      |  SELECT d.doc_id, ws.w,
      |    CASE WHEN (d.doc_id % 8) > 0 AND ws.w = ((d.doc_id % 8) * 8) % 65
      |         THEN 1200
      |         ELSE 100 + (((((d.doc_id // 8) * 2654435761 + ws.w * 1103515245 + 12345) % 1000003)
      |                    * (((d.doc_id // 8) * 2654435761 + ws.w * 1103515245 + 12345) % 1000003)) % 900)
      |    END AS a
      |  FROM documents d CROSS JOIN ws),
      |bits AS (
      |  SELECT x.doc_id, x.w AS i,
      |    CASE WHEN (4 * x.a * x.a) * 4 < (4 * y.a * y.a) * 4
      |         THEN 1 ELSE 0 END AS b
      |  FROM amp x JOIN amp y ON y.doc_id = x.doc_id AND y.w = x.w + 1
      |  WHERE x.w < 64),
      |h AS (
      |  SELECT doc_id,
      |    string_agg(CAST(b AS VARCHAR), '' ORDER BY i DESC) AS bits64,
      |    bit_or(CASE WHEN b = 1 THEN
      |        (CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |              ELSE (CAST(1 AS BIGINT) << i) END)
      |      ELSE 0 END) AS hv
      |  FROM bits GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    bit_count(xor(a.hv, b.hv)) AS ham
      |  FROM h a JOIN h b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.hv, b.hv)) <= 3)
      |SELECT 'hash' AS kind, doc_id AS id_a, CAST(0 AS BIGINT) AS id_b,
      |  bits64 AS v
      |FROM h
      |UNION ALL
      |SELECT 'pair' AS kind, id_a, id_b, CAST(ham AS VARCHAR) AS v
      |FROM pairs
      |ORDER BY kind, id_a, id_b""".stripMargin

  /** IVF-clustered ANN — the second scale path besides LSH. Build and
    * probe are explicitly split: `fit` trains the centroid model once (one
    * bounded sample-collection job, local Lloyd), `probe` scans only the
    * probed lists. No SQL oracle (iterative k-means); recall vs q28
    * asserted in IvfIndexSpec. */
  /** Product-quantization ADC shortlist over the embeddings fixture
    * ([[graft.operators.ProductQuantizer]]): 64-dim vectors → 8
    * subspaces × 16 centroids → 8-code rows, asymmetric-distance top-5
    * for the probe queries. Approximate by design → rows-only here; the
    * ADC identity (distance ≡ distance-to-reconstruction), code-range,
    * and shortlist-recall contracts are spec'd in PqSpec, and q28 is the
    * hash-checked exact companion. */
  private def q191PqTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val codes = graft.operators.ProductQuantizer.encode(
      emb, "vec_id", "embedding", model)
    graft.operators.ProductQuantizer.adcTopK(
        emb.filter($"vec_id" < 10), "vec_id", "embedding",
        codes, "vec_id", model, k = 5)
      .orderBy($"query_id", $"rank")
  }

  /** The PQ family's exactness escape hatch (the q70/q81 pattern applied
    * to ADC): the ENTIRE quantization chain — per-subspace Lloyd fit,
    * nearest-subcentroid encoding, asymmetric-distance scoring, top-k —
    * in a configuration DuckDB replays relationally under one hash.
    * m = 2 subspaces × k = 4 centroids × 1 Lloyd round keeps the replay
    * tractable; every convention is the house cross-engine discipline:
    * seeds are the k lowest-id subvectors, argmins compare
    * round(squared-L2, 6) with position tie-break (the q81 trick — a
    * sub-1e-6 float wobble can't flip an assignment), means are
    * DECIMAL(18,8) sums VARCHAR-routed to double, and the hashed ADC
    * distance is round(t0 + t1, 6) with the two subspace terms summed in
    * fixed order (each term is the same sequential dim-order fold in
    * both engines). Ranking keys on the ROUNDED distance + id; the raw
    * operator ranks unrounded — PqSpec pins `adcTopK` ≡ the window over
    * [[graft.operators.ProductQuantizer.adcDistances]], which is the
    * frame this query rounds. Shrinks the rows-only set: q191/q193's
    * machinery (fit/encode/ADC) is now hash-checked end to end. */
  private def q211PqExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val codes = graft.operators.ProductQuantizer.encode(
      emb, "vec_id", "embedding", model)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adist", $"id")
    graft.operators.ProductQuantizer.adcDistances(
        emb.filter($"vec_id" < 5), "vec_id", "embedding",
        codes, "vec_id", model)
      .withColumn("adist", round($"approx_dist", 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"id", $"adist")
      .orderBy($"query_id", $"rank")
  }

  /** Relational replay of the whole m=2/k=4/iters=1 PQ chain: subspace
    * slices → seed centroids → one Lloyd round (round-6 argmin, decimal
    * means) → dense positions → nearest-position codes → ADC lookups
    * summed in fixed subspace order → round-6 ranked top-10. */
  private val q211Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sub AS (
      |  SELECT vec_id, 0 AS s, v[1:32] AS sv FROM e
      |  UNION ALL
      |  SELECT vec_id, 1 AS s, v[33:64] AS sv FROM e),
      |seed AS (
      |  SELECT s, cid, sv AS c FROM (
      |    SELECT s, vec_id, sv,
      |      CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS BIGINT) AS cid
      |    FROM sub)
      |  WHERE cid < 4),
      |a1 AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT sub.vec_id, sub.s, seed.cid,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, seed.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), seed.cid) AS rn
      |    FROM sub JOIN seed ON sub.s = seed.s)
      |  WHERE rn = 1),
      |mrows AS (
      |  SELECT a1.s, a1.cid, generate_subscripts(sub.sv, 1) - 1 AS dim,
      |         CAST(unnest(sub.sv) AS DOUBLE) AS x
      |  FROM sub JOIN a1 ON sub.s = a1.s AND sub.vec_id = a1.vec_id),
      |md AS (
      |  SELECT s, cid, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
      |  FROM mrows GROUP BY s, cid, dim),
      |cb AS (
      |  SELECT s, cid, row_number() OVER (PARTITION BY s ORDER BY cid) - 1 AS pos, c
      |  FROM (SELECT s, cid, list(m ORDER BY dim) AS c FROM md GROUP BY s, cid)),
      |codes AS (
      |  SELECT vec_id, s, pos FROM (
      |    SELECT sub.vec_id, sub.s, cb.pos,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, cb.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cb.pos) AS rn
      |    FROM sub JOIN cb ON sub.s = cb.s)
      |  WHERE rn = 1),
      |t AS (
      |  SELECT q.vec_id AS query_id, x.vec_id AS id, x.s,
      |    list_sum(list_transform(list_zip(q.sv, cb.c),
      |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS td
      |  FROM codes x
      |  JOIN cb ON cb.s = x.s AND cb.pos = x.pos
      |  JOIN sub q ON q.s = x.s
      |  WHERE q.vec_id < 5),
      |adist AS (
      |  SELECT query_id, id,
      |    round(MAX(CASE WHEN s = 0 THEN td END)
      |        + MAX(CASE WHEN s = 1 THEN td END), 6) AS adist
      |  FROM t GROUP BY query_id, id),
      |ranked AS (
      |  SELECT query_id, id, adist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY adist, id) AS rank
      |  FROM adist)
      |SELECT query_id, rank, id, adist
      |FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Hybrid retrieval (BM25 ⊕ vector) with reciprocal-rank fusion — the
    * standard RAG retrieval op, composed from two already-oracled legs:
    * q119's BM25 ranking over `documents` (rank = round-6 score DESC,
    * doc_id) and q28's exact cosine top-k over `embeddings` (query
    * vec_id 0), fused by [[graft.operators.Rrf.fuse]] at kRrf = 60.
    * Ranks are integers and the fused score is two fixed-order
    * correctly-rounded divisions plus one addition, so the WHOLE fusion
    * (both leg ranks + the fused ordering) sits under the DuckDB hash —
    * no rounding needed on the score itself. The corpus-scale work is
    * in the legs (each independently scale-audited); fusion joins two
    * ≤20-row frames. */
  private def q212HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wBm = graft.operators.BoundedWindow
      .ordered($"doc_id", $"score".desc, $"doc_id")
    val bm = graft.operators.Bm25.search(Tables.documents(spark, dir),
        "doc_id", "text", Seq("spark", "merge", "join"), k = 20)
      .withColumn("r", row_number().over(wBm))
      .select($"doc_id", $"r")
    val emb = Tables.embeddings(spark, dir)
    val vec = graft.operators.Similarity.cosineTopK(
        emb.filter($"vec_id" === 0), emb, "vec_id", "embedding", k = 20)
      .select($"neighbor_id".as("doc_id"), $"rank".as("r"))
    graft.operators.Rrf.fuse(
        Seq("bm25" -> bm, "vec" -> vec), "doc_id", "r", topK = 10)
      .orderBy($"rank")
  }

  private val q212Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM d),
      |stats AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base),
      |bmscore AS (
      |  SELECT b.doc_id,
      |    round(
      |      ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |  FROM base b CROSS JOIN stats s),
      |bm AS (
      |  SELECT doc_id, r FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      |    FROM bmscore)
      |  WHERE r <= 20),
      |vec AS (
      |  SELECT doc_id, r FROM (
      |    SELECT c.vec_id AS doc_id,
      |      row_number() OVER (ORDER BY
      |        round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
      |        c.vec_id) AS r
      |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      |    WHERE q.vec_id = 0)
      |  WHERE r <= 20),
      |fused AS (
      |  SELECT COALESCE(bm.doc_id, vec.doc_id) AS doc_id,
      |    bm.r AS r_bm25, vec.r AS r_vec,
      |    COALESCE(CAST(1 AS DOUBLE) / (60 + bm.r), CAST(0 AS DOUBLE))
      |      + COALESCE(CAST(1 AS DOUBLE) / (60 + vec.r), CAST(0 AS DOUBLE)) AS rrf_score
      |  FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id)
      |SELECT rank, doc_id, r_bm25, r_vec, rrf_score FROM (
      |  SELECT doc_id, r_bm25, r_vec, rrf_score,
      |    row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
      |  FROM fused)
      |WHERE rank <= 10
      |ORDER BY rank""".stripMargin

  /** Two-stage retrieval (north star): ADC shortlist → EXACT re-rank —
    * the standard serving pattern, composed from
    * [[graft.operators.ProductQuantizer.adcDistances]] (stage 1: top-20
    * per query by round-6 asymmetric distance over the m=2/k=4/iters=1
    * replayable PQ chain, q211's config) and
    * [[graft.operators.Rerank.exactL2TopK]] (stage 2: full-precision
    * squared-L2 on the 20-row-per-query shortlist only, top-5). The
    * whole chain — fit, encode, ADC, shortlist cut, exact re-rank —
    * sits under one DuckDB hash; the plan shows a codes-only stage-1
    * scan and a broadcast-bounded re-rank join, never a corpus-wide
    * exact pass. */
  private def q215TwoStage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val codes = graft.operators.ProductQuantizer.encode(
      emb, "vec_id", "embedding", model)
    val queries = emb.filter($"vec_id" < 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adist", $"id")
    val shortlist = graft.operators.ProductQuantizer.adcDistances(
        queries, "vec_id", "embedding", codes, "vec_id", model)
      .withColumn("adist", round($"approx_dist", 6))
      .withColumn("srank", row_number().over(w))
      .filter($"srank" <= 20)
      .select($"query_id", $"id")
    graft.operators.Rerank.exactL2TopK(shortlist,
        queries, "vec_id", "embedding", emb, "vec_id", "embedding", k = 5)
      .orderBy($"query_id", $"rank")
  }

  /** q211's relational PQ replay extended two stages: the round-6 ADC
    * shortlist cut, then exact round-6 squared-L2 re-ranking of the
    * shortlist joined back to the raw vectors. */
  private val q215Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sub AS (
      |  SELECT vec_id, 0 AS s, v[1:32] AS sv FROM e
      |  UNION ALL
      |  SELECT vec_id, 1 AS s, v[33:64] AS sv FROM e),
      |seed AS (
      |  SELECT s, cid, sv AS c FROM (
      |    SELECT s, vec_id, sv,
      |      CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS BIGINT) AS cid
      |    FROM sub)
      |  WHERE cid < 4),
      |a1 AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT sub.vec_id, sub.s, seed.cid,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, seed.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), seed.cid) AS rn
      |    FROM sub JOIN seed ON sub.s = seed.s)
      |  WHERE rn = 1),
      |mrows AS (
      |  SELECT a1.s, a1.cid, generate_subscripts(sub.sv, 1) - 1 AS dim,
      |         CAST(unnest(sub.sv) AS DOUBLE) AS x
      |  FROM sub JOIN a1 ON sub.s = a1.s AND sub.vec_id = a1.vec_id),
      |md AS (
      |  SELECT s, cid, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
      |  FROM mrows GROUP BY s, cid, dim),
      |cb AS (
      |  SELECT s, cid, row_number() OVER (PARTITION BY s ORDER BY cid) - 1 AS pos, c
      |  FROM (SELECT s, cid, list(m ORDER BY dim) AS c FROM md GROUP BY s, cid)),
      |codes AS (
      |  SELECT vec_id, s, pos FROM (
      |    SELECT sub.vec_id, sub.s, cb.pos,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, cb.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cb.pos) AS rn
      |    FROM sub JOIN cb ON sub.s = cb.s)
      |  WHERE rn = 1),
      |t AS (
      |  SELECT q.vec_id AS query_id, x.vec_id AS id, x.s,
      |    list_sum(list_transform(list_zip(q.sv, cb.c),
      |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS td
      |  FROM codes x
      |  JOIN cb ON cb.s = x.s AND cb.pos = x.pos
      |  JOIN sub q ON q.s = x.s
      |  WHERE q.vec_id < 5),
      |adist AS (
      |  SELECT query_id, id,
      |    round(MAX(CASE WHEN s = 0 THEN td END)
      |        + MAX(CASE WHEN s = 1 THEN td END), 6) AS adist
      |  FROM t GROUP BY query_id, id),
      |short AS (
      |  SELECT query_id, id FROM (
      |    SELECT query_id, id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY adist, id) AS srank
      |    FROM adist)
      |  WHERE srank <= 20),
      |ex AS (
      |  SELECT sh.query_id, sh.id,
      |    round(list_sum(list_transform(list_zip(q.v, c.v),
      |      p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS dist
      |  FROM short sh
      |  JOIN e q ON q.vec_id = sh.query_id
      |  JOIN e c ON c.vec_id = sh.id)
      |SELECT query_id, rank, id, dist FROM (
      |  SELECT query_id, id, dist,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id) AS BIGINT) AS rank
      |  FROM ex)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** IVF-PQ (IVFADC) over the embeddings fixture: coarse KMeans cells ×
    * PQ codes — the two prunings multiplied, the 100 TB ANN shape
    * (probe a fraction of cells, scan 8-byte codes). Approximate →
    * rows-only; PqSpec pins the nProbe = nLists ⇒ ≡ plain-ADC limit
    * identity and the sparse-probe shortlist floor; q28 is the exact
    * companion. */
  private def q193IvfAdcTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val pq = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val coarse = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2)
    val indexed = graft.operators.KMeans
      .assign(graft.operators.ProductQuantizer
        .encode(emb, "vec_id", "embedding", pq)
        .join(emb, "vec_id"), "embedding", coarse)
      .withColumnRenamed("cluster_id", "list_id")
      .select($"vec_id", $"codes", $"list_id")
    graft.operators.ProductQuantizer.ivfAdcTopK(
        emb.filter($"vec_id" < 10), "vec_id", "embedding",
        indexed, "vec_id", pq, coarse, k = 5, nProbe = 3)
      .orderBy($"query_id", $"rank")
  }

  /** Residual-encoded IVFADC — q193's classical refinement: the PQ
    * codebook is fitted on x − c(cell(x)) and each probe's distance
    * table is built from the query's residual against that cell.
    * Tighter reconstruction for the same (m, k) budget (PqSpec pins
    * residual error < raw error and the shortlist recall floor);
    * rows-only like its siblings, exact companion q28. */
  private def q195IvfAdcResidual(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val coarse = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2)
    val pq = graft.operators.ProductQuantizer.fitResidual(
      emb, "vec_id", "embedding", coarse, m = 8, k = 16, iters = 2)
    val indexed = graft.operators.ProductQuantizer.encodeResidual(
      emb, "vec_id", "embedding", coarse, pq)
    graft.operators.ProductQuantizer.ivfAdcTopKResidual(
        emb.filter($"vec_id" < 10), "vec_id", "embedding",
        indexed, "vec_id", pq, coarse, k = 5, nProbe = 3)
      .orderBy($"query_id", $"rank")
  }

  /** Retrieval-quality harness (north star): measured recall@5 floors
    * for every approximate ANN variant in the family, against the exact
    * cosine top-5 (q28's plan) — the regression gate that turns
    * "approximate by design" (q30/q39/q191/q193/q195/q210's rows-only
    * status) into "approximate with a measured floor". Per variant:
    * per-query hit counts |ANN∩exact| as pure INTEGER rank arithmetic
    * (no float ever reaches the output), gated as min-hits and
    * mean-hits-percent floors; the MMR row gates its containment
    * contract instead (all k selections inside the exact top-20 pool
    * it draws from — provably 5/5). The oracle is the constant
    * expectation table: any variant drifting below its floor at either
    * SF flips a boolean and fails the hash. Floors are deliberately
    * conservative (≥ 20 recall points below measured at sf0.01 and
    * sf0.1) so host variance can't flip them, while a real plan
    * regression (a broken band join, a mis-pruned probe) still trips.
    * Fits are shared across variants (one PQ codebook for q191+q193's
    * configs, one coarse model for both IVFADC variants) — the harness
    * measures the SAME configurations the standing queries run. */
  private def q214AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).cache()
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.cosineTopK(queries, emb, "vec_id", "embedding",
        k = 5)
      .select($"query_id", $"neighbor_id".as("id"))

    val lsh = Similarity.lshCosineTopK(queries, emb, "vec_id", "embedding",
        k = 5, nPlanes = 4, nTables = 8)
      .select($"query_id", $"neighbor_id".as("id"), $"rank")
    val ivfModel = graft.operators.IvfIndex.fit(
      emb, "vec_id", "embedding", nLists = 16, iters = 2)
    val ivf = graft.operators.IvfIndex.probe(
        queries, emb, "vec_id", "embedding", k = 5, ivfModel, nProbe = 6)
      .select($"query_id", $"neighbor_id".as("id"), $"rank")
    val pqModel = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val codes = graft.operators.ProductQuantizer.encode(
      emb, "vec_id", "embedding", pqModel)
    val pq = graft.operators.ProductQuantizer.adcTopK(
        queries, "vec_id", "embedding", codes, "vec_id", pqModel, k = 5)
      .select($"query_id", $"id", $"rank")
    val coarse = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2)
    val indexed = graft.operators.KMeans
      .assign(codes.join(emb, "vec_id"), "embedding", coarse)
      .withColumnRenamed("cluster_id", "list_id")
      .select($"vec_id", $"codes", $"list_id")
    val ivfadc = graft.operators.ProductQuantizer.ivfAdcTopK(
        queries, "vec_id", "embedding", indexed, "vec_id", pqModel, coarse,
        k = 5, nProbe = 3)
      .select($"query_id", $"id", $"rank")
    val pqR = graft.operators.ProductQuantizer.fitResidual(
      emb, "vec_id", "embedding", coarse, m = 8, k = 16, iters = 2)
    val indexedR = graft.operators.ProductQuantizer.encodeResidual(
      emb, "vec_id", "embedding", coarse, pqR)
    val ivfadcR = graft.operators.ProductQuantizer.ivfAdcTopKResidual(
        queries, "vec_id", "embedding", indexedR, "vec_id", pqR, coarse,
        k = 5, nProbe = 3)
      .select($"query_id", $"id", $"rank")
    // MMR gates CONTAINMENT in its pool (exact top-20), not recall@5 —
    // diversification trades recall by design
    val pool20 = Similarity.cosineTopK(queries, emb, "vec_id", "embedding",
        k = 20)
      .select($"query_id", $"neighbor_id".as("id"))
    val mmr = Similarity.mmrTopK(queries, emb, "vec_id", "embedding",
        k = 5, poolSize = 20, lambda = 0.6)
      .select($"query_id", $"id", $"rank")

    /* Per-variant gate row via [[graft.operators.RankMetrics.gateRow]]:
     * recall floors (min-hits + corpus mean) in pure integer
     * arithmetic, plus GRADED floors — binary nDCG@5 (quantized
     * subset-sum DCG) and MRR — so a variant that keeps recall but
     * degrades rank ORDER (hits sliding from position 1 to position 5)
     * still trips its gate. MMR's nDCG/MRR run against its CONTAINMENT
     * reference (the pool), where its greedy first pick is the exact
     * top-1 — diversification trades exact-set rank quality by design,
     * so gating it against `exact` would measure the design choice, not
     * a regression. */
    def gate(variant: String, ann: DataFrame, ref: DataFrame,
        minHitsFloor: Int, meanPctFloor: Int, ndcgPctFloor: Int,
        mrrPctFloor: Int): DataFrame =
      graft.operators.RankMetrics.gateRow(variant, ann, ref,
        "query_id", "id", "rank", k = 5,
        minHitsFloor, meanPctFloor, ndcgPctFloor, mrrPctFloor)

    gate("ivf_nprobe6", ivf, exact, 1, 40, 40, 50)
      .unionAll(gate("ivfadc_nprobe3", ivfadc, exact, 0, 10, 10, 10))
      .unionAll(gate("ivfadc_residual_nprobe3", ivfadcR, exact, 0, 10, 10, 10))
      .unionAll(gate("lsh_4x8", lsh, exact, 1, 40, 40, 50))
      .unionAll(gate("mmr_pool_containment", mmr, pool20, 5, 100, 90, 90))
      .unionAll(gate("pq_adc_m8k16", pq, exact, 0, 10, 10, 10))
      .orderBy($"variant")
  }

  /** The constant expectation table: every variant at or above its
    * floors, n_queries = the fixture's probe-set size. */
  private val q214Sql =
    """WITH nq AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 10),
      |exp(variant, min_hits_floor, mean_pct_floor, ndcg_pct_floor, mrr_pct_floor) AS (VALUES
      |  ('ivf_nprobe6', 1, 40, 40, 50),
      |  ('ivfadc_nprobe3', 0, 10, 10, 10),
      |  ('ivfadc_residual_nprobe3', 0, 10, 10, 10),
      |  ('lsh_4x8', 1, 40, 40, 50),
      |  ('mmr_pool_containment', 5, 100, 90, 90),
      |  ('pq_adc_m8k16', 0, 10, 10, 10))
      |SELECT variant, CAST(nq.n AS BIGINT) AS n_queries,
      |  CAST(min_hits_floor AS BIGINT) AS min_hits_floor,
      |  CAST(mean_pct_floor AS BIGINT) AS mean_pct_floor,
      |  CAST(ndcg_pct_floor AS BIGINT) AS ndcg_pct_floor,
      |  CAST(mrr_pct_floor AS BIGINT) AS mrr_pct_floor,
      |  true AS pass_min, true AS pass_mean,
      |  true AS pass_ndcg, true AS pass_mrr
      |FROM exp CROSS JOIN nq
      |ORDER BY variant""".stripMargin

  /** Recall gate on the PERSISTED serving path at production nProbe
    * AFTER a full mutation chain (north star): q214 gates the
    * IN-MEMORY ANN variants and q216/q223 pin persisted EXACTNESS at
    * saturating params, but nothing gated what a user actually serves —
    * [[graft.operators.ProductQuantizer.probeSaved]] at partial nProbe
    * over an index that has lived: save(half) → append(half) →
    * delete(vec_id ≡ 0 mod 7) → compact → snapshot → poison-delete →
    * restore. The gate row (same [[graft.operators.RankMetrics
    * .gateRow]] integer arithmetic and the SAME floors as q214's
    * ivfadc_nprobe3 variant, same m=8/k=16/coarse-8 params) asserts the
    * persisted post-lifecycle path retains the in-memory variant's
    * recall/nDCG/MRR floors against exact cosine top-k over the
    * SURVIVING corpus — a lifecycle step that leaked (stale codes after
    * restore, a compact that dropped a cell, an append encoded against
    * the wrong codebooks) lands in the hash as a false gate bit. */
  private def q227PersistedRecallGate(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).cache()
    val queries = emb.filter($"vec_id" < 10)
    val path = graft.core.Scratch.dir(dir, "pqgate")
    val pq = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val coarse = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2)
    graft.operators.ProductQuantizer.save(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      coarse, pq, path, residual = false)
    graft.operators.ProductQuantizer.append(
      emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", path)
    graft.operators.ProductQuantizer.delete(spark, path,
      emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
    graft.operators.ProductQuantizer.compact(spark, path)
    // bench reruns in one process over one Scratch dir: drop last
    // pass's tag before re-snapshotting (snapshots are immutable)
    if (graft.operators.IndexSnapshots.list(spark, path)
        .filter($"tag" === "postlife").head(1).nonEmpty)
      graft.operators.IndexSnapshots.drop(spark, path, "postlife")
    graft.operators.IndexSnapshots.snapshot(spark, path, "postlife")
    graft.operators.ProductQuantizer.delete(spark, path,
      emb.filter($"vec_id" % 7 =!= 0 && $"vec_id" % 3 === 0)
        .select($"vec_id"))
    graft.operators.IndexSnapshots.restore(spark, path, "postlife")
    val ann = graft.operators.ProductQuantizer.probeSaved(
        queries, "vec_id", "embedding", spark, path, k = 5, nProbe = 3)
      .select($"query_id", $"id", $"rank")
    val exact = Similarity.cosineTopK(queries,
        emb.filter($"vec_id" % 7 =!= 0), "vec_id", "embedding", k = 5)
      .select($"query_id", $"neighbor_id".as("id"))
    graft.operators.RankMetrics.gateRow("ivfadc_persisted_postlife",
      ann, exact, "query_id", "id", "rank", k = 5,
      minHitsFloor = 0, meanPctFloor = 10, ndcgPctFloor = 10,
      mrrPctFloor = 10)
  }

  /** The constant expectation row: the persisted post-lifecycle gate at
    * or above q214's ivfadc floors, n_queries from the probe set. */
  private val q227Sql =
    """WITH nq AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 10)
      |SELECT 'ivfadc_persisted_postlife' AS variant,
      |  CAST(nq.n AS BIGINT) AS n_queries,
      |  CAST(0 AS BIGINT) AS min_hits_floor,
      |  CAST(10 AS BIGINT) AS mean_pct_floor,
      |  CAST(10 AS BIGINT) AS ndcg_pct_floor,
      |  CAST(10 AS BIGINT) AS mrr_pct_floor,
      |  true AS pass_min, true AS pass_mean,
      |  true AS pass_ndcg, true AS pass_mrr
      |FROM nq""".stripMargin

  /** Stream-maintained vector serving gate (north star) — the q247
    * discipline composed over the IVFADC family, closing the r14
    * verdict's Next #5: q247 pins the BM25 family's in-stream lifecycle
    * end-to-end; here EVERY vector data-plane step runs through the live
    * streams. The chain: fit + save(half), then
    * [[graft.streaming.StreamingJobs.upsertVectorsOnArrival]] ingests
    * the other half in one micro-batch with the in-stream
    * [[graft.streaming.StreamingJobs.MaintenancePolicy]] (everyNBatches
    * = 1 — the due cycle runs recover → compact-iff-fragmented → fsck
    * GATE → incremental snapshot → prune after the batch, freezing the
    * FULL corpus under the stream's own auto tag; the r16 trim from two
    * batches, hash unchanged — see the inline note). The live generation
    * is then POISONED (vec_id ≡ 0 mod 3 deleted) and the standing
    * queries are served by [[graft.streaming.StreamingJobs
    * .vectorProbeOnArrival]] with `snapshotTag` pointed at the frozen
    * generation — serving answers must come from the PRE-poison corpus.
    * Two gate rows under one hash ([[graft.operators.RankMetrics
    * .gateRow]] integer arithmetic):
    *  - `..._equals_batch` at saturating floors (5/100/100/100): the
    *    streamed answers' id sets equal a batch
    *    [[graft.operators.ProductQuantizer.probeSaved]] over the
    *    RESTORED generation, query for query — a stale view, a
    *    generation mix, or serving the poisoned live all change the id
    *    sets and trip it;
    *  - `..._quality` at q227's conservative floors (0/10/10/10) vs
    *    exact cosine top-k over the full corpus: the frozen generation
    *    retains the in-memory variant's recall/nDCG/MRR quality.
    * Re-runnable by design (scratch root cleared at entry). */
  private def q252VectorStreamGate(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).cache()
    val queries = emb.filter($"vec_id" < 10)
    val root = graft.core.Scratch.dir(dir, "pqsmg")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath) && !fs.delete(rootPath, true))
      throw new java.io.IOException(s"cannot reset scratch $root")
    val path = s"$root/index"
    val feed = s"$root/feed"
    fs.mkdirs(new org.apache.hadoop.fs.Path(feed))
    val pq = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val coarse = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2)
    graft.operators.ProductQuantizer.save(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      coarse, pq, path, residual = false)
    val vecs = emb.select($"vec_id", $"embedding")
    // ONE ingest batch (r15 verdict "What's wrong" #3 trim): the odd half
    // upserts in a single micro-batch whose due cycle (everyNBatches = 1)
    // freezes the full corpus — the restored generation, and therefore
    // the hash, is identical to the r15 two-batch form, at roughly half
    // the fixture-scale stream cost. The both-due-gate-verdicts coverage
    // (not-due batch 0, due batch 1) stays pinned by q247's text-family
    // stream; this gate's job is the VECTOR serving contract.
    val ingest = graft.streaming.StreamingJobs.upsertVectorsOnArrival(
        spark.readStream.schema(vecs.schema).parquet(feed),
        "vec_id", "embedding", path, s"$root/ckpt",
        clearCachePerBatch = false,
        maintenance = Some(graft.streaming.StreamingJobs
          .MaintenancePolicy(everyNBatches = 1, keepLast = 2)))
      .start()
    try {
      vecs.filter($"vec_id" % 2 === 1).write.mode("append").parquet(feed)
      ingest.processAllAvailable()
    } finally ingest.stop()
    // the stream's own due-batch snapshot froze the FULL corpus
    val tag = graft.operators.IndexSnapshots.list(spark, path)
      .agg(max($"tag")).head().getString(0)
    // poison the live generation: frozen-tag serving must not see this
    graft.operators.ProductQuantizer.delete(spark, path,
      emb.filter($"vec_id" % 3 === 0).select($"vec_id"))
    val out = s"$root/answers"
    val qfeed = s"$root/qfeed"
    fs.mkdirs(new org.apache.hadoop.fs.Path(qfeed))
    val serve = graft.streaming.StreamingJobs.vectorProbeOnArrival(
        spark.readStream.schema(vecs.schema).parquet(qfeed),
        "vec_id", "embedding", path, out, s"$root/qckpt",
        k = 5, nProbe = 3, clearCachePerBatch = false,
        snapshotTag = Some(tag))
      .start()
    try {
      queries.select($"vec_id", $"embedding").write.mode("append").parquet(qfeed)
      serve.processAllAvailable()
    } finally serve.stop()
    val ann = spark.read.parquet(out).select($"query_id", $"id", $"rank")
    // restore undoes the poison; equality then says the served view WAS
    // the frozen full generation
    graft.operators.IndexSnapshots.restore(spark, path, tag)
    val batch = graft.operators.ProductQuantizer.probeSaved(
        queries, "vec_id", "embedding", spark, path, k = 5, nProbe = 3)
      .select($"query_id", $"id")
    val exact = Similarity.cosineTopK(queries, emb, "vec_id", "embedding",
        k = 5)
      .select($"query_id", $"neighbor_id".as("id"))
    graft.operators.RankMetrics.gateRow("ivfadc_stream_served_equals_batch",
        ann, batch, "query_id", "id", "rank", k = 5,
        minHitsFloor = 5, meanPctFloor = 100, ndcgPctFloor = 100,
        mrrPctFloor = 100)
      .unionAll(graft.operators.RankMetrics.gateRow(
        "ivfadc_stream_served_quality", ann, exact,
        "query_id", "id", "rank", k = 5,
        minHitsFloor = 0, meanPctFloor = 10, ndcgPctFloor = 10,
        mrrPctFloor = 10))
      .orderBy($"variant")
  }

  /** The constant expectation table: the streamed-serving gate rows at
    * their floors — set equality with the restored-generation batch
    * probe at saturating floors, quality at q227's conservative ones. */
  private val q252Sql =
    """WITH nq AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 10),
      |exp(variant, min_hits_floor, mean_pct_floor, ndcg_pct_floor, mrr_pct_floor) AS (VALUES
      |  ('ivfadc_stream_served_equals_batch', 5, 100, 100, 100),
      |  ('ivfadc_stream_served_quality', 0, 10, 10, 10))
      |SELECT variant, CAST(nq.n AS BIGINT) AS n_queries,
      |  CAST(min_hits_floor AS BIGINT) AS min_hits_floor,
      |  CAST(mean_pct_floor AS BIGINT) AS mean_pct_floor,
      |  CAST(ndcg_pct_floor AS BIGINT) AS ndcg_pct_floor,
      |  CAST(mrr_pct_floor AS BIGINT) AS mrr_pct_floor,
      |  true AS pass_min, true AS pass_mean,
      |  true AS pass_ndcg, true AS pass_mrr
      |FROM exp CROSS JOIN nq
      |ORDER BY variant""".stripMargin

  /** MMR diversified retrieval ([[graft.operators.Similarity.mmrTopK]],
    * λ = 0.6, pool 20 → top-5): the redundancy-penalized selection a
    * retrieval or exemplar-sampling pass runs after top-k. Greedy and
    * per-query row-local (pool bounded), λ = 1 ≡ plain top-k pinned in
    * SimilaritySpec; rows-only here (the greedy argmax chain is not
    * practically SQL-replayable), exact companion q28. */
  private def q210MmrTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    graft.operators.Similarity.mmrTopK(
        emb.filter($"vec_id" < 10), emb, "vec_id", "embedding",
        k = 5, poolSize = 20, lambda = 0.6)
      .orderBy($"query_id", $"rank")
  }

  /** Hybrid retrieval over the PERSISTED indexes (north star): the
    * production serving shape — q212's fusion with both legs served
    * from saved indexes after a full lifecycle. BM25 leg:
    * [[graft.operators.TextIndex]] save → delete(doc_id ≡ 0 mod 5) →
    * probe (bucket-pruned, stats-corrected). Vector leg:
    * [[graft.operators.ProductQuantizer]] save(even ids) → append(odd
    * ids, encoded against the saved codebooks) → delete(vec_id ≡ 0 mod
    * 5) → full-probe [[graft.operators.ProductQuantizer.probeSavedDistances]]
    * at q211's replayable m=2/k=4/iters=1 config (nProbe = nLists and
    * raw codes ⇒ the scored frame ≡ plain ADC over the surviving
    * corpus), ranked by round-6 distance. Fused by
    * [[graft.operators.Rrf.fuse]]. The DuckDB hash therefore pins:
    * corrected BM25 stats after delete, append ≡ rebuild encoding,
    * deleted ids absent from BOTH legs, and the fused ordering. */
  private def q216HybridPersisted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    // the two retrieval legs are independent lifecycles on disjoint
    // paths — run them as concurrent Spark jobs (the q232 §2.6 overlap
    // pattern); each leg keeps its own mutation order and returns
    // its ranked frame, so the fuse is bit-identical. Concurrency.runAll
    // (not the global pool): legs must inherit the caller's job group so
    // a harness cancellation reaches them
    val legBm = () => {
      // BM25 leg over the persisted inverted index
      val tPath = graft.core.Scratch.dir(dir, "hybm25")
      graft.operators.TextIndex.save(docs, "doc_id", "text", tPath)
      graft.operators.TextIndex.delete(spark, tPath,
        docs.filter($"doc_id" % 5 === 0).select($"doc_id"))
      val wBm = graft.operators.BoundedWindow
        .ordered($"doc_id", $"score".desc, $"doc_id")
      graft.operators.TextIndex.probe(spark, tPath,
          Seq("spark", "merge", "join"), k = 20)
        .withColumn("r", row_number().over(wBm))
        .select($"doc_id", $"r")
    }
    val legVec = () => {
      // vector leg over the persisted IVFADC index
      val vPath = graft.core.Scratch.dir(dir, "hypq")
      val pq = graft.operators.ProductQuantizer.fit(
        emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
      val coarse = graft.operators.KMeans.fit(
        emb, "vec_id", "embedding", k = 4, iters = 1)
      graft.operators.ProductQuantizer.save(
        emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        coarse, pq, vPath, residual = false)
      graft.operators.ProductQuantizer.append(
        emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", vPath)
      graft.operators.ProductQuantizer.delete(spark, vPath,
        emb.filter($"vec_id" % 5 === 0).select($"vec_id"))
      val wV = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"adist", $"id")
      graft.operators.ProductQuantizer.probeSavedDistances(
          emb.filter($"vec_id" === 0), "vec_id", "embedding",
          spark, vPath, nProbe = 4)
        .withColumn("adist", round($"approx_dist", 6))
        .withColumn("r", row_number().over(wV))
        .filter($"r" <= 20)
        .select($"id".as("doc_id"), $"r")
    }
    val (bm, vec) = graft.core.Concurrency.both(legBm, legVec)
    graft.operators.Rrf.fuse(
        Seq("bm25" -> bm, "vec" -> vec), "doc_id", "r", topK = 10)
      .orderBy($"rank")
  }

  /** BM25 scan over documents minus the deleted ids ⊕ the q211 ADC
    * replay over embeddings with deleted ids excluded from the SCORED
    * side only (codebooks fitted on the full corpus, exactly as the
    * engine fits before save), fused by fixed-order reciprocal-rank
    * arithmetic. */
  private val q216Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE doc_id % 5 <> 0),
      |base AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf2
      |  FROM d),
      |stats AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      |  FROM base),
      |bmscore AS (
      |  SELECT b.doc_id,
      |    round(
      |      ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1) * (b.tf0 * 2.2) / (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1) * (b.tf1 * 2.2) / (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
      |    + ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1) * (b.tf2 * 2.2) / (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |  FROM base b CROSS JOIN stats s),
      |bm AS (
      |  SELECT doc_id, r FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      |    FROM bmscore)
      |  WHERE r <= 20),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sub AS (
      |  SELECT vec_id, 0 AS s, v[1:32] AS sv FROM e
      |  UNION ALL
      |  SELECT vec_id, 1 AS s, v[33:64] AS sv FROM e),
      |seed AS (
      |  SELECT s, cid, sv AS c FROM (
      |    SELECT s, vec_id, sv,
      |      CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS BIGINT) AS cid
      |    FROM sub)
      |  WHERE cid < 4),
      |a1 AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT sub.vec_id, sub.s, seed.cid,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, seed.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), seed.cid) AS rn
      |    FROM sub JOIN seed ON sub.s = seed.s)
      |  WHERE rn = 1),
      |mrows AS (
      |  SELECT a1.s, a1.cid, generate_subscripts(sub.sv, 1) - 1 AS dim,
      |         CAST(unnest(sub.sv) AS DOUBLE) AS x
      |  FROM sub JOIN a1 ON sub.s = a1.s AND sub.vec_id = a1.vec_id),
      |md AS (
      |  SELECT s, cid, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
      |  FROM mrows GROUP BY s, cid, dim),
      |cb AS (
      |  SELECT s, cid, row_number() OVER (PARTITION BY s ORDER BY cid) - 1 AS pos, c
      |  FROM (SELECT s, cid, list(m ORDER BY dim) AS c FROM md GROUP BY s, cid)),
      |codes AS (
      |  SELECT vec_id, s, pos FROM (
      |    SELECT sub.vec_id, sub.s, cb.pos,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, cb.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cb.pos) AS rn
      |    FROM sub JOIN cb ON sub.s = cb.s)
      |  WHERE rn = 1),
      |t AS (
      |  SELECT q.vec_id AS query_id, x.vec_id AS id, x.s,
      |    list_sum(list_transform(list_zip(q.sv, cb.c),
      |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS td
      |  FROM codes x
      |  JOIN cb ON cb.s = x.s AND cb.pos = x.pos
      |  JOIN sub q ON q.s = x.s
      |  WHERE q.vec_id = 0 AND x.vec_id % 5 <> 0),
      |adist AS (
      |  SELECT query_id, id,
      |    round(MAX(CASE WHEN s = 0 THEN td END)
      |        + MAX(CASE WHEN s = 1 THEN td END), 6) AS adist
      |  FROM t GROUP BY query_id, id),
      |vec AS (
      |  SELECT id AS doc_id, r FROM (
      |    SELECT id, row_number() OVER (ORDER BY adist, id) AS r
      |    FROM adist)
      |  WHERE r <= 20),
      |fused AS (
      |  SELECT COALESCE(bm.doc_id, vec.doc_id) AS doc_id,
      |    bm.r AS r_bm25, vec.r AS r_vec,
      |    COALESCE(CAST(1 AS DOUBLE) / (60 + bm.r), CAST(0 AS DOUBLE))
      |      + COALESCE(CAST(1 AS DOUBLE) / (60 + vec.r), CAST(0 AS DOUBLE)) AS rrf_score
      |  FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id)
      |SELECT rank, doc_id, r_bm25, r_vec, rrf_score FROM (
      |  SELECT doc_id, r_bm25, r_vec, rrf_score,
      |    row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
      |  FROM fused)
      |WHERE rank <= 10
      |ORDER BY rank""".stripMargin

  /** Filtered vector search (north star): attribute predicate + ANN in
    * one probe — the production "vector search WHERE label = x" shape
    * (FAISS IDSelector / the filtered-search mode every vector DB
    * serves). The allowed-id frame (`label = 3`) semi-joins onto the
    * PERSISTED index's codes scan BEFORE any ADC arithmetic
    * ([[graft.operators.ProductQuantizer.probeSavedDistances]] with
    * `idFilter`), so excluded vectors are never scored and top-10 is
    * taken WITHIN the filtered set — a post-filter on an unfiltered
    * top-10 would return < 10 survivors and lose recall (for label=3
    * at ~10 % selectivity, an unfiltered top-10 carries ~1 survivor).
    * At q211's replayable config (m=2/k=4/iters=1, nProbe = nLists = 4)
    * the whole persisted chain — fit, save, filtered probe, round-6
    * ranked cut — replays relationally: the oracle is q211's PQ replay
    * with the scored side restricted by the same predicate. */
  private def q218FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val path = graft.core.Scratch.dir(dir, "fltpq")
    val pq = graft.operators.ProductQuantizer.fit(
      emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val coarse = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 4, iters = 1)
    graft.operators.ProductQuantizer.save(
      emb, "vec_id", "embedding", coarse, pq, path, residual = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adist", $"id")
    graft.operators.ProductQuantizer.probeSavedDistances(
        emb.filter($"vec_id" < 5), "vec_id", "embedding", spark, path,
        nProbe = 4,
        idFilter = Some(emb.filter($"label" === 3).select($"vec_id")))
      .withColumn("adist", round($"approx_dist", 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"id", $"adist")
      .orderBy($"query_id", $"rank")
  }

  /** q211's relational PQ replay with the scored side restricted to the
    * allowed ids — codebooks still fitted on the FULL corpus, exactly
    * as the engine fits before save. */
  private val q218Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sub AS (
      |  SELECT vec_id, 0 AS s, v[1:32] AS sv FROM e
      |  UNION ALL
      |  SELECT vec_id, 1 AS s, v[33:64] AS sv FROM e),
      |seed AS (
      |  SELECT s, cid, sv AS c FROM (
      |    SELECT s, vec_id, sv,
      |      CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS BIGINT) AS cid
      |    FROM sub)
      |  WHERE cid < 4),
      |a1 AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT sub.vec_id, sub.s, seed.cid,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, seed.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), seed.cid) AS rn
      |    FROM sub JOIN seed ON sub.s = seed.s)
      |  WHERE rn = 1),
      |mrows AS (
      |  SELECT a1.s, a1.cid, generate_subscripts(sub.sv, 1) - 1 AS dim,
      |         CAST(unnest(sub.sv) AS DOUBLE) AS x
      |  FROM sub JOIN a1 ON sub.s = a1.s AND sub.vec_id = a1.vec_id),
      |md AS (
      |  SELECT s, cid, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
      |  FROM mrows GROUP BY s, cid, dim),
      |cb AS (
      |  SELECT s, cid, row_number() OVER (PARTITION BY s ORDER BY cid) - 1 AS pos, c
      |  FROM (SELECT s, cid, list(m ORDER BY dim) AS c FROM md GROUP BY s, cid)),
      |codes AS (
      |  SELECT vec_id, s, pos FROM (
      |    SELECT sub.vec_id, sub.s, cb.pos,
      |      row_number() OVER (PARTITION BY sub.s, sub.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(sub.sv, cb.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cb.pos) AS rn
      |    FROM sub JOIN cb ON sub.s = cb.s)
      |  WHERE rn = 1),
      |allowed AS (SELECT vec_id FROM embeddings WHERE label = 3),
      |t AS (
      |  SELECT q.vec_id AS query_id, x.vec_id AS id, x.s,
      |    list_sum(list_transform(list_zip(q.sv, cb.c),
      |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS td
      |  FROM codes x
      |  JOIN allowed f ON f.vec_id = x.vec_id
      |  JOIN cb ON cb.s = x.s AND cb.pos = x.pos
      |  JOIN sub q ON q.s = x.s
      |  WHERE q.vec_id < 5),
      |adist AS (
      |  SELECT query_id, id,
      |    round(MAX(CASE WHEN s = 0 THEN td END)
      |        + MAX(CASE WHEN s = 1 THEN td END), 6) AS adist
      |  FROM t GROUP BY query_id, id),
      |ranked AS (
      |  SELECT query_id, id, adist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY adist, id) AS rank
      |  FROM adist)
      |SELECT query_id, rank, id, adist
      |FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Index observability: the serving-dashboard stats of all three
    * persisted index families ([[graft.operators.TextIndex.stats]],
    * [[graft.operators.MinHashIndex.stats]],
    * [[graft.operators.ProductQuantizer.stats]]) after a realistic
    * build (save half, append half — so the hash also pins that stats
    * AGGREGATE across appends). Emitted tall: (idx, stat, value), all
    * exact longs.
    *
    * Only the corpus-derivable stats ride the oracle (counts, token
    * sums, posting cardinalities, parameters); the occupancy/skew
    * numbers (bucket sizes, cell balance) hang off xxhash64 and k-means
    * cells DuckDB cannot replay — their invariants are spec-gated
    * (TextIndexSpec / MinHashIndexSpec / PqSpec) instead. */
  private def q219IndexStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    // three independent family chains (disjoint paths) run as concurrent
    // Spark jobs — the q232 §2.6 overlap pattern via Concurrency.runAll
    // (legs inherit the caller's job group, so harness cancellation
    // reaches them); each leg keeps its own build → stats order and the
    // stats frames are local rows, so the union is bit-identical to the
    // sequential form
    val fText = () => {
      val tPath = graft.core.Scratch.dir(dir, "stx")
      graft.operators.TextIndex.save(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text", tPath)
      graft.operators.TextIndex.append(
        docs.filter($"doc_id" % 2 === 1), "doc_id", "text", tPath)
      graft.operators.TextIndex.stats(spark, tPath)
        .filter($"stat".isin(
          "n_docs", "doc_rows", "sum_dl", "posting_rows", "distinct_terms",
          "posting_doc_ids"))
        .select(lit("text").as("idx"), $"stat", $"value")
    }
    val fMh = () => {
      val mPath = graft.core.Scratch.dir(dir, "smh")
      graft.operators.MinHashIndex.save(docs, "doc_id", "text", mPath)
      graft.operators.MinHashIndex.stats(spark, mPath)
        .filter($"stat".isin(
          "sig_rows", "band_rows", "distinct_banded_ids", "n", "k", "bands",
          "seed"))
        .select(lit("minhash").as("idx"), $"stat", $"value")
    }
    val fVec = () => {
      val vPath = graft.core.Scratch.dir(dir, "spq")
      val pq = graft.operators.ProductQuantizer.fit(
        emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
      val coarse = graft.operators.KMeans.fit(
        emb, "vec_id", "embedding", k = 4, iters = 1)
      graft.operators.ProductQuantizer.save(
        emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        coarse, pq, vPath, residual = false)
      graft.operators.ProductQuantizer.append(
        emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", vPath)
      graft.operators.ProductQuantizer.stats(spark, vPath)
        .filter($"stat".isin("code_rows", "m", "residual"))
        .select(lit("pq").as("idx"), $"stat", $"value")
    }
    graft.core.Concurrency.runAll(Seq(fText, fMh, fVec))
      .reduce(_ unionByName _)
      .orderBy($"idx", $"stat")
  }

  /** Every oracled stat recomputed from the raw tables: token counts
    * via the same single-space split, posting rows as distinct
    * (doc, term) pairs, band/sig rows from the corpus count and the
    * index's literal hash parameters. */
  private val q219Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tp AS (SELECT DISTINCT doc_id, term
      |       FROM (SELECT doc_id, unnest(ws) AS term FROM d)),
      |txt AS (
      |  SELECT 'text' AS idx, stat, value FROM (
      |    SELECT 'n_docs' AS stat, CAST(COUNT(*) AS BIGINT) AS value FROM d
      |    UNION ALL SELECT 'doc_rows', CAST(COUNT(*) AS BIGINT) FROM d
      |    UNION ALL SELECT 'sum_dl', CAST(SUM(len(ws)) AS BIGINT) FROM d
      |    UNION ALL SELECT 'posting_rows', CAST(COUNT(*) AS BIGINT) FROM tp
      |    UNION ALL SELECT 'posting_doc_ids',
      |      CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM tp
      |    UNION ALL SELECT 'distinct_terms',
      |      CAST(COUNT(DISTINCT term) AS BIGINT) FROM tp)),
      |mh AS (
      |  SELECT 'minhash' AS idx, stat, value FROM (
      |    SELECT 'sig_rows' AS stat, CAST(COUNT(*) AS BIGINT) AS value FROM d
      |    UNION ALL SELECT 'band_rows', CAST(COUNT(*) * 16 AS BIGINT) FROM d
      |    UNION ALL SELECT 'distinct_banded_ids', CAST(COUNT(*) AS BIGINT) FROM d
      |    UNION ALL SELECT 'n', CAST(3 AS BIGINT)
      |    UNION ALL SELECT 'k', CAST(64 AS BIGINT)
      |    UNION ALL SELECT 'bands', CAST(16 AS BIGINT)
      |    UNION ALL SELECT 'seed', CAST(42 AS BIGINT))),
      |pq AS (
      |  SELECT 'pq' AS idx, stat, value FROM (
      |    SELECT 'code_rows' AS stat, CAST(COUNT(*) AS BIGINT) AS value
      |    FROM embeddings
      |    UNION ALL SELECT 'm', CAST(2 AS BIGINT)
      |    UNION ALL SELECT 'residual', CAST(0 AS BIGINT)))
      |SELECT idx, stat, value
      |FROM (SELECT * FROM txt UNION ALL SELECT * FROM mh
      |      UNION ALL SELECT * FROM pq)
      |ORDER BY idx, stat""".stripMargin

  /** fsck over all FOUR persisted index families after a LIVED build
    * (save half → append half → targeted delete) —
    * [[graft.operators.IndexAudit]]'s cross-artifact invariants, which
    * the q219 dashboards can't see (stats reads each artifact alone;
    * the corruption that matters lives BETWEEN artifacts: orphan
    * postings after a delete, bucket misplacement invisible to pruned
    * probes, band fan-out holes, duplicate code ids). Every `value` on
    * a healthy index is corpus-derivable (counts after the delete, or a
    * violation count of 0) and every `pass` must be true, so the whole
    * audit surface sits under the DuckDB hash — a lifecycle bug that
    * leaves any inter-artifact inconsistency flips a row. */
  private def q232IndexFsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    // the four family lifecycles are INDEPENDENT (disjoint scratch
    // paths, no shared mutable state): run them as concurrent Spark
    // jobs (the §2.6 overlap pattern via Concurrency.runAll, whose legs
    // inherit the caller's job group so harness cancellation reaches
    // them) — sequential submission serialized ~15 small driver
    // round-trips per family at fixture scale. Each leg keeps ITS OWN
    // save → append → delete → audit order; the audit frames' values
    // collect eagerly inside the leg, so the final unionAll is over
    // local rows and the result is bit-identical. Two families delete
    // each corpus's ids: one cached id set per corpus serves both
    // (IndexLifecycle.delete reads a cached id set as is).
    val docDel = docs.filter($"doc_id" % 7 === 0).select($"doc_id").cache()
    val embDel = emb.filter($"vec_id" % 7 === 0).select($"vec_id").cache()
    val fText = () => {
      val tPath = graft.core.Scratch.dir(dir, "fsck_tx")
      graft.operators.TextIndex.save(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text", tPath)
      graft.operators.TextIndex.append(
        docs.filter($"doc_id" % 2 === 1), "doc_id", "text", tPath)
      graft.operators.TextIndex.delete(spark, tPath, docDel)
      graft.operators.TextIndex.lifecycle.audit(spark, tPath)
    }
    val fMh = () => {
      val mPath = graft.core.Scratch.dir(dir, "fsck_mh")
      graft.operators.MinHashIndex.save(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text", mPath)
      graft.operators.MinHashIndex.append(
        docs.filter($"doc_id" % 2 === 1), "doc_id", "text", mPath)
      graft.operators.MinHashIndex.delete(spark, mPath, docDel)
      graft.operators.MinHashIndex.lifecycle.audit(spark, mPath)
    }
    val fPq = () => {
      val pPath = graft.core.Scratch.dir(dir, "fsck_pq")
      val pq = graft.operators.ProductQuantizer.fit(
        emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
      val coarse = graft.operators.KMeans.fit(
        emb, "vec_id", "embedding", k = 4, iters = 1)
      graft.operators.ProductQuantizer.save(
        emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        coarse, pq, pPath, residual = false)
      graft.operators.ProductQuantizer.append(
        emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", pPath)
      graft.operators.ProductQuantizer.delete(spark, pPath, embDel)
      graft.operators.ProductQuantizer.lifecycle.audit(spark, pPath)
    }
    val fIvf = () => {
      val iPath = graft.core.Scratch.dir(dir, "fsck_ivf")
      val ivf = graft.operators.IvfIndex.fit(
        emb, "vec_id", "embedding", nLists = 8, iters = 2)
      graft.operators.IvfIndex.save(emb, "vec_id", "embedding", ivf, iPath)
      graft.operators.IvfIndex.delete(spark, iPath, embDel)
      graft.operators.IvfIndex.lifecycle.audit(spark, iPath)
    }
    try graft.core.Concurrency.runAll(Seq(fText, fMh, fPq, fIvf))
      .reduce(_ unionAll _)
      .orderBy($"family", $"check")
    finally { docDel.unpersist(); embDel.unpersist() }
  }

  /** Every audit value recomputed from the corpora minus the deleted
    * ids; every violation count 0, every verdict true. */
  private val q232Sql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents WHERE doc_id % 7 <> 0),
      |e AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0),
      |rows(family, "check", value, pass) AS (
      |  SELECT 'text', 'n_docs', (SELECT COUNT(*) FROM d), true
      |  UNION ALL SELECT 'text', 'sum_dl', (SELECT SUM(len(ws)) FROM d), true
      |  UNION ALL SELECT 'text', 'orphan_postings', 0, true
      |  UNION ALL SELECT 'text', 'missing_postings', 0, true
      |  UNION ALL SELECT 'text', 'bucket_misplacement', 0, true
      |  UNION ALL SELECT 'text', 'dl_mismatch', 0, true
      |  UNION ALL SELECT 'minhash', 'sig_rows', (SELECT COUNT(*) FROM d), true
      |  UNION ALL SELECT 'minhash', 'band_fanout_violations', 0, true
      |  UNION ALL SELECT 'minhash', 'orphan_band_ids', 0, true
      |  UNION ALL SELECT 'minhash', 'missing_band_ids', 0, true
      |  UNION ALL SELECT 'pq', 'code_rows', (SELECT COUNT(*) FROM e), true
      |  UNION ALL SELECT 'pq', 'code_width_violations', 0, true
      |  UNION ALL SELECT 'pq', 'unknown_list_ids', 0, true
      |  UNION ALL SELECT 'ivf', 'vector_rows', (SELECT COUNT(*) FROM e), true
      |  UNION ALL SELECT 'ivf', 'centroid_rows', 8, true
      |  UNION ALL SELECT 'ivf', 'unknown_list_ids', 0, true)
      |SELECT family, "check", CAST(value AS BIGINT) AS value, pass
      |FROM rows
      |ORDER BY family, "check"""".stripMargin

  /** Embedding drift gate — the drift family's fourth leg (q192 binned,
    * q197 categorical, q206 quantile) for VECTOR corpora: per-dimension
    * mean shift between two corpus windows plus the cosine between the
    * window SUM vectors (≡ cosine of the means — scale-invariant — but
    * computed over EXACT decimal sums, never over mean quotients: the
    * q85 mirror-trap lesson). Shifts follow q206's discipline
    * (differences of identically derived doubles, no float sums); the
    * cosine folds the 64 per-dim sums in ASCENDING dim order on both
    * engines (driver-side here — 64 rows, parameter-bounded; dim-ordered
    * list_sum in the oracle), the q211 convention. The monitor a
    * re-embedding or encoder upgrade needs: a silent model swap moves
    * the mean vector long before any scalar column notices. */
  private def q236EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"label", $"embedding".cast("array<double>").as("v"))
    def sums(df: DataFrame, out: String) =
      df.select(posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"dim")
        .agg(dsum($"x", 18, 8).as(s"s_$out"),
          count(lit(1)).as(s"n_$out"))
    val joined = sums(emb.filter($"label" < 5), "base")
      .join(sums(emb.filter($"label" >= 5), "cur"), "dim")
      .cache()
    val byDim = joined.orderBy($"dim")
      .select($"s_base", $"s_cur").as[(Double, Double)].collect()
    var dot = 0.0; var nb = 0.0; var nc = 0.0
    byDim.foreach { case (sb, sc) => dot += sb * sc; nb += sb * sb; nc += sc * sc }
    val cos = BigDecimal(dot / math.sqrt(nb * nc))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    joined.select($"dim",
        round($"s_base" / $"n_base", 6).as("mean_base"),
        round($"s_cur" / $"n_cur", 6).as("mean_cur"),
        round($"s_cur" / $"n_cur" - $"s_base" / $"n_base", 6).as("shift"),
        lit(cos).as("cos_windows"),
        lit(cos < 0.999).as("drifted"))
      .orderBy($"dim")
  }

  private val q236Sql =
    s"""WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (
      |  SELECT label, unnest(v) AS x,
      |    generate_subscripts(v, 1) - 1 AS dim
      |  FROM e),
      |b AS (
      |  SELECT dim, ${sqlDsum8("x")} AS s_base, COUNT(*) AS n_base
      |  FROM x WHERE label < 5 GROUP BY dim),
      |c AS (
      |  SELECT dim, ${sqlDsum8("x")} AS s_cur, COUNT(*) AS n_cur
      |  FROM x WHERE label >= 5 GROUP BY dim),
      |j AS (SELECT b.dim, s_base, n_base, s_cur, n_cur
      |      FROM b JOIN c USING (dim)),
      |vecs AS (
      |  SELECT list(s_base ORDER BY dim) AS sb, list(s_cur ORDER BY dim) AS sc
      |  FROM j),
      |cosv AS (
      |  SELECT round(
      |    list_sum(list_transform(list_zip(sb, sc), p -> p[1] * p[2])) /
      |    sqrt(list_sum(list_transform(sb, q -> q * q)) *
      |         list_sum(list_transform(sc, q -> q * q))), 6) AS cos_windows
      |  FROM vecs)
      |SELECT j.dim, round(s_base / n_base, 6) AS mean_base,
      |  round(s_cur / n_cur, 6) AS mean_cur,
      |  round(s_cur / n_cur - s_base / n_base, 6) AS shift,
      |  cosv.cos_windows, cosv.cos_windows < 0.999 AS drifted
      |FROM j CROSS JOIN cosv
      |ORDER BY j.dim""".stripMargin

  private def q39IvfKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.IvfIndex.fit(
      emb, "vec_id", "embedding", nLists = 16, iters = 2)
    graft.operators.IvfIndex.probe(
        emb.filter($"vec_id" < 10), emb, "vec_id", "embedding",
        k = 5, model, nProbe = 6)
      .orderBy($"query_id", $"rank")
  }

  /** Companion verdict for the LSH-ANN machinery (q30): multi-probe
    * random-hyperplane bucketing at a recall-saturating table count
    * (nPlanes=2, nTables=32 — 4 buckets/table, 32 independent screens),
    * where the candidate union provably covers every true top-5 neighbor
    * of the test corpus, so the bucketed path must reproduce the exact
    * brute-force answer bit for bit. The DuckDB oracle computes that
    * answer relationally: hashing, bucket join, candidate dedup, rejoin,
    * and scoring all sit under the hash check. q30 keeps production-ish
    * sparser parameters with its spec'd recall floor. */
  private def q69LshAnnExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshCosineTopK(
        emb.filter($"vec_id" < 20), emb, "vec_id", "embedding",
        k = 5, nPlanes = 2, nTables = 32)
      .orderBy($"query_id", $"rank")
  }

  /** Companion verdict for the IVF machinery (q39): probing EVERY list
    * (nProbe = nLists) must reduce IVF to exact brute force — the limit
    * behavior any inverted-file index owes its caller. Pins fit/assign/
    * probe-set ranking/scoring end to end against the relational oracle;
    * q39 keeps the approximate nProbe < nLists setting with its spec'd
    * recall floor. */
  /** Targeted delete on the PERSISTED exact-vector IVF index (the q213
    * discipline on the fourth family): fit, save, [[graft.operators
    * .IvfIndex.delete]] every vec_id ≡ 0 (mod 4) — a filtered rewrite of
    * the list partitions under StagedSwap — then probe the SAVED index
    * at saturating nProbe = nLists, where IVF provably reduces to exact
    * brute force. The oracle is the exact top-k over the corpus WITHOUT
    * the deleted rows, so the hash pins both halves: deleted ids never
    * surface, and every survivor re-ranks exactly (a tombstone that
    * leaked into scoring, or a list partition missed by the rewrite,
    * shifts ranks). Queries keep the full id range — probing for an
    * erased document's neighbors must still work. */
  private def q223IvfDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val path = graft.core.Scratch.dir(dir, "ivfdel")
    val model = graft.operators.IvfIndex.fit(
      emb, "vec_id", "embedding", nLists = 8, iters = 2)
    graft.operators.IvfIndex.save(emb, "vec_id", "embedding", model, path)
    graft.operators.IvfIndex.delete(spark, path,
      emb.filter($"vec_id" % 4 === 0).select($"vec_id"))
    val (m, lists) = graft.operators.IvfIndex.load(spark, path)
    graft.operators.IvfIndex.probeIndexed(
        emb.filter($"vec_id" < 20), lists, "vec_id", "embedding",
        k = 5, m, nProbe = 8)
      .orderBy($"query_id", $"rank")
  }

  /** q69's exact replay over the corpus minus the deleted ids. */
  private val q223Sql =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id != c.vec_id AND c.vec_id % 4 <> 0
      |  WHERE q.vec_id < 20),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, rank, neighbor_id, sim
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  private def q70IvfFullProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.IvfIndex.fit(
      emb, "vec_id", "embedding", nLists = 8, iters = 2)
    graft.operators.IvfIndex.probe(
        emb.filter($"vec_id" < 20), emb, "vec_id", "embedding",
        k = 5, model, nProbe = 8)
      .orderBy($"query_id", $"rank")
  }

  /** q28's relational top-k SQL over the wider vec_id < 20 query set the
    * ANN companions use. */
  private val q69Sql =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 20),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, rank, neighbor_id, sim
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Distributed Lloyd k-means (north star): 2 rounds, k=8, deterministic
    * lowest-id init — the cluster-then-dedup / cluster-balanced-sampling
    * primitive, emitted as the flat (cluster_id, dim, centroid, n_members)
    * model. Assignment argmins over round(squared-L2, 6) with cid
    * tie-break and means come from DECIMAL(18,8) sums, so the DuckDB
    * oracle — which replays BOTH Lloyd rounds relationally (cross join +
    * window argmin + decimal mean, an independent formulation) — must
    * match bit for bit. */
  private def q81Kmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.KMeans.fit(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, iters = 2)
      .orderBy($"cluster_id", $"dim")
  }

  /** Shared CTE LIST (no WITH prefix): relational replay of both Lloyd
    * rounds ending at `a2`, the final per-vector cluster assignment —
    * composed by q81 (the model) and q82 (cluster-scoped SemDeDup). */
  private val kmeansCtes =
    """c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
      |         embedding::DOUBLE[] AS c
      |  FROM embeddings ORDER BY vec_id LIMIT 8),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c0.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], c0.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), c0.cid) AS rn
      |    FROM embeddings e CROSS JOIN c0)
      |  WHERE rn = 1),
      |m1 AS (
      |  SELECT a1.cid, generate_subscripts(e.embedding, 1) - 1 AS dim,
      |         CAST(unnest(e.embedding) AS DOUBLE) AS x
      |  FROM embeddings e JOIN a1 USING (vec_id)),
      |c1d AS (
      |  SELECT cid, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
      |  FROM m1 GROUP BY cid, dim),
      |c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM c1d GROUP BY cid),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c1.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], c1.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), c1.cid) AS rn
      |    FROM embeddings e CROSS JOIN c1)
      |  WHERE rn = 1)""".stripMargin

  private val q81Sql =
    s"""WITH $kmeansCtes,
      |m2 AS (
      |  SELECT a2.cid, generate_subscripts(e.embedding, 1) - 1 AS dim,
      |         CAST(unnest(e.embedding) AS DOUBLE) AS x
      |  FROM embeddings e JOIN a2 USING (vec_id)),
      |c2d AS (
      |  SELECT cid, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m,
      |    COUNT(*) AS n
      |  FROM m2 GROUP BY cid, dim)
      |SELECT cid AS cluster_id, CAST(dim AS BIGINT) AS dim, m AS centroid,
      |  CAST(n AS BIGINT) AS n_members
      |FROM c2d ORDER BY cluster_id, dim""".stripMargin

  /** Cluster-scoped SemDeDup (north star): q63's workflow with the block
    * key upgraded from the given `label` column to a REAL k-means
    * assignment — exactly the caveat q63's design note documents
    * ("a k-means assignment would be rows-only"), closed by q81's
    * oracle-portable Lloyd. This is the true 100 TB SemDeDup shape: the
    * clustering bounds the near-quadratic pair stage per cell, and every
    * stage (fit, assign, pairs, closure, representative) sits under ONE
    * DuckDB hash. */
  private def q82KmeansSemdedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2)
    val labeled = graft.operators.KMeans.assign(emb, "embedding", model)
    val pairs = Similarity.nearDupPairs(labeled,
      "vec_id", "embedding", blockCol = "cluster_id", minSim = 0.4)
    graft.operators.Components.connectedComponents(pairs, "id_a", "id_b")
      .filter($"node" =!= $"component")
      .select($"node".as("vec_id"), $"component".as("kept_id"))
      .orderBy($"vec_id")
  }

  /** Shared CTE LIST (no WITH prefix) extending [[kmeansCtes]] to `a3`:
    * the post-fit assignment pass — the final (round-2) centroids `c2`
    * and each vector's cluster under them, i.e. the relational replay of
    * `KMeans.assign(emb, model)`. Composed by q82 (cluster-scoped
    * SemDeDup) and q91 (cluster-balanced sampling). */
  private val assignCtes =
    """m2 AS (
      |  SELECT a2.cid, generate_subscripts(e.embedding, 1) - 1 AS dim,
      |         CAST(unnest(e.embedding) AS DOUBLE) AS x
      |  FROM embeddings e JOIN a2 USING (vec_id)),
      |c2d AS (
      |  SELECT cid, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
      |  FROM m2 GROUP BY cid, dim),
      |c2 AS (SELECT cid, list(m ORDER BY dim) AS c FROM c2d GROUP BY cid),
      |a3 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c2.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], c2.c),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))), 6), c2.cid) AS rn
      |    FROM embeddings e CROSS JOIN c2)
      |  WHERE rn = 1)""".stripMargin

  private val q82Sql =
    s"""WITH RECURSIVE $kmeansCtes,
      |$assignCtes,
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM (SELECT e.*, a3.cid FROM embeddings e JOIN a3 USING (vec_id)) a
      |  JOIN (SELECT e.*, a3.cid FROM embeddings e JOIN a3 USING (vec_id)) b
      |    ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
      |    b.embedding::DOUBLE[]), 6) >= 0.4),
      |sem_edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |              UNION SELECT id_b, id_a FROM pairs),
      |sem_reach(n, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM sem_edges)
      |  UNION
      |  SELECT e.v, sem_reach.r FROM sem_reach JOIN sem_edges e ON e.u = sem_reach.n),
      |sem_comp AS (SELECT n AS node, MIN(r) AS component FROM sem_reach GROUP BY n)
      |SELECT node AS vec_id, component AS kept_id FROM sem_comp
      |WHERE node <> component
      |ORDER BY vec_id""".stripMargin

  /** Cluster-balanced sampling (north star): cap every k-means cell at
    * the same row count — the embedding-diversity curation primitive
    * (SemDeDup/DINOv2-style pipelines sample evenly across cluster cells
    * so dense regions of embedding space can't dominate the training
    * mix). fit + assign (q81/q82's oracle-portable Lloyd) + [[graft
    * .operators.Sampling.tokenBudgetSample]] with UNIT weights, so the
    * per-cell cut runs in deterministic hash-priority order under the
    * q74 prefix-histogram plan — no per-cell sort, dense cells truncate
    * at `cap`, sparse cells keep everything. Oracle: the shared Lloyd +
    * assignment replay and a row_number window — with unit weights,
    * running-sum <= budget ⇔ row rank <= cap, so the naive window form
    * states the contract directly. */
  private def q91ClusterSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.KMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2)
    val labeled = graft.operators.KMeans.assign(emb, "embedding", model)
      .select($"vec_id", $"cluster_id", lit(1L).as("w"))
    graft.operators.Sampling.tokenBudgetSample(
        labeled, "vec_id", "w", "cluster_id", budget = 60L, salt = "cellcap:")
      .select($"vec_id", $"cluster_id")
      .orderBy($"vec_id")
  }

  private val q91Sql =
    s"""WITH $kmeansCtes,
      |$assignCtes,
      |h AS (
      |  SELECT vec_id, cid,
      |    substr(md5('cellcap:' || CAST(vec_id AS VARCHAR)), 1, 8) AS hb
      |  FROM a3),
      |r AS (
      |  SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY cid ORDER BY hb, vec_id) AS rn
      |  FROM h)
      |SELECT vec_id, cid AS cluster_id
      |FROM r WHERE rn <= 60
      |ORDER BY vec_id""".stripMargin

  /** Shared CTE LIST (no WITH prefix): the deterministic JL projection
    * matrix (md5-derived, [[graft.operators.Projection]]'s portability
    * contract) as per-output-dim coefficient lists `mk(k, m)` — composed
    * by q92 (the projection itself) and q93 (ANN in projected space). */
  private val rpMatrixCtes =
    """rp_js AS (SELECT unnest(range(0, 64)) AS j),
      |rp_ks AS (SELECT unnest(range(0, 16)) AS k),
      |rp_m AS (
      |  SELECT j, k,
      |    ((CAST(('0x' || substr(md5('rp:' || j || ':' || k), 1, 8)) AS UBIGINT)
      |      / 4294967296.0) * 2 - 1) / sqrt(16.0) AS r
      |  FROM rp_js CROSS JOIN rp_ks),
      |mk AS (SELECT k, list(r ORDER BY j) AS m FROM rp_m GROUP BY k)""".stripMargin

  /** Deterministic random projection (north star): 64-dim embeddings →
    * 16-dim through the md5-derived JL matrix — the dimensionality
    * reduction that cuts every downstream ANN / clustering / dedup cost
    * 4× while preserving neighbor structure. Pure row-local map, zero
    * shuffle; the matrix never ships (each entry derives from
    * md5("rp:j:k"), rebuilt identically by the oracle). Emitted flat
    * (vec_id, k, y) so every coordinate sits under the driver hash. */
  private def q92RandomProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Projection.randomProject(
        Tables.embeddings(spark, dir), "embedding", inDim = 64, outDim = 16)
      .select($"vec_id", posexplode($"projected").as(Seq("k", "y")))
      .orderBy($"vec_id", $"k")
  }

  private val q92Sql =
    s"""WITH $rpMatrixCtes
      |SELECT e.vec_id, CAST(mk.k AS INT) AS k,
      |  round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], mk.m),
      |    z -> z[1] * z[2])), 6) AS y
      |FROM embeddings e CROSS JOIN mk
      |ORDER BY vec_id, k""".stripMargin

  /** ANN in projected space (north star): q28's exact cosine top-k run on
    * the 16-dim q92 projection instead of the 64-dim originals — the
    * classic JL recipe (project once, then every distance computation
    * downstream is 4× cheaper). As a COMPUTATION this is exact, so the
    * whole chain — matrix derivation, projection, cosine, ranking — sits
    * under one DuckDB hash; how faithfully projected ranks track
    * original-space ranks is the JL guarantee, bounded in ProjectionSpec
    * on a geometry-controlled fixture. */
  private def q93ProjectedAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val proj = graft.operators.Projection.randomProject(
        Tables.embeddings(spark, dir), "embedding", inDim = 64, outDim = 16)
      .select($"vec_id", $"projected")
    Similarity.cosineTopK(
        proj.filter($"vec_id" < 10), proj, "vec_id", "projected", k = 5)
      .orderBy($"query_id", $"rank")
  }

  private val q93Sql =
    s"""WITH $rpMatrixCtes,
      |p AS (
      |  SELECT e.vec_id,
      |    list(round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], mk.m),
      |      z -> z[1] * z[2])), 6) ORDER BY mk.k) AS v
      |  FROM embeddings e CROSS JOIN mk GROUP BY e.vec_id),
      |sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.v, c.v), 6) AS sim
      |  FROM p q JOIN p c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, rank, neighbor_id, sim
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining (north star): per query, the top-5 most-similar
    * vectors with a DIFFERENT label — the contrastive-training pairs an
    * embedding/retrieval model needs at corpus scale. q28's exact plan
    * with the label-mismatch predicate pushed into the pair join; the
    * oracle re-derives the same ranking relationally. */
  private def q88HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(
        emb.filter($"vec_id" < 20), emb, "vec_id", "embedding", "label", k = 5)
      .orderBy($"query_id", $"rank")
  }

  private val q88Sql =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    c.label AS neighbor_label,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id != c.vec_id AND q.label != c.label
      |  WHERE q.vec_id < 20),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, rank, neighbor_id, neighbor_label, sim
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Embedding hygiene (north star): per-vector L2 norm + symmetric int8
    * quantization summary — row-local HOF arithmetic, zero shuffle (see
    * graft.operators.Quantize for the float→double determinism contract
    * that makes this bit-comparable across engines). */
  private def q54EmbedQuant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Quantize.int8Stats(
        Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy($"vec_id")
  }

  private val q54Sql =
    """WITH b AS (
      |  SELECT vec_id, len(embedding) AS dim,
      |    list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) AS ss,
      |    coalesce(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 0.0) AS ma
      |  FROM embeddings),
      |q AS (
      |  SELECT e.vec_id, e.embedding, b.dim, b.ss, b.ma,
      |    CASE WHEN b.ma > 0 THEN 127.0/b.ma ELSE 0.0 END AS sc
      |  FROM b JOIN embeddings e USING (vec_id))
      |SELECT vec_id, CAST(dim AS INT) AS dim, round(sqrt(ss), 6) AS l2_norm,
      |  round(ma, 6) AS max_abs,
      |  CAST(list_sum(list_transform(embedding::DOUBLE[], x -> floor(x*sc + 0.5))) AS BIGINT) AS q_sum,
      |  CAST(len(list_filter(list_transform(embedding::DOUBLE[], x -> floor(x*sc + 0.5)), v -> v = 0)) AS BIGINT) AS q_zeros
      |FROM q ORDER BY vec_id""".stripMargin

  /** Sparse tf-idf cosine all-pairs (SparseSim): the weighted-overlap
    * complement to the Jaccard/containment dedup family, prefix-filtered
    * Bayardo-style. Terms are word 3-gram SHINGLES, not unigrams — the
    * fixture's unigram vocabulary is ~31 words, so unigram vectors are
    * dense and force true all-pairs work on ANY algorithm (measured:
    * 12.5M candidates at sf0.1); the 27k-shingle space is genuinely
    * sparse, the prefix filter bites, and the result is the weighted
    * near-dup screen (it recovers exactly the planted near-dup pairs the
    * MinHash/Jaccard family finds, by an independent signal). The engine
    * runs the lossless one-sided prefix plan; the oracle re-derives the
    * NAIVE shared-dim join over the same quantized integer weights —
    * equality IS the losslessness proof, replayed per round at sf0.01.
    * Output columns are the exact integer decision witnesses (dot, na2,
    * nb2), no float ever crosses engines. */
  private def q113SparseCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val ws = graft.functions.TextFunctions.tokens($"text")
    val shingleTerms = when(size(ws) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ws) - 3),
        i => array_join(slice(ws, i + 1, lit(3)), " ")))
    val terms = docs.select($"doc_id".as("sid"), explode(shingleTerms).as("term"))
    val vocab = graft.operators.TfIdf
      .fitVocabFromTerms(terms.withColumnRenamed("sid", "__id"),
        docs.count(), vocabSize = 2000)
    graft.operators.SparseSim
      .cosinePairsFromTerms(terms, vocab, minCosCenti = 85)
      .orderBy($"id_a", $"id_b")
  }

  private val q113Sql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT doc_id, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS pos, ts
      |  FROM toks),
      |shing AS (
      |  SELECT doc_id, array_to_string(list_slice(ts, pos, pos + 2), ' ') AS term
      |  FROM occ),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM shing GROUP BY 1),
      |vocab AS (
      |  SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) - 1 AS idx,
      |    ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df + 1.0)) + 1.0 AS idf
      |  FROM df ORDER BY df DESC, term ASC LIMIT 2000),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM shing GROUP BY 1, 2),
      |w AS (
      |  SELECT t.doc_id, v.idx, CAST(floor(t.tf * v.idf * 100) AS HUGEINT) AS wq
      |  FROM tf t JOIN vocab v USING (term)),
      |norms AS (SELECT doc_id, SUM(wq * wq) AS n2 FROM w GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.wq * b.wq) AS dot
      |  FROM w a JOIN w b ON a.idx = b.idx AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.id_a, p.id_b, CAST(p.dot AS BIGINT) AS dot,
      |  CAST(x.n2 AS BIGINT) AS na2, CAST(y.n2 AS BIGINT) AS nb2
      |FROM pairs p
      |JOIN norms x ON x.doc_id = p.id_a
      |JOIN norms y ON y.doc_id = p.id_b
      |WHERE 10000 * p.dot * p.dot >= 7225 * x.n2 * y.n2
      |ORDER BY id_a, id_b""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q113_sparse_cosine", q113SparseCosine, Some(q113Sql),
      "exact sparse tf-idf cosine pairs, Bayardo prefix filter vs naive oracle (north star)"),
    Q("q54_embed_quant", q54EmbedQuant, Some(q54Sql),
      "L2 norms + int8 quantization summary (north star)"),
    Q("q39_ivf_knn", q39IvfKnn, None,
      "IVF-clustered ANN top-k at approximate nProbe (rows-only; machinery oracled via q70)"),
    Q("q191_pq_topk", q191PqTopk, None,
      "product-quantization ADC top-k shortlist (rows-only; ADC identity + shortlist recall in PqSpec, exact companion q28)"),
    Q("q193_ivfadc_topk", q193IvfAdcTopk, None,
      "IVF-PQ composed pruning (rows-only; full-probe ≡ ADC limit identity in PqSpec, exact companion q28)"),
    Q("q211_pq_exact", q211PqExact, Some(q211Sql),
      "full PQ chain (subspace Lloyd + encode + ADC top-k) replayed relationally under one hash (north star)"),
    Q("q214_ann_recall", q214AnnRecall, Some(q214Sql),
      "measured recall@5 floors for every ANN variant vs exact top-k, integer-gated (north star)"),
    Q("q215_two_stage", q215TwoStage, Some(q215Sql),
      "two-stage retrieval: ADC shortlist -> exact re-rank, whole chain under one hash (north star)"),
    Q("q216_hybrid_persisted", q216HybridPersisted, Some(q216Sql),
      "hybrid retrieval over persisted indexes: save/append/delete/probe/fuse lifecycle under one hash (north star)"),
    Q("q227_persisted_recall_gate", q227PersistedRecallGate, Some(q227Sql),
      "recall/nDCG/MRR gate on probeSaved at production nProbe after save/append/delete/compact/snapshot/restore (north star)"),
    Q("q218_filtered_ann", q218FilteredAnn, Some(q218Sql),
      "filtered vector search: attribute predicate semi-joined onto the persisted codes scan before ADC, under one hash (north star)"),
    Q("q236_embedding_drift", q236EmbeddingDrift, Some(q236Sql),
      "embedding drift gate: per-dim exact mean shifts + dim-ordered window cosine, q206's discipline on vectors"),
    Q("q232_index_fsck", q232IndexFsck, Some(q232Sql),
      "fsck all four index families after a lived build: cross-artifact invariants under the hash"),
    Q("q219_index_stats", q219IndexStats, Some(q219Sql),
      "index observability: serving-dashboard stats of all three persisted index families, corpus-derivable subset under one hash (north star)"),
    Q("q212_hybrid_rrf", q212HybridRrf, Some(q212Sql),
      "hybrid BM25 ⊕ vector retrieval fused by reciprocal rank, both legs + fusion under one hash (north star)"),
    Q("q210_mmr_topk", q210MmrTopk, None,
      "MMR diversified top-k re-ranking (rows-only; lambda=1 ≡ plain top-k pinned in spec, companion q28)"),
    Q("q195_ivfadc_residual", q195IvfAdcResidual, None,
      "residual-encoded IVFADC (rows-only; residual error < raw error pinned in PqSpec, exact companion q28)"),
    Q("q69_lsh_ann_exact", q69LshAnnExact, Some(q69Sql),
      "LSH-ANN at saturating table count reproduces exact top-k (north star)"),
    // q70 deliberately SHARES q69Sql: both queries' claim is "≡ exact
    // top-k", so one oracle gates two queries — edit q69Sql with care.
    Q("q223_ivf_delete", q223IvfDelete, Some(q223Sql),
      "targeted delete on the persisted exact-vector IVF index: saturating probe == exact top-k without the deleted rows (north star)"),
    Q("q70_ivf_full_probe", q70IvfFullProbe, Some(q69Sql),
      "IVF at nProbe = nLists reduces to exact brute force (north star)"),
    Q("q28_knn_brute", q28KnnBrute, Some(q28Sql), "exact cosine top-k (north star)"),
    Q("q88_hard_negatives", q88HardNegatives, Some(q88Sql),
      "contrastive hard-negative mining: top-k different-label neighbors (north star)"),
    Q("q29_embedding_neardup", q29NearDup, Some(q29Sql), "blocked cosine near-dup pairs (north star)"),
    Q("q63_semdedup", q63SemDedup, Some(q63Sql),
      "SemDeDup within-cluster semantic pruning: components over cosine pairs vs recursive-closure oracle (north star)"),
    Q("q30_lsh_knn", q30LshKnn, None,
      "LSH-bucketed ANN top-k at sparse parameters (rows-only; machinery oracled via q69)"),
    Q("q31_label_centroids", q31LabelCentroids, Some(q31Sql), "per-label per-dim exact sums"),
    Q("q81_kmeans", q81Kmeans, Some(q81Sql),
      "distributed Lloyd k-means, both rounds replayed relationally (north star)"),
    Q("q82_kmeans_semdedup", q82KmeansSemdedup, Some(q82Sql),
      "SemDeDup over REAL k-means cells: fit+assign+pairs+closure under one hash (north star)"),
    Q("q91_cluster_sample", q91ClusterSample, Some(q91Sql),
      "cluster-balanced sampling: per-k-means-cell row cap in hash order (north star)"),
    Q("q92_random_project", q92RandomProject, Some(q92Sql),
      "deterministic JL random projection 64->16, md5-derived matrix (north star)"),
    Q("q93_projected_ann", q93ProjectedAnn, Some(q93Sql),
      "exact cosine top-k in JL-projected space: the project-then-search recipe (north star)"),
    Q("q32_binary_meta", q32BinaryMeta, Some(q32Sql), "binary payload metadata (multimodal plumbing)"),
    Q("q168_hamming_pairs", q168HammingPairs, Some(q168Sql),
      "covering-code hamming band join vs brute-force oracle on synthesized fingerprints (north star)"),
    Q("q249_audio_envelope_oracle", q249AudioEnvelopeOracle, Some(q249Sql),
      "audio eHash cross-engine verdict: real WAV decode -> envelope order bits -> near-dup pairs vs relational replay (north star)"),
    Q("q252_vector_stream_gate", q252VectorStreamGate, Some(q252Sql),
      "stream-maintained IVFADC serving gate: in-stream snapshot + poison + frozen-tag serving == restored-generation batch probe, plus quality floors (north star)"))
}
