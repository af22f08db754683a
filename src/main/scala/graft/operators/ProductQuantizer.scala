package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compressed-vector leg of the ANN
  * family beside [[IvfIndex]] (partitioning) and Similarity's LSH
  * (bucketing): split each D-dim vector into `m` contiguous subspaces of
  * D/m dims, k-means each subspace independently, and store a vector as
  * its `m` nearest-subcentroid POSITIONS (one small int per subspace —
  * a 64-dim float vector becomes 8 bytes at k ≤ 256). Queries scan the
  * codes with the asymmetric distance computation (ADC): per query, a
  * per-subspace table of squared L2 distances to every subcentroid is
  * computed ONCE (m·k·(D/m) work), and each corpus row then costs m
  * table lookups instead of D multiplies.
  *
  * Scale story: the corpus-side artifact is (id, m small ints) — a
  * 32-64x compression of the raw vectors — and the scan is a narrow
  * map over it with the query tables riding a broadcast, so the 100 TB
  * shape is "codes live in parquet, queries stream against them";
  * composition INSIDE IVF lists (IVFADC) multiplies the two prunings.
  * Training runs m bounded k-means jobs; at corpus scale PQ codebooks
  * are fitted on a [[Sampling.hashSample]] (the standard practice — the
  * codebook needs distribution coverage, not every row).
  *
  * Approximation contract (spec'd, PqSpec): ADC(q, x) equals EXACTLY
  * Σ_s ‖q_s − c_{s,code_s(x)}‖² — the distance to x's reconstruction —
  * so it is deterministic given the (deterministically seeded) model;
  * ranking quality degrades gracefully with k and m, and the recall
  * floor against exact brute force is asserted on clustered data.
  *
  * Reference family: Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 (public).
  */
object ProductQuantizer {

  /** Fit the per-subspace codebooks: `m` independent [[KMeans.fit]] runs
    * over the vector slices. Output, one row per (subspace, cluster,
    * dim): (subspace, cluster_id, dim, centroid, n_members), with `dim`
    * LOCAL to the subspace (0 until D/m). Deterministic: KMeans seeds on
    * the k lowest-id rows of each slice. */
  def fit(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      iters: Int): DataFrame = {
    val d = vectorDim(df, vecCol)
    require(m >= 1 && d % m == 0,
      s"subspace count $m must divide the vector dim $d")
    val subDim = d / m
    val v = col(vecCol).cast("array<double>")
    // Materialize the training projection ONCE before the concurrent
    // fan-out. Two load-bearing reasons:
    //  - correctness: the input chain may carry higher-order-function
    //    lambdas (fitResidual's zip_with residual). Catalyst binds those
    //    to NamedLambdaVariable instances whose value slot is MUTABLE
    //    shared state; driver-side evaluation (ConvertToLocalRelation
    //    folds projections over local data at optimization time) races
    //    them across the m concurrent jobs — observed as run-to-run
    //    codebook divergence. A materialized cache evaluates the lambda
    //    chain exactly once, before any concurrency exists.
    //  - scale: without it, every subspace's every Lloyd round would
    //    re-execute the full upstream chain (assignment kernel +
    //    residual zip_with) — m·(iters+1) redundant corpus passes.
    val base = df.select(col(idCol), v.as("__vec")).persist()
    try {
      base.count()
      // the m subspace fits are INDEPENDENT small-job chains (each Lloyd
      // round is one aggregate + a bounded collect); submitted
      // sequentially they serialize m·iters driver round-trips, so run
      // them as concurrent Spark jobs over the cache — the scheduler
      // just overlaps the round-trips
      // Concurrency.runAll (fresh per-call pool, not the global EC): the
      // subspace legs inherit the caller's job group, so a harness that
      // cancels the group reaches them too
      val fits = graft.core.Concurrency.runAll((0 until m).map(s => () => {
        val sub = base.select(col(idCol),
          slice(col("__vec"), s * subDim + 1, subDim).as("__sub"))
        KMeans.fit(sub, idCol, "__sub", k, iters)
          .withColumn("subspace", lit(s))
          .select(col("subspace"), col("cluster_id"), col("dim"),
            col("centroid"), col("n_members"))
      }))
      // the model is parameter-bounded (m·k·(D/m) = k·D rows), so pin it
      // as a local relation: downstream collects (codebooks, encode, ADC
      // tables) never re-run the training chain — and never re-read the
      // cache this method is about to release
      localized(fits.reduce(_.unionAll(_)))
    } finally base.unpersist()
  }

  /** Collect a parameter-bounded frame and re-issue it as a local
    * relation — the model frames here are k·D scalars by construction,
    * so this trades one bounded driver round-trip for never re-running
    * the (corpus-scale) training lineage on later collects. */
  private def localized(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** The codebook as nested driver arrays: codebook(s)(j) is subspace
    * s's j-th centroid (position order = ascending cluster_id; k-means
    * clusters can vanish, so positions are dense even when cids gap).
    * Parameter-bounded: m·k·(D/m) = k·D scalars. */
  private[graft] def collectCodebook(model: DataFrame): Array[Array[Array[Double]]] = {
    val rows = model.select(col("subspace").cast("int"), col("cluster_id"),
      col("dim"), col("centroid")).collect()
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (_, rs) =>
      rs.groupBy(_.getLong(1)).toArray.sortBy(_._1).map { case (_, cs) =>
        cs.sortBy(_.getLong(2)).map(_.getDouble(3))
      }
    }
  }

  /** The codes array<int> column for a vector column under codebook
    * `cb` — m nearest-subcentroid codegen kernels, centroids inlined as
    * plan literals; shared by [[encode]] and the save/append artifact
    * builder so both stay bit-identical. */
  private def codesColumn(vec: Column,
      cb: Array[Array[Array[Double]]]): Column = {
    val subDim = cb(0)(0).length
    val v = vec.cast("array<double>")
    array(cb.zipWithIndex.map { case (cents, s) =>
      graft.functions.expressions.VectorExpressions.nearest_centroid_l2(
        slice(v, s * subDim + 1, subDim), cents.map(_.toSeq).toSeq)
        .cast("int")
    }: _*)
  }

  /** Encode every vector as its `m` nearest-subcentroid positions —
    * (idCol, codes Array[Int]). One codegen nearest-centroid kernel call
    * per subspace per row, codebook inlined as plan literals: a narrow
    * map, zero shuffle, zero join. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      model: DataFrame): DataFrame =
    df.select(col(idCol),
      codesColumn(col(vecCol), collectCodebook(model)).as("codes"))

  /** ADC top-k: for each query row, the k nearest corpus codes by
    * asymmetric distance, ties broken by id. The per-query distance
    * tables are built as a COLUMN on the (small, broadcast) query side —
    * m·k·(D/m) work once per query — and each (query, code) pair then
    * costs m array lookups. Output: (query_id, rank, id, approx_dist).
    *
    * The query side is the bounded probe set (the q28 brute-force
    * contract); the corpus side never shuffles — the only exchange is
    * the final per-query top-k. */
  def adcTopK(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      encoded: DataFrame, idCol: String, model: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("id").asc)
    adcDistances(queries, queryIdCol, queryVecCol, encoded, idCol, model)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("approx_dist"))
  }

  /** The full ADC-scored frame [[adcTopK]] windows over — one row per
    * (query, corpus code) with the asymmetric distance, no top-k cut:
    * (query_id, id, approx_dist). Exposed so exactness contracts can
    * restate the whole chain relationally (q211's DuckDB replay ranks
    * this frame under the house round-6 discipline) and so callers can
    * apply their own cut (threshold screens, reservoir feeds).
    * approx_dist is the fixed-order fold Σ_s tab[s][code_s] — per-query
    * table work m·k·(D/m) on the broadcast side, m array lookups per
    * (query, code) pair; the corpus side never shuffles. */
  def adcDistances(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      encoded: DataFrame, idCol: String, model: DataFrame): DataFrame = {
    val cb = collectCodebook(model)
    val subDim = cb(0)(0).length
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val qTab = queries
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).cast("array<double>").as("__qv"))
      .withColumn("__cb", cbLit)
      .withColumn("__tab", expr(
        s"""transform(__cb, (subcents, s) ->
           |  transform(subcents, c ->
           |    aggregate(sequence(0, ${subDim - 1}), cast(0.0 as double),
           |      (acc, d) -> acc + pow(__qv[s * $subDim + d] - c[d], 2))))"""
          .stripMargin))
      .drop("__cb", "__qv")
    encoded
      .select(col(idCol).as("id"), col("codes").as("__codes"))
      .crossJoin(broadcast(qTab))
      .withColumn("approx_dist", expr(
        s"""aggregate(sequence(0, ${cb.length - 1}), cast(0.0 as double),
           |  (acc, s) -> acc + __tab[s][__codes[s]])""".stripMargin))
      .select(col("query_id"), col("id"), col("approx_dist"))
  }

  private def vectorDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Coarse centroids of a [[KMeans]] model frame as a cid→vector map
    * literal (cluster ids can gap when cells vanish, so a positional
    * array would mis-index). */
  private def coarseMap(coarse: DataFrame): Column = {
    val cents = coarse.select(col("cluster_id"), col("dim"), col("centroid"))
      .collect()
      .groupBy(_.getLong(0)).toSeq.map { case (cid, rs) =>
        cid -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
      }.sortBy(_._1)
    typedlit(cents.toMap)
  }

  /** Residual of `vecCol` against the row's assigned coarse centroid —
    * x − c(cell(x)), the quantity classical IVFADC encodes. Expects the
    * `cellCol` produced by [[KMeans.assign]]; a narrow zip_with over the
    * centroid map literal, zero shuffle. */
  private def residualCol(vecCol: String, cellCol: String,
      coarse: DataFrame): Column =
    zip_with(col(vecCol).cast("array<double>"),
      element_at(coarseMap(coarse), col(cellCol)),
      (a, b) => a - b)

  /** Train the PQ codebooks on RESIDUALS x − c(cell(x)) — the classical
    * IVFADC refinement: within a cell the residual distribution is
    * tighter than the raw one, so the same (m, k) budget buys smaller
    * quantization error. One SHARED residual codebook serves every cell
    * (the Jégou et al. design — per-cell codebooks would cost
    * nLists·k·D parameters and fragment the training sample). */
  def fitResidual(df: DataFrame, idCol: String, vecCol: String,
      coarse: DataFrame, m: Int, k: Int, iters: Int): DataFrame = {
    val withCell = KMeans.assign(
      df.select(col(idCol), col(vecCol)), vecCol, coarse)
      .withColumn("__resid", residualCol(vecCol, "cluster_id", coarse))
    fit(withCell, idCol, "__resid", m, k, iters)
  }

  /** Encode every vector as (idCol, codes, list_id) with codes
    * quantizing the RESIDUAL against the assigned cell — the complete
    * corpus-side IVFADC artifact in one pass (assignment kernel +
    * residual zip_with + m nearest-subcentroid kernels, all narrow). */
  def encodeResidual(df: DataFrame, idCol: String, vecCol: String,
      coarse: DataFrame, model: DataFrame): DataFrame =
    KMeans.assign(df.select(col(idCol), col(vecCol)), vecCol, coarse)
      .withColumn("__resid", residualCol(vecCol, "cluster_id", coarse))
      .select(col(idCol),
        codesColumn(col("__resid"), collectCodebook(model)).as("codes"),
        col("cluster_id").as("list_id"))

  /** IVF-PQ composition: the ADC scan restricted to each query's
    * `nProbe` nearest coarse cells, multiplying the two prunings — the
    * coarse layer skips (nLists − nProbe)/nLists of the corpus, PQ
    * compresses what remains 32-64×. The coarse quantizer is a
    * [[KMeans]] model (SAME squared-L2 metric as ADC — partitioning and
    * scoring agree, no cosine/L2 mismatch), assignment via
    * [[KMeans.assign]]'s codegen kernel, probe ranking via one
    * posexplode over the centroid literal. Codes quantize the RAW
    * vectors (one codebook serves every cell), which buys the exact
    * limit identity `nProbe = nLists ⇒ ≡ adcTopK` that PqSpec pins;
    * classical residual encoding (PQ on x − centroid, one codebook per
    * cell's residual space) is the documented refinement — it trades
    * that identity for tighter cells.
    *
    * `indexed` is the corpus artifact: (idCol, codes, list_id) from
    * [[encode]] + [[KMeans.assign]] — both narrow maps, built once,
    * stored columnar. */
  def ivfAdcTopK(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      indexed: DataFrame, idCol: String, model: DataFrame,
      coarse: DataFrame, k: Int, nProbe: Int): DataFrame =
    ivfAdc(queries, queryIdCol, queryVecCol, indexed, idCol, model, coarse,
      k, nProbe, residual = false)

  /** Residual-encoded IVFADC — the classical Jégou et al. refinement
    * over [[ivfAdcTopK]]: the corpus artifact comes from
    * [[encodeResidual]] (codes quantize x − c(cell(x)) against the
    * [[fitResidual]] codebook), and each probe's distance table is
    * built from the query's OWN residual against that cell, q − c —
    * per-(query, cell) table work is nProbe·k·D, still bounded on the
    * broadcast side. Within a cell residuals are tighter than raw
    * vectors, so the same (m, k) budget yields smaller quantization
    * error (PqSpec pins reconstruction improving and the recall floor);
    * the price is the raw-codes variant's exact full-probe ≡ plain-ADC
    * identity, which residual codes trade away by construction. */
  def ivfAdcTopKResidual(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, indexed: DataFrame, idCol: String,
      model: DataFrame, coarse: DataFrame, k: Int, nProbe: Int): DataFrame =
    ivfAdc(queries, queryIdCol, queryVecCol, indexed, idCol, model, coarse,
      k, nProbe, residual = true)

  private def ivfAdc(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, indexed: DataFrame, idCol: String,
      model: DataFrame, coarse: DataFrame, k: Int, nProbe: Int,
      residual: Boolean): DataFrame = {
    val cb = collectCodebook(model)
    scoreAgainst(indexed, idCol,
      probeFrame(queries, queryIdCol, queryVecCol, cb, coarse, nProbe,
        residual),
      cb.length, k)
  }

  /** The (query, probed cell) frame with per-pair ADC tables:
    * (query_id, __tab, list_id). */
  private def probeFrame(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, cb: Array[Array[Array[Double]]],
      coarse: DataFrame, nProbe: Int, residual: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val subDim = cb(0)(0).length
    val d = cb.length * subDim
    val cents = coarse.select(col("cluster_id"), col("dim"), col("centroid"))
      .collect()
      .groupBy(_.getLong(0)).toSeq.map { case (cid, rs) =>
        (cid, rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq)
      }.sortBy(_._1)
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    // the table's reference vector: the raw query, or — residual form —
    // the query minus the PROBED cell's centroid (so the table must be
    // built after cell selection, once per (query, probed cell))
    val tabOf = (v: String) => expr(
      s"""transform(__cb, (subcents, s) ->
         |  transform(subcents, c ->
         |    aggregate(sequence(0, ${subDim - 1}), cast(0.0 as double),
         |      (acc, d) -> acc + pow($v[s * $subDim + d] - c[d], 2))))"""
        .stripMargin)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__cd").asc, col("list_id").asc)
    val cells = queries
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).cast("array<double>").as("__qv"))
      .select(col("query_id"), col("__qv"),
        posexplode(typedlit(cents.map(_._2))).as(Seq("pos", "__c")))
      .withColumn("list_id",
        element_at(typedlit(cents.map(_._1)), col("pos") + 1))
      .withColumn("__cd", expr(
        s"""aggregate(sequence(0, ${d - 1}), cast(0.0 as double),
           |  (acc, i) -> acc + pow(__qv[i] - __c[i], 2))""".stripMargin))
      .withColumn("__rk", row_number().over(wq))
      .filter(col("__rk") <= nProbe)
    (if (residual)
        cells.withColumn("__rv",
            zip_with(col("__qv"), col("__c"), (a, b) => a - b))
          .withColumn("__cb", cbLit)
          .withColumn("__tab", tabOf("__rv"))
      else
        cells.withColumn("__cb", cbLit)
          .withColumn("__tab", tabOf("__qv")))
      .select(col("query_id"), col("__tab"), col("list_id"))
  }

  /** Broadcast-join the probe tables onto the codes — the full scored
    * frame (query_id, id, approx_dist), no top-k cut. */
  private def scoredAgainst(indexed: DataFrame, idCol: String,
      probes: DataFrame, m: Int): DataFrame =
    indexed
      .select(col(idCol).as("id"), col("codes").as("__codes"), col("list_id"))
      .join(broadcast(probes), "list_id")
      .withColumn("approx_dist", expr(
        s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
           |  (acc, s) -> acc + __tab[s][__codes[s]])""".stripMargin))
      .select(col("query_id"), col("id"), col("approx_dist"))

  /** [[scoredAgainst]] cut to the top k per query by asymmetric
    * distance, ties by id. */
  private def scoreAgainst(indexed: DataFrame, idCol: String,
      probes: DataFrame, m: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("id").asc)
    scoredAgainst(indexed, idCol, probes, m)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("approx_dist"))
  }

  /** Persist an IVFADC index: the coarse model, the PQ codebook, the
    * list-partitioned codes, and a one-row meta (the residual flag — a
    * probe MUST build its tables in the same space the codes quantize).
    * Codes are the only corpus-sized artifact: (id, m small ints),
    * partitioned by cell so probes prune non-probed files at planning
    * time. Mirrors [[IvfIndex.save]]'s layout discipline. */
  def save(df: DataFrame, idCol: String, vecCol: String, coarse: DataFrame,
      model: DataFrame, dir: String, residual: Boolean): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // parameter-sized artifacts (k x dim rows): one file each, like meta
    coarse.coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
    model.coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_model")
    val nLists = new IndexLifecycle.Params(spark, dir)(lifecycle.partitions)
      .toInt
    IndexLifecycle.aligned(indexArtifact(df, idCol, vecCol, coarse, model,
      residual), nLists, "list_id").mode("overwrite").parquet(s"$dir/codes")
    Seq(residual).toDF("residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def indexArtifact(df: DataFrame, idCol: String, vecCol: String,
      coarse: DataFrame, model: DataFrame, residual: Boolean): DataFrame =
    if (residual) encodeResidual(df, idCol, vecCol, coarse, model)
    else
      // one narrow pass: coarse assignment + PQ codes over the same row
      // ([[encodeResidual]]'s discipline). The r15 form ran encode()
      // first and JOINED the vectors back on id — a full corpus
      // self-join shuffle for a column the row already carried.
      KMeans.assign(df.select(col(idCol), col(vecCol)), vecCol, coarse)
        .select(col(idCol),
          codesColumn(col(vecCol), collectCodebook(model)).as("codes"),
          col("cluster_id").as("list_id"))

  /** Append new vectors to a persisted index, encoded against the SAVED
    * codebooks — deliberately immutable per batch, the [[IvfIndex.append]]
    * discipline (codebooks represent the corpus distribution and are
    * refit on a maintenance cadence, not nudged per micro-batch).
    * Single-writer; readers may probe concurrently (parquet appends are
    * add-only). */
  def append(df: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = df.sparkSession
    recover(spark, dir)
    val params = new IndexLifecycle.Params(spark, dir)
    IndexLifecycle.aligned(indexArtifact(df, idCol, vecCol,
        params.read("coarse"), params.read("pq_model"), params(Residual) == 1L),
        params(lifecycle.partitions).toInt, "list_id")
      .mode("append").parquet(s"$dir/codes")
  }

  /** The meta column: whether the codes quantize residuals (1) or raw
    * vectors (0). */
  private val Residual = IndexLifecycle.MetaColumn("residual")

  /** This family's lifecycle facts: `codes/` carries the caller's id
    * column, partitioned by cell; the cell count is the coarse model's
    * cluster count; the two codebooks are the flat parameter artifacts.
    * fsck: no duplicate code ids, every code as wide as the codebook's
    * subspace count, and every cell a coarse centroid's. The stats are
    * [[stats]]'s rows. */
  val lifecycle: IndexLifecycle.Spec = {
    import IndexAudit._, IndexLifecycle._
    val cells = Some(Group(Seq("list_id")))
    Spec("pq", Seq(IdArtifact("codes", None, Some("list_id"))),
      DistinctCount("coarse", "cluster_id"),
      flatParams = Seq("coarse", "pq_model"),
      recovered = Seq("codes", "coarse", "pq_model"),
      checks = Seq(Stat("code_rows", "codes", _ => count(lit(1)),
          (v, s) => v === countDistinct(s.id)),
        Stat("code_width_violations", "codes", s => count(when(
          size(col("codes")) =!= s.param(DistinctCount("pq_model", "subspace")),
          1)), atZero),
        Subset("unknown_list_ids", Key("codes", "list_id"),
          Key("coarse", "cluster_id"))),
      stats = Seq(Stat("code_rows", "codes", _ => sum(Group.size), by = cells),
        Stat("n_lists", "codes", _ => count(lit(1)), by = cells),
        Stat("min_cell_size", "codes", _ => min(Group.size), by = cells),
        Stat("max_cell_size", "codes", _ => max(Group.size), by = cells),
        Stat("m", "codes", _ => max(size(col("codes")))),
        Stat("pq_codebook_rows", "pq_model", _ => count(lit(1))),
        Stat("residual", "pq_model", _.param(Residual))))
  }

  /** The pruned-scan scored frame behind [[probeSaved]]: one row per
    * (query, code in a probed cell) with the asymmetric distance and no
    * top-k cut — the persisted-index analogue of [[adcDistances]].
    * Exposed so exactness contracts can restate the persisted chain
    * relationally (rank over round(approx_dist, 6) — the q211
    * discipline) and so callers can apply their own cut.
    *
    * `idFilter` (optional, one column of allowed ids — the FAISS
    * IDSelector shape) restricts the search to a subset of the corpus:
    * the semi-join lands on the codes scan BEFORE any probe-table join
    * or ADC arithmetic, so excluded vectors are never scored and the
    * top-k is taken WITHIN the filtered set — the filtered-search
    * semantics a post-filter on an unfiltered top-k cannot give (it
    * returns < k survivors and loses recall). Callers with an attribute
    * predicate derive the frame as `attrs.filter(pred).select(id)`;
    * the filter may be corpus-scale, so it is NOT broadcast-hinted —
    * AQE picks broadcast when it is small. */
  def probeSavedDistances(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, spark: org.apache.spark.sql.SparkSession,
      dir: String, nProbe: Int,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val (codes, probes, m) =
      savedProbePlan(queries, queryIdCol, queryVecCol, spark, dir, nProbe)
    scoredAgainst(filteredCodes(codes, idFilter),
      lifecycle.membership.idColIn(codes.schema), probes, m)
  }

  /** Probe a persisted index. The probed cell ids resolve driver-side
    * first (≤ nLists longs) and apply as a static `isin` filter, so the
    * codes scan prunes non-probed list directories at planning time —
    * the [[IvfIndex.probeIndexed]] pruning discipline. `idFilter` as in
    * [[probeSavedDistances]]: filtered search, never post-filtering. */
  def probeSaved(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, nProbe: Int,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val (codes, probes, m) =
      savedProbePlan(queries, queryIdCol, queryVecCol, spark, dir, nProbe)
    scoreAgainst(filteredCodes(codes, idFilter),
      lifecycle.membership.idColIn(codes.schema), probes, m, k)
  }

  /** Apply an optional allowed-id semi-join to a codes scan. */
  private def filteredCodes(codes: DataFrame,
      idFilter: Option[DataFrame]): DataFrame =
    idFilter.fold(codes) { f =>
      require(f.columns.length == 1,
        s"idFilter must be a one-column frame, got ${f.columns.toSeq}")
      codes.join(f.toDF("__allow_id"),
        col(lifecycle.membership.idColIn(codes.schema)) === col("__allow_id"),
        "left_semi")
    }

  /** Shared probe plan over a persisted index: (pruned codes scan,
    * broadcast probe-table frame, subspace count). */
  private def savedProbePlan(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, spark: org.apache.spark.sql.SparkSession,
      dir: String, nProbe: Int): (DataFrame, DataFrame, Int) = {
    val params = new IndexLifecycle.Params(spark, dir)
    val cb = collectCodebook(params.read("pq_model"))
    val probes = probeFrame(queries, queryIdCol, queryVecCol, cb,
      params.read("coarse"), nProbe, params(Residual) == 1L)
    val probedLists = probes.select(col("list_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("list_id").isin(probedLists.toIndexedSeq: _*))
    (codes, probes, cb.length)
  }

  /** Targeted delete (right-to-be-forgotten): remove `ids` (a one-column
    * frame) from a persisted index without a rebuild — the `codes/`
    * artifact (the only corpus-sized one) rewrites filtered, preserving
    * the list_id partition layout ([[IndexLifecycle.Spec.delete]]). The
    * codebooks and coarse model are deliberately untouched: they are
    * distribution fits refit on a maintenance cadence (the [[append]]
    * discipline), and codes are strictly per-row, so post-delete
    * [[probeSaved]] is EXACTLY the pre-delete probe with the deleted ids
    * removed and ranks recomputed (PqSpec pins it). */
  def delete(spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame): Unit =
    lifecycle.delete(spark, dir, ids)

  /** [[IndexLifecycle.Spec.recover]] on this family's artifacts. */
  def recover(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    lifecycle.recover(spark, dir)

  /** Rewrite append-accreted code partitions to ~one file per cell
    * ([[IndexLifecycle.Spec.compact]]), healing multi-file parameter
    * artifacts (coarse, pq_model) from older saves too. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    lifecycle.compact(spark, dir)

  /** Upsert (replace-or-insert) a batch of vectors — the RE-EMBED path
    * ([[IndexLifecycle.Spec.upsert]]): existing ids are re-encoded
    * against the SAVED codebooks into their new cells. Contract (PqSpec):
    * post-upsert probe ≡ probe of an index rebuilt with the batch
    * replacing its ids under the same codebooks. Codebooks stay
    * immutable — a shift big enough to invalidate them is a refit+save. */
  def upsert(df: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit =
    lifecycle.upsert(df, idCol, dir)(append(df, idCol, vecCol, dir))

  /** Operational snapshot of a persisted IVFADC index — one (stat,
    * value) row per metric, exact longs (the [[TextIndex.stats]]
    * dashboard discipline):
    *
    *  - `code_rows`: indexed vectors (grows with [[append]], shrinks
    *    with [[delete]]).
    *  - `n_lists`/`min_cell_size`/`max_cell_size`: cell-balance shape —
    *    THE probe-cost skew numbers: a probe scans its nProbe cells, so
    *    a max cell far above code_rows/n_lists means some probes pay a
    *    corpus-fraction scan. A hot max cell is the signal to refit the
    *    coarse quantizer (codebooks are immutable per [[append]]'s
    *    maintenance-cadence contract).
    *  - `m`/`pq_codebook_rows`/`residual`: the quantization parameters
    *    a probe must match.
    *
    * `n_lists` counts the non-empty cells. Declared on [[lifecycle]]. */
  def stats(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    lifecycle.measure(spark, dir)
}
