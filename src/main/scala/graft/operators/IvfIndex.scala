package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.expressions.VectorExpressions.cosine_sim

/** Trained IVF index model: the centroid table. Tiny by construction
  * (nLists × dim doubles) — it rides along as plan-embedded data, the same
  * way a broadcast literal would, so assignment and probing stay narrow. */
case class IvfModel(centroids: Seq[(Int, Seq[Double])]) {
  require(centroids.nonEmpty, "IvfModel requires at least one centroid")
  def nLists: Int = centroids.size
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    centroids.toDF("list_id", "centroid")
  }
}

/** IVF (inverted-file) approximate nearest neighbor — the clustered
  * alternative to random-hyperplane LSH ([[Similarity.lshCosineTopK]]).
  *
  * Build/probe are SPLIT (an index is built once per corpus and probed many
  * times):
  *  - [[fit]]: train spherical k-means centroids on a deterministic
  *    hash-ordered sample (<= trainCap vectors) collected driver-side, with
  *    Lloyd iterations running locally. This is the standard IVF training
  *    shape (FAISS trains its coarse quantizer on a bounded sample too):
  *    centroid quality needs a representative sample, not the corpus, and a
  *    local loop over <= trainCap × dim doubles costs microseconds where
  *    each distributed Lloyd pass cost a full corpus scan + shuffle.
  *    The only cluster job is the sample collection — a TakeOrdered over
  *    (xxhash64(id), vector): narrow, no shuffle, and the hash order makes
  *    the sample (hence the model) independent of partitioning.
  *  - [[assign]]: nearest-centroid assignment — a narrow codegen map
  *    (graft.functions.expressions.NearestCentroid), no vector shuffle.
  *    Lists can be written `partitionBy(list_id)` so probing prunes at the
  *    file level (spec-proven).
  *  - [[probe]]: scan only the nProbe nearest lists per query.
  *
  * [[topK]] composes fit + probe for one-shot use; long-lived callers keep
  * the [[IvfModel]] (or a persisted assigned table) and call [[probe]].
  *
  * Determinism: the sample is sorted by (xxhash64(id), id); Lloyd sums run
  * sequentially in that order in double precision — bit-deterministic
  * regardless of cluster partitioning, no decimal casts needed. Assignment
  * ties break toward the lowest list_id (strict > in the argmax kernel).
  */
object IvfIndex {

  private type Centroids = Seq[(Int, Seq[Double])]

  /** Nearest-centroid id as a narrow, codegen'd Column expression (ties
    * pick the lowest list_id). The argmax index maps back through the id
    * array, so sparse/filtered centroid frames keep their true ids. */
  private def nearestList(vec: Column, cents: Centroids): Column = {
    val idx = graft.functions.expressions.VectorExpressions.nearest_centroid(
      vec, cents.map(_._2))
    element_at(typedLit(cents.map(_._1)), idx + 1)
  }

  private def collectCentroids(centroids: DataFrame): Centroids = {
    import centroids.sparkSession.implicits._
    centroids.select(col("list_id").cast("int"), col("centroid"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
  }

  private def l2normalize(v: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(v.map(x => x * x).sum)
    // zero vectors stay zero instead of becoming NaN and poisoning a mean
    if (nrm == 0.0) v else v.map(_ / nrm)
  }

  /** Train an [[IvfModel]]: deterministic sample collection (one narrow
    * TakeOrdered job), then local spherical k-means.
    *
    * @param trainCap max sample size for Lloyd; 4096 vectors bound centroid
    *                 variance well for the nLists counts IVF uses, and keep
    *                 the driver transfer at a few MB regardless of corpus
    *                 size. */
  def fit(vectors: DataFrame, idCol: String, vecCol: String, nLists: Int,
      iters: Int = 3, trainCap: Int = 4096): IvfModel = {
    require(nLists >= 1 && iters >= 0 && trainCap >= nLists,
      s"need trainCap ($trainCap) >= nLists ($nLists), iters >= 0")
    val spark = vectors.sparkSession
    import spark.implicits._
    val sample: Array[Array[Double]] = vectors
      .select(xxhash64(col(idCol)).as("__h"), col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .orderBy(col("__h"), col("__id")).limit(trainCap)
      .select("__v").as[Array[Double]].collect()
      .map(l2normalize)
    require(sample.nonEmpty, "cannot fit an IVF index on an empty corpus")
    // seeds: first nLists sample vectors in hash order (a uniform
    // pseudo-random draw, same as the previous distributed seeding)
    var cents: Array[Array[Double]] = sample.take(nLists)
    val dim = cents(0).length
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        // all centroids are unit-norm (or zero) here, so cosine argmax
        // reduces to dot argmax; strict > keeps the lowest list on ties,
        // matching the assignment kernel
        var best = Double.NegativeInfinity; var bi = 0
        var c = 0
        while (c < cents.length) {
          var dot = 0.0; var i = 0
          val cv = cents(c)
          while (i < dim) { dot += v(i) * cv(i); i += 1 }
          if (dot > best) { best = dot; bi = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(bi)(i) += v(i); i += 1 }
        counts(bi) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        // empty lists keep their previous centroid
        if (counts(c) == 0) old
        else l2normalize(sums(c).map(_ / counts(c)))
      }
    }
    IvfModel(cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
  }

  /** Spherical k-means centroids as (list_id, centroid array<double>) — the
    * DataFrame view of [[fit]], kept for table-oriented callers. */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
      nLists: Int, iters: Int = 3): DataFrame =
    fit(vectors, idCol, vecCol, nLists, iters).toDF(vectors.sparkSession)

  /** Nearest-centroid assignment (adds `list_id`) — a narrow map; the
    * centroid frame is collected driver-side (nLists rows) and inlined. */
  def assign(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids)
    vectors.withColumn("list_id", nearestList(col(vecCol), cents))
  }

  /** The (query, list) probe set: nProbe nearest lists per query, ranked
    * driver-free via posexplode of the centroid literal — still narrow. */
  private def probeSet(queries: DataFrame, idCol: String, vecCol: String,
      model: IvfModel, nProbe: Int): DataFrame = {
    val cents = model.centroids
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("list_id").asc)
    val centsExploded = posexplode(typedLit(cents.map(_._2)))
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"), centsExploded.as(Seq("pos", "centroid")))
      // map the explode position through the id array, same as nearestList,
      // so probe list ids agree with assignment even for sparse centroids
      .withColumn("list_id", element_at(typedLit(cents.map(_._1)), col("pos") + 1))
      .withColumn("__sim", cosine_sim(col("qv"), col("centroid")))
      .withColumn("__rk", row_number().over(wq))
      .filter(col("__rk") <= nProbe)
      .select(col("query_id"), col("qv"), col("list_id"))
  }

  /** Score a probed candidate frame (neighbor_id, cv, list_id) against the
    * broadcast probe set and keep the top k per query. */
  private def scoreProbes(indexed: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    indexed.join(broadcast(probes), "list_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine_sim(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Top-k cosine neighbors per query against a pre-built [[IvfModel]],
    * scanning only the nProbe nearest lists. Same output shape as
    * [[Similarity.cosineTopK]]. */
  def probe(queries: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, k: Int, model: IvfModel, nProbe: Int = 4): DataFrame = {
    val indexed = vectors
      .withColumn("list_id", nearestList(col(vecCol), model.centroids))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("list_id"))
    scoreProbes(indexed, probeSet(queries, idCol, vecCol, model, nProbe), k)
  }

  /** Cosine distance (1 - cos) from each vector to its ASSIGNED centroid —
    * the quantity whose distribution drifts when the corpus outgrows the
    * fitted centroids. Narrow codegen (argmax kernel + one cosine against
    * the inlined centroid literal). */
  private def assignedDist(vec: Column, cents: Centroids): Column = {
    val idx = graft.functions.expressions.VectorExpressions.nearest_centroid(
      vec, cents.map(_._2))
    lit(1.0) - cosine_sim(vec, element_at(typedLit(cents.map(_._2)), idx + 1))
  }

  /** One-row assigned-distance profile (n, p50, p90) of `vectors` under
    * `model` — approximate percentiles (a drift audit needs a yardstick,
    * not exactness) from one narrow aggregate. */
  private def distProfile(vectors: DataFrame, vecCol: String,
      model: IvfModel): DataFrame =
    vectors.select(assignedDist(col(vecCol), model.centroids).as("__d"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("__d"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("__d"), lit(0.9), lit(10000)).as("p90"))

  /** Persist a fitted index under `dir`: centroids parquet + the assigned
    * corpus written `partitionBy(list_id)` so probes prune whole list
    * files + the fit-time assigned-distance profile (`stats`) that
    * [[staleness]] measures ingest batches against.
    * Build once, probe many — across jobs, not just within one. */
  def save(vectors: DataFrame, idCol: String, vecCol: String,
      model: IvfModel, dir: String): Unit = {
    // parameter-sized (k x dim rows): one file, like stats
    model.toDF(vectors.sparkSession)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    IndexLifecycle.aligned(
        assign(vectors, idCol, vecCol, model.toDF(vectors.sparkSession)),
        model.centroids.size, "list_id")
      .mode("overwrite").parquet(s"$dir/lists")
    distProfile(vectors, vecCol, model)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Staleness audit for a batch against a persisted index: how does the
    * batch's distance-to-assigned-centroid distribution compare to the
    * fit-time profile? [[append]] deliberately assigns against immutable
    * centroids; THIS is the signal that says when that stops being a good
    * idea. One row:
    *  - `n`, `batch_p50`: batch size and its median assigned distance;
    *  - `frac_beyond_fit_p90`: fraction of the batch farther from its
    *    centroid than the fit-time 90th percentile (~0.1 for a batch drawn
    *    from the indexed distribution, →1.0 for a new region);
    *  - `fit_p50` / `fit_p90`: the persisted yardstick;
    *  - `drifted`: frac_beyond_fit_p90 >= 0.5 — half the batch sits in
    *    territory the centroids barely cover; schedule a [[refit]].
    * Cost: one narrow aggregate over the batch; the index is not read
    * beyond its (tiny) centroids and stats. */
  def staleness(batch: DataFrame, idCol: String, vecCol: String,
      dir: String): DataFrame = {
    val spark = batch.sparkSession
    val stats = spark.read.parquet(s"$dir/stats").head()
    val fitP50 = stats.getAs[Double]("p50")
    val fitP90 = stats.getAs[Double]("p90")
    val model = IvfModel(collectCentroids(spark.read.parquet(s"$dir/centroids")))
    batch.select(assignedDist(col(vecCol), model.centroids).as("__d"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("__d"), lit(0.5), lit(10000)).as("batch_p50"),
        avg(when(col("__d") > fitP90, 1.0).otherwise(0.0))
          .as("frac_beyond_fit_p90"))
      .withColumn("fit_p50", lit(fitP50))
      .withColumn("fit_p90", lit(fitP90))
      .withColumn("drifted", col("frac_beyond_fit_p90") >= 0.5)
  }

  /** Re-fit a persisted index in place from its CURRENT contents (the
    * standing corpus plus everything [[append]] ingested) and swap in the
    * new centroids, reassigned lists, and fresh stats via the crash-safe
    * [[StagedSwap]] — the maintenance response to a [[staleness]] flag.
    * Keeps the existing nLists unless a new value is passed.
    *
    * Crash story: each subdirectory swap is individually crash-safe
    * (restore-before-delete), but a crash BETWEEN swaps can leave new
    * lists with old centroids (or new centroids with old stats) — a
    * consistent-read but stale-pruning state, repaired by simply running
    * refit again (it reads only `lists`, which every intermediate state
    * preserves). Single-writer contract: no concurrent append/probe/
    * compact during the swap, same as [[compact]]. */
  def refit(spark: SparkSession, dir: String, idCol: String, vecCol: String,
      nLists: Int = 0, iters: Int = 3, trainCap: Int = 4096): IvfModel = {
    recover(spark, dir)
    val k = if (nLists > 0) nLists
      else spark.read.parquet(s"$dir/centroids").count().toInt
    val current = spark.read.parquet(s"$dir/lists").drop("list_id")
    val model = fit(current, idCol, vecCol, k, iters, trainCap)
    def swapIn(sub: String)(write: String => Unit): Unit =
      StagedSwap.swapSub(spark, dir, sub, "_compact")(write)
    // lists first (its write READS the live lists dir); the later swaps
    // re-read only the freshly swapped lists
    swapIn("lists")(IndexLifecycle.aligned(
      assign(current, idCol, vecCol, model.toDF(spark)), k, "list_id").parquet(_))
    swapIn("centroids")(tmp =>
      model.toDF(spark).coalesce(1).write.parquet(tmp))
    swapIn("stats")(tmp =>
      distProfile(spark.read.parquet(s"$dir/lists"), vecCol, model)
        .coalesce(1).write.parquet(tmp))
    model
  }

  /** Load a persisted index: the model plus the list-partitioned corpus. */
  def load(spark: SparkSession, dir: String): (IvfModel, DataFrame) = {
    val model = IvfModel(collectCentroids(spark.read.parquet(s"$dir/centroids")))
    (model, spark.read.parquet(s"$dir/lists"))
  }

  /** Append a batch of new vectors to a persisted index — the continuous-
    * ingest path (mirrors [[MinHashIndex.append]]). New vectors are
    * assigned against the SAVED centroids: the model is deliberately
    * immutable per batch (standard IVF practice — centroids represent the
    * corpus distribution and are refit periodically via [[save]], not
    * nudged per micro-batch, which would silently invalidate earlier
    * assignments). Each append adds small files to the probed list
    * partitions; run [[compact]] on a maintenance cadence.
    *
    * Single-writer contract: one appender at a time, no concurrent
    * [[compact]]. Readers may probe concurrently — parquet appends are
    * add-only, so a concurrent probe sees a consistent prefix. */
  def append(vectors: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = vectors.sparkSession
    recover(spark, dir)
    val centroids = spark.read.parquet(s"$dir/centroids")
    val nLists = centroids.count().toInt
    // type homogeneity: coerce the batch's vector column to the SAVED
    // element type. An index mixing float and double part files makes
    // every later read's inferred schema a file-listing-order lottery —
    // a float-inferred schema dies on a double file. No-op for batches
    // already in the index's type (every homogeneous pipeline).
    val vecType = spark.read.parquet(s"$dir/lists").schema.fields
      .find(f => f.name != "list_id" &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      .map(_.dataType)
    val batch = vecType.fold(vectors)(t =>
      vectors.withColumn(vecCol, col(vecCol).cast(t)))
    IndexLifecycle.aligned(assign(batch, idCol, vecCol, centroids), nLists,
      "list_id").mode("append").parquet(s"$dir/lists")
  }

  /** Targeted delete (right-to-be-forgotten) — the [[TextIndex.delete]]
    * discipline on the exact-vector index: remove `ids` (a one-column
    * frame) by rewriting `lists/` filtered ([[IndexLifecycle.Spec.delete]]).
    * Centroids and the fit-time `stats/` profile stay: they are the
    * partitioning yardstick, not per-vector state — a deletion big
    * enough to invalidate them is a [[refit]], which [[staleness]] will
    * flag. Idempotent; absent ids are no-ops; an emptying delete is
    * rejected (drop the directory instead). Single-writer. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    lifecycle.delete(spark, dir, ids)

  /** Upsert (replace-or-insert) — the re-embed path: delete(batch ids)
    * then [[append]](batch), so re-embedded ids move to their new lists
    * and serve only their new vectors ([[IndexLifecycle.Spec.upsert]]). */
  def upsert(vectors: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit =
    lifecycle.upsert(vectors, idCol, dir)(append(vectors, idCol, vecCol, dir))

  /** Operational snapshot — one (stat, value) row per metric, exact
    * longs (the [[TextIndex.stats]] dashboard discipline): `vec_rows`
    * (grows with [[append]], shrinks with [[delete]]), `n_lists`, and
    * the list-balance shape `nonempty_lists`/`min_list_size`/
    * `max_list_size` — the probe-cost skew numbers; a hot max list is
    * the [[refit]] signal [[staleness]] reads distributionally. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nLists = spark.read.parquet(s"$dir/centroids").count()
    val c = spark.read.parquet(s"$dir/lists")
      .groupBy(col("list_id")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")), count(lit(1)), min(col("c")), max(col("c")))
      .collect().head
    Seq(
      "vec_rows" -> c.getLong(0),
      "n_lists" -> nLists,
      "nonempty_lists" -> c.getLong(1),
      "min_list_size" -> c.getLong(2),
      "max_list_size" -> c.getLong(3)
    ).toDF("stat", "value")
  }

  /** This family's lifecycle facts: `lists/` carries the caller's id
    * column, partitioned by list; the list count is the centroid count;
    * centroids and stats swap during [[refit]]. */
  val lifecycle: IndexLifecycle.Spec = IndexLifecycle.Spec("ivf",
    Seq(IndexLifecycle.IdArtifact("lists", None, Some("list_id"))),
    IndexLifecycle.DistinctCount("centroids", "list_id"),
    flatParams = Seq("centroids"),
    recovered = Seq("lists", "centroids", "stats"), IndexAudit.auditIvf)

  /** [[IndexLifecycle.Spec.recover]] on this family's artifacts. */
  def recover(spark: SparkSession, dir: String): Unit =
    lifecycle.recover(spark, dir)

  /** Rewrite append-accreted list partitions to ~one file per list
    * ([[IndexLifecycle.Spec.compact]]), healing a multi-file centroids
    * artifact from older saves too. */
  def compact(spark: SparkSession, dir: String): Unit =
    lifecycle.compact(spark, dir)

  /** Probe a PERSISTED index (a frame carrying a `list_id` partition
    * column, as written by [[save]]). The probed list ids are resolved
    * driver-side first — at most nLists integers — and applied as a static
    * `isin` filter, so the parquet scan prunes non-probed list files at
    * planning time (no scan, no shuffle, of unprobed lists). */
  def probeIndexed(queries: DataFrame, lists: DataFrame, idCol: String,
      vecCol: String, k: Int, model: IvfModel, nProbe: Int = 4): DataFrame = {
    // the probe subplan (query window over the centroid literal) is needed
    // twice: for the static pruning filter and as scoreProbes' broadcast
    // side. Only the DISTINCT LIST IDS — at most nLists integers, regardless
    // of how large the query batch is — cross to the driver; the probe frame
    // itself (which carries the query vectors) stays distributed for the
    // broadcast join. The narrow probe subplan re-executes once for the
    // pruning collect, which costs a window over |queries| × nLists rows —
    // nothing next to scanning even one corpus list.
    val probes = probeSet(queries, idCol, vecCol, model, nProbe)
    val probedLists = probes.select("list_id").distinct()
      .collect().map(_.getAs[Int]("list_id")).sorted
    val indexed = lists
      .filter(col("list_id").isin(probedLists.toSeq.map(Integer.valueOf): _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("list_id"))
    scoreProbes(indexed, probes, k)
  }

  /** One-shot convenience: [[fit]] then [[probe]]. Long-lived callers
    * should fit once and probe many. */
  def topK(queries: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
      iters: Int = 3): DataFrame =
    probe(queries, vectors, idCol, vecCol, k,
      fit(vectors, idCol, vecCol, nLists, iters), nProbe)
}
