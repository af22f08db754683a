package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Generic graph primitives over edge DataFrames — the shared substrate
  * beside [[PageRank]] (influence) and [[Components]] (connectivity):
  * triangle counting (local clustering / community signal) and bounded
  * multi-source BFS (reachability / hop distance). Both are exact,
  * deterministic, and integer-only — the cross-engine discipline of the
  * rest of the graph family.
  *
  * Scale shapes:
  *  - [[triangleCounts]] is the degree-ordered orientation algorithm
  *    (compact-forward): orient every edge toward its higher-(degree, id)
  *    endpoint, enumerate wedges only at each edge pair's common SOURCE,
  *    and close them against the oriented edge list. Out-degree under
  *    this orientation is O(√m) on any graph, so the wedge stage is
  *    bounded by Σ d_out² ≤ m^1.5 — the hub node that makes naive wedge
  *    enumeration quadratic (a celebrity with 10⁶ neighbors yields 10¹²
  *    naive wedges) generates NO wedges at all: its edges all point
  *    toward it. Exchanges carry (long, long) edge rows only.
  *  - [[bfsDistances]] is frontier-at-a-time iteration: each round is one
  *    join frontier⋈edges plus one anti-join against the visited set, all
  *    keyed on 8-byte node ids; `maxDepth` bounds the rounds, the
  *    frontier is cached and counted per round (the empty-frontier early
  *    exit), and no per-node state ever reaches the driver.
  */
object GraphOps {

  /** Per-node triangle participation counts over the UNDIRECTED graph
    * spanned by `edges` (orientation and duplicate edges are normalized
    * away; self-loops dropped). Output: (node, triangles) for nodes in at
    * least one triangle — each triangle credits all three corners.
    *
    * Lazy and recomputable: nothing is cached or checkpointed, so the
    * plan survives executor loss and callers see its exchanges. The
    * oriented edge list is read three times; its shuffles are identical
    * subtrees, which exchange reuse runs once. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    closedTriangles(oriented(edges, srcCol, dstCol))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))

  /** Global triangle COUNT — one row (n_triangles BIGINT). Same oriented
    * wedge pipeline as [[triangleCounts]], but when only the total is
    * needed the final per-corner explode (3× the triangle set) and its
    * node-keyed exchange are pure waste: this aggregates the closed-wedge
    * join output directly into a single partial-count scalar — no
    * post-join shuffle rows at all.
    *
    * The oriented edge list is persisted (the closing side exchanges on
    * different keys and would re-run the canon+degree subtree) and the
    * one-row result is materialized with an eager localCheckpoint, so
    * the persisted frame is RELEASED before returning — callers never
    * leak a cached frame per call. A one-row scalar is the one result
    * for which the checkpoint's lost recomputability costs nothing. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val o = oriented(edges, srcCol, dstCol).persist()
    try closedTriangles(o).agg(count(lit(1)).as("n_triangles")).localCheckpoint()
    finally o.unpersist()
  }

  /** Degree-capped triangle count — the skew-emergency variant of
    * [[triangleCount]]: every node whose (deduplicated, undirected)
    * degree exceeds `maxDegree` is REMOVED, with all its edges, before
    * counting, and the count on the truncated graph is exact.
    *
    * Bias contract (deterministic, one-sided): the result counts exactly
    * the triangles whose three corners ALL have degree ≤ `maxDegree` in
    * the ORIGINAL graph — never more, never fewer — so it is a lower
    * bound on the true total, and the gap is precisely the triangles
    * touching a capped hub. No sampling, no variance: reruns agree
    * bit-for-bit, and `maxDegree` ≥ the true max degree reproduces
    * [[triangleCount]] exactly.
    *
    * When to reach for it: the exact algorithm's wedge stage is bounded
    * by m^1.5 — intrinsic, but on a 100 TB graph whose top hubs are
    * pathological (a null key, a bot account with 10⁸ edges) even that
    * bound is an emergency. Capping first makes the wedge stage
    * O(m·maxDegree) with a bias statement the analyst can reason about,
    * which is the standard production escape hatch. The degree pass is
    * one aggregation over the edge list; the filter is two broadcast-able
    * (or shuffle) semi-joins on 8-byte node ids. */
  def triangleCountCapped(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int): DataFrame = {
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val keep = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxDegree)
      .select(col("node"))
    val capped = canon
      .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
      .select(col("u").as("src"), col("v").as("dst"))
    triangleCount(capped, "src", "dst")
  }

  /** The degree-oriented edge list (src, dst, dst_ord): every undirected
    * edge points toward its higher-(degree, id) endpoint, carrying that
    * endpoint's rank so the wedge stage orders its spokes the same way. */
  private def oriented(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // total order (deg, id): orient u -> v iff ord(u) < ord(v)
    canon
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du").as("d"), col("u").as("n")) <
             struct(col("dv").as("d"), col("v").as("n")),
          col("u")).otherwise(col("v")).as("src"),
        when(struct(col("du").as("d"), col("u").as("n")) <
             struct(col("dv").as("d"), col("v").as("n")),
          struct(col("dv").as("d"), col("v").as("n")))
          .otherwise(struct(col("du").as("d"), col("u").as("n")))
          .as("dst_ord"))
      .select(col("src"), col("dst_ord.n").as("dst"), col("dst_ord"))
  }

  /** The shared enumeration — one row (a, b, c) per triangle, each listed
    * exactly once at its degree-orientation apex. */
  private def closedTriangles(oriented: DataFrame): DataFrame = {
    // wedges at the common source, spokes ordered by the global total
    // order; the closing edge — if present — is oriented spoke1 -> spoke2
    val wedges = oriented.select(col("src"), col("dst").as("w1"), col("dst_ord").as("o1"))
      .join(oriented.select(col("src"), col("dst").as("w2"), col("dst_ord").as("o2")), "src")
      .filter(col("o1") < col("o2"))
      .select(col("src").as("a"), col("w1").as("b"), col("w2").as("c"))
    // left_semi, not inner: oriented edges are distinct, so the closing
    // join never multiplies wedges — a semi join says so to the planner
    // (no output columns from the build side, cheaper hashed relation).
    // shuffle_hash on the EDGE side: the wedge side is O(sum deg²) rows
    // — an order of magnitude larger than the edge list — and sort-merge
    // would sort it; hashing the edge side per partition skips that sort
    // at every scale (the build side is edges/partitions, which AQE
    // keeps bounded)
    wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c"))
        .hint("shuffle_hash"),
      Seq("b", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }

  /** The k-core of the undirected graph — the maximal node set in which
    * every member keeps at least `k` neighbors INSIDE the set — via
    * iterative peeling: drop every node whose within-set degree is < k,
    * recompute, repeat to fixpoint. The classic curation filter for
    * "the dense interaction core" (spam/bot accounts and drive-by nodes
    * peel off even when their raw degree is inflated, because their
    * neighborhoods don't survive with them).
    *
    * Output: (node, core_degree) — each surviving node with its degree
    * within the core. Deterministic (peeling is confluent: the order of
    * removals never changes the fixpoint).
    *
    * Scale shape: each round is one degree aggregation over the
    * symmetrized edge list plus two semi-joins on 8-byte ids — no
    * payload ever shuffles; the edge frame is cached once. Rounds are
    * data-bounded (≤ the peeling depth, usually a handful; a chain of
    * length L attached to the core costs L rounds — the documented
    * worst case) and `maxRounds` bounds them defensively; each round's
    * one count() both materializes the frame and detects the fixpoint
    * (alive shrinks monotonically, so count equality IS set equality).
    *
    * Cache ownership (also applies to [[labelPropagation]] and
    * [[shortestPaths]]): the returned frame is CACHED and materialized —
    * its lineage is the full unrolled iteration, so an uncached return
    * would replay every round on each downstream action. The result is
    * per-node (not parameter-bounded), so it cannot be collected and
    * re-created driver-side; the CALLER owns `result.unpersist()` once
    * done (unpersisting is always safe — the deterministic lineage
    * recomputes correctly if re-used). All intermediates are released
    * before return. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val und = canon.union(canon.select(col("v"), col("u")))
      .toDF("src", "dst").cache()
    def coreDegrees(alive: DataFrame): DataFrame = und
      .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("node"), col("core_degree"))
    var alive = und.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("src").as("node")).cache()
    var aliveCount = alive.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = coreDegrees(alive).filter(col("core_degree") >= k)
        .select(col("node")).cache()
      val nextCount = next.count()
      converged = nextCount == aliveCount
      alive.unpersist()
      alive = next
      aliveCount = nextCount
      rounds += 1
    }
    // materialize the result before releasing the caches it reads
    val out = coreDegrees(alive).orderBy(col("node")).cache()
    out.count()
    alive.unpersist()
    und.unpersist()
    out
  }

  /** Synchronous label propagation over the undirected graph — the
    * deterministic LPA variant: starting from `seeds` (node, label),
    * each round every node adopts the MAJORITY label among its
    * neighbors' current labels plus its own (the self-vote damps the
    * classic two-cycle oscillation), ties broken by the SMALLEST label
    * — so the fixpoint is replayable in any engine, unlike the
    * random-order asynchronous LPA in the original paper. Unlabeled
    * nodes acquire labels only as the frontier reaches them. The
    * semi-supervised spreading / community-assignment primitive
    * ("label suppliers by their dominant customer nation").
    *
    * Scale shape: per round one label-join keyed on 8-byte node ids +
    * one (node, label) count aggregate + one max_by argmax — no
    * payload beyond (id, label, count) ever shuffles; `rounds` bounds
    * the iterations (labels stabilize in a few rounds on most graphs;
    * the round count is part of the operator's contract and the
    * oracle replays exactly that many). Cache ownership: see [[kCore]] —
    * the returned frame is cached, the caller owns unpersisting it. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val und = canon.union(canon.select(col("v"), col("u")))
      .toDF("src", "dst").cache()
    var labels = seeds.toDF("node", "label").cache()
    for (_ <- 1 to rounds) {
      val votes = und.join(labels, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
        .unionByName(labels) // the self-vote
      val next = votes.groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("node"))
        .agg(max_by(col("label"),
          struct(col("__n").as("c"), (-col("label")).as("t"))).as("label"))
        .cache()
      next.count() // materialize before dropping the previous round
      labels.unpersist()
      labels = next
    }
    // same cache-ownership contract as kCore: the returned frame is the
    // one cached handle (caller unpersists); intermediates released here
    val out = labels.orderBy(col("node")).cache()
    out.count()
    labels.unpersist()
    und.unpersist()
    out
  }

  /** Minimum-cost distances from `sources` over DIRECTED weighted edges
    * within `maxHops` hops — bounded Bellman–Ford rounds, the weighted
    * sibling of [[bfsDistances]]: each round relaxes every edge out of
    * the current distance frame and keeps the per-node minimum, so after
    * k rounds `dist` is EXACTLY the cheapest path using ≤ k hops (the
    * invariant the oracle replays level by level). Weights must be
    * nonnegative integers (validated on the fly: a negative weight
    * fails the job loudly — with hop-bounded semantics a negative edge
    * would silently turn "distance" into an artifact of the bound).
    *
    * Scale shape: per round one join keyed on 8-byte node ids + one
    * min-aggregate; the frame is cached and counted per round, and the
    * count's companion — an improvement check against the previous
    * round — exits early at the fixpoint (further rounds are identity,
    * so early exit preserves the ≤ maxHops contract). No per-node state
    * on the driver. Cache ownership: see [[kCore]] — the returned frame
    * is cached, the caller owns unpersisting it. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // reject fractional weights too: cast('long') would silently truncate
    // them and the "distance" would be an artifact of the truncation.
    // NaN and ±Infinity need their own clauses: `x =!= floor(x)` is FALSE
    // for NaN (Spark treats NaN as equal to itself) and for Infinity
    // (floor(inf) = inf), so both would slip past the fractional check
    // and cast to 0 / Long.MaxValue silently
    val wd = col(weightCol).cast("double")
    val guardedW = when(col(weightCol).isNull || col(weightCol) < 0 ||
        isnan(wd) || wd === Double.PositiveInfinity ||
        col(weightCol).cast("double") =!= floor(col(weightCol).cast("double")),
        raise_error(concat(lit("shortestPaths: weight must be a nonnegative integer, got: "),
          coalesce(col(weightCol).cast("string"), lit("null")))).cast("long"))
      .otherwise(col(weightCol).cast("long"))
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      guardedW.as("w")).cache()
    var dist = sources.toDF("node").distinct()
      .withColumn("dist", lit(0L)).cache()
    var distCount = dist.count()
    // fixpoint in ONE aggregate per round (r16; was a count PLUS a full
    // next⋈prev improvement join): each round's min-fold can only ADD
    // nodes or LOWER existing distances, so "same node count AND same
    // exact distance sum" ⟺ nothing improved. The sum is an exact
    // DECIMAL(38,0) — a long could overflow on extreme graphs and a
    // silent wrap would fake a fixpoint. A DECIMAL(38,0) overflow itself
    // returns NULL (non-ANSI mode): None here, and None never compares
    // equal below — two consecutive overflowing rounds keep iterating to
    // maxHops instead of faking convergence.
    var distSum: Option[java.math.BigDecimal] =
      Some(java.math.BigDecimal.ZERO) // sources sit at distance 0
    var round = 0
    var converged = false
    while (round < maxHops && !converged) {
      val relaxed = dist.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist")).cache()
      val agg = next.agg(count(lit(1)),
        sum(col("dist").cast(DecimalType(38, 0)))).collect().head
      val nextCount = agg.getLong(0)
      // null sum with rows present = decimal overflow, NOT an empty set
      val nextSum = Option(agg.getDecimal(1))
      val sumChanged = (nextSum, distSum) match {
        case (Some(a), Some(b)) => a.compareTo(b) != 0
        case _ => nextCount > 0 // overflow: cannot prove a fixpoint
      }
      val improved = nextCount != distCount || sumChanged
      dist.unpersist()
      dist = next
      distCount = nextCount
      distSum = nextSum
      converged = !improved
      round += 1
    }
    val out = dist.orderBy(col("node")).cache()
    out.count()
    dist.unpersist()
    e.unpersist()
    out
  }

  /** Hop distances from `sources` (a single-column frame of node ids)
    * over the DIRECTED edge frame, bounded at `maxDepth` rounds — callers
    * symmetrize the edge list for undirected semantics. Output: (node,
    * dist) for every node reached within the bound; a node's dist is the
    * round that first reached it (= the true shortest hop count). */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    // cached once: every round probes the same deduped edge frame — without
    // the cache each round re-scans and re-dedups the source
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().cache()
    val start = sources.toDF("node").distinct()
      .withColumn("dist", lit(0)).cache()
    var visited = start
    var frontier = start
    // one count() per round serves both the lineage-bounding
    // materialization and the next round's empty-frontier exit — no
    // separate isEmpty job
    var frontierCount = start.count()
    var d = 0
    while (d < maxDepth && frontierCount > 0) {
      val next = frontier.select(col("node").as("src"))
        .join(e, "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(d + 1))
        .cache()
      frontierCount = next.count()
      visited = visited.union(next)
      frontier = next
      d += 1
    }
    e.unpersist(blocking = false)
    visited
  }
}
