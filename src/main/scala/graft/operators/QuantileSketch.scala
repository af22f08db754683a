package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable quantile sketch (Munro–Paterson / MRL multi-level buffer
  * collapse, the deterministic ancestor of KLL) as a typed Aggregator —
  * the bounded-memory answer to "p50/p90/p99 of 100 TB" when
  * [[OrderStats.exactQuantiles]]' cell-partitioned exact plan is more
  * machinery than a dashboard needs, and `approx_percentile`'s error is
  * a black box the caller can't audit.
  *
  * Structure: a staging buffer of up to `capacity` raw items plus one
  * optional sorted buffer of exactly `capacity` items per level, where
  * level i carries weight 2^i. When staging fills it sorts and promotes
  * to level 0; two same-weight buffers COLLAPSE — merge-sort their
  * 2·capacity items and keep the odd positions (0-indexed; a fixed,
  * deterministic offset, unlike KLL's random coin) at doubled weight —
  * and the survivor carries to the next level, binary-addition style.
  *
  * Self-certifying error: each collapse of two weight-w buffers moves
  * any item's estimated rank by at most w (keeping odd positions maps
  * j same-weight predecessors to 2w·⌊j/2⌋ ∈ [w·j − w, w·j]), so the
  * summary ACCUMULATES `err += w` per collapse and every estimate's
  * true rank provably lies within ±err of its target rank — for ANY
  * insert partitioning and ANY merge order, which is what lets
  * [[gate]] pin integer pass flags under the driver hash even though
  * the estimates themselves are merge-order-dependent (the same
  * documented contract as [[HeavyHitters]]' sparse survivors). Total
  * error after n inserts is O((n/capacity)·log(n/capacity)) — the
  * classic MRL bound — and err reports the exact realized figure.
  *
  * Exactness escape hatch (the q70/q105 oracle trick): with capacity ≥
  * the group's row count no collapse ever fires, err stays 0, and
  * finish returns the EXACT rank-⌈p·n⌉ order statistic — a relationally
  * checkable configuration that pins insert/promote/merge/finish end to
  * end against the q89-style window-rank oracle (q229); sparse-capacity
  * behavior is gated by q230's integer audit and QuantileSketchSpec.
  *
  * Scale shape: ONE two-phase aggregate; each map partition ships at
  * most capacity·(2 + log₂(n/capacity)) longs regardless of row count.
  * The [[gate]] audit adds one exact conditional-count pass (broadcast
  * scalars, no shuffle wider than the final single row). */
object QuantileSketch {

  /** `buf` is raw weight-1 staging (unsorted, size < capacity between
    * operations); `levels(i)` is either empty or a sorted buffer of
    * exactly `capacity` items at weight 2^i; `n` counts true inserts;
    * `err` is the accumulated worst-case rank-error bound. */
  final case class Summary(
      capacity: Int,
      buf: Seq[Long],
      levels: Seq[Seq[Long]],
      n: Long,
      err: Long) {

    /** All (value, weight) pairs the summary holds, value-sorted. */
    private[graft] def weighted: IndexedSeq[(Long, Long)] = {
      val staged = buf.map(v => (v, 1L))
      val leveled = levels.zipWithIndex.flatMap { case (b, i) =>
        val w = 1L << i; b.map(v => (v, w))
      }
      (staged ++ leveled).sortBy(_._1).toIndexedSeq
    }

    /** Estimate of the rank-⌈p·n⌉ order statistic: the first held item
      * whose cumulative weight reaches the target rank. The house rank
      * convention (q89): max(1, ceil(p·n)) computed in DOUBLE — an
      * exact-decimal p·n differs from the IEEE product near integers. */
    def quantile(p: Double): Long = {
      require(p >= 0.0 && p <= 1.0, s"p must be in [0,1], got $p")
      require(n > 0, "quantile of an empty summary")
      val r = math.max(1L, math.ceil(p * n).toLong)
      val items = weighted
      var cum = 0L
      var i = 0
      while (i < items.length) {
        cum += items(i)._2
        if (cum >= r) return items(i)._1
        i += 1
      }
      items.last._1
    }
  }

  /** Collapse two same-weight sorted buffers: merge and keep odd
    * 0-indexed positions at doubled weight. Deterministic offset — the
    * error accounting in the class doc assumes it. */
  private[graft] def collapse(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
    val merged = (a ++ b).sorted.toIndexedSeq
    (1 until merged.length by 2).map(merged)
  }

  /** Add sorted buffer `b` (weight 2^i) at level i, cascading carries. */
  private def addAtLevel(levels: Vector[Seq[Long]], i: Int, b: Seq[Long],
      err: Long): (Vector[Seq[Long]], Long) = {
    val padded = if (levels.size <= i) levels.padTo(i + 1, Seq.empty[Long])
      else levels
    if (padded(i).isEmpty) (padded.updated(i, b), err)
    else {
      val carry = collapse(padded(i), b)
      addAtLevel(padded.updated(i, Seq.empty), i + 1, carry, err + (1L << i))
    }
  }

  /** Promote a FULL staging buffer (exactly capacity items) to level 0. */
  private def promote(s: Summary): Summary = {
    val (lv, err) = addAtLevel(s.levels.toVector, 0, s.buf.sorted, s.err)
    s.copy(buf = Nil, levels = lv, err = err)
  }

  final class QuantileSketchAgg(capacity: Int)
      extends Aggregator[Long, Summary, Summary] {
    require(capacity >= 2, s"capacity must be >= 2, got $capacity")

    override def zero: Summary = Summary(capacity, Nil, Nil, 0L, 0L)

    override def reduce(s: Summary, v: Long): Summary = {
      // prepend: staging order is irrelevant (sorted at promotion) and
      // List prepend keeps the per-row step O(1)
      val s2 = s.copy(buf = v +: s.buf.toList, n = s.n + 1)
      if (s2.buf.size >= capacity) promote(s2) else s2
    }

    override def merge(a: Summary, b: Summary): Summary = {
      // staging concatenates, promoting full capacity-chunks; then b's
      // level buffers carry into a's structure, binary-addition style
      var s = a.copy(buf = (a.buf ++ b.buf).toList, n = a.n + b.n,
        err = a.err + b.err)
      while (s.buf.size >= capacity) {
        val (full, rest) = s.buf.splitAt(capacity)
        val (lv, err) = addAtLevel(s.levels.toVector, 0, full.sorted, s.err)
        s = s.copy(buf = rest, levels = lv, err = err)
      }
      b.levels.zipWithIndex.foldLeft(s) { case (acc, (bb, i)) =>
        if (bb.isEmpty) acc
        else {
          val (lv, err) = addAtLevel(acc.levels.toVector, i, bb, acc.err)
          acc.copy(levels = lv, err = err)
        }
      }
    }

    override def finish(s: Summary): Summary = s
    override def bufferEncoder: Encoder[Summary] = Encoders.product[Summary]
    override def outputEncoder: Encoder[Summary] = Encoders.product[Summary]
  }

  /** Per-group sketched quantiles: one (group, p, n, q) row per group ×
    * p, q89's output shape. Exact when capacity ≥ every group's row
    * count (the oracle configuration); otherwise each q's true rank is
    * within ±err of ⌈p·n⌉. Nulls excluded, like COUNT(col). */
  def summarize(df: DataFrame, valueCol: String, byCol: String,
      ps: Seq[Double], capacity: Int): DataFrame = {
    require(ps.nonEmpty, "at least one quantile requested")
    ps.foreach(p => require(p >= 0.0 && p <= 1.0, s"p out of [0,1]: $p"))
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new QuantileSketchAgg(capacity)
    df.filter(col(valueCol).isNotNull && col(byCol).isNotNull)
      .select(col(byCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("sk"))
      .flatMap { case (g, s) => ps.map(p => (g, p, s.n, s.quantile(p))) }
      .toDF(byCol, "p", "n", "q")
  }

  /** Whole-column sketch collected to the driver — parameter-bounded:
    * capacity·(levels+2) longs, the [[CountMin.sketch]] discipline. */
  def sketch(df: DataFrame, valueCol: String, capacity: Int): Summary = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("v")).as[Long]
      .select(new QuantileSketchAgg(capacity).toColumn.name("sk"))
      .head()
  }

  /** Merge two summaries driver-side — the cross-JOB form of the
    * Aggregator's merge (same arithmetic), for incremental statistics:
    * sketch each day's partition as it lands, [[saveSummary]] it, and
    * fold new days into the standing summary without ever re-reading
    * old data. Error bounds add (plus any collapses the merge itself
    * triggers); exactness is preserved whenever total n stays under
    * the no-collapse threshold. */
  def merge(a: Summary, b: Summary): Summary = {
    require(a.capacity == b.capacity,
      s"cannot merge summaries of different capacity: " +
        s"${a.capacity} vs ${b.capacity}")
    new QuantileSketchAgg(a.capacity).merge(a, b)
  }

  /** Persist a summary under `path/summary` (atomic via [[StagedSwap]]
    * — a reader never sees a half-written summary, and a crashed save
    * leaves the previous one intact). The summary is parameter-bounded
    * (capacity·levels longs), so this is one tiny file. */
  def saveSummary(spark: SparkSession, s: Summary, path: String): Unit = {
    import spark.implicits._
    val rows = Seq((s.capacity, s.buf.toSeq, s.levels.map(_.toSeq).toSeq,
      s.n, s.err))
    StagedSwap.subdir(spark, path, "summary", "_del").swap { tmp =>
      rows.toDF("capacity", "buf", "levels", "n", "err")
        .coalesce(1).write.parquet(tmp)
    }
  }

  /** Load a summary persisted by [[saveSummary]]. */
  def loadSummary(spark: SparkSession, path: String): Summary =
    summaryOfRow(spark.read.parquet(s"$path/summary").head())

  /** Rebuild a Summary from its persisted row — converting the reader's
    * mutable ArraySeq fields to immutable collections (the Aggregator's
    * merge and Spark's product encoder both require immutable Seq). */
  private[graft] def summaryOfRow(r: org.apache.spark.sql.Row): Summary =
    Summary(r.getAs[Int]("capacity"),
      r.getAs[scala.collection.Seq[Long]]("buf").toList,
      r.getAs[scala.collection.Seq[scala.collection.Seq[Long]]]("levels")
        .map(_.toList).toList,
      r.getAs[Long]("n"), r.getAs[Long]("err"))

  /** Per-group summaries as a STORE frame — one (g, capacity, buf,
    * levels, n, err) row per group, the persistable/mergeable form of
    * [[summarize]]: sketch each day's partition into a store, save it,
    * and [[mergeGrouped]] it into the standing store without re-reading
    * old data (the per-stratum daily-statistics cadence). Row width is
    * parameter-bounded (capacity·levels longs per group). */
  def summarizeToStore(df: DataFrame, valueCol: String, byCol: String,
      capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new QuantileSketchAgg(capacity)
    df.filter(col(valueCol).isNotNull && col(byCol).isNotNull)
      .select(col(byCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("sk"))
      .map { case (g, s) =>
        (g, s.capacity, s.buf.toList, s.levels.map(_.toList).toList,
          s.n, s.err)
      }
      .toDF("g", "capacity", "buf", "levels", "n", "err")
  }

  private def asTyped(store: DataFrame) = {
    val spark = store.sparkSession
    import spark.implicits._
    store.select(col("g"), col("capacity"), col("buf"), col("levels"),
        col("n"), col("err"))
      .as[(String, Int, Seq[Long], Seq[Seq[Long]], Long, Long)]
      .map { case (g, c, buf, lv, n, e) =>
        (g, Summary(c, buf.toList, lv.map(_.toList).toList, n, e))
      }
  }

  /** Merge two store frames group-wise — a DISTRIBUTED reduce (one
    * group-keyed exchange over parameter-bounded rows), so folding a
    * new day into a store of millions of strata never touches the
    * driver. Groups present on one side pass through; capacities must
    * match where groups meet (the Aggregator merge enforces it). */
  def mergeGrouped(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    asTyped(a).union(asTyped(b))
      .groupByKey(_._1)
      .reduceGroups((x, y) => (x._1, merge(x._2, y._2)))
      .map { case (_, (g, s)) =>
        (g, s.capacity, s.buf.toList, s.levels.map(_.toList).toList,
          s.n, s.err)
      }
      .toDF("g", "capacity", "buf", "levels", "n", "err")
  }

  /** Persist a grouped store under `path/summaries` (atomic via
    * [[StagedSwap]], like [[saveSummary]]). */
  def saveGrouped(spark: SparkSession, store: DataFrame,
      path: String): Unit =
    StagedSwap.subdir(spark, path, "summaries", "_del").swap { tmp =>
      store.write.parquet(tmp)
    }

  /** Load a grouped store persisted by [[saveGrouped]]. */
  def loadGrouped(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/summaries")

  /** Quantile reads off a store frame: one (group, p, n, q) row per
    * group × p — [[summarize]]'s output shape, computed from the store
    * instead of the data. */
  def quantilesOfStore(store: DataFrame, byCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "at least one quantile requested")
    val spark = store.sparkSession
    import spark.implicits._
    asTyped(store)
      .flatMap { case (g, s) => ps.map(p => (g, p, s.n, s.quantile(p))) }
      .toDF(byCol, "p", "n", "q")
  }

  /** Self-audit gate: sketch `valueCol`, then EXACTLY verify each
    * estimate against the data in one conditional-count pass — for each
    * p, the estimate's true rank interval [count(v<q̂)+1, count(v≤q̂)]
    * must intersect [⌈p·n⌉ − err, ⌈p·n⌉ + err]. Emits one integer row
    * per p: (p_pct, n, pass). `pass` is TRUE for any merge order — the
    * summary's err bounds its own realized error by construction — so
    * the row hash-pins the sketch's contract (q230) even though q̂ and
    * err themselves are merge-order-dependent. */
  def gate(df: DataFrame, valueCol: String, ps: Seq[Double],
      capacity: Int): DataFrame = {
    require(ps.nonEmpty, "at least one quantile requested")
    val spark = df.sparkSession
    import spark.implicits._
    val s = sketch(df, valueCol, capacity)
    require(s.n > 0, s"gate over an empty '$valueCol'")
    val ests: Seq[(Double, Long)] = ps.map(p => p -> s.quantile(p))
    val v = col(valueCol).cast("long")
    val counts: Seq[Column] = ests.zipWithIndex.flatMap { case ((_, q), i) =>
      Seq(
        sum(when(v < q, 1L).otherwise(0L)).as(s"lo_$i"),
        sum(when(v <= q, 1L).otherwise(0L)).as(s"hi_$i"))
    }
    val row = df.filter(col(valueCol).isNotNull)
      .agg(counts.head, counts.tail: _*).head()
    val out = ests.zipWithIndex.map { case ((p, _), i) =>
      val lo = row.getAs[Long](s"lo_$i")
      val hi = row.getAs[Long](s"hi_$i")
      val r = math.max(1L, math.ceil(p * s.n).toLong)
      val pass = (lo + 1L) <= (r + s.err) && hi >= (r - s.err)
      (math.round(p * 100), s.n, pass)
    }
    out.toDF("p_pct", "n", "pass").orderBy($"p_pct")
  }
}
