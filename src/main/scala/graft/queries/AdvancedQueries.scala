package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.AsOfJoin
import Exact._

/** Operators beyond the reference's literal surface that a complete
  * engine needs: as-of join, session windows, rollup, pivot, set ops. */
object AdvancedQueries extends QueryModule {

  /** As-of join: each event enriched with the user's latest order at or
    * before the event time. Engine side: the native as-of merge
    * (operators/AsOfJoin, one exchange and sort per side); oracle side:
    * the naive theta-join + top-1 — different algorithms, same relation.
    * `ts` is a TIMESTAMP and `o_orderdate` a TIMESTAMP_NTZ: the join
    * compares them as TIMESTAMPs in the session zone (UTC). */
  private def q34AsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts")
    val orders = Tables.orders(spark, dir)
    AsOfJoin.asOf(events, orders, leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate", tieCol = "o_orderkey",
        payload = Seq("o_orderkey", "o_totalprice"))
      .select($"event_id", $"user_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        $"o_orderkey", $"o_totalprice")
      .orderBy($"event_id")
  }

  // The oracle intentionally uses the explosive formulation (theta join +
  // row_number) — an independent algorithm validating the merge.
  private val q34Sql =
    """SELECT event_id, user_id, ts_s, o_orderkey, o_totalprice FROM (
      |  SELECT e.event_id, e.user_id,
      |    strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |    o.o_orderkey, o.o_totalprice,
      |    row_number() OVER (PARTITION BY e.event_id
      |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e
      |  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
      |WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** Session windows (30 min inactivity gap) per user. Oracle: classic
    * gaps-and-islands. Spark's session closes at last+gap (exclusive), so
    * the island break condition is diff >= gap. */
  private def q35Sessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .select($"user_id",
        date_format($"session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        $"n", $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  private val q35Sql =
    s"""WITH marked AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |sessions AS (
       |  SELECT user_id, ts, value,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
       |                   ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM marked)
       |SELECT user_id,
       |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       |  COUNT(*) AS n,
       |  ${sqlDsum("value")} AS total_value
       |FROM sessions
       |GROUP BY user_id, sess
       |ORDER BY user_id, session_start""".stripMargin

  /** Rollup with grouping indicators (subtotals + grand total). */
  private def q36Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .orderBy($"gid", $"l_returnflag", $"l_linestatus")
  }

  // Spark sorts NULLS FIRST by default on ASC; DuckDB NULLS LAST — pinned
  // explicitly so both engines emit identical row order.
  private val q36Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  COUNT(*) AS n,
       |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** TPC-H Q5-shape six-way join (north star): local-supplier revenue
    * per (region, order year) — lineitem⨝orders⨝customer⨝supplier with
    * the same-nation residual, nation/region as broadcast dims. The
    * classic join-ordering showcase: the two fact tables shuffle on
    * their keys once each, every dimension hop is a broadcast, and the
    * revenue Σ price·(1−discount) is computed in exact integer units
    * (cents × per-mille) so the group sums are engine-portable without
    * the decimal-cast boundary risk a double product would carry. */
  private def q125LocalRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey",
      floor($"l_extendedprice" * 100 + 0.5).cast("long").as("__cents"),
      floor($"l_discount" * 1000 + 0.5).cast("long").as("__dm"))
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey",
        year(to_date($"o_orderdate")).cast("int").as("o_year"))
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
    val reg = Tables.region(spark, dir).select($"r_regionkey", $"r_name")
    li
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(supp, $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" === $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"o_year")
      .agg(sum($"__cents" * (lit(1000L) - $"__dm")).as("revenue_mc"),
        count(lit(1)).as("n_lines"))
      .orderBy($"r_name", $"o_year")
  }

  private val q125Sql =
    """SELECT r.r_name, CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
      |  CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
      |    * (1000 - CAST(floor(l.l_discount * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_mc,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |WHERE c.c_nationkey = s.s_nationkey
      |GROUP BY 1, 2
      |ORDER BY r_name, o_year""".stripMargin

  /** TPC-H Q7-shape bilateral trade volume (north star): revenue between
    * DISTINCT (supplier nation → customer nation) pairs per ship year —
    * the dual-role dimension showcase: the nation table joins TWICE under
    * different roles (both broadcast), the inequality residual keeps only
    * cross-nation trade, and the two fact tables still shuffle exactly
    * once each on their join keys. Revenue in the q125 integer
    * cents×per-mille units, so the group sums are engine-portable. */
  private def q139TradeVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey",
      year(to_date($"l_shipdate")).cast("int").as("l_year"),
      floor($"l_extendedprice" * 100 + 0.5).cast("long").as("__cents"),
      floor($"l_discount" * 1000 + 0.5).cast("long").as("__dm"))
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val suppNat = Tables.nation(spark, dir)
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    val custNat = Tables.nation(spark, dir)
      .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    li
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(supp, $"l_suppkey" === $"s_suppkey")
      .filter($"s_nationkey" =!= $"c_nationkey")
      .join(broadcast(suppNat), $"s_nationkey" === $"sn_key")
      .join(broadcast(custNat), $"c_nationkey" === $"cn_key")
      .groupBy($"supp_nation", $"cust_nation", $"l_year")
      .agg(sum($"__cents" * (lit(1000L) - $"__dm")).as("revenue_mc"),
        count(lit(1)).as("n_lines"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  private val q139Sql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
      |  CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
      |    * (1000 - CAST(floor(l.l_discount * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_mc,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      |WHERE s.s_nationkey <> c.c_nationkey
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Decorrelated subquery shape: parts priced ≥ 5% above their brand's
    * average retail price — the correlated `WHERE price > (SELECT avg …
    * WHERE brand = outer.brand)` stated as ONE aggregate + broadcast
    * join (what a decorrelation rewrite produces; Spark never executes a
    * per-row subquery). The comparison is integer cross-multiplied
    * (20·price_cents·n > 21·sum_cents) so the 1.05× threshold never
    * touches a float average. */
  private def q140AboveBrandAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir).select($"p_partkey", $"p_name",
      $"p_brand", floor($"p_retailprice" * 100 + 0.5).cast("long").as("__cents"))
    val brandStats = parts.groupBy($"p_brand".as("__b"))
      .agg(sum($"__cents").as("__sum"), count(lit(1)).as("__n"))
    parts.join(broadcast(brandStats), $"p_brand" === $"__b")
      .filter($"__cents" * $"__n" * 20 > $"__sum" * 21)
      .select($"p_partkey", $"p_name", $"p_brand",
        ($"__cents".cast("double") / 100.0).as("price"),
        ($"__sum".cast("double") / ($"__n" * 100L).cast("double")).as("brand_avg"))
      .orderBy($"p_partkey")
  }

  private val q140Sql =
    """WITH p AS (
      |  SELECT p_partkey, p_name, p_brand,
      |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM part),
      |b AS (
      |  SELECT p_brand AS brand, SUM(cents) AS s, COUNT(*) AS n
      |  FROM p GROUP BY 1)
      |SELECT p_partkey, p_name, p_brand,
      |  CAST(cents AS DOUBLE) / 100.0 AS price,
      |  CAST(s AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS brand_avg
      |FROM p JOIN b ON p.p_brand = b.brand
      |WHERE cents * n * 20 > s * 21
      |ORDER BY p_partkey""".stripMargin

  /** CUBE: the full 2^k grouping-set lattice over (returnflag,
    * linestatus) — q36's rollup sibling, completing the grouping-sets
    * surface (Spark plans both through one Expand + aggregate, no
    * per-grouping rescan). */
  private def q124Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .orderBy($"gid", $"l_returnflag", $"l_linestatus")
  }

  private val q124Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  COUNT(*) AS n,
       |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Pivot: event counts per user by type, one column per type. */
  private def q37Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"user_id")
  }

  private val q37Sql =
    """SELECT user_id,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'view') AS view,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'error') AS error
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Set operations: INTERSECT / EXCEPT over user activity sets. */
  private def q38SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val purchasers = e.filter($"event_type" === "purchase").select($"user_id")
    val errorers   = e.filter($"event_type" === "error").select($"user_id")
    purchasers.intersect(errorers).withColumn("cohort", lit("both"))
      .union(purchasers.except(errorers).withColumn("cohort", lit("purchase_only")))
      .orderBy($"cohort", $"user_id")
  }

  private val q38Sql =
    """SELECT user_id, 'both' AS cohort FROM (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'error')
      |UNION ALL
      |SELECT user_id, 'purchase_only' AS cohort FROM (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'error')
      |ORDER BY cohort, user_id""".stripMargin

  /** Sketched statistics: HLL distinct counts and approximate percentiles
    * next to their exact counterparts. The approx columns have no
    * cross-engine oracle (different sketch implementations), so the oracle
    * covers the exact columns and ApproxStatsSpec bounds the sketch error
    * against them. */
  private def q40ApproxStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("exact_users"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"),
        percentile_approx($"value", lit(0.5), lit(10000)).as("approx_p50"),
        dsum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** Companion verdict for the q40 sketches: the sketch VALUES are
    * engine-algorithm-specific (HLL++ register layout, GK/KLL quantile
    * summaries), but their ACCURACY CLAIMS are relational. Per event_type,
    * emit the exact stats plus two booleans — the HLL estimate lands
    * within 5% of the exact distinct count (rsd 0.02 ⇒ 2.5σ), and the
    * approximate p50 is a value whose exact rank sits inside the
    * documented n/accuracy rank-error band around the true median. The
    * oracle recomputes the exact stats and asserts both booleans TRUE, so
    * a sketch drifting out of its contract flips a value and fails the
    * driver's hash check. */
  private def q72SketchBounds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"user_id", $"value")
    val agg = ev.groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("exact_users"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"),
        percentile_approx($"value", lit(0.5), lit(10000)).as("p50"),
        count(lit(1)).as("n_events"))
    val ranks = ev
      .join(broadcast(agg.select($"event_type", $"p50")), "event_type")
      .groupBy($"event_type")
      .agg(
        sum(when($"value" < $"p50", 1L).otherwise(0L)).as("below"),
        sum(when($"value" <= $"p50", 1L).otherwise(0L)).as("at_or_below"))
    agg.join(ranks, "event_type")
      .select(
        $"event_type", $"exact_users", $"n_events",
        (abs($"approx_users" - $"exact_users") <= $"exact_users" * 0.05)
          .as("hll_within_5pct"),
        ($"below" <= $"n_events" * 0.5 + $"n_events" / 10000.0 + 1 &&
          $"at_or_below" >= $"n_events" * 0.5 - $"n_events" / 10000.0)
          .as("p50_in_rank_bounds"))
      .orderBy($"event_type")
  }

  private val q72Sql =
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(*) AS n_events,
      |  TRUE AS hll_within_5pct,
      |  TRUE AS p50_in_rank_bounds
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** The exact half of the q40 statistics, split out so it can be oracled:
    * exact distinct counts and exact decimal sums are DuckDB-matchable even
    * though the HLL/percentile sketches next to them (q40) are not. */
  /** Exact per-key quantiles (north star): p50/p90/p99 of `value` per
    * event type — EXACT discrete order statistics, not a sketch, computed
    * by the two-pass value-histogram plan (operators/OrderStats: only
    * each quantile's straddling cell row-sorts; no per-stratum global
    * sort — the shape approx_percentile exists to avoid, made exact).
    * Oracle: the naive window-rank formulation; both engines compute the
    * rank as ceil(p·n) in DOUBLE (an exact-decimal p·n differs from the
    * IEEE product near integers). */
  private def q89ExactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.OrderStats.exactQuantiles(
        Tables.events(spark, dir), "value", "event_type",
        ps = Seq(0.5, 0.9, 0.99))
      .orderBy($"event_type", $"p")
  }

  private val q89Sql =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |ps(p) AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)),
      |t AS (
      |  SELECT event_type, p, n,
      |    GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS r0
      |  FROM (SELECT DISTINCT event_type, n FROM r) CROSS JOIN ps)
      |SELECT t.event_type, t.p, CAST(t.n AS BIGINT) AS n, r.value AS q
      |FROM t JOIN r ON r.event_type = t.event_type AND r.rn = t.r0
      |ORDER BY t.event_type, t.p""".stripMargin

  /** Quantile-shift gate — the third leg of the drift family beside
    * q192's binned shape and q197's categorical mix: per-stratum EXACT
    * p50/p90/p99 ([[graft.operators.OrderStats.exactQuantiles]], the
    * cell-partitioned plan) of the pre-1998 baseline vs the 1998+
    * window, joined on (stratum, p), with the shift emitted as a
    * difference of identically-derived doubles and the flag a plain
    * comparison — no float sums anywhere. Catches median/tail moves a
    * histogram's fixed bins can blur. */
  private def q206QuantileShift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val cut = lit("1998-01-01").cast("timestamp")
    def qs(df: DataFrame, out: String) =
      graft.operators.OrderStats.exactQuantiles(
          df, "o_totalprice", "o_orderpriority", ps = Seq(0.5, 0.9, 0.99))
        .select($"o_orderpriority", $"p", $"n".as(s"n_$out"),
          $"q".as(s"q_$out"))
    qs(orders.filter($"o_orderdate" < cut), "base")
      .join(qs(orders.filter($"o_orderdate" >= cut), "cur"),
        Seq("o_orderpriority", "p"))
      .withColumn("shift", $"q_cur" - $"q_base")
      .withColumn("drifted", abs($"q_cur" - $"q_base") > 20000.0)
      .orderBy($"o_orderpriority", $"p")
  }

  private val q206Sql = {
    def side(pred: String, out: String) =
      s"""${out}0 AS (
         |  SELECT o_orderpriority, o_totalprice AS value,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |                       ORDER BY o_totalprice, o_orderkey) AS rn,
         |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
         |  FROM orders WHERE $pred),
         |$out AS (
         |  SELECT t.o_orderpriority, t.p, CAST(t.n AS BIGINT) AS n_$out,
         |    r.value AS q_$out
         |  FROM (
         |    SELECT o_orderpriority, p, n,
         |      GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS r0
         |    FROM (SELECT DISTINCT o_orderpriority, n FROM ${out}0)
         |    CROSS JOIN ps) t
         |  JOIN ${out}0 r ON r.o_orderpriority = t.o_orderpriority
         |               AND r.rn = t.r0)""".stripMargin
    s"""WITH ps(p) AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)),
       |${side("o_orderdate < TIMESTAMP '1998-01-01'", "base")},
       |${side("o_orderdate >= TIMESTAMP '1998-01-01'", "cur")}
       |SELECT base.o_orderpriority, base.p, n_base, q_base, n_cur, q_cur,
       |  q_cur - q_base AS shift,
       |  abs(q_cur - q_base) > 20000.0 AS drifted
       |FROM base JOIN cur
       |  ON base.o_orderpriority = cur.o_orderpriority AND base.p = cur.p
       |ORDER BY base.o_orderpriority, base.p""".stripMargin
  }

  /** Mergeable MRL quantile sketch at exact capacity (the q70/q105
    * oracle trick applied to [[graft.operators.QuantileSketch]]): with
    * capacity ≥ every language's row count no buffer collapse ever
    * fires, the accumulated error bound stays 0, and the summary IS the
    * sorted group — so insert/promote/merge/finish sit end to end under
    * the q89-style window-rank oracle. q207's doc notes KLL/t-digest
    * compaction "defies a cross-engine replay"; this pins the lossless
    * half relationally and leaves the lossy half to q230's
    * self-certifying integer gate + QuantileSketchSpec's bound checks. */
  private def q229QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.QuantileSketch.summarize(
        Tables.documents(spark, dir), "n_chars", "lang",
        ps = Seq(0.5, 0.9, 0.99), capacity = 8192)
      .orderBy($"lang", $"p")
  }

  private val q229Sql =
    """WITH r AS (
      |  SELECT lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents),
      |ps(p) AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)),
      |t AS (
      |  SELECT lang, p, n,
      |    GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS r0
      |  FROM (SELECT DISTINCT lang, n FROM r) CROSS JOIN ps)
      |SELECT t.lang, t.p, CAST(t.n AS BIGINT) AS n, r.n_chars AS q
      |FROM t JOIN r ON r.lang = t.lang AND r.rn = t.r0
      |ORDER BY t.lang, t.p""".stripMargin

  /** The sketch-store contract (the q100 mergeable-state discipline
    * applied to [[graft.operators.QuantileSketch]]): sketch DISJOINT
    * halves of the corpus separately, persist one summary and reload it
    * (the save/load round trip sits under the hash), merge driver-side,
    * and the merged summary at exact capacity must reproduce the full
    * recompute's rank-⌈p·n⌉ order statistics bit for bit — the
    * incremental-daily-statistics path: fold each new day's sketch into
    * the standing summary without re-reading old data. */
  private def q233SketchMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val even = graft.operators.QuantileSketch.sketch(
      docs.filter($"doc_id" % 2 === 0), "n_chars", capacity = 16384)
    val odd = graft.operators.QuantileSketch.sketch(
      docs.filter($"doc_id" % 2 === 1), "n_chars", capacity = 16384)
    val store = graft.core.Scratch.dir(dir, "qsstore")
    graft.operators.QuantileSketch.saveSummary(spark, even, store)
    val reloaded = graft.operators.QuantileSketch.loadSummary(spark, store)
    val m = graft.operators.QuantileSketch.merge(reloaded, odd)
    Seq(0.5, 0.9, 0.99).map(p => (p, m.n, m.quantile(p)))
      .toDF("p", "n", "q").orderBy($"p")
  }

  private val q233Sql =
    """WITH r AS (
      |  SELECT n_chars,
      |    row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM documents),
      |ps(p) AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)),
      |t AS (
      |  SELECT p, n, GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS r0
      |  FROM (SELECT DISTINCT n FROM r) CROSS JOIN ps)
      |SELECT t.p, CAST(t.n AS BIGINT) AS n, r.n_chars AS q
      |FROM t JOIN r ON r.rn = t.r0
      |ORDER BY t.p""".stripMargin

  /** The GROUPED sketch store (q233's discipline per stratum, fully
    * distributed): sketch disjoint document halves into per-language
    * store frames, persist one and reload it, [[graft.operators
    * .QuantileSketch.mergeGrouped]] them (a group-keyed reduce over
    * parameter-bounded rows — a store of millions of strata never
    * touches the driver), and read quantiles off the merged store. At
    * exact capacity the result must equal q229's full recompute per
    * group, bit for bit, under the same window-rank oracle. */
  private def q235GroupedStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val even = graft.operators.QuantileSketch.summarizeToStore(
      docs.filter($"doc_id" % 2 === 0), "n_chars", "lang", capacity = 16384)
    val odd = graft.operators.QuantileSketch.summarizeToStore(
      docs.filter($"doc_id" % 2 === 1), "n_chars", "lang", capacity = 16384)
    val store = graft.core.Scratch.dir(dir, "qsgstore")
    graft.operators.QuantileSketch.saveGrouped(spark, even, store)
    val merged = graft.operators.QuantileSketch.mergeGrouped(
      graft.operators.QuantileSketch.loadGrouped(spark, store), odd)
    graft.operators.QuantileSketch.quantilesOfStore(merged, "lang",
        ps = Seq(0.5, 0.9, 0.99))
      .orderBy($"lang", $"p")
  }

  /** The sparse-capacity half of the q229 story: a 256-item-per-buffer
    * sketch over lineitem's 600k quantities (collapses DO fire), then
    * [[graft.operators.QuantileSketch.gate]]'s exact one-pass audit —
    * each estimate's true rank interval must intersect the target rank
    * ± the summary's own accumulated bound. The pass flags are TRUE
    * under ANY merge order (the bound certifies its own realized
    * error), which is what makes an approximate sketch's contract
    * hash-pinnable (the q214 gate pattern) even though the estimates
    * themselves are merge-order-dependent like q105's MG survivors. */
  private def q230QuantileGate(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QuantileSketch.gate(
      Tables.lineitem(spark, dir), "l_quantity",
      ps = Seq(0.1, 0.5, 0.9, 0.99), capacity = 256)

  private val q230Sql =
    """WITH c AS (SELECT COUNT(*) AS n FROM lineitem),
      |ps(p_pct) AS (VALUES (10), (50), (90), (99))
      |SELECT CAST(p_pct AS BIGINT) AS p_pct, CAST(c.n AS BIGINT) AS n,
      |  true AS pass
      |FROM ps CROSS JOIN c
      |ORDER BY p_pct""".stripMargin

  /** Mergeable-histogram quantiles ([[graft.operators.Drift
    * .binnedQuantiles]]): the quantile read the drift family's bin
    * counts support for free — deterministic and exactly mergeable
    * (plain addition) where KLL/t-digest compaction defies a
    * cross-engine replay. The contract sits fully under the hash: the
    * estimate (upper edge of the straddling bin), the EXACT rank
    * quantile ([[graft.operators.OrderStats.exactQuantiles]] — the
    * cell-partitioned plan, never a corpus-global window; the ORACLE
    * replays it as a window, which is fine in DuckDB), and the
    * one-bin-width error bound boolean are all under the hash. */
  private def q207BinnedQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val width = 5000.0
    val counts = graft.operators.Drift.binCounts(
      Tables.orders(spark, dir), "o_totalprice", nBins = 100,
      lo = 0.0, hi = 500000.0)
    val est = graft.operators.Drift.binnedQuantiles(
      counts, nBins = 100, lo = 0.0, hi = 500000.0, ps = Seq(0.5, 0.9, 0.99))
    // exact comparator via OrderStats.exactQuantiles (the q89-oracled
    // cell-partitioned histogram plan, here with one constant stratum) —
    // NOT a corpus-global row_number window, which would sort the whole
    // table in one task at scale. Same rank formula (max(1, ceil(p·n))
    // in double) and same rank-r value under value-ascending order, so
    // the oracle SQL's window replay is unchanged.
    val exact = graft.operators.OrderStats.exactQuantiles(
        Tables.orders(spark, dir).withColumn("__all", lit(1)),
        "o_totalprice", "__all", ps = Seq(0.5, 0.9, 0.99))
      .select($"p", $"q".as("exact_q"))
    est.join(exact, "p")
      .withColumn("ok",
        $"est_quantile" > $"exact_q" &&
          $"est_quantile" - $"exact_q" <= width)
      .orderBy($"p")
  }

  private val q207Sql =
    """WITH c AS (
      |  SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0)/5000.0) AS BIGINT), 0), 99) AS bin,
      |    COUNT(*) AS n
      |  FROM orders GROUP BY bin),
      |cum AS (
      |  SELECT bin, SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumn,
      |    SUM(n) OVER () AS total
      |  FROM c),
      |ps(p) AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)),
      |est AS (
      |  SELECT p, MIN(GREATEST(1, CAST(CEIL(p * total) AS BIGINT))) AS target_rank,
      |    0.0 + (MIN(bin) + 1) * 5000.0 AS est_quantile
      |  FROM cum CROSS JOIN ps
      |  WHERE cumn >= GREATEST(1, CAST(CEIL(p * total) AS BIGINT))
      |  GROUP BY p),
      |r AS (
      |  SELECT o_totalprice, row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM orders),
      |ex AS (
      |  SELECT p, o_totalprice AS exact_q
      |  FROM r CROSS JOIN ps
      |  WHERE rn = GREATEST(1, CAST(CEIL(p * n) AS BIGINT)))
      |SELECT est.p, target_rank, est_quantile, exact_q,
      |  est_quantile > exact_q AND est_quantile - exact_q <= 5000.0 AS ok
      |FROM est JOIN ex ON est.p = ex.p
      |ORDER BY est.p""".stripMargin

  /** Quantile binning (the feature-calibration transform): per-priority
    * quartile cuts from [[graft.operators.OrderStats.exactQuantiles]]
    * (the cell-partitioned exact plan), each order bucketed as the
    * COUNT OF CUTS ≤ its value — cut-based bucketing, deterministic
    * under ties where NTILE's equal-count split is not — then the
    * per-(stratum, bucket) population re-aggregated so the oracle can
    * hash the whole assignment without shipping per-row output. The
    * cuts join back via broadcast (|strata|·3 rows). */
  private def q209QuantileBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val cuts = graft.operators.OrderStats.exactQuantiles(
        orders, "o_totalprice", "o_orderpriority", ps = Seq(0.25, 0.5, 0.75))
      .select($"o_orderpriority", $"q")
      .groupBy($"o_orderpriority")
      .agg(collect_list($"q").as("__cuts"))
    orders.join(broadcast(cuts), "o_orderpriority")
      .withColumn("bucket", expr(
        "aggregate(__cuts, 0, (acc, c) -> acc + if(c <= o_totalprice, 1, 0))"))
      .groupBy($"o_orderpriority", $"bucket")
      .agg(count(lit(1)).as("n"),
        Exact.dsum($"o_totalprice").as("sum_value"))
      .orderBy($"o_orderpriority", $"bucket")
  }

  private val q209Sql =
    s"""WITH r AS (
       |  SELECT o_orderpriority, o_totalprice,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |                       ORDER BY o_totalprice, o_orderkey) AS rn,
       |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM orders),
       |ps(p) AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE)),
       |cuts AS (
       |  SELECT t.o_orderpriority, r.o_totalprice AS q
       |  FROM (
       |    SELECT o_orderpriority, p, GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS r0
       |    FROM (SELECT DISTINCT o_orderpriority, n FROM r) CROSS JOIN ps) t
       |  JOIN r ON r.o_orderpriority = t.o_orderpriority AND r.rn = t.r0),
       |b AS (
       |  SELECT o.o_orderpriority, o.o_totalprice,
       |    (SELECT COUNT(*) FROM cuts c
       |     WHERE c.o_orderpriority = o.o_orderpriority
       |       AND c.q <= o.o_totalprice) AS bucket
       |  FROM orders o)
       |SELECT o_orderpriority, CAST(bucket AS INT) AS bucket,
       |  COUNT(*) AS n,
       |  ${Exact.sqlDsum("o_totalprice")} AS sum_value
       |FROM b
       |GROUP BY o_orderpriority, bucket
       |ORDER BY o_orderpriority, bucket""".stripMargin

  /** Per-stratum length-outlier trim (north star): drop each language's
    * longest decile — "winsorize the corpus at per-language p90 token
    * length", the length-outlier curation rule a 100 TB cleaning run
    * applies before packing. Composes [[graft.operators.OrderStats
    * .exactQuantiles]] (q89's no-per-stratum-sort value-histogram plan)
    * with a broadcast cut join; the trim itself is a narrow filter, so
    * the whole rule adds zero wide stages beyond the quantile pass.
    * Oracle: the naive window-rank quantile + join — the rank is
    * ceil(0.9·n) with the product taken in DOUBLE on both engines
    * (q89's rank contract). */
  private def q90QuantileTrim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"lang",
      graft.functions.TextFunctions.tokenCount($"text").cast("long").as("n_tokens"))
    val cuts = graft.operators.OrderStats.exactQuantiles(
        docs, "n_tokens", "lang", ps = Seq(0.9))
      .select($"lang", $"q".as("cut"))
    docs.join(broadcast(cuts), "lang")
      .filter($"n_tokens" <= $"cut")
      .select($"doc_id", $"lang", $"n_tokens", $"cut")
      .orderBy($"doc_id")
  }

  private val q90Sql =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT lang, n_tokens,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM d),
      |cuts AS (
      |  SELECT lang, CAST(n_tokens AS DOUBLE) AS cut
      |  FROM r
      |  WHERE rn = GREATEST(1, CAST(CEIL(CAST(0.9 AS DOUBLE) * n) AS BIGINT)))
      |SELECT d.doc_id, d.lang, d.n_tokens, c.cut
      |FROM d JOIN cuts c USING (lang)
      |WHERE d.n_tokens <= c.cut
      |ORDER BY d.doc_id""".stripMargin

  /** Z-order (Morton) key derivation (north star): the bit-interleave
    * behind the multi-dimensional data-skipping layout
    * ([[graft.sinks.ZOrder]]) — 10 bits of user lane + 10 bits of
    * time lane, little-endian interleave, a pure row-local map. The
    * oracle re-derives every key bit-by-bit relationally, so the curve
    * arithmetic that file pruning depends on sits under the driver
    * hash; the locality/pruning property itself is measured in
    * ZOrderSpec against a linear-sort baseline. */
  private def q95ZOrderKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id",
        pmod($"user_id", lit(1024L)).as("zx"),
        pmod(unix_timestamp($"ts"), lit(1024L)).as("zy"))
    ev.withColumn("zkey",
        graft.sinks.ZOrder.interleaveBits(Seq($"zx", $"zy"), bits = 10))
      .orderBy($"event_id")
  }

  private val q95Sql =
    """WITH t AS (
      |  SELECT event_id,
      |    user_id % 1024 AS zx,
      |    CAST(floor(epoch(ts)) AS BIGINT) % 1024 AS zy
      |  FROM events),
      |b AS (SELECT unnest(range(0, 10)) AS j)
      |SELECT t.event_id, t.zx, t.zy,
      |  CAST(SUM((((t.zx >> b.j) & 1) << (2 * b.j)) +
      |           (((t.zy >> b.j) & 1) << (2 * b.j + 1))) AS BIGINT) AS zkey
      |FROM t CROSS JOIN b
      |GROUP BY t.event_id, t.zx, t.zy
      |ORDER BY event_id""".stripMargin

  /** SCD2 versioning (warehouse ETL): each user's event-type change log
    * collapsed to validity intervals — no-op changes merged, half-open
    * [valid_from, valid_to) tiling, null valid_to marks the current
    * version. One shared window spec = one exchange + one sort
    * (plan-pinned in Scd2Spec). Oracle: the same lag-filter-lead chain
    * stated relationally. */
  private def q96Scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id", $"ts", $"event_type")
    graft.operators.Scd2.versionize(ev, "user_id", "ts", Seq("event_type"))
      .select($"user_id", $"event_type",
        date_format($"valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format($"valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
        $"is_current")
      .orderBy($"user_id", $"valid_from")
  }

  private val q96Sql =
    """WITH c AS (
      |  SELECT user_id, ts, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |v AS (
      |  SELECT user_id, ts, event_type,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to_ts
      |  FROM c
      |  WHERE prev IS NULL OR event_type <> prev)
      |SELECT user_id, event_type,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |  strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
      |  valid_to_ts IS NULL AS is_current
      |FROM v
      |ORDER BY user_id, valid_from""".stripMargin

  /** One-pass column profile (exact configuration): per-column row/null/
    * distinct counts and string-rendered min/max over the documents
    * table — ONE aggregate job, reshaped to a tall frame row-locally.
    * Oracle: one UNION ALL branch per column. The approx (HLL) profile
    * is the 100 TB default; its expansion-free plan and error bounds are
    * pinned in ProfileSpec. */
  private def q97Profile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Profile.profile(
        Tables.documents(spark, dir),
        Seq("doc_id", "lang", "source", "n_chars"), exact = true)
      .orderBy($"col_name")
  }

  private val q97Sql =
    """SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
      |  COUNT(*) - COUNT(doc_id) AS n_nulls,
      |  COUNT(DISTINCT doc_id) AS n_distinct,
      |  CAST(MIN(doc_id) AS VARCHAR) AS min_value,
      |  CAST(MAX(doc_id) AS VARCHAR) AS max_value
      |FROM documents
      |UNION ALL
      |SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
      |  CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
      |  CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
      |  CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
      |FROM documents
      |ORDER BY col_name""".stripMargin

  /** The q72 sketch-contract pattern applied to [[graft.operators.Profile]]'s
    * HLL path (the 100 TB default profile): per events column, the EXACT
    * profile row (oracle-matchable) plus a boolean verdict that the
    * approx profile's HLL distinct landed inside the documented band
    * (|approx − exact| ≤ max(1, 10% of exact) — 2σ of the default
    * rsd 0.05, the same band ProfileSpec pins at toy scale). The oracle
    * recomputes the exact columns and asserts the boolean TRUE, so an
    * HLL drifting out of contract flips a hashed value. Both profiles
    * are ONE aggregate job each; the approx side stays Expand-free. */
  private def q108ProfileContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val cols = Seq("event_id", "user_id", "event_type")
    val exact = graft.operators.Profile.profile(ev, cols, exact = true)
    val approx = graft.operators.Profile.profile(ev, cols, exact = false)
      .select($"col_name", $"n_distinct".as("approx_nd"))
    exact.join(broadcast(approx), "col_name")
      .select($"col_name", $"n_rows", $"n_nulls", $"n_distinct",
        $"min_value", $"max_value",
        (abs($"approx_nd" - $"n_distinct") <=
          greatest(lit(1L), ($"n_distinct" * 0.1).cast("long"))).as("hll_in_band"))
      .orderBy($"col_name")
  }

  private val q108Sql =
    """SELECT 'event_id' AS col_name, COUNT(*) AS n_rows,
      |  COUNT(*) - COUNT(event_id) AS n_nulls,
      |  COUNT(DISTINCT event_id) AS n_distinct,
      |  CAST(MIN(event_id) AS VARCHAR) AS min_value,
      |  CAST(MAX(event_id) AS VARCHAR) AS max_value,
      |  TRUE AS hll_in_band
      |FROM events
      |UNION ALL
      |SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
      |  COUNT(DISTINCT user_id),
      |  CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR), TRUE
      |FROM events
      |UNION ALL
      |SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
      |  COUNT(DISTINCT event_type),
      |  CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR), TRUE
      |FROM events
      |ORDER BY col_name""".stripMargin

  /** Funnel analysis (north star for the event domain): earliest
    * view → first click strictly after it → first purchase strictly
    * after that, per user — ONE groupBy shuffle + a row-local sorted
    * fold (operators/Funnel), vs the naive one-self-join-per-stage
    * plan. Oracle: exactly that naive plan — an independent per-stage
    * min-join chain. */
  private def q98Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Funnel.funnelTimes(
        Tables.events(spark, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select($"user_id",
        date_format($"t_1", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t_view"),
        date_format($"t_2", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t_click"),
        date_format($"t_3", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t_purchase"))
      .orderBy($"user_id")
  }

  private val q98Sql =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 ON s1.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 ON s2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
      |SELECT u.user_id,
      |  strftime(s1.t1, '%Y-%m-%d %H:%M:%S.%f') AS t_view,
      |  strftime(s2.t2, '%Y-%m-%d %H:%M:%S.%f') AS t_click,
      |  strftime(s3.t3, '%Y-%m-%d %H:%M:%S.%f') AS t_purchase
      |FROM u
      |LEFT JOIN s1 USING (user_id)
      |LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Weekly cohort retention: users bucketed by first-activity week,
    * counted in each later active week — the classic retention matrix.
    * Weeks are date_trunc Mondays in both engines, so weeks_since is
    * exact integer arithmetic. */
  private def q99Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
    Tables.events(spark, dir)
      .select($"user_id", date_trunc("week", $"ts").as("week"))
      .withColumn("cohort", min($"week").over(w))
      .select($"user_id", $"cohort", $"week").distinct()
      .groupBy($"cohort",
        (datediff($"week", $"cohort") / 7).cast("int").as("weeks_since"))
      .agg(countDistinct($"user_id").as("n_users"))
      .select(date_format($"cohort", "yyyy-MM-dd").as("cohort_week"),
        $"weeks_since", $"n_users")
      .orderBy($"cohort_week", $"weeks_since")
  }

  private val q99Sql =
    """WITH w AS (
      |  SELECT user_id, date_trunc('week', ts) AS week FROM events),
      |c AS (
      |  SELECT user_id, MIN(week) AS cohort FROM w GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT w.user_id, c.cohort, w.week
      |  FROM w JOIN c USING (user_id))
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
      |  CAST(date_diff('day', cohort, week) / 7 AS INT) AS weeks_since,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM a
      |GROUP BY 1, 2
      |ORDER BY cohort_week, weeks_since""".stripMargin

  /** Incremental aggregate maintenance (north star for recurring ETL):
    * the per-type rollup maintained as a mergeable state — two disjoint
    * halves of the month aggregated independently, then MERGED — vs the
    * oracle's single full recompute. Decimal sums make partial-then-
    * merge bit-identical to full in any batching, so the merged state
    * sits under the driver hash. */
  private def q100IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
    val before = graft.operators.IncrementalAgg.state(
      ev.filter($"ts" < cutoff), Seq("event_type"), "value")
    val delta = graft.operators.IncrementalAgg.state(
      ev.filter($"ts" >= cutoff), Seq("event_type"), "value")
    graft.operators.IncrementalAgg.merge(Seq(before, delta))
      .select($"event_type", $"n_rows",
        $"sum_v".cast("double").as("sum_v"), $"min_v", $"max_v")
      .orderBy($"event_type")
  }

  private val q100Sql =
    s"""SELECT event_type, COUNT(*) AS n_rows,
       |  ${Exact.sqlDsum("value")} AS sum_v,
       |  MIN(value) AS min_v, MAX(value) AS max_v
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Point-in-time enrichment — SCD2's standard consumer: each order
    * left-joined to the version of its user's event-type dimension that
    * was valid at order time. Equi-join + interval residual; at most
    * one version matches (intervals tile). */
  private def q101TemporalLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = graft.operators.Scd2.versionize(
      Tables.events(spark, dir).select($"user_id", $"ts", $"event_type"),
      "user_id", "ts", Seq("event_type"))
    val facts = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey".as("user_id"), $"o_orderdate")
    graft.operators.Scd2.temporalLookup(facts, dim, "user_id", "o_orderdate")
      .select($"o_orderkey", $"user_id", $"event_type",
        date_format($"valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        $"is_current")
      .orderBy($"o_orderkey")
  }

  private val q101Sql =
    """WITH c AS (
      |  SELECT user_id, ts, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |v AS (
      |  SELECT user_id, ts, event_type,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to_ts
      |  FROM c
      |  WHERE prev IS NULL OR event_type <> prev)
      |SELECT o.o_orderkey, o.o_custkey AS user_id, v.event_type,
      |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |  CASE WHEN v.user_id IS NULL THEN NULL
      |       ELSE v.valid_to_ts IS NULL END AS is_current
      |FROM orders o
      |LEFT JOIN v ON v.user_id = o.o_custkey
      |  AND v.ts <= o.o_orderdate
      |  AND (v.valid_to_ts IS NULL OR o.o_orderdate < v.valid_to_ts)
      |ORDER BY o_orderkey""".stripMargin

  /** Data-quality expectations (ETL gate): five declarative rules over
    * the documents table — not-null, accepted values, numeric range, a
    * cross-column consistency predicate, and key uniqueness — evaluated
    * as ONE aggregate pass (+ one groupBy for uniqueness), emitting the
    * |rules|-row verdict frame with deterministic sample offenders. */
  private def q102Expectations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Expectations._
    check(Tables.documents(spark, dir), "doc_id", Seq(
        NotNull("lang"),
        AcceptedIn("lang", Seq("en", "de", "es", "fr")),
        InRange("n_chars", 1, 400),
        Satisfies("text_len_consistent", length($"text") === $"n_chars"),
        Unique("doc_id")))
      .orderBy($"rule")
  }

  private val q102Sql =
    """SELECT 'not_null:lang' AS rule,
      |  COUNT(*) FILTER (lang IS NULL) AS n_violations,
      |  CAST(MIN(doc_id) FILTER (lang IS NULL) AS VARCHAR) AS sample_id
      |FROM documents
      |UNION ALL
      |SELECT 'accepted_in:lang',
      |  COUNT(*) FILTER (NOT coalesce(lang IN ('en', 'de', 'es', 'fr'), FALSE)),
      |  CAST(MIN(doc_id) FILTER (NOT coalesce(lang IN ('en', 'de', 'es', 'fr'), FALSE)) AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'in_range:n_chars',
      |  COUNT(*) FILTER (NOT coalesce(n_chars BETWEEN 1 AND 400, FALSE)),
      |  CAST(MIN(doc_id) FILTER (NOT coalesce(n_chars BETWEEN 1 AND 400, FALSE)) AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'satisfies:text_len_consistent',
      |  COUNT(*) FILTER (NOT coalesce(len(text) = n_chars, FALSE)),
      |  CAST(MIN(doc_id) FILTER (NOT coalesce(len(text) = n_chars, FALSE)) AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'unique:doc_id',
      |  CAST(coalesce(SUM(n), 0) AS BIGINT),
      |  CAST(MIN(i) AS VARCHAR)
      |FROM (SELECT doc_id, COUNT(*) AS n, MIN(doc_id) AS i
      |      FROM documents GROUP BY doc_id HAVING COUNT(*) > 1)
      |ORDER BY rule""".stripMargin

  /** Referential contract suite — [[q102Expectations]] extended with the
    * [[graft.operators.Expectations.ForeignKeyIn]] rule: the fact table
    * gated on BOTH its foreign keys (one broadcast anti join each,
    * never a per-row dim scan) alongside row rules, one of which
    * (quantity < 50) actually fires so the verdict isn't all-zeros. */
  private def q205FkContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Expectations._
    check(Tables.lineitem(spark, dir), "l_orderkey", Seq(
        NotNull("l_partkey"),
        ForeignKeyIn("l_partkey", Tables.part(spark, dir), "p_partkey"),
        ForeignKeyIn("l_suppkey", Tables.supplier(spark, dir), "s_suppkey"),
        InRange("l_quantity", 1, 49)))
      .orderBy($"rule")
  }

  private val q205Sql =
    """SELECT 'not_null:l_partkey' AS rule,
      |  COUNT(*) FILTER (l_partkey IS NULL) AS n_violations,
      |  CAST(MIN(l_orderkey) FILTER (l_partkey IS NULL) AS VARCHAR) AS sample_id
      |FROM lineitem
      |UNION ALL
      |SELECT 'in_range:l_quantity',
      |  COUNT(*) FILTER (NOT coalesce(l_quantity BETWEEN 1 AND 49, FALSE)),
      |  CAST(MIN(l_orderkey) FILTER (NOT coalesce(l_quantity BETWEEN 1 AND 49, FALSE)) AS VARCHAR)
      |FROM lineitem
      |UNION ALL
      |SELECT 'foreign_key:l_partkey',
      |  COUNT(*) FILTER (l_partkey IS NOT NULL
      |    AND l_partkey NOT IN (SELECT p_partkey FROM part)),
      |  CAST(MIN(l_orderkey) FILTER (l_partkey IS NOT NULL
      |    AND l_partkey NOT IN (SELECT p_partkey FROM part)) AS VARCHAR)
      |FROM lineitem
      |UNION ALL
      |SELECT 'foreign_key:l_suppkey',
      |  COUNT(*) FILTER (l_suppkey IS NOT NULL
      |    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
      |  CAST(MIN(l_orderkey) FILTER (l_suppkey IS NOT NULL
      |    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)) AS VARCHAR)
      |FROM lineitem
      |ORDER BY rule""".stripMargin

  /** Distribution-drift gate ([[graft.operators.Drift.binnedDrift]]):
    * order-value shape, pre-1998 baseline vs the 1998+ current window —
    * the aggregate-level monitoring companion to q103's row-level diff.
    * Exact integer bin counts; proportions, the chi-square-style
    * contribution, and the drift flag are pure rational IEEE chains
    * (divisions + comparisons, never a float sum, never a log), so
    * DuckDB replays every double bit for bit. */
  private def q192Drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val cut = lit("1998-01-01").cast("timestamp")
    graft.operators.Drift.binnedDrift(
        orders.filter($"o_orderdate" < cut),
        orders.filter($"o_orderdate" >= cut),
        "o_totalprice", nBins = 20, lo = 0.0, hi = 500000.0)
      .orderBy($"bin")
  }

  private val q192Sql = {
    val pb = "CAST(n_base AS DOUBLE)/tb"
    val pc = "CAST(n_cur AS DOUBLE)/tc"
    s"""WITH b AS (
       |  SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0)/25000.0) AS BIGINT), 0), 19) AS bin
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
       |c AS (
       |  SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0)/25000.0) AS BIGINT), 0), 19) AS bin
       |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
       |bc AS (SELECT bin, COUNT(*) AS n_base FROM b GROUP BY bin),
       |cc AS (SELECT bin, COUNT(*) AS n_cur FROM c GROUP BY bin),
       |bins AS (SELECT range AS bin FROM range(0, 20)),
       |j AS (
       |  SELECT bins.bin, COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
       |  FROM bins LEFT JOIN bc ON bins.bin = bc.bin LEFT JOIN cc ON bins.bin = cc.bin),
       |t AS (SELECT CAST(SUM(n_base) AS DOUBLE) AS tb, CAST(SUM(n_cur) AS DOUBLE) AS tc FROM j)
       |SELECT bin, 0.0 + bin*25000.0 AS lo_edge, 0.0 + (bin+1)*25000.0 AS hi_edge,
       |  n_base, n_cur,
       |  $pb AS p_base, $pc AS p_cur,
       |  ($pc - $pb)*($pc - $pb)/($pb + 1e-9) AS contrib,
       |  ($pc - $pb)*($pc - $pb)/($pb + 1e-9) > 0.01 AS drifted
       |FROM j CROSS JOIN t
       |ORDER BY bin""".stripMargin
  }

  /** Categorical drift gate ([[graft.operators.Drift.categoricalDrift]]):
    * language-mix comparison between the even- and odd-id halves of the
    * documents corpus, with maxCategories = 3 chosen BELOW the five
    * fixture languages so the deterministic head-set selection (top by
    * combined mass, ties by category) and the `__other` fold are both
    * under the hash. Same rational-arithmetic discipline as q192. */
  private def q197CatDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    graft.operators.Drift.categoricalDrift(
        docs.filter($"doc_id" % 2 === 0),
        docs.filter($"doc_id" % 2 === 1),
        "lang", maxCategories = 3)
      .orderBy($"category")
  }

  private val q197Sql = {
    val pb = "CASE WHEN tot_base = 0 THEN 0.0 ELSE CAST(n_base AS DOUBLE)/CAST(tot_base AS DOUBLE) END"
    val pc = "CASE WHEN tot_cur = 0 THEN 0.0 ELSE CAST(n_cur AS DOUBLE)/CAST(tot_cur AS DOUBLE) END"
    s"""WITH b AS (
       |  SELECT COALESCE(CAST(lang AS VARCHAR), '__null') AS category,
       |    COUNT(*) AS n_base
       |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
       |c AS (
       |  SELECT COALESCE(CAST(lang AS VARCHAR), '__null') AS category,
       |    COUNT(*) AS n_cur
       |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
       |comb AS (
       |  SELECT COALESCE(b.category, c.category) AS category,
       |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
       |  FROM b FULL OUTER JOIN c ON b.category = c.category),
       |head AS (
       |  SELECT category FROM comb
       |  ORDER BY (n_base + n_cur) DESC, category LIMIT 3),
       |folded AS (
       |  SELECT CASE WHEN category IN (SELECT category FROM head)
       |           THEN category ELSE '__other' END AS category,
       |    SUM(n_base) AS n_base, SUM(n_cur) AS n_cur
       |  FROM comb GROUP BY 1),
       |t AS (SELECT SUM(n_base) AS tot_base, SUM(n_cur) AS tot_cur FROM folded)
       |SELECT category, CAST(n_base AS BIGINT) AS n_base,
       |  CAST(n_cur AS BIGINT) AS n_cur,
       |  $pb AS p_base, $pc AS p_cur,
       |  ($pc - $pb)*($pc - $pb)/($pb + 1e-9) AS contrib,
       |  ($pc - $pb)*($pc - $pb)/($pb + 1e-9) > 0.01 AS drifted
       |FROM folded CROSS JOIN t
       |ORDER BY category""".stripMargin
  }

  /** Snapshot CDC diff: yesterday's documents dump vs a deterministic
    * "today" (drops every 10th doc, rewrites every 7th's lang, adds 20
    * fresh ids) classified into inserted/deleted/updated — one
    * full-outer join. Both engines derive the same synthetic second
    * snapshot, so the whole classification sits under the hash. */
  private def q103SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val oldSnap = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars")
    val newSnap = oldSnap
      .filter($"doc_id" % 10 =!= 0)
      .withColumn("lang",
        when($"doc_id" % 7 === 0, lit("xx")).otherwise($"lang"))
      .unionByName(oldSnap.filter($"doc_id" < 20)
        .withColumn("doc_id", $"doc_id" + 100000L))
    graft.operators.SnapshotDiff.diff(oldSnap, newSnap, "doc_id")
      .orderBy($"doc_id")
  }

  private val q103Sql =
    """WITH old AS (
      |  SELECT doc_id, lang, source, n_chars FROM documents),
      |new AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
      |    source, n_chars
      |  FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, lang, source, n_chars
      |  FROM documents WHERE doc_id < 20),
      |d AS (
      |  SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'inserted'
      |         WHEN n.doc_id IS NULL THEN 'deleted'
      |         WHEN o.lang IS DISTINCT FROM n.lang
      |           OR o.source IS DISTINCT FROM n.source
      |           OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'updated'
      |         ELSE 'unchanged' END AS change,
      |    coalesce(n.lang, o.lang) AS lang,
      |    coalesce(n.source, o.source) AS source,
      |    coalesce(n.n_chars, o.n_chars) AS n_chars
      |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
      |SELECT doc_id, change, lang, source, n_chars
      |FROM d WHERE change <> 'unchanged'
      |ORDER BY doc_id""".stripMargin

  /** MERGE INTO (q103's forward direction): a deterministic CDC changeset
    * — upsert every 5th doc's lang at seq 1, delete every 7th at seq 2,
    * insert fresh ids for every 11th at seq 1 — compacted (last op per
    * key) and applied to the documents snapshot in ONE outer join
    * (operators/MergeInto). Ids divisible by 35 take an update then a
    * delete, so the hash also pins the compaction ORDER. */
  private def q133MergeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars")
    val updates = base.filter($"doc_id" % 5 === 0)
      .select($"doc_id", lit("U").as("op"), lit(1L).as("seq"),
        lit("xx").as("lang"), $"source", $"n_chars")
    val deletes = base.filter($"doc_id" % 7 === 0)
      .select($"doc_id", lit("D").as("op"), lit(2L).as("seq"),
        lit(null).cast("string").as("lang"), lit(null).cast("string").as("source"),
        lit(null).cast("long").as("n_chars"))
    // fresh ids mirror into the negative range (-doc_id - 1): disjoint
    // from the non-negative base key space at ANY corpus size, and — unlike
    // a max(doc_id)-derived offset — a pure projection, so the changeset
    // build stays scan-only (no scalar-attach nested-loop join; PlanSpec
    // pins the whole q133 plan to exactly one join)
    val inserts = base.filter($"doc_id" % 11 === 0)
      .select((-$"doc_id" - 1L).as("doc_id"), lit("I").as("op"),
        lit(1L).as("seq"), lit("en").as("lang"), lit("cdc").as("source"),
        lit(42L).as("n_chars"))
    graft.operators.MergeInto.applyChanges(
        base, updates.unionByName(deletes).unionByName(inserts), "doc_id")
      .orderBy($"doc_id")
  }

  private val q133Sql =
    """WITH base AS (
      |  SELECT doc_id, lang, source, n_chars FROM documents),
      |ch AS (
      |  SELECT doc_id, 'U' AS op, 1 AS seq, 'xx' AS lang, source, n_chars
      |  FROM base WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, 'D', 2, NULL, NULL, NULL FROM base WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT -doc_id - 1, 'I', 1, 'en', 'cdc', 42
      |  FROM base WHERE doc_id % 11 = 0),
      |comp AS (
      |  SELECT * FROM (
      |    SELECT ch.*, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
      |    FROM ch) WHERE rn = 1),
      |m AS (
      |  SELECT coalesce(c.doc_id, b.doc_id) AS doc_id, c.op,
      |    CASE WHEN c.op IS NULL THEN b.lang ELSE c.lang END AS lang,
      |    CASE WHEN c.op IS NULL THEN b.source ELSE c.source END AS source,
      |    CASE WHEN c.op IS NULL THEN b.n_chars ELSE c.n_chars END AS n_chars
      |  FROM base b FULL OUTER JOIN comp c ON b.doc_id = c.doc_id)
      |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM m WHERE op IS NULL OR op <> 'D'
      |ORDER BY doc_id""".stripMargin

  /** Interval-OVERLAP join (q73's interval×interval sibling): per user,
    * click-anchored 2 h intervals against view-anchored 1 h intervals,
    * every intersecting pair with its exact overlap length in µs. The
    * engine bins both interval sets and emits each pair once via the
    * anchor-bin trick (no distinct pass); the oracle is the naive theta
    * join — equality proves both the candidate cover and the
    * single-emission property. */
  private def q134OverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val us = graft.operators.TimeSeriesOps.eventMicros($"ts")
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("l_user"), $"event_id".as("l_id"),
        us.as("ls"), (us + 7200000000L).as("le"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id".as("r_user"), $"event_id".as("r_id"),
        us.as("rs"), (us + 3600000000L).as("re"))
    graft.operators.IntervalJoin.overlapJoin(clicks, views,
        "l_user", "r_user", "ls", "le", "rs", "re", binWidth = 7200000000L)
      .select($"l_user".as("user_id"), $"l_id", $"r_id",
        (least($"le", $"re") - greatest($"ls", $"rs")).as("overlap_us"))
      .orderBy($"user_id", $"l_id", $"r_id")
  }

  private val q134Sql =
    """WITH l AS (
      |  SELECT user_id, event_id AS l_id, epoch_us(ts) AS ls,
      |    epoch_us(ts) + 7200000000 AS le
      |  FROM events WHERE event_type = 'click'),
      |r AS (
      |  SELECT user_id, event_id AS r_id, epoch_us(ts) AS rs,
      |    epoch_us(ts) + 3600000000 AS re
      |  FROM events WHERE event_type = 'view')
      |SELECT l.user_id AS user_id, l_id, r_id,
      |  least(le, re) - greatest(ls, rs) AS overlap_us
      |FROM l JOIN r ON l.user_id = r.user_id AND ls <= re AND rs <= le
      |ORDER BY l.user_id, l_id, r_id""".stripMargin

  /** 2D skyline (north star): the Pareto frontier of purchase events on
    * (value, k) — operators/Skyline's sort-scan rewrite (one aggregate +
    * one window over distinct-x rows) against the textbook NOT EXISTS
    * O(n²) oracle. Equality proves the rewrite drops exactly the
    * dominated rows, including all tie cases. */
  private def q135Skyline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .filter($"k".isNotNull)
      .select($"event_id", $"value", $"k")
    graft.operators.Skyline.frontier2D(pts, "value", "k")
      .orderBy($"event_id")
  }

  private val q135Sql =
    """WITH p AS (
      |  SELECT event_id, value,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS k
      |  FROM events
      |  WHERE event_type = 'purchase'
      |    AND json_extract_string(props, '$.k') IS NOT NULL)
      |SELECT event_id, value, k FROM p q
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p o
      |  WHERE o.value >= q.value AND o.k >= q.k
      |    AND (o.value > q.value OR o.k > q.k))
      |ORDER BY event_id""".stripMargin

  /** Key-skew diagnosis: exact Gini coefficient + concentration stats
    * over the per-user event-count distribution — the "is this join key
    * safe to shuffle on" report a 100 TB planner wants BEFORE picking a
    * partitioning. All moments are integer-exact; only the final ratios
    * are (identical-op) float divisions.
    *
    * Σ rank·n never ranks the keys: ranks by (n, user_id) give every
    * tied group of t keys sharing count value n the consecutive ranks
    * c+1..c+t (c = keys with smaller n), and the tie-blind identity
    * Σ i·nᵢ over the group = n·(t·c + t(t+1)/2) — the user_id
    * tiebreak order inside the group can't perturb a sum of equal
    * products. So the plan aggregates by the count VALUE first and runs
    * the one cumulative window over the distinct-value frame, bounded by
    * the value domain (≤ max_n ≪ n_keys; a per-key global row_number
    * would single-task-sort every key at scale). */
  private def q137SkewGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val byVal = counts.groupBy($"n").agg(count(lit(1)).as("t"))
    val wBelow = graft.operators.BoundedWindow.ordered($"n", $"n")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    byVal
      .withColumn("c", coalesce(sum($"t").over(wBelow), lit(0L)))
      .agg(
        sum($"t").as("n_keys"),
        sum($"n" * $"t").as("total"),
        max($"n").as("max_n"),
        // `div`, not `/`: Spark's Divide is DOUBLE division even on
        // integrals, and a float iwsum loses integer exactness past 2^53
        // (t·(t+1) is always even, so div is exact)
        sum($"n" * ($"t" * $"c" + expr("t * (t + 1) div 2"))).as("iwsum"))
      .select($"n_keys", $"total", $"max_n",
        (($"iwsum" * 2 - ($"n_keys" + 1) * $"total").cast("double") /
          ($"n_keys" * $"total").cast("double")).as("gini"),
        ($"max_n".cast("double") / $"total".cast("double")).as("top1_share"))
  }

  private val q137Sql =
    """WITH c AS (
      |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
      |r AS (
      |  SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM c),
      |m AS (
      |  SELECT COUNT(*) AS n_keys, SUM(n) AS total, MAX(n) AS max_n,
      |    SUM(i * n) AS iwsum
      |  FROM r)
      |SELECT n_keys, CAST(total AS BIGINT) AS total,
      |  CAST(max_n AS BIGINT) AS max_n,
      |  CAST(iwsum * 2 - (n_keys + 1) * total AS DOUBLE)
      |    / CAST(n_keys * total AS DOUBLE) AS gini,
      |  CAST(max_n AS DOUBLE) / CAST(total AS DOUBLE) AS top1_share
      |FROM m""".stripMargin

  /** A/B experiment readout with EXACT significance decisions (north
    * star): users split into arms by id parity, "conversion" = ≥ 15
    * events of the type; per metric the two-proportion z-test at α=0.05
    * is decided by pure integer cross-multiplication —
    * 625·N·(x0·n1 − x1·n0)² > 2401·X·(N−X)·n0·n1 is literally
    * (p̂0−p̂1)² > z²·p̂(1−p̂)(1/n0+1/n1) with z² = 1.96² = 2401/625 —
    * so the boolean can't drift between engines no matter how close the
    * boundary. DECIMAL(38,0)/HUGEINT keeps the products exact to ~10⁷
    * users per arm; beyond that, reduce counts by a common factor first.
    * Rates are identical-op float divisions beside the exact counts. */
  private def q138AbTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val ev = Tables.events(spark, dir)
    val ns = ev.select($"user_id").distinct()
      .agg(
        sum(when(pmod($"user_id", lit(2)) === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(pmod($"user_id", lit(2)) === 1, 1L).otherwise(0L)).as("n1"))
    val conv = ev.groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 15)
      .groupBy($"event_type")
      .agg(
        sum(when(pmod($"user_id", lit(2)) === 0, 1L).otherwise(0L)).as("x0"),
        sum(when(pmod($"user_id", lit(2)) === 1, 1L).otherwise(0L)).as("x1"))
    val d = $"x0".cast(dec) * $"n1".cast(dec) - $"x1".cast(dec) * $"n0".cast(dec)
    val bigN = ($"n0" + $"n1").cast(dec)
    val bigX = ($"x0" + $"x1").cast(dec)
    conv.join(broadcast(ns))
      .select($"event_type", $"n0", $"n1", $"x0", $"x1",
        ($"x0".cast("double") / $"n0".cast("double")).as("rate0"),
        ($"x1".cast("double") / $"n1".cast("double")).as("rate1"),
        (lit(625).cast(dec) * bigN * d * d >
          lit(2401).cast(dec) * bigX * (bigN - bigX) *
            $"n0".cast(dec) * $"n1".cast(dec)).as("significant"))
      .orderBy($"event_type")
  }

  private val q138Sql =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |ns AS (
      |  SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM u),
      |c AS (
      |  SELECT event_type, user_id FROM events
      |  GROUP BY event_type, user_id HAVING COUNT(*) >= 15),
      |x AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS x0,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x1
      |  FROM c GROUP BY event_type)
      |SELECT event_type, n0, n1, x0, x1,
      |  CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate0,
      |  CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate1,
      |  625 * CAST(n0 + n1 AS HUGEINT)
      |      * (CAST(x0 AS HUGEINT) * n1 - CAST(x1 AS HUGEINT) * n0)
      |      * (CAST(x0 AS HUGEINT) * n1 - CAST(x1 AS HUGEINT) * n0)
      |    > 2401 * CAST(x0 + x1 AS HUGEINT)
      |      * (CAST(n0 + n1 AS HUGEINT) - (x0 + x1))
      |      * CAST(n0 AS HUGEINT) * CAST(n1 AS HUGEINT) AS significant
      |FROM x, ns
      |ORDER BY event_type""".stripMargin

  /** Item-item collaborative similarity ("customers also bought"):
    * cosine over order-basket co-occurrence — c_ij / √(c_i·c_j) from
    * EXACT integer co-occurrence counts, support-pruned (c_ij ≥ 2, the
    * Apriori cut that keeps the pair space sparse), mirrored to both
    * directions and top-3-per-item by (similarity, neighbor). q116's
    * rules rank by confidence (directional); this is the normalized
    * symmetric form recommenders consume. The float cosine orders
    * identically in both engines because its inputs are identical
    * integers under identical ops; ties break on neighbor id. */
  private def q145ItemSim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val oi = Tables.lineitem(spark, dir)
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val cnt = oi.groupBy($"p").agg(count(lit(1)).as("c"))
    val pairs = oi.as("a").join(oi.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("i"), $"b.p".as("j"))
      .agg(count(lit(1)).as("cij"))
      .filter($"cij" >= 2)
    val sym = pairs.select($"i", $"j", $"cij")
      .unionByName(pairs.select($"j".as("i"), $"i".as("j"), $"cij"))
    val scored = sym
      .join(broadcast(cnt.select($"p".as("i"), $"c".as("ci"))), Seq("i"))
      .join(broadcast(cnt.select($"p".as("j"), $"c".as("cj"))), Seq("j"))
      .withColumn("sim",
        $"cij".cast("double") / sqrt($"ci".cast("double") * $"cj".cast("double")))
    val top = org.apache.spark.sql.expressions.Window
      .partitionBy($"i").orderBy($"sim".desc, $"j")
    scored.withColumn("r", row_number().over(top))
      .filter($"r" <= 3)
      .select($"i".as("part"), $"j".as("neighbor"), $"cij", $"sim", $"r".as("rank"))
      .orderBy($"part", $"rank")
  }

  private val q145Sql =
    """WITH oi AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |cnt AS (SELECT p, COUNT(*) AS c FROM oi GROUP BY p),
      |pairs AS (
      |  SELECT a.p AS i, b.p AS j, COUNT(*) AS cij
      |  FROM oi a JOIN oi b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS (
      |  SELECT i, j, cij FROM pairs
      |  UNION ALL
      |  SELECT j AS i, i AS j, cij FROM pairs),
      |scored AS (
      |  SELECT s.i, s.j, s.cij,
      |    CAST(s.cij AS DOUBLE) / sqrt(CAST(ci.c AS DOUBLE) * CAST(cj.c AS DOUBLE)) AS sim
      |  FROM sym s
      |  JOIN cnt ci ON ci.p = s.i
      |  JOIN cnt cj ON cj.p = s.j),
      |ranked AS (
      |  SELECT i, j, cij, sim,
      |    row_number() OVER (PARTITION BY i ORDER BY sim DESC, j) AS r
      |  FROM scored)
      |SELECT i AS part, j AS neighbor, cij, sim, r AS rank
      |FROM ranked WHERE r <= 3
      |ORDER BY part, rank""".stripMargin

  /** Count-Min contract (north star): the q72/q108 sketch-contract
    * pattern applied to CountMin — for the top-20 users by exact event
    * count, the oracle-recomputable exact counts ride beside two
    * booleans the DuckDB side asserts TRUE: the one-sided guarantee
    * (est ≥ exact, always) and the 2n/width error band (deterministic
    * here because the CM merge is elementwise addition — any estimate
    * drift flips a hashed value). The 20 (user, est) pairs compute
    * driver-side from the collected sketch — parameter-bounded. */
  private def q123CmContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val sk = graft.operators.CountMin.sketch(ev, "user_id", rows = 4, width = 1024)
    val band = 2L * sk.n / 1024
    val top = ev.groupBy($"user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"user_id").limit(20).collect()
    val out = top.map { r =>
      val est = sk.estimate(r.getLong(0).toString)
      (r.getLong(0), r.getLong(1),
        est >= r.getLong(1), est <= r.getLong(1) + band)
    }.toSeq
    spark.createDataFrame(out)
      .toDF("user_id", "exact_n", "overestimates", "within_band")
      .orderBy($"user_id")
  }

  private val q123Sql =
    """WITH t AS (
      |  SELECT user_id, COUNT(*) AS exact_n
      |  FROM events GROUP BY 1
      |  ORDER BY exact_n DESC, user_id LIMIT 20)
      |SELECT user_id, exact_n, TRUE AS overestimates, TRUE AS within_band
      |FROM t ORDER BY user_id""".stripMargin

  /** Market-basket association rules (north star): frequent co-purchase
    * part pairs (Apriori-pruned before the pair join) and the directed
    * confidence rules over them, every quantity an exact COUNT and the
    * confidence threshold decided by integer cross-multiplication
    * (operators/AssocRules). Oracle: the same counting stated
    * relationally — the prune is lossless by the Apriori bound, so the
    * unpruned-equivalent DuckDB formulation matches bit-for-bit. */
  private def q116AssocRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.AssocRules.rules(Tables.lineitem(spark, dir),
        "l_orderkey", "l_partkey", minPairCount = 3, minConfCenti = 10)
      .orderBy($"antecedent", $"consequent")
  }

  private val q116Sql =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      |ic AS (SELECT item, COUNT(*) AS n_item FROM b GROUP BY 1),
      |fi AS (SELECT item FROM ic WHERE n_item >= 3),
      |p AS (SELECT b.basket, b.item FROM b JOIN fi USING (item)),
      |pairs AS (
      |  SELECT a.item AS ia, c.item AS ib, COUNT(*) AS n_ab
      |  FROM p a JOIN p c ON a.basket = c.basket AND a.item < c.item
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |d AS (
      |  SELECT ia AS antecedent, ib AS consequent, n_ab FROM pairs
      |  UNION ALL
      |  SELECT ib, ia, n_ab FROM pairs)
      |SELECT d.antecedent, d.consequent, d.n_ab,
      |  x.n_item AS n_ant, y.n_item AS n_cons,
      |  (SELECT COUNT(*) FROM (SELECT DISTINCT basket FROM b)) AS n_baskets
      |FROM d
      |JOIN ic x ON x.item = d.antecedent
      |JOIN ic y ON y.item = d.consequent
      |WHERE 100 * d.n_ab >= 10 * x.n_item
      |ORDER BY antecedent, consequent""".stripMargin

  /** RFM customer segmentation (north star): recency/frequency/monetary
    * per customer, each dimension scored 1–5 by its exact quintile cuts —
    * the classic CRM rollup, composed from OrderStats.exactQuantiles
    * (q89's histogram plan: ONE quantile pass over the tall (dim, value)
    * frame, no per-dimension sort) with the 12 cut values — a
    * parameter-bounded driver collect, the TfIdf-vocab pattern — folded
    * into a narrow CASE ladder. Monetary is integer CENTS
    * (floor(price·100 + 0.5), IEEE-deterministic) so sums are exact;
    * scores compare doubles that are exact integer round-trips. */
  private def q117RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val cust = o.groupBy($"o_custkey")
      .agg(
        max(datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date")))
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
      .cache()
    val tall = cust.select(explode(array(
        struct(lit("r").as("dim"), $"recency_days".cast("double").as("v")),
        struct(lit("f").as("dim"), $"frequency".cast("double").as("v")),
        struct(lit("m").as("dim"), $"cents".cast("double").as("v")))).as("x"))
      .select($"x.dim".as("dim"), $"x.v".as("v"))
    val cuts = graft.operators.OrderStats
      .exactQuantiles(tall, "v", "dim", Seq(0.2, 0.4, 0.6, 0.8))
      .collect().map(r => r.getString(0) -> r.getDouble(3))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    def score(dim: String, v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      cuts(dim).foldLeft(lit(1)) { (acc, c) =>
        acc + when(v > lit(c), 1).otherwise(0) }
    cust.select($"o_custkey", $"recency_days", $"frequency", $"cents",
        score("r", $"recency_days".cast("double")).as("r_score"),
        score("f", $"frequency".cast("double")).as("f_score"),
        score("m", $"cents".cast("double")).as("m_score"))
      .withColumn("segment", $"r_score" * 100 + $"f_score" * 10 + $"m_score")
      .orderBy($"o_custkey")
  }

  private val q117Sql =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(MAX(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS INT) AS recency_days,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |tall AS (
      |  SELECT o_custkey, 'r' AS dim, CAST(recency_days AS DOUBLE) AS v FROM cust
      |  UNION ALL SELECT o_custkey, 'f', CAST(frequency AS DOUBLE) FROM cust
      |  UNION ALL SELECT o_custkey, 'm', CAST(cents AS DOUBLE) FROM cust),
      |r AS (
      |  SELECT dim, v, row_number() OVER (PARTITION BY dim ORDER BY v, o_custkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY dim) AS n
      |  FROM tall),
      |ps(p) AS (SELECT CAST(unnest([0.2, 0.4, 0.6, 0.8]) AS DOUBLE)),
      |t AS (
      |  SELECT dim, p, GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS r0
      |  FROM (SELECT DISTINCT dim, n FROM r) CROSS JOIN ps),
      |cuts AS (SELECT t.dim, r.v AS q FROM t JOIN r ON r.dim = t.dim AND r.rn = t.r0),
      |scored AS (
      |  SELECT c.o_custkey, c.recency_days, c.frequency, c.cents,
      |    1 + (SELECT COUNT(*) FROM cuts WHERE dim = 'r' AND CAST(c.recency_days AS DOUBLE) > q) AS r_score,
      |    1 + (SELECT COUNT(*) FROM cuts WHERE dim = 'f' AND CAST(c.frequency AS DOUBLE) > q) AS f_score,
      |    1 + (SELECT COUNT(*) FROM cuts WHERE dim = 'm' AND CAST(c.cents AS DOUBLE) > q) AS m_score
      |  FROM cust c)
      |SELECT o_custkey, recency_days, frequency, cents,
      |  CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
      |  CAST(m_score AS INT) AS m_score,
      |  CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment
      |FROM scored
      |ORDER BY o_custkey""".stripMargin

  /** Graph centrality (north star): 2 PageRank power iterations over
    * the undirected customer↔supplier co-purchase graph, in the
    * fixed-point integer arithmetic that makes the whole iteration
    * bit-identical across engines (operators/PageRank — the
    * domain-authority prior a web-corpus curation run computes).
    * Oracle: both iterations replayed relationally with DuckDB's `//`
    * floor division. */
  /** Triangle participation counts (north star): the degree-ordered
    * orientation algorithm (GraphOps.triangleCounts) over the part
    * co-occurrence graph — parts bought together in one order share an
    * edge; triangles are the tight co-purchase cliques a
    * recommendation/community pass keys on. The oracle enumerates the
    * SAME triangle set by the naive id-ordered triple self-join —
    * equality proves the orientation rewrite loses and invents nothing. */
  private def q114Triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
    val edges = l.as("a").join(l.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
        && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    graft.operators.GraphOps.triangleCounts(edges, "src", "dst")
      .orderBy($"node")
  }

  private val q114Sql =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM pairs e1
      |  JOIN pairs e2 ON e2.u = e1.v
      |  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT node, COUNT(*) AS triangles
      |FROM (SELECT a AS node FROM tri
      |      UNION ALL SELECT b FROM tri
      |      UNION ALL SELECT c FROM tri)
      |GROUP BY node
      |ORDER BY node""".stripMargin

  /** Global triangle total (north star): [[q114Triangles]]'s graph through
    * [[graft.operators.GraphOps.triangleCount]] — the count-only variant
    * that skips the per-corner explode and its node-keyed exchange when
    * only the scalar is wanted (the common "how clustered is this graph"
    * probe). The oracle replays the naive triple self-join and counts. */
  private def q170TriangleTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
    val edges = l.as("a").join(l.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
        && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    graft.operators.GraphOps.triangleCount(edges, "src", "dst")
  }

  private val q170Sql =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
      |SELECT COUNT(*) AS n_triangles
      |FROM pairs e1
      |JOIN pairs e2 ON e2.u = e1.v
      |JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin

  /** Degree-capped triangle total — [[q170TriangleTotal]]'s skew escape
    * hatch ([[graft.operators.GraphOps.triangleCountCapped]]): nodes
    * with degree > 40 are removed with their edges before the exact
    * count, turning the wedge stage's m^1.5 into O(m·cap) with a
    * one-sided deterministic bias (counts exactly the triangles whose
    * corners all have degree ≤ 40 — the documented lower bound). Unlike
    * sampling estimators this is replayable, so the oracle recomputes the
    * SAME truncated graph relationally and the count hash-matches;
    * q170 remains the uncapped exact companion. */
  private def q187TriangleCapped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
    val edges = l.as("a").join(l.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
        && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    graft.operators.GraphOps.triangleCountCapped(edges, "src", "dst", 40)
  }

  private val q187Sql =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, COUNT(*) AS d
      |  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
      |  GROUP BY node),
      |keep AS (SELECT node FROM deg WHERE d <= 40),
      |capped AS (
      |  SELECT u, v FROM pairs
      |  WHERE u IN (SELECT node FROM keep) AND v IN (SELECT node FROM keep))
      |SELECT COUNT(*) AS n_triangles
      |FROM capped e1
      |JOIN capped e2 ON e2.u = e1.v
      |JOIN capped e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin

  /** Bounded BFS hop distances (north star): frontier-at-a-time search
    * (GraphOps.bfsDistances) from the lowest customer node over the
    * undirected co-purchase graph, 4 hops — the "how far does influence
    * propagate" / neighborhood-expansion primitive. Oracle: a recursive
    * CTE with UNION (distinct) state dedup, MIN(d) per node — an
    * entirely different search formulation reaching the same frontier. */
  /** k-core of the customer↔supplier co-purchase graph
    * ([[graft.operators.GraphOps.kCore]], k = 40): the dense-commerce
    * core a curation pass keeps when drive-by participants should fall
    * away — peeling drops every node whose WITHIN-SET degree is < 40
    * and iterates to fixpoint. The oracle unrolls six peel rounds
    * relationally (the fixture graph converges in one; extra rounds are
    * identity in both engines — the spec exercises deep multi-round
    * peeling on crafted chains where the fixture cannot). */
  private def q194KCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
    val pairs = o.join(l, $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), ($"l_suppkey" + 1000000L).as("supp"))
    graft.operators.GraphOps.kCore(pairs, "cust", "supp", k = 40)
  }

  private val q194Sql = {
    def round(prev: String, out: String) =
      s"""$out AS (
         |  SELECT n.src AS node FROM und n
         |  JOIN $prev x ON n.src = x.node
         |  JOIN $prev y ON n.dst = y.node
         |  GROUP BY n.src HAVING COUNT(*) >= 40)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000 AS v
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |und AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v, u FROM e),
       |a0 AS (SELECT src AS node FROM und GROUP BY src HAVING COUNT(*) >= 40),
       |${round("a0", "a1")},
       |${round("a1", "a2")},
       |${round("a2", "a3")},
       |${round("a3", "a4")},
       |${round("a4", "a5")},
       |${round("a5", "a6")}
       |SELECT n.src AS node, COUNT(*) AS core_degree
       |FROM und n
       |JOIN a6 x ON n.src = x.node
       |JOIN a6 y ON n.dst = y.node
       |GROUP BY n.src
       |ORDER BY node""".stripMargin
  }

  /** Bounded weighted shortest paths (north star):
    * [[graft.operators.GraphOps.shortestPaths]] — Bellman–Ford rounds
    * over the customer↔supplier graph weighted by the pair's minimum
    * line-quantity units, 4 hops from the lowest customer. After k
    * rounds the distance frame is exactly the cheapest ≤ k-hop cost, so
    * the oracle unrolls four per-level min relaxations (no recursive
    * path enumeration — level-wise GROUP BY min keeps the replay
    * polynomial on the dense graph). */
  private def q203ShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val l = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey",
        ($"l_quantity".cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 10000)
          .cast("long").as("qu"))
    val pairs = o.join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey".as("cust"), ($"l_suppkey" + 1000000L).as("supp"))
      .agg(min($"qu").as("w"))
    val edges = pairs.select($"cust".as("src"), $"supp".as("dst"), $"w")
      .unionByName(pairs.select($"supp".as("src"), $"cust".as("dst"), $"w"))
    val sources = pairs.agg(min($"cust").as("node"))
    graft.operators.GraphOps.shortestPaths(
      edges, "src", "dst", "w", sources, maxHops = 4)
  }

  private val q203Sql = {
    def level(prev: String, out: String) =
      s"""$out AS (
         |  SELECT node, MIN(d) AS d FROM (
         |    SELECT node, d FROM $prev
         |    UNION ALL
         |    SELECT e.dst, $prev.d + e.w FROM $prev
         |    JOIN e ON e.src = $prev.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT o_custkey AS cust, l_suppkey + 1000000 AS supp,
       |    MIN(CAST(CAST(l_quantity AS DECIMAL(18,4))*10000 AS BIGINT)) AS w
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |e AS (SELECT cust AS src, supp AS dst, w FROM pairs
       |      UNION ALL SELECT supp, cust, w FROM pairs),
       |d0 AS (SELECT MIN(cust) AS node, CAST(0 AS BIGINT) AS d FROM pairs),
       |${level("d0", "d1")},
       |${level("d1", "d2")},
       |${level("d2", "d3")},
       |${level("d3", "d4")}
       |SELECT node, d AS dist FROM d4
       |ORDER BY node""".stripMargin
  }

  /** Deterministic label propagation (north star):
    * [[graft.operators.GraphOps.labelPropagation]] — customers seed
    * their nation key onto the co-purchase graph, 3 synchronous
    * majority rounds (self-vote, min-label ties) label every supplier
    * with its dominant customer nation. The oracle unrolls the three
    * rounds as count + window-argmax levels — the same votes, the same
    * tie-break, relationally. */
  private def q208LabelProp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
    val pairs = o.join(l, $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), ($"l_suppkey" + 1000000L).as("supp"))
    val seeds = Tables.customer(spark, dir)
      .select($"c_custkey".as("node"), $"c_nationkey".cast("long").as("label"))
    graft.operators.GraphOps.labelPropagation(
        pairs, "cust", "supp", seeds, rounds = 3)
      .filter($"node" >= 1000000L)
      .orderBy($"node")
  }

  private val q208Sql = {
    def round(prev: String, out: String) =
      s"""$out AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |                         ORDER BY cnt DESC, label ASC) AS rk
         |    FROM (
         |      SELECT node, label, COUNT(*) AS cnt FROM (
         |        SELECT und.dst AS node, $prev.label
         |        FROM und JOIN $prev ON und.src = $prev.node
         |        UNION ALL
         |        SELECT node, label FROM $prev)
         |      GROUP BY node, label))
         |  WHERE rk = 1)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000 AS v
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |und AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v, u FROM e),
       |l0 AS (SELECT c_custkey AS node, CAST(c_nationkey AS BIGINT) AS label
       |       FROM customer),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |SELECT node, label FROM l3 WHERE node >= 1000000
       |ORDER BY node""".stripMargin
  }

  private def q115BfsHops(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
    val pairs = o.join(l, $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), ($"l_suppkey" + 1000000L).as("supp"))
    val edges = pairs.select($"cust".as("src"), $"supp".as("dst"))
      .union(pairs.select($"supp".as("src"), $"cust".as("dst")))
    val sources = pairs.agg(min($"cust").as("node"))
    graft.operators.GraphOps.bfsDistances(edges, "src", "dst", sources, maxDepth = 4)
      .orderBy($"node")
  }

  private val q115Sql =
    """WITH RECURSIVE pairs AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + 1000000 AS supp
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |e AS (
      |  SELECT cust AS src, supp AS dst FROM pairs
      |  UNION
      |  SELECT supp, cust FROM pairs),
      |walk(node, d) AS (
      |  SELECT (SELECT MIN(cust) FROM pairs) AS node, 0 AS d
      |  UNION
      |  SELECT e.dst, w.d + 1
      |  FROM walk w JOIN e ON e.src = w.node
      |  WHERE w.d < 4)
      |SELECT node, CAST(MIN(d) AS INT) AS dist
      |FROM walk
      |GROUP BY node
      |ORDER BY node""".stripMargin

  private def q104PageRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val l = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey")
    val pairs = o.join(l, $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), ($"l_suppkey" + 1000000L).as("supp"))
    val edges = pairs.select($"cust".as("src"), $"supp".as("dst"))
      .union(pairs.select($"supp".as("src"), $"cust".as("dst")))
    graft.operators.PageRank.ranks(edges, "src", "dst", iters = 2)
      .orderBy($"node")
  }

  private val q104Sql =
    """WITH pairs AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + 1000000 AS supp
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |e AS (
      |  SELECT cust AS src, supp AS dst FROM pairs
      |  UNION
      |  SELECT supp, cust FROM pairs),
      |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
      |params AS (SELECT COUNT(*) AS n FROM nodes),
      |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      |r0 AS (
      |  SELECT node, 1000000000000 // n AS rank_units
      |  FROM nodes CROSS JOIN params),
      |i1 AS (
      |  SELECT e.dst, SUM(r0.rank_units // od.outdeg) AS in_sum
      |  FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * params.n)
      |      + (85 * coalesce(i1.in_sum, 0)) // 100 AS rank_units
      |  FROM nodes CROSS JOIN params LEFT JOIN i1 ON i1.dst = nodes.node),
      |i2 AS (
      |  SELECT e.dst, SUM(r1.rank_units // od.outdeg) AS in_sum
      |  FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT nodes.node,
      |    (15 * 1000000000000) // (100 * params.n)
      |      + (85 * coalesce(i2.in_sum, 0)) // 100 AS rank_units
      |  FROM nodes CROSS JOIN params LEFT JOIN i2 ON i2.dst = nodes.node)
      |SELECT node, CAST(rank_units AS BIGINT) AS rank_units
      |FROM r2 ORDER BY node""".stripMargin

  private def q46ExactStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("exact_users"),
        count(lit(1)).as("n_events"),
        dsum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  private val q46Sql =
    s"""SELECT event_type,
       |  COUNT(DISTINCT user_id) AS exact_users,
       |  COUNT(*) AS n_events,
       |  ${sqlDsum("value")} AS total_value
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Sliding windows (T9): 1-day windows sliding every 6 h — each event
    * lands in 4 overlapping windows. Oracle: lateral generate_series over
    * the window starts covering each event. */
  private def q41SlidingWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 day", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n", $"total_value")
      .orderBy($"window_start", $"event_type")
  }

  // Each event lies in exactly 4 sliding windows: starts at
  // floor(epoch/slide)*slide - i*slide for i in 0..3 (epoch-aligned, same
  // as Spark's window()). Static offsets because DuckDB 1.0's
  // generate_series cannot take lateral column parameters.
  private val q41Sql =
    s"""SELECT strftime(TIMESTAMP '1970-01-01' + to_seconds(
       |    CAST(floor(epoch(e.ts) / 21600) * 21600 - i.i * 21600 AS BIGINT)),
       |    '%Y-%m-%d %H:%M:%S') AS window_start,
       |  event_type,
       |  COUNT(*) AS n,
       |  ${sqlDsum("value")} AS total_value
       |FROM events e, (SELECT unnest([0, 1, 2, 3]) AS i) i
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  /** Collect-to-array aggregation (the grouped-gather F16/F17 surface),
    * emitted as a sorted joined string for cross-engine comparison. */
  private def q42CollectList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_custkey" < 100)
      .groupBy($"o_custkey")
      .agg(
        concat_ws(",", sort_array(collect_list($"o_orderkey"))).as("orderkeys"),
        count(lit(1)).as("n"))
      .orderBy($"o_custkey")
  }

  private val q42Sql =
    """SELECT o_custkey,
      |  array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
      |  COUNT(*) AS n
      |FROM orders
      |WHERE o_custkey < 100
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  override def queries: Seq[Q] = Seq(
    Q("q125_local_revenue", q125LocalRevenue, Some(q125Sql),
      "TPC-H Q5-shape 6-way join: local-supplier revenue per region x year (north star)"),
    Q("q124_cube", q124Cube, Some(q124Sql),
      "CUBE grouping lattice with grouping_id (rollup's sibling)"),
    Q("q123_cm_contract", q123CmContract, Some(q123Sql),
      "Count-Min one-sided + error-band contract booleans vs exact counts (north star)"),
    Q("q116_assoc_rules", q116AssocRules, Some(q116Sql),
      "Apriori-pruned co-purchase pairs + integer-exact confidence rules (north star)"),
    Q("q117_rfm_segments", q117RfmSegments, Some(q117Sql),
      "RFM quintile segmentation via the exact-quantile histogram plan (north star)"),
    Q("q114_triangles", q114Triangles, Some(q114Sql),
      "degree-ordered triangle counts over the co-purchase graph vs naive triple-join oracle (north star)"),
    Q("q170_triangle_total", q170TriangleTotal, Some(q170Sql),
      "count-only triangle variant: no per-corner explode, scalar agg off the wedge join (north star)"),
    Q("q187_triangle_capped", q187TriangleCapped, Some(q187Sql),
      "degree-capped triangle total: deterministic lower bound, O(m*cap) wedge stage (north star)"),
    Q("q115_bfs_hops", q115BfsHops, Some(q115Sql),
      "bounded BFS hop distances vs recursive-CTE oracle (north star)"),
    Q("q208_label_prop", q208LabelProp, Some(q208Sql),
      "deterministic label propagation: majority + self-vote + min-label ties vs unrolled oracle (north star)"),
    Q("q203_shortest_paths", q203ShortestPaths, Some(q203Sql),
      "bounded Bellman-Ford weighted distances vs level-unrolled min-relaxation oracle (north star)"),
    Q("q194_kcore", q194KCore, Some(q194Sql),
      "k-core peeling to fixpoint: dense-commerce core with within-core degrees (north star)"),
    Q("q42_collect_list", q42CollectList, Some(q42Sql), "grouped gather to sorted list (F16/F17)"),
    Q("q41_sliding_windows", q41SlidingWindows, Some(q41Sql),
      "sliding 1d/6h windows (T9) vs lateral-series oracle"),
    Q("q40_approx_stats", q40ApproxStats, None,
      "HLL distinct + approx percentile (rows-only sketch values; accuracy oracled via q72)"),
    Q("q72_sketch_bounds", q72SketchBounds, Some(q72Sql),
      "sketch accuracy contract as a relational verdict: HLL within 5%, p50 within rank bounds"),
    Q("q46_exact_stats", q46ExactStats, Some(q46Sql),
      "exact distinct counts + sums (the oracled half of q40)"),
    Q("q89_exact_quantiles", q89ExactQuantiles, Some(q89Sql),
      "exact per-key p50/p90/p99 via value-histogram plan, no per-key sort (north star)"),
    Q("q90_quantile_trim", q90QuantileTrim, Some(q90Sql),
      "per-language p90 length-outlier trim: exact-quantile cuts + broadcast filter (north star)"),
    Q("q95_zorder_key", q95ZOrderKey, Some(q95Sql),
      "Morton z-order key bit-interleave, re-derived bit-by-bit relationally"),
    Q("q96_scd2", q96Scd2, Some(q96Sql),
      "SCD2 versioning: change log to half-open validity intervals, no-ops merged"),
    Q("q97_profile", q97Profile, Some(q97Sql),
      "one-pass column profile: null/distinct/extremes per column (exact config)"),
    Q("q108_profile_contract", q108ProfileContract, Some(q108Sql),
      "HLL profile accuracy contract on events: exact profile + in-band boolean verdict"),
    Q("q98_funnel_analysis", q98Funnel, Some(q98Sql),
      "ordered view->click->purchase funnel: one shuffle + sorted fold vs per-stage join oracle"),
    Q("q99_retention", q99Retention, Some(q99Sql),
      "weekly cohort retention matrix"),
    Q("q100_incremental_agg", q100IncrementalAgg, Some(q100Sql),
      "mergeable aggregate state: disjoint halves merged == full recompute (north star)"),
    Q("q101_temporal_lookup", q101TemporalLookup, Some(q101Sql),
      "point-in-time SCD2 dimension lookup via equi-join + interval residual"),
    Q("q102_expectations", q102Expectations, Some(q102Sql),
      "declarative data-quality gate: 5 rules, one pass, deterministic samples"),
    Q("q192_drift_gate", q192Drift, Some(q192Sql),
      "binned distribution-drift gate: exact counts, rational chi-square contributions"),
    Q("q209_quantile_bins", q209QuantileBins, Some(q209Sql),
      "quantile binning: exact per-stratum cuts, tie-deterministic cut-count buckets"),
    Q("q207_binned_quantiles", q207BinnedQuantiles, Some(q207Sql),
      "mergeable-histogram quantiles: estimate, exact, and the one-bin error bound under the hash"),
    Q("q229_quantile_sketch", q229QuantileSketch, Some(q229Sql),
      "MRL quantile sketch at exact capacity: insert/promote/merge/finish under the window-rank oracle"),
    Q("q230_quantile_gate", q230QuantileGate, Some(q230Sql),
      "sparse MRL sketch self-audit: exact rank intervals vs the summary's own error bound, integer gates"),
    Q("q233_sketch_merge", q233SketchMerge, Some(q233Sql),
      "sketch store: disjoint halves sketched, one persisted+reloaded, merged == full recompute"),
    Q("q235_grouped_store", q235GroupedStore, Some(q229Sql),
      "grouped sketch store: per-stratum halves merged distributed == q229's full recompute"),
    Q("q206_quantile_shift", q206QuantileShift, Some(q206Sql),
      "per-stratum exact-quantile drift gate: p50/p90/p99 shifts between snapshots"),
    Q("q205_fk_contract", q205FkContract, Some(q205Sql),
      "referential contract: ForeignKeyIn anti-join rules beside row rules, one verdict frame"),
    Q("q197_cat_drift", q197CatDrift, Some(q197Sql),
      "categorical mix drift: deterministic head set + __other fold, rational contributions"),
    Q("q103_snapshot_diff", q103SnapshotDiff, Some(q103Sql),
      "snapshot CDC: full-dump diff to inserted/deleted/updated via one full-outer join"),
    Q("q104_pagerank", q104PageRank, Some(q104Sql),
      "fixed-point integer PageRank, both power iterations replayed relationally (north star)"),
    Q("q145_item_sim", q145ItemSim, Some(q145Sql),
      "item-item basket cosine top-3: exact co-occurrence counts, Apriori-pruned"),
    Q("q139_trade_volume", q139TradeVolume, Some(q139Sql),
      "TPC-H Q7-shape bilateral trade: dual-role nation dims, integer revenue units"),
    Q("q140_above_brand_avg", q140AboveBrandAvg, Some(q140Sql),
      "decorrelated subquery: above-brand-average parts via cross-multiplied threshold"),
    Q("q138_ab_test", q138AbTest, Some(q138Sql),
      "A/B readout: integer cross-multiplied z-test significance, exact booleans (north star)"),
    Q("q135_skyline", q135Skyline, Some(q135Sql),
      "2D Pareto frontier via sort-scan rewrite vs NOT-EXISTS oracle (north star)"),
    Q("q137_skew_gini", q137SkewGini, Some(q137Sql),
      "exact Gini + concentration skew report over the event key distribution"),
    Q("q133_merge_apply", q133MergeApply, Some(q133Sql),
      "MERGE INTO: compacted CDC changeset applied to a snapshot via one outer join"),
    Q("q134_overlap_join", q134OverlapJoin, Some(q134Sql),
      "interval-overlap join: binned equi-join with single-emission anchor vs theta oracle"),
    Q("q34_asof_join", q34AsOf, Some(q34Sql), "as-of join (union+window vs theta-join oracle)"),
    Q("q35_session_windows", q35Sessions, Some(q35Sql), "session windows vs gaps-and-islands oracle"),
    Q("q36_rollup", q36Rollup, Some(q36Sql), "rollup with grouping indicators"),
    Q("q37_pivot", q37Pivot, Some(q37Sql), "pivot per event type"),
    Q("q38_setops", q38SetOps, Some(q38Sql), "INTERSECT/EXCEPT cohorts"))
}
