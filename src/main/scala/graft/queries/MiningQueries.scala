package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.functions.TextFunctions.tokens
import graft.functions.UrlFunctions
import graft.operators.Scrub

/** Round-8 distribution-mining wave: Pareto/ABC mass classification,
  * Markov transition matrices, PMI collocations, robust MAD outliers, the
  * remaining classic TPC-H decision-support shapes (Q15 max-of-aggregate,
  * Q11 global-share HAVING, Q20 decorrelated dominance semi-join), and
  * URL canonicalization for web-corpus curation.
  *
  * House disciplines throughout: money/quantity arithmetic in integer
  * fixed-point units (exact and engine-portable), float quotients only as
  * single IEEE divisions of identically-derived integers, deterministic
  * total ORDER BY everywhere.
  */
object MiningQueries extends QueryModule {

  private val d4 = DecimalType(18, 4)
  private val dec38 = DecimalType(38, 0)

  /** l_extendedprice·(1−l_discount) as exact integer 1e-8-dollar units:
    * each factor rounds to 4 decimals (the d4 contract), scales to an
    * integer, and the per-row product stays well inside a long. */
  private def revenueUnits = {
    val epu = (col("l_extendedprice").cast(d4) * 10000).cast("long")
    val du = ((lit(1).cast(d4) - col("l_discount").cast(d4)) * 10000).cast("long")
    epu * du
  }

  private val revenueUnitsSql =
    """CAST(CAST(l_extendedprice AS DECIMAL(18,4))*10000 AS BIGINT)
      | * CAST((1 - CAST(l_discount AS DECIMAL(18,4)))*10000 AS BIGINT)""".stripMargin

  /** ABC/Pareto classification of parts by lifetime revenue — the
    * inventory-analysis staple ("A parts carry 80% of the mass"). The
    * exact global cumulative share comes from
    * [[graft.operators.OrderStats.paretoClass]]'s two-level prefix-sum
    * plan: cell-partitioned windows plus a bounded cells pass, never one
    * task sorting every part. The oracle runs the naive global running
    * sum — equality proves the decomposition exact. */
  private def q146AbcParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(sum(revenueUnits.cast(dec38)).cast("long").as("units"))
      .select($"l_partkey".as("p_partkey"), $"units")
    graft.operators.OrderStats.paretoClass(rev, "p_partkey", "units")
      .orderBy($"cum_units", $"p_partkey")
  }

  private val q146Sql =
    s"""WITH rev AS (
      |  SELECT l_partkey AS p_partkey,
      |    CAST(SUM($revenueUnitsSql) AS BIGINT) AS units
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT p_partkey, units,
      |    CAST(SUM(units) OVER (ORDER BY units DESC, p_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_units,
      |    SUM(units) OVER () AS total
      |  FROM rev)
      |SELECT p_partkey, units, cum_units,
      |  CASE WHEN (CAST(cum_units AS HUGEINT) - units)*100 < 80*total THEN 'A'
      |       WHEN (CAST(cum_units AS HUGEINT) - units)*100 < 95*total THEN 'B'
      |       ELSE 'C' END AS abc
      |FROM c ORDER BY cum_units, p_partkey""".stripMargin

  /** First-order Markov transition matrix over each user's event stream:
    * count and probability of event-type A being followed by B. One
    * window pass (the q33 lead shape) + one small-key aggregation; the
    * per-from-state totals frame is |event types| rows and broadcasts.
    * The probability is a single IEEE division of two exact counts —
    * deterministic across engines. */
  private def q147Transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val us = graft.operators.TimeSeriesOps.eventMicros($"ts")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val pairs = Tables.events(spark, dir)
      .withColumn("us", us)
      .select($"event_type".as("from_type"),
        lead($"event_type", 1).over(w).as("to_type"))
      .filter($"to_type".isNotNull)
    val counts = pairs.groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy($"from_type").agg(sum($"n").as("__tot"))
    counts.join(broadcast(totals), "from_type")
      .select($"from_type", $"to_type", $"n",
        ($"n".cast("double") / $"__tot".cast("double")).as("p"))
      .orderBy($"from_type", $"to_type")
  }

  private val q147Sql =
    """WITH s AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
      |  CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** PMI collocations: top-50 adjacent word bigrams by pointwise mutual
    * information. The PMI numerator/denominator stay exact integers
    * (c12·U², N·c1·c2 in DECIMAL(38,0)) and only the final ranking score
    * is a single division — both engines derive bit-identical doubles
    * from bit-identical integers. The bigram explode is row-local; the
    * only exchanges key on token strings (the q47 term-stats class). The
    * corpus totals U and N are 1-row aggregates of the ALREADY-aggregated
    * count frames — broadcast-attached, never a recompute of the corpus
    * pass. */
  private def q148PmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(tokens($"text").as("w"))
    val uni = docs.select(explode($"w").as("tk"))
      .groupBy($"tk").agg(count(lit(1)).as("cu"))
    val totalTokens = uni.agg(sum($"cu").cast(dec38).as("__u"))
    val bi = docs.filter(size($"w") >= 2)
      .select(explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i + 2) AS w2))")).as("b"))
      .select($"b.w1", $"b.w2")
    val cb = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val totalBigrams = cb.agg(sum($"c12").cast(dec38).as("__n"))
    val u1 = uni.select($"tk".as("w1"), $"cu".as("c1"))
    val u2 = uni.select($"tk".as("w2"), $"cu".as("c2"))
    cb.filter($"c12" >= 20)
      .join(u1, "w1").join(u2, "w2")
      .join(broadcast(totalTokens)).join(broadcast(totalBigrams))
      .select($"w1", $"w2", $"c12",
        (($"c12".cast(dec38) * $"__u" * $"__u").cast("double") /
          ($"__n" * $"c1" * $"c2").cast("double")).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(50)
  }

  private val q148Sql =
    """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      |u AS (SELECT unnest(w) AS tk FROM t),
      |uni AS (SELECT tk, COUNT(*) AS cu FROM u GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cu) AS HUGEINT) AS U FROM uni),
      |g AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
      |      FROM t WHERE len(w) >= 2),
      |b AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM g),
      |cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
      |nb AS (SELECT CAST(SUM(c12) AS HUGEINT) AS N FROM cb)
      |SELECT cb.w1, cb.w2, CAST(cb.c12 AS BIGINT) AS c12,
      |  CAST(CAST(CAST(cb.c12 AS HUGEINT) * tot.U * tot.U AS VARCHAR) AS DOUBLE) /
      |  CAST(CAST(nb.N * u1.cu * u2.cu AS VARCHAR) AS DOUBLE) AS pmi
      |FROM cb
      |CROSS JOIN tot CROSS JOIN nb
      |JOIN uni u1 ON u1.tk = cb.w1
      |JOIN uni u2 ON u2.tk = cb.w2
      |WHERE cb.c12 >= 20
      |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

  /** Robust per-user anomaly profile: median and MAD (median absolute
    * deviation) of the fixed-point value stream, plus the count of
    * |x − med| > 3·MAD outliers — the monitoring rule that survives the
    * skew that wrecks mean/σ z-scores. Both medians are EXACT via
    * [[graft.operators.OrderStats.exactQuantiles]]'s histogram plan (the
    * q89 rank contract: rank = ceil(0.5·n) in DOUBLE), and the outlier
    * decision is pure integer arithmetic. */
  private def q149MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", floor($"value" * 1000 + 0.5).cast("long").as("vu"))
    val med = graft.operators.OrderStats
      .exactQuantiles(ev.select($"user_id", $"vu".cast("double").as("v")),
        "v", "user_id", Seq(0.5))
      .select($"user_id", $"q".cast("long").as("med"))
    val dev = ev.join(med, "user_id").withColumn("ad", abs($"vu" - $"med"))
    val mad = graft.operators.OrderStats
      .exactQuantiles(dev.select($"user_id", $"ad".cast("double").as("v")),
        "v", "user_id", Seq(0.5))
      .select($"user_id", $"q".cast("long").as("mad"))
    dev.join(mad, "user_id")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        max($"med").as("med_units"),
        max($"mad").as("mad_units"),
        sum(when($"ad" > $"mad" * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy($"user_id")
  }

  private val q149Sql =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(value*1000 + 0.5) AS BIGINT) AS vu FROM events),
      |m AS (
      |  SELECT user_id, vu,
      |    row_number() OVER (PARTITION BY user_id ORDER BY vu) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM e),
      |med AS (
      |  SELECT user_id, vu AS med FROM m
      |  WHERE rn = GREATEST(1, CAST(CEIL(0.5 * CAST(n AS DOUBLE)) AS BIGINT))),
      |d AS (
      |  SELECT e.user_id, e.vu, med.med, ABS(e.vu - med.med) AS ad
      |  FROM e JOIN med USING (user_id)),
      |m2 AS (
      |  SELECT user_id, ad,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ad) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM d),
      |mad AS (
      |  SELECT user_id, ad AS mad FROM m2
      |  WHERE rn = GREATEST(1, CAST(CEIL(0.5 * CAST(n AS DOUBLE)) AS BIGINT)))
      |SELECT d.user_id, COUNT(*) AS n, MAX(d.med) AS med_units,
      |  MAX(mad.mad) AS mad_units,
      |  CAST(SUM(CASE WHEN d.ad > 3*mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN mad USING (user_id)
      |GROUP BY 1 ORDER BY user_id""".stripMargin

  /** TPC-H Q15 shape: the top supplier(s) by 1996-Q1 shipped revenue —
    * max-of-aggregate with ties kept. The max attaches back by an
    * EQUI-join on the revenue value (broadcast, 1 row), so no correlated
    * subquery and no second scan of lineitem; supplier is the broadcast
    * dim. */
  private def q150TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(revenueUnits.cast(dec38)).cast("long").as("revenue_units"))
    val best = rev.agg(max($"revenue_units").as("__best"))
    rev.join(broadcast(best), $"revenue_units" === $"__best")
      .join(broadcast(Tables.supplier(spark, dir)),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"revenue_units")
      .orderBy($"s_suppkey")
  }

  private val q150Sql =
    s"""WITH r AS (
      |  SELECT l_suppkey,
      |    CAST(SUM($revenueUnitsSql) AS BIGINT) AS revenue_units
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, r.revenue_units
      |FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.revenue_units = (SELECT MAX(revenue_units) FROM r)
      |ORDER BY s.s_suppkey""".stripMargin

  /** TPC-H Q11 shape: parts whose lifetime revenue exceeds 1.3× the
    * average part's share — the global-share HAVING, stated relative to
    * the part population so it discriminates at ANY scale factor (a
    * fixed 1/K share cut silently empties once part count outgrows K).
    * The global total and part count are ONE 1-row re-aggregate of the
    * per-part frame (never a second lineitem scan) and the cut is
    * cross-multiplied in DECIMAL(38,0) — no float share. */
  private def q151PartShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byPart = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(sum(revenueUnits.cast(dec38)).as("__u"))
    val total = byPart.agg(sum($"__u").as("__t"), count(lit(1)).as("__n"))
    byPart.join(broadcast(total))
      .filter($"__u" * $"__n" * 10 > $"__t" * 13)
      .select($"l_partkey".as("p_partkey"), $"__u".cast("long").as("value_units"))
      .orderBy($"value_units".desc, $"p_partkey")
  }

  private val q151Sql =
    s"""WITH r AS (
      |  SELECT l_partkey AS p_partkey, SUM($revenueUnitsSql) AS u
      |  FROM lineitem GROUP BY 1),
      |m AS (SELECT SUM(u) AS t, COUNT(*) AS n FROM r)
      |SELECT p_partkey, CAST(u AS BIGINT) AS value_units
      |FROM r, m
      |WHERE u * m.n * 10 > m.t * 13
      |ORDER BY value_units DESC, p_partkey""".stripMargin

  /** TPC-H Q20 shape: suppliers that dominate some part — shipped more
    * than 4× the average per-supplier quantity of a part sourced from at
    * least 5 suppliers. Both aggregates decorrelate into plain group-bys
    * over ONE lineitem pass each, the dominance cut is integer
    * cross-multiplied (sq·ns > 4·pq — no float share), and the supplier
    * names attach by LEFT SEMI join — the correlated-EXISTS surface as
    * three shuffles, no subquery re-execution per row. */
  private def q152DominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qu = ($"l_quantity".cast(d4) * 10000).cast("long")
    val li = Tables.lineitem(spark, dir)
    val sp = li.groupBy($"l_suppkey", $"l_partkey")
      .agg(sum(qu.cast(dec38)).as("__sq"))
    val pp = li.groupBy($"l_partkey")
      .agg(sum(qu.cast(dec38)).as("__pq"),
        countDistinct($"l_suppkey").as("__ns"))
      .select($"l_partkey".as("__p"), $"__pq", $"__ns")
    val dominant = sp.join(pp, $"l_partkey" === $"__p")
      .filter($"__ns" >= 5 && $"__sq" * $"__ns" > $"__pq" * 4)
      .select($"l_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(dominant, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name")
      .orderBy($"s_suppkey")
  }

  private val q152Sql =
    """WITH sp AS (
      |  SELECT l_suppkey, l_partkey,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,4))*10000 AS BIGINT)) AS sq
      |  FROM lineitem GROUP BY 1, 2),
      |pp AS (
      |  SELECT l_partkey,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,4))*10000 AS BIGINT)) AS pq,
      |    COUNT(DISTINCT l_suppkey) AS ns
      |  FROM lineitem GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name
      |FROM supplier s
      |WHERE s.s_suppkey IN (
      |  SELECT sp.l_suppkey FROM sp JOIN pp ON sp.l_partkey = pp.l_partkey
      |  WHERE pp.ns >= 5 AND sp.sq * pp.ns > pp.pq * 4)
      |ORDER BY s.s_suppkey""".stripMargin

  /** URL canonicalization rollup — the C4/CCNet "dedup by normalized URL"
    * curation step over a deterministically synthesized crawl frontier
    * (the q141 synthesis pattern: fixture-derived raw URLs with scheme /
    * case / www / trailing-slash / query / fragment noise). Everything is
    * codegen regex Columns ([[graft.functions.UrlFunctions]]); the only
    * exchange keys on the registered domain. The oracle replays the exact
    * normalization chain — every stripped variant lands under the hash. */
  private def q153UrlDomains(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.documents(spark, dir).select($"doc_id",
      concat(
        when($"doc_id" % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
        when($"doc_id" % 4 === 0, lit("WWW.")).otherwise(lit("")),
        lit("site"), ($"doc_id" % 7).cast("string"), lit(".Example."),
        when($"doc_id" % 3 === 0, lit("com"))
          .when($"doc_id" % 3 === 1, lit("ORG")).otherwise(lit("net")),
        lit("/p/"), ($"doc_id" % 100).cast("string"),
        when($"doc_id" % 6 === 0, lit("/")).otherwise(lit("")),
        when($"doc_id" % 3 === 0, lit("?utm_source=feed&ref=12")).otherwise(lit("")),
        when($"doc_id" % 5 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
    raw
      .withColumn("norm", UrlFunctions.normalizeUrl($"url"))
      .withColumn("host", UrlFunctions.urlHost($"norm"))
      .withColumn("domain", UrlFunctions.registeredDomain($"host"))
      .groupBy($"domain")
      .agg(count(lit(1)).as("n_pages"),
        countDistinct($"norm").as("n_urls"),
        countDistinct($"host").as("n_hosts"),
        min($"norm").as("sample_url"))
      .orderBy($"domain")
  }

  private val q153Sql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
      |    || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
      |    || 'site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.'
      |    || (CASE WHEN doc_id % 3 = 0 THEN 'com'
      |             WHEN doc_id % 3 = 1 THEN 'ORG' ELSE 'net' END)
      |    || '/p/' || CAST(doc_id % 100 AS VARCHAR)
      |    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=12' ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |n AS (
      |  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(lower(url), '#.*$', ''), '\?.*$', ''),
      |    '^[a-z][a-z0-9+.-]*://', ''), '^www\.', ''), '/$', '') AS norm
      |  FROM raw),
      |h AS (
      |  SELECT norm,
      |    regexp_replace(regexp_replace(
      |      regexp_extract(norm, '^([^/]*)', 1), ':[0-9]+$', ''),
      |      '\.+$', '') AS host
      |  FROM n),
      |d AS (
      |  SELECT norm, host,
      |    CASE WHEN contains(host, '.')
      |          AND length(regexp_extract(host, '([^.]+\.[^.]+)$', 1)) > 0
      |         THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
      |         ELSE host END AS domain
      |  FROM h)
      |SELECT domain, COUNT(*) AS n_pages,
      |  COUNT(DISTINCT norm) AS n_urls,
      |  COUNT(DISTINCT host) AS n_hosts,
      |  MIN(norm) AS sample_url
      |FROM d
      |GROUP BY domain
      |ORDER BY domain""".stripMargin

  /** Last-touch marketing attribution: every purchase picks up the most
    * recent at-or-before click by the same user via the as-of join (one
    * exchange + in-partition sort per side — [[graft.operators.AsOfJoin]]), then
    * buckets as 'click' when the touch landed within a 7-day window,
    * 'organic' otherwise. Value mass and touch-to-purchase lag both stay
    * exact integers (1e-3 value units / µs); nothing divides. The oracle
    * is the naive theta-join + top-1 formulation (the q34 pattern), so
    * the hash pins the as-of semantics inside a composition. */
  private def q154Attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val us = graft.operators.TimeSeriesOps.eventMicros($"ts")
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", us.as("us"),
        floor($"value" * 1000 + 0.5).cast("long").as("vu"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"),
        us.as("click_us"))
    val weekUs = 7L * 24 * 3600 * 1000000
    graft.operators.AsOfJoin.asOf(purchases, clicks,
        "user_id", "c_user", "us", "click_us", "click_id",
        Seq("click_id", "click_us"))
      .withColumn("bucket",
        when($"click_us".isNotNull && $"us" - $"click_us" <= weekUs, "click")
          .otherwise("organic"))
      .groupBy(date_format(timestamp_micros($"us"), "yyyy-MM").as("month"),
        $"bucket")
      .agg(count(lit(1)).as("n"),
        sum($"vu".cast(dec38)).cast("long").as("value_units"),
        sum(when($"bucket" === "click", $"us" - $"click_us").otherwise(0L)
          .cast(dec38)).cast("long").as("lag_us_sum"))
      .orderBy($"month", $"bucket")
  }

  private val q154Sql =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(floor(value*1000 + 0.5) AS BIGINT) AS vu
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.event_id, p.us, p.vu, c.click_us,
      |    row_number() OVER (PARTITION BY p.event_id
      |                       ORDER BY c.click_us DESC, c.click_id DESC) AS rn
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.click_us <= p.us),
      |a AS (
      |  SELECT strftime(make_timestamp(us), '%Y-%m') AS month,
      |    CASE WHEN click_us IS NOT NULL
      |              AND us - click_us <= 604800000000 THEN 'click'
      |         ELSE 'organic' END AS bucket,
      |    vu,
      |    CASE WHEN click_us IS NOT NULL
      |              AND us - click_us <= 604800000000 THEN us - click_us
      |         ELSE 0 END AS lag_us
      |  FROM j WHERE rn = 1)
      |SELECT month, bucket, COUNT(*) AS n,
      |  CAST(SUM(vu) AS BIGINT) AS value_units,
      |  CAST(SUM(lag_us) AS BIGINT) AS lag_us_sum
      |FROM a GROUP BY 1, 2
      |ORDER BY month, bucket""".stripMargin

  /** Conversion-latency percentiles: the funnel state machine
    * ([[graft.operators.Funnel.funnelTimes]]) feeds
    * [[graft.operators.OrderStats.exactQuantiles]] — exact p50/p90/p99
    * view→purchase latency for converted users, two scale-safe operators
    * composed. The oracle replays the per-stage min-join funnel chain
    * (q98's formulation) and the window-rank quantile (q89's rank
    * contract), so the whole composition sits under one hash. */
  private def q155ConversionLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ft = graft.operators.Funnel.funnelTimes(Tables.events(spark, dir),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    val lat = ft.filter($"t_3".isNotNull)
      .select(lit("all").as("scope"),
        (unix_micros($"t_3") - unix_micros($"t_1")).cast("double").as("lat_us"))
    graft.operators.OrderStats
      .exactQuantiles(lat, "lat_us", "scope", Seq(0.5, 0.9, 0.99))
      .orderBy($"p")
  }

  private val q155Sql =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 ON s1.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 ON s2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
      |l AS (
      |  SELECT epoch_us(s3.t3) - epoch_us(s1.t1) AS lat
      |  FROM s3 JOIN s1 USING (user_id)),
      |r AS (
      |  SELECT lat, row_number() OVER (ORDER BY lat) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM l)
      |SELECT 'all' AS scope, CAST(p AS DOUBLE) AS p, CAST(n AS BIGINT) AS n,
      |  CAST(lat AS DOUBLE) AS q
      |FROM r, (VALUES (0.5), (0.9), (0.99)) ps(p)
      |WHERE rn = GREATEST(1, CAST(CEIL(CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT))
      |ORDER BY p""".stripMargin

  /** Cross-source vocabulary overlap — the corpus-composition diagnostic
    * ("which sources speak the same language?"). Top-50 terms per source
    * under the (count DESC, term ASC) total order, then pairwise overlap
    * counts via one self-join on the term key; Jaccard uses each
    * source's ACTUAL top-set size (n/(na+nb−n)) so a source with fewer
    * than 50 distinct terms still reports the true set similarity — a
    * single division of exact integers either way. The window ranks the
    * per-(source, term) COUNT frame, already aggregated far below corpus
    * size. Zero-overlap pairs don't surface (inner join) — same
    * convention in the oracle. */
  private def q156SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"source").orderBy($"cnt".desc, $"term")
    val top = counts.withColumn("r", row_number().over(w))
      .filter($"r" <= 50).select($"source", $"term")
    val sizes = top.groupBy($"source").agg(count(lit(1)).as("sz"))
    top.as("a").join(top.as("b"),
        $"a.term" === $"b.term" && $"a.source" < $"b.source")
      .select($"a.source".as("source_a"), $"b.source".as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select($"source".as("source_a"), $"sz".as("__sa"))),
        "source_a")
      .join(broadcast(sizes.select($"source".as("source_b"), $"sz".as("__sb"))),
        "source_b")
      .select($"source_a", $"source_b", $"n_common",
        ($"n_common".cast("double") /
          ($"__sa" + $"__sb" - $"n_common").cast("double")).as("jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  private val q156Sql =
    """WITH c AS (
      |  SELECT source, w AS term, COUNT(*) AS cnt
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT source, term FROM (
      |    SELECT source, term,
      |      row_number() OVER (PARTITION BY source
      |                         ORDER BY cnt DESC, term) AS r
      |    FROM c) WHERE r <= 50),
      |sz AS (SELECT source, COUNT(*) AS sz FROM top GROUP BY 1),
      |o AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      |  FROM top a JOIN top b ON a.term = b.term AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT o.source_a, o.source_b, o.n_common,
      |  CAST(o.n_common AS DOUBLE)
      |    / CAST(sa.sz + sb.sz - o.n_common AS DOUBLE) AS jaccard
      |FROM o
      |JOIN sz sa ON sa.source = o.source_a
      |JOIN sz sb ON sb.source = o.source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** TPC-H Q4 shape: orders placed in 1996H1 with at least one lineitem
    * shipped more than 90 days after the order date, counted per
    * priority. The EXISTS decorrelates into one LEFT SEMI join whose
    * residual compares the two date columns — no per-order subquery, one
    * shuffle pair on the order key. */
  private def q157LateOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_shipdate")
    orders.join(li,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAY"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late"))
      .orderBy($"o_orderpriority")
  }

  private val q157Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_late
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q10 shape: top-20 customers by revenue from returned
    * lineitems. The fact-fact join shuffles on the order key once, the
    * customer dim attaches by broadcast, and the global top-20 plans as
    * TakeOrderedAndProject — never a full sort. Revenue in the exact
    * integer units shared with q146. */
  private def q158ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val returned = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey", revenueUnits.as("__ru"))
    returned
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"__ru".cast(dec38)).cast("long").as("revenue_units"))
      .join(broadcast(Tables.customer(spark, dir)
          .select($"c_custkey", $"c_name", $"c_mktsegment")),
        $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"c_mktsegment", $"revenue_units")
      .orderBy($"revenue_units".desc, $"c_custkey")
      .limit(20)
  }

  private val q158Sql =
    s"""WITH r AS (
      |  SELECT o.o_custkey,
      |    CAST(SUM($revenueUnitsSql) AS BIGINT) AS revenue_units
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  WHERE l.l_returnflag = 'R'
      |  GROUP BY 1)
      |SELECT c.c_custkey, c.c_name, c.c_mktsegment, r.revenue_units
      |FROM r JOIN customer c ON c.c_custkey = r.o_custkey
      |ORDER BY revenue_units DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Label-affinity matrix: pairwise cosine similarity between per-label
    * embedding centroids. The mean vectors never materialize — for
    * centroids a = S_a/n_a the n factors cancel out of the cosine, so the
    * whole computation runs on EXACT per-dim component sums in 1e-8
    * units (q31's decimal cast): T_ab = Σ_d S_a·S_b and N_a = Σ_d S_a²
    * stay DECIMAL(38,0)/HUGEINT integers, and the final score is the
    * single identical-op float expression T/√(N_a·N_b). The pair join
    * runs over the |labels|×dims sum frame — corpus-size-independent. */
  private def q159LabelAffinity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sums = Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"dim")
      .agg((sum($"x".cast("double").cast(DecimalType(18, 8))) * 100000000L)
        .cast(dec38).as("s"))
    val norms = sums.groupBy($"label").agg(sum($"s" * $"s").as("nn"))
    val pairs = sums.as("a").join(sums.as("b"),
        $"a.dim" === $"b.dim" && $"a.label" < $"b.label")
      .select($"a.label".as("label_a"), $"b.label".as("label_b"),
        ($"a.s" * $"b.s").as("p"))
      .groupBy($"label_a", $"label_b").agg(sum($"p").as("t"))
    pairs
      .join(broadcast(norms.select($"label".as("label_a"), $"nn".as("__na"))),
        "label_a")
      .join(broadcast(norms.select($"label".as("label_b"), $"nn".as("__nb"))),
        "label_b")
      .select($"label_a", $"label_b",
        ($"t".cast("double") /
          sqrt($"__na".cast("double") * $"__nb".cast("double"))).as("cos_sim"))
      .orderBy($"label_a", $"label_b")
  }

  private val q159Sql =
    """WITH s AS (
      |  SELECT label, dim, CAST(SUM(CAST(x AS DECIMAL(18,8))) * 100000000 AS HUGEINT) AS s
      |  FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
      |               CAST(unnest(embedding) AS DOUBLE) AS x
      |        FROM embeddings)
      |  GROUP BY 1, 2),
      |n AS (SELECT label, SUM(s*s) AS nn FROM s GROUP BY 1),
      |p AS (
      |  SELECT a.label AS label_a, b.label AS label_b, SUM(a.s*b.s) AS t
      |  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT p.label_a, p.label_b,
      |  CAST(CAST(p.t AS VARCHAR) AS DOUBLE) /
      |    sqrt(CAST(CAST(na.nn AS VARCHAR) AS DOUBLE)
      |       * CAST(CAST(nb.nn AS VARCHAR) AS DOUBLE)) AS cos_sim
      |FROM p
      |JOIN n na ON na.label = p.label_a
      |JOIN n nb ON nb.label = p.label_b
      |ORDER BY label_a, label_b""".stripMargin

  /** TPC-H Q22 shape: customers richer than the positive-balance average
    * with no orders SINCE 2000 (every fixture customer has some order, so
    * the lapse window is what makes the anti-join discriminate), rolled
    * up per nation. The global mean never divides — the cut is
    * abu·n_pos > total (broadcast 1-row aggregate) — and the lapse test
    * is one LEFT ANTI join against the date-filtered order keys (the
    * filter pushes to the orders scan). */
  private def q160IdleRich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .withColumn("abu", ($"c_acctbal".cast(d4) * 10000).cast("long"))
    val pos = cust.filter($"abu" > 0)
      .agg(sum($"abu".cast(dec38)).as("__tot"), count(lit(1)).as("__npos"))
    cust.join(broadcast(pos))
      .filter($"abu".cast(dec38) * $"__npos" > $"__tot")
      .join(Tables.orders(spark, dir)
          .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
          .select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum($"abu".cast(dec38)).cast("long").as("acctbal_units"))
      .orderBy($"c_nationkey")
  }

  private val q160Sql =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,4))*10000 AS BIGINT) AS abu
      |  FROM customer),
      |m AS (
      |  SELECT CAST(SUM(abu) AS HUGEINT) AS tot, COUNT(*) AS npos
      |  FROM c WHERE abu > 0)
      |SELECT c.c_nationkey, COUNT(*) AS n_customers,
      |  CAST(SUM(c.abu) AS BIGINT) AS acctbal_units
      |FROM c, m
      |WHERE CAST(c.abu AS HUGEINT) * m.npos > m.tot
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1
      |ORDER BY c_nationkey""".stripMargin

  /** Per-document keyword extraction: top-3 tf-idf terms per doc over the
    * q48 vocabulary (top-200 by df, smooth idf). Ranking keys on the
    * ROUNDED weight + idx — the already-hash-pinned q48 quantities — so
    * order is deterministic in both engines; the window partitions by
    * doc over the ≤|vocab| weighted rows per doc. */
  private def q161DocKeywords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val vocab = graft.operators.TfIdf.fitVocab(docs, "doc_id", "text", 200)
    val weighted = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .join(broadcast(vocab.select($"term", $"idx", $"idf")), "term")
      .select($"doc_id", $"term", $"idx",
        round($"tf" * $"idf", 6).as("w"))
    val wnd = Window.partitionBy($"doc_id").orderBy($"w".desc, $"idx")
    weighted.withColumn("rank", row_number().over(wnd))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"idx", $"term", $"w")
      .orderBy($"doc_id", $"rank")
  }

  private val q161Sql =
    """WITH tokens AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
      |vocab AS (
      |  SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) - 1 AS idx,
      |    ln(((SELECT COUNT(*) FROM documents) + 1.0) / (df + 1.0)) + 1.0 AS idf
      |  FROM df ORDER BY df DESC, term ASC LIMIT 200),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
      |w AS (
      |  SELECT t.doc_id, t.term, CAST(v.idx AS INT) AS idx,
      |    round(t.tf * v.idf, 6) AS w
      |  FROM tf t JOIN vocab v USING (term)),
      |r AS (
      |  SELECT doc_id, term, idx, w,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, idx) AS rank
      |  FROM w)
      |SELECT doc_id, CAST(rank AS INT) AS rank, idx, term, w
      |FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** TPC-H Q21 shape: the lone late supplier — for multi-supplier orders
    * where EXACTLY ONE supplier shipped >90 days after the order date,
    * count such orders per supplier, top 10. The double-EXISTS
    * formulation collapses into ONE per-order aggregate (distinct
    * suppliers, distinct late suppliers, and the max-of-when trick to
    * recover the unique late supplier) — a single shuffle on the order
    * key instead of two correlated probes per lineitem. */
  private def q162LoneLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAY")).as("late"))
    li.groupBy($"l_orderkey")
      .agg(countDistinct($"l_suppkey").as("__ns"),
        countDistinct(when($"late", $"l_suppkey")).as("__nls"),
        max(when($"late", $"l_suppkey")).as("__lone"))
      .filter($"__ns" >= 2 && $"__nls" === 1)
      .groupBy($"__lone")
      .agg(count(lit(1)).as("n_orders"))
      .join(broadcast(Tables.supplier(spark, dir)
          .select($"s_suppkey", $"s_name")),
        $"__lone" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_orders")
      .orderBy($"n_orders".desc, $"s_suppkey")
      .limit(10)
  }

  private val q162Sql =
    """WITH l1 AS (
      |  SELECT l.l_orderkey, l.l_suppkey,
      |    l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l1),
      |late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l1 WHERE late),
      |multi AS (SELECT l_orderkey FROM su GROUP BY 1 HAVING COUNT(*) >= 2),
      |lone AS (
      |  SELECT a.l_orderkey, a.l_suppkey
      |  FROM late a JOIN multi USING (l_orderkey)
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM late b
      |    WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey))
      |SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_orders
      |FROM lone JOIN supplier s ON s.s_suppkey = lone.l_suppkey
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, s_suppkey
      |LIMIT 10""".stripMargin

  /** PII audit over a deterministically synthesized corpus (the q141/q153
    * synthesis pattern: planted emails, IPv4s, and payment-card numbers —
    * half Luhn-valid, half checksum-broken). Per source: match counts per
    * detector plus the Luhn-validated card count — the audit a curation
    * run uses to size its scrubbing pass and to separate real card leaks
    * from arbitrary long digit runs ([[graft.operators.Scrub.luhnValid]];
    * the checksum is an integer HOF fold, replayed in the oracle as a
    * list transform). Everything row-local until the per-source
    * aggregation. */
  private def q163PiiAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Tables.documents(spark, dir).select($"doc_id", $"source",
      concat(
        lit("ref "), ($"doc_id" % 1000).cast("string"), lit(" "),
        when($"doc_id" % 3 === 0,
          concat(lit("user"), ($"doc_id" % 100).cast("string"),
            lit("@mail"), ($"doc_id" % 7).cast("string"), lit(".example.com ")))
          .otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit("10.0."), ($"doc_id" % 256).cast("string"), lit("."),
            ($"doc_id" % 100).cast("string"), lit(" ")))
          .otherwise(lit("")),
        // %8==0 plants a VALID and a checksum-broken card in ONE doc —
        // the multi-candidate case where validating only the first
        // extract would undercount
        when($"doc_id" % 8 === 0,
          lit("card 4539148803436467 then 4539148803436468 "))
          .when($"doc_id" % 8 === 4, lit("card 4539148803436468 "))
          .otherwise(lit("")),
        lit("end")).as("text"))
    val cardPat = "[0-9]{13,19}"
    planted
      .groupBy($"source")
      .agg(
        sum(regexp_count($"text", lit(Scrub.email.pattern))).as("n_emails"),
        sum(regexp_count($"text", lit(Scrub.ipv4.pattern))).as("n_ips"),
        sum(regexp_count($"text", lit(cardPat))).as("n_card_candidates"),
        // every candidate runs the checksum, not just the first extract
        sum(size(filter(regexp_extract_all($"text", lit(cardPat), lit(0)),
          c => Scrub.luhnValid(c))).cast("long")).as("n_cards_luhn"),
        sum(Scrub.redactionCount($"text")).as("n_redactions"))
      .orderBy($"source")
  }

  private val q163Sql = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    s"""WITH planted AS (
      |  SELECT doc_id, source,
      |    'ref ' || CAST(doc_id % 1000 AS VARCHAR) || ' '
      |    || (CASE WHEN doc_id % 3 = 0
      |             THEN 'user' || CAST(doc_id % 100 AS VARCHAR)
      |                  || '@mail' || CAST(doc_id % 7 AS VARCHAR)
      |                  || '.example.com '
      |             ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0
      |             THEN '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
      |                  || CAST(doc_id % 100 AS VARCHAR) || ' '
      |             ELSE '' END)
      |    || (CASE WHEN doc_id % 8 = 0
      |             THEN 'card 4539148803436467 then 4539148803436468 '
      |             WHEN doc_id % 8 = 4 THEN 'card 4539148803436468 '
      |             ELSE '' END)
      |    || 'end' AS text
      |  FROM documents),
      |x AS (
      |  SELECT source, text,
      |    len(regexp_extract_all(text, '$email')) AS ne,
      |    len(regexp_extract_all(text, '$ipv4')) AS ni,
      |    len(regexp_extract_all(text, '[0-9]{13,19}')) AS nc
      |  FROM planted),
      |l AS (
      |  SELECT source, ne, ni, nc, text,
      |    len(list_filter(regexp_extract_all(text, '[0-9]{13,19}'),
      |      card -> length(card) >= 13 AND
      |        (list_sum(list_transform(generate_series(1, length(card)),
      |          i -> CASE WHEN i % 2 = 0
      |               THEN CASE WHEN CAST(card[-i] AS INT)*2 > 9
      |                    THEN CAST(card[-i] AS INT)*2 - 9
      |                    ELSE CAST(card[-i] AS INT)*2 END
      |               ELSE CAST(card[-i] AS INT) END)) % 10) = 0)) AS luhn_ok,
      |    len(regexp_extract_all(text, '$email'))
      |      + len(regexp_extract_all(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$ipv4'))
      |      + len(regexp_extract_all(
      |          regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
      |                         '$ipv4', '<IP>', 'g'), '[0-9]+')) AS nred
      |  FROM x)
      |SELECT source,
      |  CAST(SUM(ne) AS BIGINT) AS n_emails,
      |  CAST(SUM(ni) AS BIGINT) AS n_ips,
      |  CAST(SUM(nc) AS BIGINT) AS n_card_candidates,
      |  CAST(SUM(luhn_ok) AS BIGINT) AS n_cards_luhn,
      |  CAST(SUM(nred) AS BIGINT) AS n_redactions
      |FROM l
      |GROUP BY source
      |ORDER BY source""".stripMargin
  }

  /** Session path analysis: 30-minute-gap sessionization (the q35
    * gaps-and-islands machinery) → each session's first three event
    * types as a path string → the top-20 most common paths. The path
    * assembles from a deterministic (ts, event_id) sort inside ONE
    * per-session aggregate; the top-20 is TakeOrdered over the tiny path
    * frame. */
  private def q164SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000
    val us = graft.operators.TimeSeriesOps.eventMicros($"ts")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wc = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("us", us)
      .withColumn("new_s",
        when(lag($"us", 1).over(w).isNull ||
          $"us" - lag($"us", 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_s").over(wc))
      .groupBy($"user_id", $"sid")
      .agg(array_join(
        slice(transform(
          array_sort(collect_list(struct($"us", $"event_id", $"event_type"))),
          x => x.getField("event_type")), 1, 3), ">").as("path"))
      .groupBy($"path")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  private val q164Sql =
    """WITH s AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS ns
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |s2 AS (
      |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s),
      |p AS (
      |  SELECT user_id, sid,
      |    array_to_string(list_slice(
      |      list(event_type ORDER BY us, event_id), 1, 3), '>') AS path
      |  FROM s2 GROUP BY user_id, sid)
      |SELECT path, COUNT(*) AS n
      |FROM p GROUP BY path
      |ORDER BY n DESC, path
      |LIMIT 20""".stripMargin

  /** Incremental distinct maintenance contract (the q72/q108 sketch
    * pattern): three disjoint event deltas build per-type HLL sketch
    * states ([[graft.operators.IncrementalDistinct]] — bounded mergeable
    * state, the shape COUNT(DISTINCT) can't provide), and BOTH the
    * merged-state estimate and the single-pass estimate must sit inside
    * the documented HLL error band of the exact count the oracle
    * recomputes. The band — not register equality — is the honest
    * mergeability contract: a union that lost keys or double-counted
    * under batching would leave the band, while DataSketches legitimately
    * varies a percent between the HIP estimator (sequential build) and
    * the composite estimator (union path). */
  private def q165IncrementalDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", $"user_id", $"event_id")
    val deltas = (0 to 2).map(i => ev.filter($"event_id" % 3 === i))
    val merged = graft.operators.IncrementalDistinct.merge(
      deltas.map(d => graft.operators.IncrementalDistinct
        .state(d, Seq("event_type"), "user_id")))
    val full = graft.operators.IncrementalDistinct
      .state(ev, Seq("event_type"), "user_id")
    val estM = graft.operators.IncrementalDistinct.estimate(merged)
      .withColumnRenamed("n_distinct_est", "__em")
    val estF = graft.operators.IncrementalDistinct.estimate(full)
      .withColumnRenamed("n_distinct_est", "__ef")
    def inBand(est: org.apache.spark.sql.Column) =
      abs(est - $"n_exact") <= greatest(lit(1L), ($"n_exact" * 0.05).cast("long"))
    ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
      .join(broadcast(estM), "event_type")
      .join(broadcast(estF), "event_type")
      .select($"event_type", $"n_exact",
        inBand($"__em").as("merged_in_band"),
        inBand($"__ef").as("full_in_band"))
      .orderBy($"event_type")
  }

  private val q165Sql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
      |  TRUE AS merged_in_band, TRUE AS full_in_band
      |FROM events GROUP BY 1
      |ORDER BY event_type""".stripMargin

  /** Spatial proximity join over a deterministic point cloud (md5-derived
    * coordinates on a 300k×300k integer grid — the RNG-free q43/q75 hash
    * pattern; a multiplicative id scramble was tried first and produced a
    * LATTICE whose minimum pair distance exceeded the radius at small
    * scale factors): all pairs within radius 5000 via
    * [[graft.operators.SpatialJoin.proximityPairs]]'s grid-blocked plan —
    * 3×3 cell-neighborhood equi-join, exact integer dx²+dy² predicate,
    * single-emission by the anchor-cell argument. The oracle is the naive
    * quadratic theta join (hex parsed digit-wise — DuckDB has no conv) —
    * equality proves the 9-cell cover AND the no-duplicate emission. */
  /** The shared md5 point cloud: one point per document on the 300k
    * square. */
  private def hashPoints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def coord(prefix: String, name: String) =
      (conv(substring(md5(concat(lit(prefix), $"doc_id".cast("string"))), 1, 6),
        16, 10).cast("long") % 300000L).as(name)
    Tables.documents(spark, dir)
      .select($"doc_id".as("id"), coord("px:", "x"), coord("py:", "y"))
  }

  /** Digit-wise hex→int parse for oracle CTEs (DuckDB has no conv). */
  private def hex2int(h: String) = (1 to 6).map(i =>
    s"(strpos('0123456789abcdef', $h[$i]) - 1) * ${math.pow(16, 6 - i).toLong}")
    .mkString(" + ")

  /** The oracle's replay of [[hashPoints]] as a CTE body. */
  private val hashPointsCte = {
    s"""p AS (
      |  SELECT doc_id AS id,
      |    (${hex2int("substr(md5('px:' || CAST(doc_id AS VARCHAR)), 1, 6)")}) % 300000 AS x,
      |    (${hex2int("substr(md5('py:' || CAST(doc_id AS VARCHAR)), 1, 6)")}) % 300000 AS y
      |  FROM documents)""".stripMargin
  }

  private def q166SpatialPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.SpatialJoin.proximityPairs(
        hashPoints(spark, dir), "id", "x", "y", 5000L)
      .orderBy($"id_a", $"id_b")
  }

  private val q166Sql =
    s"""WITH $hashPointsCte
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
      |FROM p a JOIN p b ON a.id < b.id
      |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25000000
      |ORDER BY id_a, id_b""".stripMargin

  /** Spatial clustering — DBSCAN's density-connectivity core as a
    * composition: the q166 proximity graph feeds
    * [[graft.operators.Components.connectedComponents]] (star
    * contraction), and each cluster reports its min-id label, size, and
    * bounding box. Isolated points (no neighbor within the radius) are
    * not clusters — same convention in the oracle's recursive-CTE
    * closure, which replays the quadratic pair set; equality pins the
    * blocked pair stage AND the contraction under one hash. */
  private def q167SpatialClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = hashPoints(spark, dir).cache()
    val pairs = graft.operators.SpatialJoin.proximityPairs(
      pts, "id", "x", "y", 5000L)
    val comp = graft.operators.Components.connectedComponents(
      pairs.select($"id_a", $"id_b"), "id_a", "id_b")
    comp.join(pts, $"node" === $"id")
      .groupBy($"component".as("cluster_id"))
      .agg(count(lit(1)).as("n_points"),
        min($"x").as("x_min"), max($"x").as("x_max"),
        min($"y").as("y_min"), max($"y").as("y_max"))
      .orderBy($"cluster_id")
  }

  private val q167Sql =
    s"""WITH RECURSIVE $hashPointsCte,
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM p a JOIN p b ON a.id < b.id
      |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25000000),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(n, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.n),
      |comp AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n)
      |SELECT c.component AS cluster_id, COUNT(*) AS n_points,
      |  MIN(p.x) AS x_min, MAX(p.x) AS x_max,
      |  MIN(p.y) AS y_min, MAX(p.y) AS y_max
      |FROM comp c JOIN p ON p.id = c.node
      |GROUP BY 1
      |ORDER BY cluster_id""".stripMargin

  /** Geographic proximity join — [[q166SpatialPairs]]'s verdict re-issued
    * over REAL-WORLD-shaped input: deterministic md5-derived lat/lon in a
    * 0.2°×0.2° box around (37.5°, 127.1°), projected to local integer
    * meters by [[graft.operators.SpatialJoin.latLonToLocalMeters]]
    * (equirectangular, both scale factors plan-time Double constants),
    * then radius-250 m pairs through the same grid-blocked plan. The
    * oracle replays the synthesis, the projection (from the two embedded
    * double literals — one IEEE multiply + round per coordinate) and the
    * quadratic pair set, so the projection helper sits under the hash
    * check end to end, not just the integer-unit join. */
  private def q169GeoPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def milli(prefix: String, name: String) =
      (conv(substring(md5(concat(lit(prefix), $"doc_id".cast("string"))), 1, 6),
        16, 10).cast("long") % 200000L).as(name)
    val geo = Tables.documents(spark, dir)
      .select($"doc_id".as("id"), milli("lat:", "klat"), milli("lon:", "klon"))
      .select($"id",
        (lit(37.4) + $"klat" * lit(1e-6)).as("lat"),
        (lit(127.0) + $"klon" * lit(1e-6)).as("lon"))
    val (x, y) = graft.operators.SpatialJoin.latLonToLocalMeters(
      $"lat", $"lon", refLatDeg = 37.5)
    val pts = geo.select($"id", x.as("x"), y.as("y"))
    graft.operators.SpatialJoin.proximityPairs(pts, "id", "x", "y", 250L)
      .orderBy($"id_a", $"id_b")
  }

  private val q169Sql = {
    // exact same plan-time constants the helper embeds; VARCHAR-routed so
    // DuckDB parses a correctly-rounded DOUBLE, not a DECIMAL literal
    val mLat = s"CAST('${graft.operators.SpatialJoin.metersPerDegLat}' AS DOUBLE)"
    val mLon = s"CAST('${graft.operators.SpatialJoin.metersPerDegLon(37.5)}' AS DOUBLE)"
    s"""WITH g AS (
      |  SELECT doc_id AS id,
      |    CAST(37.4 AS DOUBLE) + ((${hex2int("substr(md5('lat:' || CAST(doc_id AS VARCHAR)), 1, 6)")}) % 200000) * 1e-6 AS lat,
      |    CAST(127.0 AS DOUBLE) + ((${hex2int("substr(md5('lon:' || CAST(doc_id AS VARCHAR)), 1, 6)")}) % 200000) * 1e-6 AS lon
      |  FROM documents),
      |p AS (
      |  SELECT id, CAST(round(lon * $mLon) AS BIGINT) AS x,
      |         CAST(round(lat * $mLat) AS BIGINT) AS y
      |  FROM g)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
      |FROM p a JOIN p b ON a.id < b.id
      |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 62500
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // TPC-H shape wave 2 (q171-q180): the classic decision-support plans
  // the round-8 wave didn't cover — Q3/Q6/Q8/Q9/Q12/Q13/Q14/Q17/Q18/Q19
  // shapes, each adapted to the fixture's columns (no partsupp table, no
  // l_shipmode/commit/receipt dates) while keeping the plan shape that
  // makes the original interesting. All money/quantity arithmetic is in
  // the exact integer units of q146 so both engines agree bit-for-bit.
  // ------------------------------------------------------------------

  /** l_quantity as exact integer 1e-4 units. */
  private def qtyUnits = (col("l_quantity").cast(d4) * 10000).cast("long")
  private val qtyUnitsSql = "CAST(CAST(l_quantity AS DECIMAL(18,4))*10000 AS BIGINT)"
  /** l_extendedprice as exact integer 1e-4 dollars. */
  private def priceUnits = (col("l_extendedprice").cast(d4) * 10000).cast("long")
  private val priceUnitsSql = "CAST(CAST(l_extendedprice AS DECIMAL(18,4))*10000 AS BIGINT)"
  /** l_discount as exact integer 1e-4 units (integer-compare filters). */
  private def discUnits = (col("l_discount").cast(d4) * 10000).cast("long")
  private val discUnitsSql = "CAST(CAST(l_discount AS DECIMAL(18,4))*10000 AS BIGINT)"

  /** TPC-H Q3 shape (shipping priority): top-10 not-yet-shipped orders of
    * one market segment by open revenue. Customer dim broadcasts, the one
    * shuffle pair is the fact-fact order-key join, and the global top-10
    * is TakeOrderedAndProject (revenue DESC, order key ASC tiebreak —
    * total order, never a full sort). */
  private def q171ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1998-07-01").cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" < cutoff)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" > cutoff)
      .select($"l_orderkey", revenueUnits.as("__ru"))
    ord.join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(sum($"__ru".cast(dec38)).cast("long").as("revenue_units"))
      .orderBy($"revenue_units".desc, $"o_orderkey")
      .limit(10)
  }

  private val q171Sql =
    s"""SELECT o_orderkey, o_orderdate,
      |  CAST(SUM($revenueUnitsSql) AS BIGINT) AS revenue_units
      |FROM orders
      |JOIN customer ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-07-01'
      |  AND l_shipdate  > TIMESTAMP '1998-07-01'
      |GROUP BY 1, 2
      |ORDER BY revenue_units DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q6 shape (forecast revenue delta): one pure scan-aggregate —
    * every predicate (date range, discount band, quantity cap) pushes to
    * the parquet scan, and the discount band compares INTEGER units, not
    * raw doubles, so the boundary rows are engine-independent. */
  private def q172ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        discUnits.between(500L, 700L) && qtyUnits < 240000L)
      .agg(count(lit(1)).as("n_lines"),
        sum((priceUnits * discUnits).cast(dec38)).cast("long").as("discount_units"))
  }

  private val q172Sql =
    s"""SELECT COUNT(*) AS n_lines,
      |  CAST(SUM($priceUnitsSql * $discUnitsSql) AS BIGINT) AS discount_units
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |  AND $discUnitsSql BETWEEN 500 AND 700
      |  AND $qtyUnitsSql < 240000""".stripMargin

  /** TPC-H Q8 shape (national market share): within the ASIA-region
    * ECONOMY-part market, per order year, the revenue carried by
    * suppliers of one nation vs the whole market. Every dim hop
    * (customer-nation-region, part, supplier-nation) broadcasts; the only
    * shuffles are the two fact joins. The share itself ships as its exact
    * integer numerator/denominator — a quotient would round. */
  private def q173MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nation = Tables.nation(spark, dir)
    val custAsia = Tables.customer(spark, dir)
      .join(broadcast(nation.filter($"n_regionkey" === 2)),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(custAsia), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", year($"o_orderdate").cast("long").as("o_year"))
    val econParts = Tables.part(spark, dir)
      .filter($"p_type" === "ECONOMY").select($"p_partkey")
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(nation.select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(econParts), $"l_partkey" === $"p_partkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_year")
      .agg(
        sum(when($"supp_nation" === "NATION_7", revenueUnits).otherwise(0L)
          .cast(dec38)).cast("long").as("nation_units"),
        sum(revenueUnits.cast(dec38)).cast("long").as("total_units"))
      .orderBy($"o_year")
  }

  private val q173Sql =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CASE WHEN ns.n_name = 'NATION_7'
      |                THEN $revenueUnitsSql ELSE 0 END) AS BIGINT) AS nation_units,
      |  CAST(SUM($revenueUnitsSql) AS BIGINT) AS total_units
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY'
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ns ON ns.n_nationkey = s_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation nc ON nc.n_nationkey = c_nationkey AND nc.n_regionkey = 2
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY 1
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q9 shape (product-line profit by nation and year), adapted to
    * the fixture: no partsupp, so cost is retail-price × quantity. Profit
    * stays exact: revenue and cost in the same 1e-8-dollar integer units,
    * subtracted before the aggregate. Part and supplier-nation broadcast;
    * the order-date year arrives through the one fact-fact shuffle. */
  private def q174ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stdParts = Tables.part(spark, dir)
      .filter($"p_type" === "STANDARD")
      .select($"p_partkey",
        ($"p_retailprice".cast(d4) * 10000).cast("long").as("__cpu"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("nation"))
    val ordYear = Tables.orders(spark, dir)
      .select($"o_orderkey", year($"o_orderdate").cast("long").as("o_year"))
    Tables.lineitem(spark, dir)
      .join(broadcast(stdParts), $"l_partkey" === $"p_partkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .join(ordYear, $"l_orderkey" === $"o_orderkey")
      .groupBy($"nation", $"o_year")
      .agg(sum((revenueUnits - $"__cpu" * qtyUnits).cast(dec38))
        .cast("long").as("profit_units"))
      .orderBy($"nation", $"o_year")
  }

  private val q174Sql =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM($revenueUnitsSql
      |    - CAST(CAST(p_retailprice AS DECIMAL(18,4))*10000 AS BIGINT)
      |      * $qtyUnitsSql) AS BIGINT) AS profit_units
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY 1, 2
      |ORDER BY nation, o_year""".stripMargin

  /** TPC-H Q12 shape (late-shipment pivot), adapted: the fixture has no
    * ship mode or commit/receipt dates, so the pivot keys on order
    * priority and "late" means shipped more than 60 days after the order
    * date. CASE-sum pivot over one fact-fact equi-join with the date
    * residual riding the join — the q157 discipline. */
  private def q175LatePivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_shipdate")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        sum(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAY"), 1L)
          .otherwise(0L)).as("n_late"),
        sum(when($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAY"), 0L)
          .otherwise(1L)).as("n_ontime"))
      .orderBy($"o_orderpriority")
  }

  private val q175Sql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |           THEN 0 ELSE 1 END) AS BIGINT) AS n_ontime
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY 1
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    * customer→qualifying orders so zero-order customers keep their bucket,
    * then the two-level aggregate (per-customer count → distribution).
    * The filter (pending orders excluded) sits in the JOIN CONDITION, not
    * a WHERE — the Q13 trap: a WHERE would silently turn the outer join
    * inner and drop the zero bucket. */
  private def q176OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderstatus" =!= "P")
      .select($"o_custkey")
    val perCust = Tables.customer(spark, dir).select($"c_custkey")
      .join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_custkey").as("n_orders"))
    perCust.groupBy($"n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"n_customers".desc, $"n_orders".desc)
  }

  private val q176Sql =
    """WITH per_cust AS (
      |  SELECT c_custkey, COUNT(o_custkey) AS n_orders
      |  FROM customer LEFT JOIN orders
      |    ON o_custkey = c_custkey AND o_orderstatus <> 'P'
      |  GROUP BY 1)
      |SELECT n_orders, COUNT(*) AS n_customers
      |FROM per_cust
      |GROUP BY 1
      |ORDER BY n_customers DESC, n_orders DESC""".stripMargin

  /** TPC-H Q14 shape (promo revenue share) per ship month of 1997: PROMO
    * parts' revenue vs total. Part dim broadcasts; the share ships as its
    * exact integer numerator/denominator pair. */
  private def q177PromoShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val partType = Tables.part(spark, dir).select($"p_partkey", $"p_type")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(partType), $"l_partkey" === $"p_partkey")
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      .agg(
        sum(when($"p_type" === "PROMO", revenueUnits).otherwise(0L)
          .cast(dec38)).cast("long").as("promo_units"),
        sum(revenueUnits.cast(dec38)).cast("long").as("total_units"))
      .orderBy($"ship_month")
  }

  private val q177Sql =
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |                THEN $revenueUnitsSql ELSE 0 END) AS BIGINT) AS promo_units,
      |  CAST(SUM($revenueUnitsSql) AS BIGINT) AS total_units
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY 1
      |ORDER BY ship_month""".stripMargin

  /** TPC-H Q17 shape (small-quantity revenue): lineitems whose quantity
    * sits under 20% of their part's average quantity. The correlated
    * scalar subquery decorrelates into ONE per-part aggregate joined back
    * to the fact, and the 0.2·avg cut is the cross-multiplied integer
    * compare 5·qty·n < Σqty — no division ever happens, so no rounding
    * boundary exists. */
  private def q178SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", qtyUnits.as("__qu"), priceUnits.as("__pu"))
    val stats = li.groupBy($"l_partkey".as("__pk"))
      .agg(count(lit(1)).as("__n"), sum($"__qu".cast(dec38)).cast("long").as("__sq"))
    li.join(stats, $"l_partkey" === $"__pk")
      .filter($"__qu" * 5L * $"__n" < $"__sq")
      .agg(count(lit(1)).as("n_small"),
        sum($"__pu".cast(dec38)).cast("long").as("revenue_units"))
  }

  private val q178Sql =
    s"""WITH stats AS (
      |  SELECT l_partkey AS pk, COUNT(*) AS n,
      |    CAST(SUM($qtyUnitsSql) AS BIGINT) AS sq
      |  FROM lineitem GROUP BY 1)
      |SELECT COUNT(*) AS n_small,
      |  CAST(SUM($priceUnitsSql) AS BIGINT) AS revenue_units
      |FROM lineitem JOIN stats ON pk = l_partkey
      |WHERE $qtyUnitsSql * 5 * n < sq""".stripMargin

  /** TPC-H Q18 shape (large-volume orders): orders whose total quantity
    * exceeds 300 — the HAVING sits on the per-order aggregate BEFORE any
    * dim attaches (the survivors are few, so the customer join touches
    * almost nothing), and the final listing is TakeOrdered on (quantity
    * DESC, order key ASC). */
  private def q179BigOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum(qtyUnits.cast(dec38)).cast("long").as("qty_units"))
      .filter($"qty_units" > 3000000L)
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_name")
    big.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"o_orderkey", $"o_orderdate", $"qty_units")
      .orderBy($"qty_units".desc, $"o_orderkey")
      .limit(100)
  }

  private val q179Sql =
    s"""WITH big AS (
      |  SELECT l_orderkey, CAST(SUM($qtyUnitsSql) AS BIGINT) AS qty_units
      |  FROM lineitem GROUP BY 1
      |  HAVING CAST(SUM($qtyUnitsSql) AS BIGINT) > 3000000)
      |SELECT c_name, o_orderkey, o_orderdate, qty_units
      |FROM big
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY qty_units DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q19 shape (disjunctive predicate revenue): three brand/size/
    * quantity disjuncts over the part⨝lineitem join. The equi key
    * (partkey) is common to every disjunct, so the OR rides the hash join
    * as a residual — the plan never degenerates to a nested loop (the
    * classic Q19 optimizer test). Quantity bounds compare integer units. */
  private def q180DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_brand", $"p_size")
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", qtyUnits.as("__qu"), revenueUnits.as("__ru"))
    val qualifies =
      ($"p_brand" === "Brand#1" && $"p_size".between(1, 10) &&
        $"__qu".between(10000L, 110000L)) ||
      ($"p_brand" === "Brand#7" && $"p_size".between(1, 15) &&
        $"__qu".between(100000L, 200000L)) ||
      ($"p_brand" === "Brand#20" && $"p_size".between(1, 25) &&
        $"__qu".between(200000L, 300000L))
    li.join(broadcast(p), $"l_partkey" === $"p_partkey" && qualifies)
      .agg(count(lit(1)).as("n_lines"),
        sum($"__ru".cast(dec38)).cast("long").as("revenue_units"))
  }

  private val q180Sql =
    s"""SELECT COUNT(*) AS n_lines,
      |  CAST(SUM($revenueUnitsSql) AS BIGINT) AS revenue_units
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
      |       AND $qtyUnitsSql BETWEEN 10000 AND 110000)
      |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 15
      |       AND $qtyUnitsSql BETWEEN 100000 AND 200000)
      |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25
      |       AND $qtyUnitsSql BETWEEN 200000 AND 300000)""".stripMargin

  /** Window-function catalogue over one partitioned sort: rank,
    * dense_rank, ntile, percent_rank, cume_dist, lag/lead deltas — the
    * analytics surface a SQL user expects, all sharing ONE window
    * (single exchange + sort per key). percent_rank/cume_dist are
    * quotients of exact integers ((rank−1)/(n−1), peers/n) — IEEE
    * division of exact ints is correctly rounded in any engine, so the
    * doubles hash-match without decimal routing. Total order inside each
    * customer: (o_orderdate, o_orderkey). */
  private def q181WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val tpu = ($"o_totalprice".cast(d4) * 10000).cast("long")
    Tables.orders(spark, dir)
      .filter($"o_custkey" < 50)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", tpu.as("price_units"))
      .select($"o_custkey", $"o_orderkey",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ($"price_units" - lag($"price_units", 1, 0L).over(w)).as("delta_prev"),
        coalesce(lead($"o_orderkey", 1).over(w), lit(-1L)).as("next_order"))
      .orderBy($"o_custkey", $"rnk", $"o_orderkey")
  }

  private val q181Sql =
    """SELECT o_custkey, o_orderkey,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,4))*10000 AS BIGINT)
      |    - lag(CAST(CAST(o_totalprice AS DECIMAL(18,4))*10000 AS BIGINT), 1, 0)
      |      OVER w AS delta_prev,
      |  COALESCE(lead(o_orderkey, 1) OVER w, -1) AS next_order
      |FROM orders
      |WHERE o_custkey < 50
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** The engine's SQL surface end to end: the query text itself runs
    * through `spark.sql` against a temp view, using the REGISTERED graft
    * kernels (luhn_valid, hamming64 — [[graft.plans.GraftExtensions]],
    * which every graft session is built with), not the DataFrame API. Pins that a SQL-only user of the library gets
    * the same codegen kernels and the same answers the Column API gives —
    * the q168 fingerprint synthesis reused so DuckDB can replay both
    * functions relationally (Luhn as the q163 list_transform fold,
    * hamming as bit_count∘xor). */
  private def q182SqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("docs_sql_surface")
    spark.sql(
      """SELECT doc_id,
        |  luhn_valid(CAST(4000000000000000 + doc_id % 1000 AS STRING)) AS luhn_ok,
        |  hamming64(doc_id * 2654435761, (doc_id + 1) * 2654435761) AS fp_dist
        |FROM docs_sql_surface
        |WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin)
  }

  private val q182Sql = {
    // DuckDB Luhn replay: negative string indexing walks digits from the
    // right; doubled digits fold via the >9 ? −9 branch (the q163 oracle)
    val luhn =
      """(length(d) >= 13 AND list_sum(list_transform(range(1, length(d) + 1),
        |  i -> CASE WHEN i % 2 = 0
        |       THEN CASE WHEN CAST(d[-i] AS INT) * 2 > 9
        |            THEN CAST(d[-i] AS INT) * 2 - 9
        |            ELSE CAST(d[-i] AS INT) * 2 END
        |       ELSE CAST(d[-i] AS INT) END)) % 10 = 0)""".stripMargin
    s"""WITH c AS (
      |  SELECT doc_id,
      |    CAST(4000000000000000 + doc_id % 1000 AS VARCHAR) AS d
      |  FROM documents WHERE doc_id < 200)
      |SELECT doc_id,
      |  $luhn AS luhn_ok,
      |  CAST(bit_count(xor(doc_id * 2654435761, (doc_id + 1) * 2654435761)) AS INT) AS fp_dist
      |FROM c
      |ORDER BY doc_id""".stripMargin
  }

  /** Window FRAME-clause catalogue — the companion to q181's function
    * catalogue: running totals (`rows unbounded preceding`), a trailing
    * 3-row moving sum/avg (`rows between 2 preceding and current row`),
    * the peers-inclusive `range unbounded preceding` running total, a
    * trailing-30-day `range` frame over epoch-microsecond order (q12's
    * rolling machinery surfaced as plain SQL frames), and
    * first/last/nth_value with explicit frames. Two window specs share
    * ONE user_id exchange; the moving average is a single IEEE division
    * of exact integers (never summed — the q85 quotient trap). */
  private def q183WindowFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wRows = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val run = wRows.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trail3 = wRows.rowsBetween(-2, 0)
    val tail = wRows.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val full = wRows.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRange = Window.partitionBy($"o_custkey").orderBy($"us")
    val peers = wRange.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val trail30d = wRange.rangeBetween(-30L * 86400L * 1000000L, 0L)
    Tables.orders(spark, dir)
      .filter($"o_custkey" < 50)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        graft.operators.TimeSeriesOps.eventMicros($"o_orderdate").as("us"),
        ($"o_totalprice".cast(d4) * 10000).cast("long").as("pu"))
      .select($"o_custkey", $"o_orderkey",
        sum($"pu").over(run).as("run_units"),
        sum($"pu").over(trail3).as("trail3_units"),
        (sum($"pu").over(trail3).cast("double") /
          count(lit(1)).over(trail3)).as("avg3"),
        sum($"pu").over(peers).as("runpeer_units"),
        sum($"pu").over(trail30d).as("trail30d_units"),
        first($"pu").over(run).as("first_units"),
        last($"pu").over(tail).as("last_units"),
        coalesce(nth_value($"pu", 2).over(full), lit(-1L)).as("second_units"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val q183Sql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    epoch_us(o_orderdate) AS us,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4))*10000 AS BIGINT) AS pu
      |  FROM orders WHERE o_custkey < 50)
      |SELECT o_custkey, o_orderkey,
      |  CAST(SUM(pu) OVER (wr ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_units,
      |  CAST(SUM(pu) OVER (wr ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail3_units,
      |  CAST(SUM(pu) OVER (wr ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / COUNT(*) OVER (wr ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg3,
      |  CAST(SUM(pu) OVER (wu RANGE UNBOUNDED PRECEDING) AS BIGINT) AS runpeer_units,
      |  CAST(SUM(pu) OVER (wu RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail30d_units,
      |  first_value(pu) OVER (wr ROWS UNBOUNDED PRECEDING) AS first_units,
      |  last_value(pu) OVER (wr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_units,
      |  COALESCE(nth_value(pu, 2) OVER
      |    (wr ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), -1) AS second_units
      |FROM o
      |WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       wu AS (PARTITION BY o_custkey ORDER BY us)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** The streaming-sessionizer oracle bridge:
    * [[graft.streaming.StreamingSessions.batchSessionSummaries]] — the
    * exact gaps-and-islands fold StreamingSessionsSpec uses as the
    * transformWithState processor's reference — run over the events
    * fixture at the same 30-minute gap and hash-checked against DuckDB.
    * Closes the loop: the streaming contract (spec ≡ this fold) now
    * inherits a driver-visible oracle. Break is diff > gap (the
    * processor's merge test), deliberately distinct from q35's
    * session_window exclusive close. */
  private def q184SessionsBridge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"ts",
        ($"value".cast(d4) * 10000).cast("long").as("vu"))
      .as[graft.streaming.StreamingSessions.SessEvent]
    graft.streaming.StreamingSessions.batchSessionSummaries(ev, 30L * 60000L)
      .orderBy($"user_id", $"start_ms")
  }

  private val q184Sql =
    """WITH marked AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |    CAST(CAST(value AS DECIMAL(18,4))*10000 AS BIGINT) AS vu,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT user_id, ms, vu,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
      |                   ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM marked)
      |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
      |  COUNT(*) AS n_events, CAST(SUM(vu) AS BIGINT) AS value_units
      |FROM sessions
      |GROUP BY user_id, sess
      |ORDER BY user_id, start_ms""".stripMargin

  /** TPC-H Q1's FULL pricing summary — all eight aggregate columns
    * (q1_agg carries the shape; this is fixture parity for the complete
    * column list). sum_charge is the triple product
    * extendedprice·(1−discount)·(1+tax): each factor on the d4 grid
    * scales to integer units, the per-row product (≤ ~1.2e17) stays
    * inside a long, the SUM rides DECIMAL(38,0), and the final dollars
    * value is the correctly-rounded double of that exact integer divided
    * by 1e12 — the same two roundings in both engines. One pushed-down
    * scan, one two-phase aggregate over a 4-group key: the canonical
    * map-side-combine plan at any scale. */
  private def q185PricingFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val epu = ($"l_extendedprice".cast(d4) * 10000).cast("long")
    val du = ($"l_discount".cast(d4) * 10000).cast("long")
    val tu = ($"l_tax".cast(d4) * 10000).cast("long")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .select($"l_returnflag", $"l_linestatus", $"l_quantity",
        $"l_extendedprice", $"l_discount",
        (epu * (lit(10000L) - du)).as("__dpu"),
        (epu * (lit(10000L) - du) * (lit(10000L) + tu)).as("__cu"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Exact.dsum($"l_quantity").as("sum_qty"),
        Exact.dsum($"l_extendedprice").as("sum_base_price"),
        (sum($"__dpu".cast(dec38)).cast("double") / 1e8).as("sum_disc_price"),
        (sum($"__cu".cast(dec38)).cast("double") / 1e12).as("sum_charge"),
        Exact.davg($"l_quantity").as("avg_qty"),
        Exact.davg($"l_extendedprice").as("avg_price"),
        Exact.davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val q185Sql = {
    val epu = "CAST(CAST(l_extendedprice AS DECIMAL(18,4))*10000 AS BIGINT)"
    val du = "CAST(CAST(l_discount AS DECIMAL(18,4))*10000 AS BIGINT)"
    val tu = "CAST(CAST(l_tax AS DECIMAL(18,4))*10000 AS BIGINT)"
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
       |  ${Exact.sqlDsum("l_extendedprice")} AS sum_base_price,
       |  CAST(CAST(SUM($epu * (10000 - $du)) AS VARCHAR) AS DOUBLE) / 1e8 AS sum_disc_price,
       |  CAST(CAST(SUM($epu * (10000 - $du) * (10000 + $tu)) AS VARCHAR) AS DOUBLE) / 1e12 AS sum_charge,
       |  ${Exact.sqlDavg("l_quantity")} AS avg_qty,
       |  ${Exact.sqlDavg("l_extendedprice")} AS avg_price,
       |  ${Exact.sqlDavg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** TPC-H Q16 shape — distinct-supplier counts by part attributes. No
    * partsupp table in the fixture, so the part↔supplier relation is the
    * DISTINCT (l_partkey, l_suppkey) pairs from lineitem; the
    * "complaints" supplier exclusion becomes the negative-balance
    * suppliers, removed by broadcast ANTI join BEFORE aggregation. The
    * plan: part dim broadcast onto the fact pairs, then the single
    * count(DISTINCT) — Spark's two-level aggregate (partial on
    * group+suppkey, final on group), no Expand needed for one distinct
    * column. Total order: supplier_cnt DESC then the unique
    * (brand, type, size). */
  private def q186SupplierParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey")
    val badSupp = Tables.supplier(spark, dir)
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    val parts = Tables.part(spark, dir)
      .filter($"p_brand" =!= "Brand#5" && $"p_type" =!= "PROMO" &&
        $"p_size".isin(1, 4, 9, 14, 19, 23, 36, 45))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    pairs
      .join(broadcast(badSupp), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  private val q186Sql =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q2 shape — minimum-cost supplier per part in a region. No
    * partsupp table in the fixture, so the (part, supplier) supply cost
    * is the MIN observed line price in integer units over lineitem — a
    * deterministic surrogate with the same correlated-subquery
    * structure. The correlated `cost = (SELECT MIN ...)` decorrelates
    * into a per-part aggregate joined back on equality (the q150/q178
    * discipline), ties keep every achieving supplier, and the final
    * listing is a TakeOrdered top-100 over the unique
    * (acctbal, nation, supplier, part) total order. */
  private def q190MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val epu = ($"l_extendedprice".cast(d4) * 10000).cast("long")
    val euroSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter($"n_regionkey" === 3)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val parts = Tables.part(spark, dir)
      .filter($"p_size".isin(15, 25, 35, 45) && $"p_type" === "LARGE")
      .select($"p_partkey", $"p_brand")
    val cost = Tables.lineitem(spark, dir)
      .join(broadcast(parts.select($"p_partkey")), $"l_partkey" === $"p_partkey")
      .join(broadcast(euroSupp.select($"s_suppkey")), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min(epu).as("cost_units"))
    val best = cost.groupBy($"l_partkey").agg(min($"cost_units").as("min_cost_units"))
      .withColumnRenamed("l_partkey", "b_partkey")
    cost
      .join(best, $"l_partkey" === $"b_partkey" &&
        $"cost_units" === $"min_cost_units")
      .join(broadcast(euroSupp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .select($"p_partkey", $"p_brand", $"s_name", $"n_name",
        ($"s_acctbal".cast(d4) * 10000).cast("long").as("acctbal_units"),
        $"cost_units")
      .orderBy($"acctbal_units".desc, $"n_name", $"s_name", $"p_partkey")
      .limit(100)
  }

  private val q190Sql =
    """WITH parts AS (
      |  SELECT p_partkey, p_brand FROM part
      |  WHERE p_size IN (15, 25, 35, 45) AND p_type = 'LARGE'),
      |esupp AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_regionkey = 3),
      |cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,4))*10000 AS BIGINT)) AS cost_units
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM parts)
      |    AND l_suppkey IN (SELECT s_suppkey FROM esupp)
      |  GROUP BY 1, 2),
      |best AS (SELECT l_partkey AS b_partkey, MIN(cost_units) AS mc
      |         FROM cost GROUP BY 1)
      |SELECT p_partkey, p_brand, s_name, n_name,
      |  CAST(CAST(s_acctbal AS DECIMAL(18,4))*10000 AS BIGINT) AS acctbal_units,
      |  cost_units
      |FROM cost
      |JOIN best ON l_partkey = b_partkey AND cost_units = mc
      |JOIN esupp ON l_suppkey = s_suppkey
      |JOIN parts ON l_partkey = p_partkey
      |ORDER BY acctbal_units DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** k-anonymity + l-diversity audit (north star): the publication gate
    * after PII scrubbing — per (nation, market-segment) equivalence
    * class, the class size against k=10 and the distinct wealth bands
    * (truncating $1000 bands of the account balance, integer DIV on
    * cents so BOTH engines truncate identically for every sign) against
    * l=3. Engine: [[graft.operators.Anonymity.audit]] — one groupBy with
    * map-side partials; the report is class-sized. */
  private def q244KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val banded = Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_mktsegment",
        expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000")
          .as("wealth_band"))
    graft.operators.Anonymity.audit(banded,
        Seq("c_nationkey", "c_mktsegment"), "wealth_band", k = 10L, l = 3L)
      .select($"c_nationkey".cast("long").as("c_nationkey"), $"c_mktsegment",
        $"n_rows", $"n_distinct_sensitive", $"k_ok", $"l_ok")
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  private val q244Sql =
    """WITH c AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS band
      |  FROM customer)
      |SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT band) AS BIGINT) AS n_distinct_sensitive,
      |  CAST(CASE WHEN COUNT(*) >= 10 THEN 1 ELSE 0 END AS BIGINT) AS k_ok,
      |  CAST(CASE WHEN COUNT(DISTINCT band) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS l_ok
      |FROM c GROUP BY c_nationkey, c_mktsegment
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q244_k_anonymity", q244KAnonymity, Some(q244Sql),
      "k-anonymity + l-diversity publication audit over quasi-identifier classes (north star)"),
    Q("q190_min_cost_supplier", q190MinCostSupplier, Some(q190Sql),
      "TPC-H Q2 shape: decorrelated per-part min-cost supplier, ties kept, TakeOrdered listing"),
    Q("q183_window_frames", q183WindowFrames, Some(q183Sql),
      "window frame-clause catalogue: rows/range frames, moving sums, first/last/nth_value"),
    Q("q184_sessions_bridge", q184SessionsBridge, Some(q184Sql),
      "batch gaps-and-islands fold = the streaming sessionizer's spec reference, oracled"),
    Q("q185_pricing_full", q185PricingFull, Some(q185Sql),
      "TPC-H Q1 full eight-aggregate pricing summary incl. exact sum_charge"),
    Q("q186_supplier_parts", q186SupplierParts, Some(q186Sql),
      "TPC-H Q16 shape: distinct-supplier counts by part attributes, anti-joined exclusions"),
    Q("q181_window_suite", q181WindowSuite, Some(q181Sql),
      "rank/ntile/percent_rank/cume_dist/lag/lead catalogue over one window"),
    Q("q182_sql_surface", q182SqlSurface, Some(q182Sql),
      "spark.sql end-to-end with registered graft kernels (luhn_valid, hamming64)"),
    Q("q146_abc_parts", q146AbcParts, Some(q146Sql),
      "Pareto/ABC revenue classification via the two-level exact prefix-sum plan"),
    Q("q147_transitions", q147Transitions, Some(q147Sql),
      "first-order Markov transition matrix over per-user event streams"),
    Q("q148_pmi_bigrams", q148PmiBigrams, Some(q148Sql),
      "top-50 PMI collocations, exact integer numerator/denominator"),
    Q("q149_mad_outliers", q149MadOutliers, Some(q149Sql),
      "per-user median/MAD robust outlier counts (exact histogram quantiles)"),
    Q("q150_top_supplier", q150TopSupplier, Some(q150Sql),
      "TPC-H Q15 shape: max-of-aggregate with ties, revenue-equality attach"),
    Q("q151_part_share", q151PartShare, Some(q151Sql),
      "TPC-H Q11 shape: global-share HAVING, cross-multiplied cut"),
    Q("q152_dominant_suppliers", q152DominantSuppliers, Some(q152Sql),
      "TPC-H Q20 shape: decorrelated dominance aggregates + semi join"),
    Q("q153_url_domains", q153UrlDomains, Some(q153Sql),
      "URL canonicalization + registered-domain rollup (web-corpus curation)"),
    Q("q154_attribution", q154Attribution, Some(q154Sql),
      "last-touch attribution via as-of join, 7-day window, exact integer mass"),
    Q("q155_conversion_latency", q155ConversionLatency, Some(q155Sql),
      "funnel -> exactQuantiles composition: p50/p90/p99 view->purchase latency"),
    Q("q156_source_overlap", q156SourceOverlap, Some(q156Sql),
      "pairwise top-50 vocabulary Jaccard between sources"),
    Q("q157_late_orders", q157LateOrders, Some(q157Sql),
      "TPC-H Q4 shape: EXISTS-decorrelated late-lineitem semi join"),
    Q("q158_returned_revenue", q158ReturnedRevenue, Some(q158Sql),
      "TPC-H Q10 shape: returned-revenue top-20 customers, TakeOrdered"),
    Q("q159_label_affinity", q159LabelAffinity, Some(q159Sql),
      "pairwise label-centroid cosine from exact component sums (n factors cancel)"),
    Q("q160_idle_rich", q160IdleRich, Some(q160Sql),
      "TPC-H Q22 shape: above-average balances with no orders, anti join"),
    Q("q161_doc_keywords", q161DocKeywords, Some(q161Sql),
      "per-doc top-3 tf-idf keywords over the q48 vocabulary"),
    Q("q162_lone_late_supplier", q162LoneLateSupplier, Some(q162Sql),
      "TPC-H Q21 shape: lone late supplier via one per-order aggregate"),
    Q("q163_pii_audit", q163PiiAudit, Some(q163Sql),
      "per-source PII detector counts incl. Luhn-validated cards"),
    Q("q164_session_paths", q164SessionPaths, Some(q164Sql),
      "top-20 first-3-event session paths, 30-min gap sessionization"),
    Q("q165_incremental_distinct", q165IncrementalDistinct, Some(q165Sql),
      "HLL-state incremental distinct maintenance: merge==full + error band"),
    Q("q171_ship_priority", q171ShipPriority, Some(q171Sql),
      "TPC-H Q3 shape: broadcast segment dim + one fact-fact shuffle + TakeOrdered top-10"),
    Q("q172_forecast_revenue", q172ForecastRevenue, Some(q172Sql),
      "TPC-H Q6 shape: pure pushed-down scan-aggregate, integer-unit discount band"),
    Q("q173_market_share", q173MarketShare, Some(q173Sql),
      "TPC-H Q8 shape: national market share per year, all dims broadcast, exact num/den"),
    Q("q174_profit_by_nation", q174ProfitByNation, Some(q174Sql),
      "TPC-H Q9 shape: profit by supplier nation and year in exact integer units"),
    Q("q175_late_pivot", q175LatePivot, Some(q175Sql),
      "TPC-H Q12 shape: CASE-sum late/ontime pivot over the order-key join"),
    Q("q176_order_distribution", q176OrderDistribution, Some(q176Sql),
      "TPC-H Q13 shape: LEFT JOIN with filter in the join condition, two-level aggregate"),
    Q("q177_promo_share", q177PromoShare, Some(q177Sql),
      "TPC-H Q14 shape: promo revenue share per month, broadcast part dim"),
    Q("q178_small_qty_revenue", q178SmallQtyRevenue, Some(q178Sql),
      "TPC-H Q17 shape: decorrelated per-part average, cross-multiplied 0.2-avg cut"),
    Q("q179_big_orders", q179BigOrders, Some(q179Sql),
      "TPC-H Q18 shape: HAVING on the per-order aggregate before dims, TakeOrdered listing"),
    Q("q180_disjunctive_revenue", q180DisjunctiveRevenue, Some(q180Sql),
      "TPC-H Q19 shape: three-disjunct residual rides the partkey hash join"),
    Q("q169_geo_pairs", q169GeoPairs, Some(q169Sql),
      "lat/lon -> local-meters projection + grid-blocked proximity join vs quadratic oracle"),
    Q("q166_spatial_pairs", q166SpatialPairs, Some(q166Sql),
      "grid-blocked spatial proximity join vs quadratic theta oracle"),
    Q("q167_spatial_clusters", q167SpatialClusters, Some(q167Sql),
      "DBSCAN-core spatial clustering: proximity graph -> star contraction"))
}
