package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** The native Catalyst as-of join (plans.AsOfJoinPlan / AsOfJoinExec) must
  * be bit-identical to the composed union+window form across the full
  * semantic matrix — ties, null timestamps, never-matched keys, payload
  * atomicity — and under adversarial input partitioning (the
  * zipPartitions/EnsureRequirements seam is the risk: the exec assumes
  * EnsureRequirements co-partitioned and co-sorted both children). */
class AsOfJoinPlanSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val quotes = Seq(
    ("A", ts("2024-01-01 10:00:00"), 1L, 100.0, "mm1"),
    ("A", ts("2024-01-01 11:00:00"), 2L, 110.0, "mm2"),
    ("A", ts("2024-01-01 11:00:00"), 3L, 111.0, "mm3"), // tie: higher id wins
    ("B", ts("2024-01-01 10:30:00"), 4L, 200.0, "mm4"))
    .toDF("sym", "qts", "qid", "price", "source")

  private val trades = Seq(
    ("A", ts("2024-01-01 10:30:00"), 100L), // between quotes -> 100.0
    ("A", ts("2024-01-01 11:00:00"), 101L), // exactly at tie -> 111.0 (qid 3)
    ("A", ts("2024-01-01 09:00:00"), 102L), // before any quote -> null
    ("B", ts("2024-01-01 12:00:00"), 103L), // after last -> 200.0
    ("C", ts("2024-01-01 12:00:00"), 104L)) // key never quoted -> null
    .toDF("sym", "tts", "tid")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameAsComposed(left: DataFrame, right: DataFrame,
      payload: Seq[String]): Unit = {
    val native = AsOfJoin.asOf(left, right, "sym", "sym", "tts", "qts",
      "qid", payload)
    val composed = ComposedAsOfJoin.asOf(left, right, "sym", "sym", "tts", "qts",
      "qid", payload)
    assert(native.columns.toSeq === composed.columns.toSeq)
    assert(sortedRows(native) === sortedRows(composed))
  }

  test("matrix: at-or-before pick, equal-ts tie-break, unmatched keys, left-outer totality") {
    assertSameAsComposed(trades, quotes, Seq("price", "source"))
    // and the absolute values, not just agreement with the composed form
    val got = AsOfJoin.asOf(trades, quotes, "sym", "sym", "tts", "qts",
        "qid", Seq("price", "source"))
      .select($"tid", $"price", $"source")
      .as[(Long, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(100L) === ((Some(100.0), Some("mm1"))))
    assert(got(101L) === ((Some(111.0), Some("mm3"))))
    assert(got(102L) === ((None, None)))
    assert(got(103L) === ((Some(200.0), Some("mm4"))))
    assert(got(104L) === ((None, None)))
  }

  test("payload travels atomically (all fields from the same right row)") {
    val q = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1L, Some(100.0), None: Option[String]),
      ("A", ts("2024-01-01 11:00:00"), 2L, None: Option[Double], Some("mm2")))
      .toDF("sym", "qts", "qid", "price", "source")
    val t = Seq(("A", ts("2024-01-01 11:30:00"), 100L)).toDF("sym", "tts", "tid")
    val row = AsOfJoin.asOf(t, q, "sym", "sym", "tts", "qts", "qid",
      Seq("price", "source")).head()
    assert(row.isNullAt(row.fieldIndex("price")))
    assert(row.getAs[String]("source") === "mm2")
    assertSameAsComposed(t, q, Seq("price", "source"))
  }

  test("null right timestamps never match; null left timestamps get null payload") {
    val q = Seq(
      ("A", null.asInstanceOf[Timestamp], 1L, 666.0, "phantom"),
      ("A", ts("2024-01-01 10:00:00"), 2L, 100.0, "mm1"))
      .toDF("sym", "qts", "qid", "price", "source")
    val t = Seq(
      ("A", ts("2024-01-01 09:00:00"), 100L), // before any real quote
      ("A", null.asInstanceOf[Timestamp], 101L), // null left ts -> null payload
      ("A", ts("2024-01-01 11:00:00"), 102L))
      .toDF("sym", "tts", "tid")
    val got = AsOfJoin.asOf(t, q, "sym", "sym", "tts", "qts", "qid",
        Seq("price"))
      .select($"tid", $"price").as[(Long, Option[Double])].collect().toMap
    assert(got(100L) === None, "null-ts quote must not leak as an early match")
    assert(got(101L) === None, "null left ts must not match")
    assert(got(102L) === Some(100.0))
    assertSameAsComposed(t, q, Seq("price"))
  }

  test("null keys group together (window-partition semantics, both forms)") {
    val q = Seq(
      (null.asInstanceOf[String], ts("2024-01-01 10:00:00"), 1L, 42.0, "nk"),
      ("A", ts("2024-01-01 10:00:00"), 2L, 100.0, "mm1"))
      .toDF("sym", "qts", "qid", "price", "source")
    val t = Seq(
      (null.asInstanceOf[String], ts("2024-01-01 11:00:00"), 100L),
      ("A", ts("2024-01-01 11:00:00"), 101L))
      .toDF("sym", "tts", "tid")
    val got = AsOfJoin.asOf(t, q, "sym", "sym", "tts", "qts", "qid",
        Seq("price"))
      .select($"tid", $"price").as[(Long, Option[Double])].collect().toMap
    assert(got(100L) === Some(42.0), "null left key matches null right key")
    assert(got(101L) === Some(100.0))
    assertSameAsComposed(t, q, Seq("price"))
  }

  test("randomized equality under adversarial pre-partitioning (EnsureRequirements seam)") {
    // deterministic pseudo-random fixture: ~2000 left rows / ~800 right rows
    // over 37 keys (plus null keys and null timestamps sprinkled in), each
    // side pre-shuffled on an UNRELATED column so EnsureRequirements must
    // re-exchange and re-sort both children for the exec's merge to be valid
    val right = spark.range(800).select(
        when(col("id") % 97 =!= 0, concat(lit("k"), col("id") % 37)).as("sym"),
        when(col("id") % 89 =!= 0,
          timestamp_seconds(lit(1704067200L) + (col("id") * 7919) % 86400)).as("qts"),
        col("id").as("qid"),
        (col("id") % 1000).cast("double").as("price"),
        concat(lit("src"), col("id") % 5).as("source"))
      .repartition(3, col("price"))
    val left = spark.range(2000).select(
        when(col("id") % 101 =!= 0, concat(lit("k"), col("id") % 37)).as("sym"),
        when(col("id") % 103 =!= 0,
          timestamp_seconds(lit(1704067200L) + (col("id") * 6007) % 86400)).as("tts"),
        col("id").as("tid"))
      .repartition(7, col("tid"))
    assertSameAsComposed(left, right, Seq("price", "source"))
  }

  test("plan: AsOfJoinExec with one exchange + sort per side, left rows never widened") {
    val df = AsOfJoin.asOf(trades, quotes, "sym", "sym", "tts", "qts",
      "qid", Seq("price", "source"))
    df.collect() // finalize any adaptive plan before inspecting
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
      p match { case a: AdaptiveSparkPlanExec => a.executedPlan; case other => other }
    val plan = unwrap(df.queryExecution.executedPlan).toString
    // SparkPlan.nodeName strips the "Exec" suffix: the node prints as "AsOfJoin"
    assert(plan.contains("AsOfJoin "), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2, plan)
    assert("(?m)^[^\\n]*Sort ".r.findAllIn(plan).size === 2, plan)
    // the composed form's tell: a Union feeding a Window — absent here
    assert(!plan.contains("Union"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q34 routed through the native operator matches the composed q34 result") {
    val events = core.Tables.events(spark, sfDir).select($"event_id", $"user_id", $"ts")
    val orders = core.Tables.orders(spark, sfDir)
    def shape(asOf: (DataFrame, DataFrame, String, String, String, String,
        String, Seq[String]) => DataFrame): Seq[String] =
      sortedRows(asOf(events, orders, "user_id", "o_custkey", "ts",
          "o_orderdate", "o_orderkey", Seq("o_orderkey", "o_totalprice"))
        .select($"event_id", $"user_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          $"o_orderkey", $"o_totalprice"))
    assert(shape(AsOfJoin.asOf) === shape(ComposedAsOfJoin.asOf))
  }

  test("an int left key against a long right key compares in the common type") {
    // equal keys of different types must land in one partition and compare
    // equal, as the composed form's union widens them
    val q = spark.range(400).select((col("id") % 50).as("sym"),
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("qts"),
      col("id").as("qid"), col("id").cast("double").as("price"))
    val t = spark.range(300).select((col("id") % 50).cast("int").as("sym"),
      timestamp_seconds(lit(1704067200L) + col("id") * 97).as("tts"),
      col("id").as("tid"))
    val native = AsOfJoin.asOf(t, q, "sym", "sym", "tts", "qts", "qid",
      Seq("price"))
    assert(native.schema("sym").dataType.typeName === "integer")
    assert(native.filter($"price".isNotNull).count() === 300L)
    assertSameAsComposed(t, q, Seq("price"))
  }

  test("a TIMESTAMP against a TIMESTAMP_NTZ reads the NTZ side in the session zone") {
    // a private session, so the zone change reaches no other suite; the
    // setting is still put back afterwards
    val s = spark.newSession()
    import s.implicits._
    val zone = "spark.sql.session.timeZone"
    val prior = s.conf.get(zone)
    s.conf.set(zone, "America/Los_Angeles")
    try {
      // wall-clock quotes, hourly: 04:00 in Los Angeles is 12:00Z in January
      val q = (0 until 24).map(h => ("A",
          java.time.LocalDateTime.parse(f"2024-01-01T$h%02d:00:00"), h.toLong, h.toDouble))
        .toDF("sym", "qts", "qid", "price")
      val t = Seq(("A", java.time.Instant.parse("2024-01-01T12:30:00Z"), 100L),
          ("A", java.time.Instant.parse("2024-01-01T20:15:00Z"), 101L))
        .toDF("sym", "tts", "tid")
      assert(q.schema("qts").dataType.typeName === "timestamp_ntz")
      assert(t.schema("tts").dataType.typeName === "timestamp")
      val got = AsOfJoin.asOf(t, q, "sym", "sym", "tts", "qts", "qid",
          Seq("price"))
        .select($"tid", $"price").as[(Long, Double)].collect().toMap
      assert(got === Map(100L -> 4.0, 101L -> 12.0))
      assertSameAsComposed(t, q, Seq("price"))
    } finally s.conf.set(zone, prior)
  }
}
