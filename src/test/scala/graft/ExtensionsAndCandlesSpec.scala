package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingCandles
import graft.streaming.StreamingCandles.{Candle, Tick}

class ExtensionsAndCandlesSpec extends SparkSpec {
  import spark.implicits._

  test("SQL functions registered via GraftExtensions match the column API") {
    graft.core.Tables.embeddings(spark, sfDir).limit(20)
      .createOrReplaceTempView("emb_ext")
    val viaSql = spark.sql(
      """SELECT a.vec_id qa, b.vec_id qb,
        |  cosine_sim(a.embedding, b.embedding) s,
        |  dot_product(a.embedding, b.embedding) d
        |FROM emb_ext a JOIN emb_ext b ON a.vec_id < b.vec_id""".stripMargin)
    val viaCols = spark.table("emb_ext").as("a")
      .join(spark.table("emb_ext").as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("qa"), $"b.vec_id".as("qb"),
        graft.operators.Similarity.cosine($"a.embedding", $"b.embedding").as("s"),
        graft.functions.expressions.VectorExpressions
          .dot_product($"a.embedding", $"b.embedding").as("d"))
    assert(viaSql.collect().toSet === viaCols.collect().toSet)
  }

  test("simhash64 and minhash_sig are SQL-callable") {
    val r = spark.sql(
      """SELECT simhash64(array('a','b','c')) fp,
        |  size(minhash_sig(array('a b c', 'b c d'))) k,
        |  size(minhash_sig(array('a b c'), 16, 7L)) k16""".stripMargin).head()
    assert(r.getAs[Long]("k") === 64)
    assert(r.getAs[Long]("k16") === 16)
  }

  test("char_counts is SQL-callable and matches the Column form") {
    val viaSql = spark.sql("SELECT char_counts('aabbbc') AS c").head().getSeq[Long](0)
    val viaCol = Seq(Tuple1("aabbbc")).toDF("t")
      .select(graft.functions.expressions.TextExpressions.char_counts($"t"))
      .head().getSeq[Long](0)
    assert(viaSql === viaCol && viaSql === Seq(2L, 3L, 1L))
  }

  test("nfc_normalize is SQL-callable and matches the Column form") {
    val r = spark.sql(
      "SELECT nfc_normalize('Café') n1, nfc_normalize('Å') n2").head()
    assert(r.getString(0) === "Café")
    assert(r.getString(1) === "Å") // U+212B -> U+00C5 under NFC
  }

  test("luhn_valid, hamming64, and the URL trio are SQL-callable") {
    val r = spark.sql(
      """SELECT luhn_valid('4111111111111111') ok,
        |  luhn_valid('4111111111111112') bad,
        |  hamming64(CAST(11 AS BIGINT), CAST(5 AS BIGINT)) h,
        |  registered_domain(url_host(normalize_url(
        |    'HTTPS://WWW.a.Example.COM.:443/p?utm=1#f'))) dom""".stripMargin).head()
    assert(r.getAs[Boolean]("ok") && !r.getAs[Boolean]("bad"))
    assert(r.getAs[Int]("h") === 3) // 1011 xor 0101 = 1110
    assert(r.getAs[String]("dom") === "example.com")
    // the bridged kernels stay codegen Column trees, never UDFs
    val plan = spark.sql("SELECT luhn_valid('49927398716') v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"luhn_valid must compile to built-in expressions, got:\n$plan")
  }

  test("shingle_hashes is SQL-callable and matches the Column form") {
    val viaSql = spark.sql(
      "SELECT shingle_hashes(array('a','b','c','a','b'), 2) AS sh").head().getSeq[Long](0)
    val viaCol = Seq(Tuple1(Seq("a", "b", "c", "a", "b"))).toDF("t")
      .select(graft.functions.expressions.ShingleHashes
        .shingle_hashes($"t", 2).as("sh")).head().getSeq[Long](0)
    assert(viaSql === viaCol)
    assert(viaSql.length === 3, "distinct bigrams of (a b, b c, c a, a b)")
  }

  test("minhash_sig of an empty shingle set is null, not a colliding sentinel") {
    val r = spark.sql(
      "SELECT minhash_sig(array_remove(array('x'), 'x')) AS sig").head()
    assert(r.isNullAt(0))
  }

  test("gram_hashes + multiplicity_stats are SQL-callable") {
    val r = spark.sql(
      "SELECT multiplicity_stats(gram_hashes(array('a','b','a','b','a'), 2)) AS ms")
      .head().getSeq[Long](0)
    // grams: ab ba ab ba -> total 4, distinct 2, max 2
    assert(r === Seq(4L, 2L, 2L))
  }

  test("lsh_buckets is SQL-callable and matches the Column form") {
    graft.core.Tables.embeddings(spark, sfDir).limit(5)
      .createOrReplaceTempView("emb_lsh")
    val viaSql = spark.sql(
      "SELECT vec_id, lsh_buckets(embedding, 4, 8) AS b FROM emb_lsh")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaCol = spark.table("emb_lsh")
      .select($"vec_id", graft.functions.expressions.SketchExpressions
        .lsh_buckets($"embedding", 4, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql === viaCol)
    assert(viaSql.values.forall(_.length === 4))
  }

  test("non-constant n/k/seed arguments fail with a clear plan-time error") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(array('a','b'), CAST(id AS INT)) FROM range(3)")
        .collect()
    }
    assert(e1.getMessage.contains("must be a constant"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a b'), CAST(id AS INT), 42L) FROM range(3)")
        .collect()
    }
    assert(e2.getMessage.contains("must be a constant"), e2.getMessage)
  }

  test("newRowsOnly keeps a deterministic row under conflicting payloads") {
    val incoming = Seq((1, "b"), (1, "a"), (2, "z")).toDF("k", "v")
    val existing = incoming.limit(0)
    val kept = graft.sinks.Sinks.newRowsOnly(existing, incoming, Seq("k"))
      .as[(Int, String)].collect().toSet
    assert(kept === Set((1, "a"), (2, "z")), "smallest payload wins the tie")
  }

  test("streaming candles consume the events parquet fixture directly " +
      "(NTZ ts survives the chain) and match the batch ohlcv oracle") {
    import org.apache.spark.sql.streaming.Trigger
    // the exact path a user takes: readStream over the driver's parquet,
    // whatever timestamp flavor it carries this generation, normalized
    // once at the ingest edge with the SAME per-flavor logic as
    // Tables.events (a bare cast would mis-decode the nanos-long flavor
    // as epoch seconds if a regeneration flips back to TIMESTAMP(NANOS))
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val tsExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => $"ts".cast("timestamp")
    }
    // the fixture is a bare file; the file-stream source watches a
    // directory, so stage the unmodified file into one
    val streamDir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = spark.readStream.schema(raw.schema).parquet(streamDir.toString)
      .select($"event_type".as("series"), tsExpr.as("ts"),
        $"event_id".as("seq"), $"value".as("price"))
      .withWatermark("ts", "0 seconds").as[Tick]
    val q = StreamingCandles.candles(spark, stream)
      .writeStream.format("memory").queryName("fixture_candles")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally {
      q.stop()
      java.nio.file.Files.delete(streamDir.resolve("events.parquet"))
      java.nio.file.Files.delete(streamDir)
    }
    val got = spark.table("fixture_candles").as[Candle].collect()
      .map(c => (c.series, c.day) -> c).toMap
    assert(got.nonEmpty, "the no-data batch after AvailableNow finalizes full days")
    val events = graft.core.Tables.events(spark, sfDir)
    val oracle = graft.operators.TimeSeriesOps
      .ohlcv(events, "event_type", "ts", "value", "event_id")
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[String]("bucket")) ->
        (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Double]("volume"), r.getAs[Long]("n"))).toMap
    // every day whose end the watermark passed must have emitted, and match
    val maxDay = oracle.keys.map(_._2).max
    val expectedKeys = oracle.keys.filter(_._2 < maxDay).toSet
    assert(got.keySet === expectedKeys,
      s"all full days finalize exactly once (max fixture day $maxDay stays open)")
    got.foreach { case (key, c) =>
      val (o, h, l, cl, v, n) = oracle(key)
      assert(c.open === o && c.high === h && c.low === l && c.close === cl && c.n === n,
        s"candle $key diverged from batch ohlcv")
      assert(math.abs(c.volume - v) <= 1e-9 * math.max(1.0, math.abs(v)),
        s"volume $key: streaming fold vs batch sum beyond fp tolerance")
    }
  }

  test("streaming candles finalize per day with deterministic open/close") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val source = MemoryStream[Tick]
    val ticks = source.toDS().withWatermark("ts", "0 seconds").as[Tick]
    val out = StreamingCandles.candles(spark, ticks)
    val q = out.writeStream.format("memory").queryName("candles")
      .outputMode("append").start()
    try {
      // day 1: out-of-order arrivals within one batch (a 0s watermark would
      // drop cross-batch late events — correct semantics, separate concern)
      source.addData(
        Tick("m1", ts("2024-01-01 12:00:00"), 1, 50.0),
        Tick("m1", ts("2024-01-01 00:00:01"), 2, 10.0),
        Tick("m1", ts("2024-01-01 23:59:59"), 3, 70.0),
        Tick("m1", ts("2024-01-01 18:00:00"), 4, 90.0))
      q.processAllAvailable()
      assert(spark.table("candles").count() === 0, "day not finalized yet")
      // an event well past day 1 advances the watermark -> day 1 finalizes
      source.addData(Tick("m1", ts("2024-01-03 00:00:10"), 5, 33.0))
      q.processAllAvailable()
      source.addData(Tick("m1", ts("2024-01-03 00:00:11"), 6, 34.0))
      q.processAllAvailable()
      val done = spark.table("candles").as[Candle].collect()
      assert(done.length === 1)
      val c = done.head
      assert(c.series === "m1" && c.day === "2024-01-01")
      assert(c.open === 10.0, "earliest event time opens")
      assert(c.close === 70.0, "latest event time closes")
      assert(c.high === 90.0 && c.low === 10.0 && c.n === 4)
    } finally q.stop()
  }
}
