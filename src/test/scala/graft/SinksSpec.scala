package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.sources.FakeDataGenerator

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("upsert-ignore is idempotent: writing the same batch twice counts once") {
    val dir = Files.createTempDirectory("upsert").toString + "/t"
    val users = FakeDataGenerator.users(spark, 100).toDF()
    Sinks.upsertIgnoreParquet(users, dir, Seq("uuid"))
    Sinks.upsertIgnoreParquet(users, dir, Seq("uuid"))
    assert(spark.read.parquet(dir).count() === 100)
    // overlapping new batch: 50 old + 50 new -> only 50 appended
    val more = FakeDataGenerator.users(spark, 150).toDF()
    Sinks.upsertIgnoreParquet(more, dir, Seq("uuid"))
    assert(spark.read.parquet(dir).count() === 150)
  }

  test("upsert-ignore repairs a compactParquet swap crashed between its renames — no corpus loss") {
    val dir = Files.createTempDirectory("upsert-crash").toString + "/t"
    val users = FakeDataGenerator.users(spark, 100).toDF()
    Sinks.upsertIgnoreParquet(users, dir, Seq("uuid"))
    // Simulate compactParquet dying between rename(live->_old) and
    // rename(_del->live): the compacted copy is fully written (with its
    // _SUCCESS marker) in _del, the original staged aside in _old, and
    // live is MISSING — the exact state the r14 advice flagged. Before
    // the recover-first fix, the replayed batch below recreated live
    // with only its own rows and the next swap deleted the real corpus.
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(dir).coalesce(1).write.parquet(dir + "_del")
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(dir + "_old")))
    assert(!fs.exists(live))
    // the replayed micro-batch: 100 old keys + 20 new
    val replay = FakeDataGenerator.users(spark, 120).toDF()
    Sinks.upsertIgnoreParquet(replay, dir, Seq("uuid"))
    // the promoted compacted corpus survived AND the batch appended
    assert(spark.read.parquet(dir).count() === 120)
    assert(spark.read.parquet(dir).select("uuid").distinct().count() === 120)
    // staging leftovers are gone — nothing for a later swap to misread
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_del")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_old")))
    // redelivery still converges (idempotence unchanged by the repair)
    Sinks.upsertIgnoreParquet(replay, dir, Seq("uuid"))
    assert(spark.read.parquet(dir).count() === 120)
    // and a subsequent compact sees the repaired corpus, not an empty one
    Sinks.compactParquet(spark, dir)
    assert(spark.read.parquet(dir).count() === 120)
  }

  test("upsert-ignore equals union+dropDuplicates on the key (property)") {
    val existing = FakeDataGenerator.users(spark, 80).toDF()
    val incoming = FakeDataGenerator.users(spark, 120).toDF() // 80 overlap
    val viaAnti = existing.union(Sinks.newRowsOnly(existing, incoming, Seq("uuid")))
    val viaDedup = existing.union(incoming).dropDuplicates("uuid")
    assert(viaAnti.count() === viaDedup.count())
    assert(viaAnti.select("uuid").except(viaDedup.select("uuid")).isEmpty)
  }

  test("kafka-shaped frame has string key and round-trippable JSON value") {
    val users = FakeDataGenerator.users(spark, 10).toDF()
    val shaped = Sinks.kafkaShaped(users, "uuid")
    assert(shaped.columns.toSeq === Seq("key", "value"))
    val back = shaped.select(
      from_json($"value", users.schema).as("r")).select("r.*")
    assert(back.select("uuid").except(users.select("uuid")).isEmpty)
  }

  test("date-partitioned sink creates daily partitions and prunes") {
    val dir = Files.createTempDirectory("part").toString + "/logs"
    val events = graft.core.Tables.events(spark, sfDir)
    Sinks.writeDatePartitioned(events, dir, "ts")
    val days = spark.read.parquet(dir).select("event_date").distinct().count()
    assert(days > 1)
    val one = spark.read.parquet(dir).filter($"event_date" === "2024.01.01")
    // partition pruning: only one partition directory scanned
    val scanned = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(one.count() > 0)
  }

  test("withAlerts reports success and failure") {
    val hook = new Sinks.RecordingAlertHook
    Sinks.withAlerts(hook, "job_ok") { 42 }
    intercept[RuntimeException] {
      Sinks.withAlerts(hook, "job_bad") { throw new RuntimeException("boom") }
    }
    assert(hook.sent.map(_._1) ===
      Seq("job_ok succeeded", "job_bad FAILED: boom"))
  }

  test("index sink: rotated naming follows the ES convention, one write per index") {
    import graft.sinks.IndexSink
    import graft.sinks.IndexSink.{Daily, IndexSpec, Monthly, NoRotation}
    val events = graft.core.Tables.events(spark, sfDir).limit(2000).cache()
    // naming
    val named = IndexSink.withIndexColumn(events,
      IndexSpec("logs", Daily, "ts"), "idx")
    val idx = named.select($"idx").distinct().as[String].collect().sorted
    assert(idx.forall(_.matches("logs-\\d{4}\\.\\d{2}\\.\\d{2}")), idx.take(3).mkString(","))
    val monthly = IndexSink.withIndexColumn(events,
      IndexSpec("logs", Monthly, "ts"), "idx")
      .select($"idx").distinct().as[String].collect()
    assert(monthly.forall(_.matches("logs-\\d{4}\\.\\d{2}")))
    // recording writer: every row lands in exactly the index its ts names
    val written = scala.collection.mutable.Map.empty[String, Long]
    IndexSink.write(events, IndexSpec("logs", Daily, "ts"),
      (batch, index) => written(index) = batch.count())
    assert(written.keySet === idx.toSet)
    assert(written.values.sum === events.count())
    // static spec: single call, frame untouched
    val staticCalls = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    IndexSink.write(events, IndexSpec("catalog", NoRotation),
      (batch, index) => staticCalls += index -> batch.count())
    assert(staticCalls.toSeq === Seq("catalog" -> events.count()))
    // parquet default writer: one directory per index
    val root = Files.createTempDirectory("idxsink").toString
    IndexSink.write(events, IndexSpec("logs", Daily, "ts"),
      IndexSink.parquetWriter(root))
    val dirs = new java.io.File(root).listFiles().map(_.getName).sorted
    assert(dirs.toSeq === idx.toSeq)
    assert(spark.read.parquet(s"$root/${idx.head}").count() === written(idx.head))
  }

  test("index sink: a non-parquet writer plugs into the seam — ordered dispatch, content round-trip, fail-fast") {
    import graft.sinks.IndexSink
    import graft.sinks.IndexSink.{Daily, IndexSpec}
    val events = graft.core.Tables.events(spark, sfDir).limit(2000).cache()
    // an in-memory document store standing in for es-hadoop: the writer
    // lambda materializes each batch's rows under its index name — the
    // exact shape `batch.write.format("es").save(index)` would consume
    val store = scala.collection.mutable.LinkedHashMap.empty[String, Array[(Long, String)]]
    IndexSink.write(events, IndexSpec("logs", Daily, "ts"), (batch, index) =>
      store(index) = batch.select($"event_id", date_format($"ts", "yyyy.MM.dd"))
        .as[(Long, String)].collect())
    // dispatch order is the SORTED distinct index list (deterministic
    // retry/resume order for a connector) — LinkedHashMap records arrival
    assert(store.keys.toSeq === store.keys.toSeq.sorted)
    // content: every row landed in exactly the index its timestamp names,
    // and nothing was lost or duplicated across indices
    store.foreach { case (index, rows) =>
      assert(rows.nonEmpty)
      assert(rows.forall { case (_, day) => s"logs-$day" == index }, index)
    }
    assert(store.values.map(_.length.toLong).sum === events.count())
    assert(store.values.flatMap(_.map(_._1)).toSeq.distinct.size ===
      events.select($"event_id").distinct().count())
    // per-index failure semantics: the seam fails fast on the writer's
    // exception — indices dispatched before the failure stay written,
    // nothing after it is attempted (connector-style partial progress)
    val attempted = scala.collection.mutable.ArrayBuffer.empty[String]
    val boom = intercept[RuntimeException] {
      IndexSink.write(events, IndexSpec("logs", Daily, "ts"), (_, index) => {
        attempted += index
        if (attempted.size == 2) throw new RuntimeException(s"es down at $index")
      })
    }
    assert(boom.getMessage.startsWith("es down"))
    assert(attempted.toSeq === store.keys.toSeq.take(2),
      "dispatch stops at the failing index, in sorted order")
  }

  test("csv sink writes header and round-trips with declared schema") {
    val dir = Files.createTempDirectory("csv").toString + "/out"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Sinks.writeCsv(df, dir)
    val back = graft.sources.CsvSource.read(spark, dir, df.schema)
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }
}
