package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.FakeDataGenerator
import graft.streaming.KafkaIO

/** [[KafkaIO.decodeJson]] inverts the sink's encoding: rows shaped by
  * `Sinks.kafkaShaped` (key + whole-row JSON value) decode back to the
  * input rows, keyed as they were sent. The connector itself is not on
  * the build's classpath, so the records are built by hand in the
  * connector's column layout. */
class KafkaIOSpec extends SparkSpec {
  import spark.implicits._

  private val users = FakeDataGenerator.users(spark, 25).toDF()
  private val sentAt = Timestamp.valueOf("2024-02-01 00:00:00")

  /** The decoded users, checked against the input: every column
    * round-trips, each key is the row's uuid, and the record timestamp
    * arrives as kafka_ts. */
  private def assertRoundTrip(decoded: DataFrame): Unit = {
    assert(decoded.columns.toSeq === ("key" +: users.columns.toSeq :+ "kafka_ts"))
    assert(decoded.filter($"key" =!= $"uuid").isEmpty)
    assert(decoded.filter($"kafka_ts" =!= lit(sentAt)).isEmpty)
    val back = decoded.select(users.columns.map(col).toIndexedSeq: _*)
    assert(back.collect().toSet === users.collect().toSet)
    assert(back.count() === users.count())
  }

  test("kafka-shaped rows decode back to the input rows in a batch frame") {
    val records = Sinks.kafkaShaped(users, "uuid")
      .select($"key".cast("binary").as("key"), $"value".cast("binary").as("value"),
        lit(sentAt).as("timestamp"))
    assertRoundTrip(KafkaIO.decodeJson(records, users.schema))
  }

  test("kafka-shaped rows decode back to the input rows through a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String, Timestamp)]
    val decoded = KafkaIO.decodeJson(
      source.toDF().toDF("key", "value", "timestamp"), users.schema)
    val q = decoded.writeStream.format("memory").queryName("kafka_decoded")
      .outputMode("append").start()
    try {
      val sent = Sinks.kafkaShaped(users, "uuid").as[(String, String)].collect()
      sent.grouped(10).foreach { batch =>
        source.addData(batch.map { case (k, v) => (k, v, sentAt) }: _*)
        q.processAllAvailable()
      }
      assertRoundTrip(spark.table("kafka_decoded"))
    } finally q.stop()
  }
}
