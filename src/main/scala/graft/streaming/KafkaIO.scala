package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.sinks.Sinks

/** Kafka source/sink assembly (SURVEY S4/K3/T1).
  *
  * The source and sink need the spark-sql-kafka connector on the
  * deployment classpath. The build does not ship it, so no test plans
  * `format("kafka")`; what they wrap is tested without it — [[decodeJson]]
  * on Kafka-shaped rows in a batch frame and through a MemoryStream
  * (KafkaIOSpec), and `Sinks.kafkaShaped` (SinksSpec).
  *
  * Mapping from the reference (instagram-profiles.conf:2-8):
  *   bootstrap_servers -> kafka.bootstrap.servers
  *   topics            -> subscribe
  *   group_id          -> replaced by the checkpoint dir (offset tracking)
  *   codec json        -> from_json over value
  */
object KafkaIO {

  /** Streaming source: subscribe + decode JSON values against a declared
    * schema (never inferred on streams). */
  def jsonSource(spark: SparkSession, servers: String, topic: String,
      schema: StructType, startingOffsets: String = "earliest"): DataFrame =
    decodeJson(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load(), schema)

  /** Kafka records — `key` and `value` (binary or string) and
    * `timestamp` — decoded to `key`, the JSON value's fields under
    * `schema`, and `kafka_ts`. A plain frame transform, so a batch frame,
    * a MemoryStream and the connector's source decode alike. */
  def decodeJson(records: DataFrame, schema: StructType): DataFrame =
    records.select(
        col("key").cast("string").as("key"),
        from_json(col("value").cast("string"), schema).as("data"),
        col("timestamp").as("kafka_ts"))
      .select(col("key"), col("data.*"), col("kafka_ts"))

  /** Streaming sink: key + whole-row JSON value (send_to_kafka.py:14-16). */
  def keyedJsonSink(df: DataFrame, servers: String, topic: String,
      keyCol: String, checkpoint: String): DataStreamWriter[Row] =
    Sinks.kafkaShaped(df, keyCol)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
}
