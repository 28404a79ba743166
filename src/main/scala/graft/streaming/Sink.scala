package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{Routing, Transform, Transforms}

/** Publish sinks for the wire pipeline (SURVEY §2.5 K1).
  *
  * The reference's Pub/Sub publisher is a DRY-RUN (the `publish` call
  * is commented out, reference/src/main.rs:187) with a per-topic
  * client cache. The engine ships two sink shapes:
  *
  *  - topic-partitioned parquet ([[Pipeline.run]]) — the harness's
  *    verifiable sink: routing is data, partitioned writes fan out
  *    server-side;
  *  - the KAFKA record contract here — the shape a real deployment
  *    publishes through Spark's built-in `kafka` sink. The sandbox
  *    ships no Kafka connector jar or broker, so [[kafkaSink]] is
  *    gated on a broker env var and the FRAME contract (exact
  *    (key, value, topic) columns, binary key/value, one record per
  *    change) is what the spec pins — that contract, not the socket,
  *    is where correctness lives: the connector consumes the frame
  *    verbatim.
  */
object Sink {

  /** The built-in kafka sink's record frame over a change stream:
    * `key` = "db.table" bytes — the entity routing key, so one
    * table's changes keep Kafka-partition ORDER (the binlog's
    * serial-per-source contract carried through the bus); `value` =
    * the transformed wire payload ([[Transforms.toWire]] JSON
    * bytes); `topic` = the routing column ([[Routing.topicByTable]]
    * by default), which the kafka sink reads per-row when no global
    * topic option is set. A `timestamp` column, a long of epoch ms
    * per change, is added only when given (the wire sink's
    * per-record CreateTime, computed in this same projection). Works
    * identically on batch and streaming frames.
    */
  def kafkaFrame(changes: DataFrame,
      topic: Column = Routing.topicByTable(),
      transform: Transform = Transforms.DebeziumEnvelope,
      timestamp: Option[Column] = None): DataFrame =
    Routing.withTopic(Transforms.toWire(changes, transform), topic)
      .select(Seq(
        concat(col("db"), lit("."), col("table")).cast("binary").as("key"),
        col("payload").cast("binary").as("value"),
        col("topic")) ++ timestamp.map(_.as("timestamp")): _*)

  /** Start the kafka-format writer for a streaming change frame.
    * Integration-gated: returns None (and starts nothing) unless a
    * broker list is supplied — by default from
    * `SPARK_GRAFT_KAFKA_BROKERS`. Requires the spark-sql-kafka
    * connector on the classpath at runtime (format resolution is by
    * name, so this compiles and ships without it).
    */
  def kafkaSink(changes: DataFrame, checkpointDir: String,
      brokers: Option[String] = sys.env.get("SPARK_GRAFT_KAFKA_BROKERS"),
      topic: Column = Routing.topicByTable(),
      transform: Transform = Transforms.DebeziumEnvelope)
      : Option[StreamingQuery] =
    brokers.map { bs =>
      kafkaFrame(changes, topic, transform).writeStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bs)
        .option("checkpointLocation", checkpointDir)
        .start()
    }
}
