package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S1/S6-analog streaming source: the reference's topology is REST search →
  * Kafka topic → consumers (reference: mykafka/producer.py:7-20 feeding
  * etl.py). The Spark-native read path is the built-in `kafka` source plus
  * a `from_json` decode.
  *
  * The decode ([[decodeJson]]) is deliberately broker-independent: it maps
  * any frame stream with a `value` column (the Kafka wire shape) to typed
  * event rows, so the SAME column expressions run under the Kafka wiring,
  * a MemoryStream in tests, or a batch DataFrame — KafkaSourceSpec proves
  * decode+rollup parity without a broker (none exists in this container;
  * the `spark-sql-kafka-0-10` connector jar is a deploy-time dependency of
  * [[kafkaJsonStream]] only). The broker-free topic the streaming-parity
  * drains read is [[JsonTopic]]: JSON-lines files replayed through this
  * decode.
  */
object KafkaSource {

  /** Kafka read wiring. SASL/PLAIN options mirror the reference producer's
    * security shape (mykafka/producer.py:7-20); `maxOffsetsPerTrigger` is
    * the backpressure bound (T5).
    */
  def kafkaJsonStream(spark: SparkSession, bootstrap: String, topic: String,
                      schema: StructType,
                      startingOffsets: String = "latest",
                      saslJaas: Option[String] = None,
                      maxOffsetsPerTrigger: Option[Long] = None,
                      timestampFormat: Option[String] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    val r2 = maxOffsetsPerTrigger.fold(r)(n =>
      r.option("maxOffsetsPerTrigger", n.toString))
    val r3 = saslJaas.fold(r2)(jaas => r2
      .option("kafka.security.protocol", "SASL_PLAINTEXT")
      .option("kafka.sasl.mechanism", "PLAIN")
      .option("kafka.sasl.jaas.config", jaas))
    decodeJson(r3.load().select(col("value")), schema,
      options = timestampFormat.map("timestampFormat" -> _).toMap)
  }

  /** Decode a Kafka-shaped frame stream (`value`: one JSON event per
    * record) into typed columns. PERMISSIVE like the reference's tolerant
    * parse, with an explicit corrupt-record marker column so a genuinely
    * malformed record is distinguishable from a valid record whose fields
    * are all null (an any-field-not-null heuristic would silently drop
    * the latter). Corrupt records are dropped by default; pass
    * dropCorrupt=false to audit them (the `_corrupt` column carries the
    * raw payload). Pure column expressions — identical on batch and
    * streaming frames, entirely inside whole-stage codegen.
    */
  def decodeJson(frames: DataFrame, schema: StructType,
                 dropCorrupt: Boolean = true,
                 options: Map[String, String] = Map.empty): DataFrame = {
    val corrupt = "_corrupt"
    val withMarker = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(corrupt,
        org.apache.spark.sql.types.StringType))
    val parsed = frames.select(from_json(col("value").cast("string"), withMarker,
      options + ("columnNameOfCorruptRecord" -> corrupt)).as("j"))
    val out = parsed.select(col("j.*"))
    if (dropCorrupt) out.filter(col(corrupt).isNull).drop(corrupt)
    else out
  }
}
