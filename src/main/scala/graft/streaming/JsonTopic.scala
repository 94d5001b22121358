package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** A broker-free JSON-lines topic in `dir`: the engine's stand-in for the
  * reference's Kafka topic (search result -> topic -> consumers,
  * reference: mykafka/producer.py:7-20 feeding etl.py:16-22). Frames land
  * as one `to_json` record per row (the producer's wire shape) and
  * [[stream]] replays them through [[KafkaSource.decodeJson]], the decode
  * the `kafka` wiring runs, one file per micro-batch.
  *
  * The decode schema is the schema of the frames written: the same names
  * and types, every field nullable (as `from_json` reads them). A later
  * write or append whose names or types differ from the first throws, so
  * the written and decoded columns cannot drift apart.
  *
  * Two ways to land a frame; a topic takes one or the other:
  *  - [[write]]: unordered, four files, so a backlog drains in four
  *    batches (the multi-batch merging the parity drains exercise);
  *  - [[append]] / [[appendTimeSlices]]: one file per append, replayed in
  *    append order (the per-key order a user-keyed Kafka topic gives).
  */
final class JsonTopic(dir: String) {
  private var written: Option[(SparkSession, StructType)] = None
  private val seen = scala.collection.mutable.Set.empty[String]
  private val base = System.currentTimeMillis() - 600000L
  private var batch = 0

  /** Land `df` unordered, as four files. */
  def write(df: DataFrame): JsonTopic = {
    encode(df).repartition(4).write.mode("append").text(dir)
    this
  }

  /** Land `df` as ONE file and pin a strictly increasing mtime on it, so
    * the file source replays appends in order even on filesystems with
    * coarse (e.g. 1 s) timestamp granularity. Appends are spaced 60 s
    * apart (well inside the source's maxFileAge window). */
  def append(df: DataFrame): JsonTopic = {
    encode(df).coalesce(1).write.mode("append").text(dir)
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(f => f.isFile && !seen.contains(f.getPath)).foreach { f =>
      require(f.setLastModified(base + batch * 60000L),
        s"JsonTopic: cannot set mtime on ${f.getPath}")
      seen.add(f.getPath)
    }
    batch += 1
    this
  }

  /** Append `ev` as four `t_us`-ranged slices, oldest first (the per-key
    * time order a user-keyed Kafka topic guarantees); returns the topic's
    * max `t_us`. */
  def appendTimeSlices(ev: DataFrame): Long = {
    val r = ev.agg(min("t_us"), max("t_us")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val step = math.max(1L, (hi - lo) / 4 + 1)
    (0 until 4).foreach { i =>
      append(ev.filter(col("t_us") >= lo + i * step &&
          col("t_us") < lo + (i + 1) * step || lit(i == 3) &&
          col("t_us") >= lo + 4 * step)
        .orderBy("t_us"))
    }
    hi
  }

  /** The topic as a stream of decoded rows, one file per micro-batch. */
  def stream(): DataFrame = {
    val (spark, schema) = written.getOrElse(
      throw new IllegalStateException(s"JsonTopic $dir: nothing written"))
    KafkaSource.decodeJson(
      spark.readStream.option("maxFilesPerTrigger", "1").text(dir), schema)
  }

  /** `df` as the topic's `value` records, after checking its columns
    * against the first frame written. */
  private def encode(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.map(f => StructField(f.name, JsonTopic.nullable(f.dataType))))
    written match {
      case None => written = Some((df.sparkSession, schema))
      case Some((_, first)) => if (schema != first)
        throw new IllegalArgumentException(s"JsonTopic $dir: frame " +
          s"${schema.simpleString} does not match the topic's ${first.simpleString}")
    }
    df.select(to_json(struct(df.columns.toSeq.map(col): _*)).as("value"))
  }
}

object JsonTopic {
  def apply(dir: String): JsonTopic = new JsonTopic(dir)

  /** `t` with every nested field, array element and map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f => StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
