package graft.sources

import java.io.FileNotFoundException

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table readers over the engine's parquet storage (SURVEY §2.1 S3/S5/S7).
  *
  * The reference streams JSON search results and lands them in ClickHouse
  * (reference: etl.py:57-65, clickhouse/clickhouse.py:60-67); the engine's
  * native storage is partitioned parquet, read through Spark's vectorized
  * reader (columnar, predicate/column pushdown for free).
  *
  * Each table's schema is inferred once and handed to the reader, the way
  * the reference's store keeps columns in its catalog: a stock parquet
  * open re-infers the schema in one Spark job every time.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    readPath(spark, s"$dir/$table.parquet")

  /** Any parquet path (a fixture table or a landed artifact), opened with
    * its memoized schema: a warm open runs no Spark job. */
  def readPath(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** The session confs that change what parquet schema inference returns:
    * the ones Spark 4.1's `ParquetToSparkSchemaConverter(SQLConf)` reads
    * (binaryAsString, int96AsTimestamp, caseSensitive,
    * inferTimestampNTZ.enabled, nanosAsLong, fieldId.read.enabled,
    * ignoreVariantAnnotation, reader.respectUnknownTypeAnnotation and
    * variant.allowReadingShredded), plus the ones `ParquetUtils.inferSchema`
    * reads to pick and read the footers (mergeSchema,
    * respectSummaryFiles, files.ignoreCorruptFiles). */
  private val schemaConfs: Seq[String] = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.VARIANT_ALLOW_READING_SHREDDED, SQLConf.PARQUET_SCHEMA_MERGING_ENABLED,
    SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES, SQLConf.IGNORE_CORRUPT_FILES).map(_.key)

  /** (path, leaf files as (path, length, mtime), schema conf values) ->
    * schema. Schemas only: no DataFrame, rows or file index. */
  private val schemas =
    TrieMap.empty[(String, Seq[(String, Long, Long)], Seq[Option[String]]), StructType]

  /** The schema `spark.read.parquet` infers for `table`; see [[schemaOf]]. */
  def schema(spark: SparkSession, dir: String, table: String): StructType =
    schemaOf(spark, s"$dir/$table.parquet")

  /** The schema `spark.read.parquet(path)` infers, inferred once per file
    * listing and conf state in this JVM. The listing comes from the
    * Hadoop FileSystem, so a hit runs no Spark job; a rewritten or
    * re-configured path misses and is inferred again. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    // a missing path falls through to the stock reader and its own error
    listing(spark, path).fold(spark.read.parquet(path).schema) { files =>
      schemas.getOrElseUpdate((path, files, schemaConfs.map(spark.conf.getOption)),
        spark.read.parquet(path).schema)
    }

  /** The leaf files under `path` as (path, length, mtime), sorted, read
    * from the Hadoop FileSystem (no Spark job); None if `path` is missing.
    * The schema memo's key, and the input fingerprint of artifacts
    * derived from a table (see [[graft.queries.Enrich.landedPath]]). */
  def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    try Some(leafFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p))
    catch { case _: FileNotFoundException => None }
  }

  private def leafFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) leafFiles(fs, st.getPath)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    }.sorted

  /** GraftSession.builder sets the nanos conf at session build; this
    * guard is the fallback for externally-built sessions, and never
    * mutates a session that is already configured (no global side effect
    * on the hot read path). It only affects parquet TIMESTAMP(NANOS)
    * fixtures (read as raw Long); TIMESTAMP(MICROS/MILLIS) fixtures are
    * untouched by it. Every reader that touches events.parquet —
    * including streaming-source schema probes — must go through it so the
    * LongType branch of [[normalizeTs]] stays reachable on nanos data.
    */
  def ensureNanosConf(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize the fixture `ts` column to a UTC-instant TimestampType,
    * dispatching on the SCANNED dtype — the fixture's physical encoding has
    * changed across rounds (TIMESTAMP(NANOS) read as raw Long via
    * `nanosAsLong` through round 5; TIMESTAMP(MICROS) read as
    * timestamp_ntz from round 6) and the engine must absorb either without
    * edits. One loud error for anything else beats 61 scattered
    * DATATYPE_MISMATCH failures (the fixture-schema tripwire; cf. the
    * reference's own first-row-schema bug, SURVEY §1.2).
    *
    *  - raw-nanos Long: integer `div 1000` to µs — a double-precision
    *    division would corrupt ~1.7e18 ns values (2^53 < 1.7e18); DuckDB
    *    truncates ns→µs the same way, so oracles agree.
    *  - timestamp_ntz: the wall-clock IS UTC by fixture contract, so the
    *    NTZ→instant cast is value-preserving only under a UTC session TZ
    *    (enforced here; GraftSession pins it). Anything else would shift
    *    every value against the DuckDB oracle's native `epoch_us(ts)`.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame =
    df.schema(name).dataType match {
      case TimestampType => df
      case TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.$name is TIMESTAMP_NTZ; converting it to an instant requires " +
            s"spark.sql.session.timeZone=UTC (got '$tz') to preserve the UTC oracle contract")
        df.withColumn(name, col(name).cast(TimestampType))
      case LongType =>
        df.withColumn(name, timestamp_micros(expr(s"$name div 1000")))
      case other => throw new IllegalStateException(
        s"events.$name is ${other.simpleString}; the engine expects timestamp, " +
          "timestamp_ntz, or raw-nanos bigint. The fixture schema has drifted — " +
          "extend graft.sources.Tables.normalizeTs for the new encoding.")
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosConf(spark)
    normalizeTs(read(spark, dir, "events"))
  }

  /** [[events]] as a file-source stream: the catalog's schema pinned on
    * the reader (a stream cannot infer one), the directory glob-filtered
    * to the events table, `ts` normalized the same way. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosConf(spark)
    normalizeTs(spark.readStream.schema(schema(spark, dir, "events"))
      .option("pathGlobFilter", "events.parquet").parquet(dir))
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** S4/S5 analog with the first-row-schema bug fixed: the reference infers
    * each batch's schema from its FIRST event only, silently dropping keys
    * that appear later (reference: clickhouse/helpers.py:166-169). Spark's
    * JSON reader already schema-unions across ALL rows and partitions;
    * this wrapper additionally lets callers pin a schema for streaming use.
    */
  def readJsonUnioned(spark: SparkSession, path: String,
                      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }
}
