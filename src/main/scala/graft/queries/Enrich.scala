package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Artifacts
import graft.sources.Tables

/** Deterministic security-event enrichment of the synthetic `events` table.
  *
  * The reference's AQL corpus (reference: qradar/input/queries.json:2-3)
  * filters on IPs, ports and category codes that the driver's synthetic
  * `events` table does not carry. To execute those operators *natively* and
  * still oracle-check them in DuckDB, we derive the security columns
  * deterministically from `event_id`/`user_id` with integer arithmetic that
  * is expressible identically in Spark and ANSI SQL. `sqlCte` below is the
  * DuckDB-side mirror of `securityEvents` — the two MUST stay in sync
  * (the driver's hash-compare enforces it every round).
  *
  * Queries read the derived columns as STORED columns, the way the
  * reference's ETL lands its report fields before ClickHouse serves them
  * (reference: clickhouse/helpers.py:11-128, clickhouse/clickhouse.py:70-81):
  * [[landed]] runs `securityEvents` once per fixture `events` file listing
  * and lands the result as parquet, so no query re-analyzes, re-plans or
  * re-evaluates the 20 expressions. `sqlCte` stays the oracle's
  * independent mirror: DuckDB re-derives every column from the raw
  * fixture, so a landing that drifted from the derivation fails the
  * hash-compare.
  *
  * Column semantics (AQL analog in parens):
  *  - source_ip / destination_ip (sourceip/destinationip): mix of RFC1918,
  *    public, and loopback-adjacent addresses so CIDR predicates have
  *    non-trivial selectivity.
  *  - destination_port (destinationport), category/highlevelcategory,
  *  - domain_id (domainId, 0..24 -> `nation` dim = DOMAINNAME lookup),
  *  - qid (qid, 0..199 -> `part` dim = QIDNAME lookup),
  *  - device_type (devicetype, 0..4 -> `region` dim = LOGSOURCETYPENAME).
  */
object Enrich {

  private def s(c: Column): Column = c.cast("string")

  /** The enriched events table of fixture `dir`, read from its landing
    * (see [[landedPath]]) with the memoized schema: a warm call runs no
    * Spark job. */
  def landed(spark: SparkSession, dir: String): DataFrame =
    Tables.readPath(spark, landedPath(spark, dir))

  /** Where `securityEvents(Tables.events(spark, dir))` is landed as
    * parquet: written on the first call per `events` leaf listing (path,
    * length, mtime), so a rewritten `events.parquet` lands again. The
    * write keeps the scan's own partitioning, one file per input split. */
  def landedPath(spark: SparkSession, dir: String): String =
    Artifacts.land("security_events", dir, eventsInput(spark, dir)) {
      out => securityEvents(Tables.events(spark, dir)).write.mode("overwrite").parquet(out)
    }

  /** The `events` leaf listing of fixture `dir`: the input fingerprint of
    * every artifact derived from the security events. */
  private[queries] def eventsInput(spark: SparkSession, dir: String): Artifacts.Input =
    Tables.listing(spark, s"$dir/events.parquet").getOrElse(Nil)

  /** Spark-side derivation, run by [[landedPath]] (and from raw rows by
    * the ladder stress). Keep in lock-step with [[sqlCte]]. */
  def securityEvents(events: DataFrame): DataFrame = {
    val e = col("event_id")
    val u = col("user_id")
    val srcIp =
      when(e % 4 === 0, concat(lit("10."), s(u % 256), lit("."), s((e / 7).cast("long") % 256), lit("."), s(e % 256)))
        .when(e % 4 === 1, concat(lit("172."), s(lit(16) + e % 16), lit("."), s(u % 256), lit("."), s((e / 3).cast("long") % 256)))
        .when(e % 4 === 2, concat(lit("192.168."), s(u % 256), lit("."), s(e % 256)))
        .otherwise(concat(lit("203.0."), s(u % 114), lit("."), s(e % 256)))
    val dstIp =
      when(e % 3 === 0, concat(lit("10.99."), s(u % 256), lit("."), s(e % 256)))
        .when(e % 3 === 1, concat(lit("8.8."), s(u % 256), lit("."), s(e % 256)))
        .otherwise(concat(lit("172."), s(lit(16) + u % 16), lit(".5."), s(e % 256)))
    // Packed-Long twins of the IP strings, derived with the same branch
    // arithmetic (octets are 0..255 by construction, so string-parse and
    // direct pack agree exactly). This is the pack-at-ingest scale design:
    // every CIDR predicate downstream is 2 ALU ops on the Long — no regex,
    // no dotted-quad parse, and the codegen'd predicate stays small (the
    // string-built form inlined the whole concat CASE into every CIDR test
    // after predicate pushdown, breaking Janino's 64KB method limit).
    val srcPacked =
      when(e % 4 === 0, lit(10L * 16777216L) + (u % 256) * 65536L +
        ((e / 7).cast("long") % 256) * 256L + e % 256)
        .when(e % 4 === 1, lit(172L * 16777216L) + (lit(16L) + e % 16) * 65536L +
          (u % 256) * 256L + (e / 3).cast("long") % 256)
        .when(e % 4 === 2, lit(192L * 16777216L + 168L * 65536L) +
          (u % 256) * 256L + e % 256)
        .otherwise(lit(203L * 16777216L) + (u % 114) * 256L + e % 256)
    val dstPacked =
      when(e % 3 === 0, lit(10L * 16777216L + 99L * 65536L) + (u % 256) * 256L + e % 256)
        .when(e % 3 === 1, lit(8L * 16777216L + 8L * 65536L) + (u % 256) * 256L + e % 256)
        .otherwise(lit(172L * 16777216L) + (lit(16L) + u % 16) * 65536L +
          lit(5L * 256L) + e % 256)
    // One projection for all 20 columns (none exists in `events`): chained
    // withColumn calls re-analyze the growing plan once per call.
    val derived = Seq(
      "source_ip" -> srcIp,
      "destination_ip" -> dstIp,
      "source_ip_packed" -> srcPacked,
      "destination_ip_packed" -> dstPacked,
      "destination_port" -> (e * 131) % 1000,
      // (e/11) decorrelates category from the mod-4/mod-3 IP branches so
      // composite category+CIDR predicates keep non-trivial selectivity
      "category" -> (lit(4000L) + (e / 11).cast("long") % 48),
      "highlevelcategory" -> (lit(3000L) + (u % 2) * 1000),
      "domain_id" -> (u % 25).cast("int"),
      "qid" -> e % 200,
      "device_type" -> (e % 5).cast("int"),
      // custom-property analogs used by the faithful AllowedInbound/
      // Outbound projections (reference: qradar/input/queries.json:2-3)
      "source_port" -> (e * 17) % 65536,
      "event_count" -> (lit(1L) + e % 5),
      "rule_name" -> concat(lit("rule_"), s(e % 7)),
      "source_geo" -> concat(lit("geo_"), s(u % 30)),
      "dest_geo" -> concat(lit("geo_"), s((u + 7) % 30)),
      "mitre_tactic" -> concat(lit("TA00"), s(e % 10)),
      "mitre_technique" -> concat(lit("T1"), s(lit(100L) + e % 90)),
      "action" ->
        when(e % 3 === 0, "permit").when(e % 3 === 1, "deny").otherwise("monitor"),
      "policy_name" -> concat(lit("policy_"), s(u % 12)),
      "log_source_id" -> (e % 100).cast("int"))
    events.select(col("*") +: derived.map { case (n, c) => c.as(n) }: _*)
  }

  /** DuckDB mirror of [[securityEvents]] as a CTE body. Oracle queries embed
    * it as `WITH e AS ($sqlCte) SELECT ...`.
    */
  val sqlCte: String =
    """SELECT event_id, ts, user_id, event_type, value,
      |  CASE CAST(event_id % 4 AS INT)
      |    WHEN 0 THEN '10.' || (user_id % 256) || '.' || ((event_id // 7) % 256) || '.' || (event_id % 256)
      |    WHEN 1 THEN '172.' || (16 + event_id % 16) || '.' || (user_id % 256) || '.' || ((event_id // 3) % 256)
      |    WHEN 2 THEN '192.168.' || (user_id % 256) || '.' || (event_id % 256)
      |    ELSE '203.0.' || (user_id % 114) || '.' || (event_id % 256)
      |  END AS source_ip,
      |  CASE CAST(event_id % 3 AS INT)
      |    WHEN 0 THEN '10.99.' || (user_id % 256) || '.' || (event_id % 256)
      |    WHEN 1 THEN '8.8.' || (user_id % 256) || '.' || (event_id % 256)
      |    ELSE '172.' || (16 + user_id % 16) || '.5.' || (event_id % 256)
      |  END AS destination_ip,
      |  (event_id * 131) % 1000 AS destination_port,
      |  4000 + (event_id // 11) % 48 AS category,
      |  3000 + (user_id % 2) * 1000 AS highlevelcategory,
      |  CAST(user_id % 25 AS INT) AS domain_id,
      |  event_id % 200 AS qid,
      |  CAST(event_id % 5 AS INT) AS device_type,
      |  (event_id * 17) % 65536 AS source_port,
      |  1 + event_id % 5 AS event_count,
      |  'rule_' || (event_id % 7) AS rule_name,
      |  'geo_' || (user_id % 30) AS source_geo,
      |  'geo_' || ((user_id + 7) % 30) AS dest_geo,
      |  'TA00' || (event_id % 10) AS mitre_tactic,
      |  'T1' || (100 + event_id % 90) AS mitre_technique,
      |  CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'permit' WHEN 1 THEN 'deny'
      |       ELSE 'monitor' END AS action,
      |  'policy_' || (user_id % 12) AS policy_name,
      |  CAST(event_id % 100 AS INT) AS log_source_id
      |FROM events""".stripMargin
}
