package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TimeFns
import graft.ops.{Normalize, Rollup}
import graft.streaming.{KafkaSource, StreamingRollup}

/** The `ingest_rollup` input and pipeline.
  *
  * Input: JSON-lines search-result pages shaped like the reference's
  * records (FIXTURES.md section B), one file per page, spanning a 24 h
  * window. Customers are Zipf-skewed; each customer repeats a small set of
  * flows, so the hourly rollup aggregates. A fixed share of records is
  * malformed (truncated JSON), a fixed share arrives out of order (up to
  * an hour late, inside the watermark), and a fixed share carries `Time` in
  * epoch seconds rather than milliseconds. */
object Ingest {
  final case class Spec(events: Int = 40000, pages: Int = 8)

  val Customers = 50
  val FlowsPerCustomer = 30
  val MalformedShare = 0.01
  val LateShare = 0.05
  val SecondsShare = 0.1

  final case class Generated(events: Int, malformed: Int, files: Seq[File])

  val WindowStartMs = 1721779200000L // 2024-07-24T00:00:00Z
  val Lateness = "2 hours"

  val Schema: StructType = StructType.fromDDL(
    "`domainName` STRING, `Domain` BIGINT, `Event Count` BIGINT, `sourceIP` STRING, " +
      "`destinationIP` STRING, `Destination Port` BIGINT, `Rule Name (custom)` STRING, " +
      "`Log Source Type` STRING, `Time` BIGINT, `Source Network` STRING, " +
      "`Event Name` STRING, `Destination Geographic Country/Region` STRING, " +
      "`Mitre Tactic` STRING, `Mitre Technique` STRING, `CustomProperty~null` STRING")

  private def ip(r: SplittableRandom, privateNet: Boolean): String =
    if (privateNet) s"10.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
    else s"${11 + r.nextInt(180)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"

  /** Zipf(1.1) cumulative weights over `n` ranks. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** Writes `spec.pages` files into `dir` (created empty). Page mtimes
    * increase with the page number, so the file source reads pages in
    * order. The same seed gives byte-identical files. */
  def generate(seed: Long, dir: File, spec: Spec = Spec()): Generated = {
    val r = new SplittableRandom(seed)
    val rules = Seq("Allowed Outbound", "Allowed Inbound", "Denied Inbound", "Port Scan")
    val lsTypes = Seq("Firewall", "Proxy", "DNS", "IDS")
    val names = Seq("Firewall Permit", "Firewall Deny", "DNS Query", "HTTP GET", "TLS Handshake")
    val geos = Seq("NorthAmerica.UnitedStates", "Europe.Germany", "Asia.Japan",
      "Europe.UnitedKingdom", "SouthAmerica.Brazil")
    val ports = Seq(53, 80, 443, 22, 3389, 8080, 25, 123)
    // a flow is every dimension except the customer, time and count
    val flows = Array.tabulate(Customers, FlowsPerCustomer) { (_, _) =>
      val outbound = r.nextInt(2) == 0
      val tactic = f"TA00${1 + r.nextInt(40)}%02d"
      Seq(
        "sourceIP" -> Json.str(ip(r, outbound)),
        "destinationIP" -> Json.str(ip(r, !outbound)),
        "Destination Port" -> ports(r.nextInt(ports.size)).toString,
        "Rule Name (custom)" -> Json.str(rules(r.nextInt(rules.size))),
        "Log Source Type" -> Json.str(lsTypes(r.nextInt(lsTypes.size))),
        "Source Network" -> Json.str(if (r.nextInt(4) == 0) "dmz" else "other"),
        "Event Name" -> Json.str(names(r.nextInt(names.size))),
        "Destination Geographic Country/Region" -> Json.str(geos(r.nextInt(geos.size))),
        "Mitre Tactic" -> Json.str(tactic),
        "Mitre Technique" -> Json.str(s"T${1000 + r.nextInt(600)}"))
    }
    val custCdf = zipfCdf(Customers)
    dir.mkdirs()
    val perPage = (spec.events + spec.pages - 1) / spec.pages
    val stepMs = 86400000.0 / spec.events
    var malformed = 0
    val files = (0 until spec.pages).map { p =>
      val f = new File(dir, f"page-$p%03d.json")
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
      try {
        (p * perPage until math.min(spec.events, (p + 1) * perPage)).foreach { i =>
          val c = pick(custCdf, r.nextDouble())
          val flow = flows(c)(r.nextInt(FlowsPerCustomer))
          var t = WindowStartMs + (i * stepMs).toLong + r.nextInt(math.max(1, stepMs.toInt))
          if (r.nextDouble() < LateShare) t -= 60000L + r.nextInt(59 * 60000)
          val time = if (r.nextDouble() < SecondsShare) t / 1000 else t
          val fields = Seq(
            "domainName" -> Json.str(f"Customer $c%02d Ltd"),
            "Domain" -> c.toString,
            "Event Count" -> (1 + r.nextInt(1 + r.nextInt(20))).toString) ++ flow ++ Seq(
            "Time" -> time.toString,
            "CustomProperty~null" -> "null")
          val line = fields.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
          if (r.nextDouble() < MalformedShare) {
            malformed += 1
            w.write(line, 0, 1 + r.nextInt(line.length - 1))
          } else w.write(line)
          w.write('\n')
        }
      } finally w.close()
      f.setLastModified(1700000000000L + p * 1000L)
      f
    }
    Generated(spec.events, malformed, files)
  }

  /** decode -> rename -> date columns -> event time -> identifier cleaning:
    * the reference's per-record normalization as one column pipeline. */
  def normalize(decoded: DataFrame): DataFrame = {
    val dated = Normalize.addDateCols(Normalize.renameEvents(decoded))
    Normalize.cleanColumnNames(
      dated.withColumn("ts", TimeFns.epochToTimestamp(col("`Start Time`"))).drop("Start Time"))
  }

  val Measure = "Event_Count"

  def dims(normalized: DataFrame): Seq[String] =
    normalized.columns.toSeq.filterNot(c => c == "ts" || c == Measure)

  /** The streaming rollup over every dimension, its input decoded from a
    * text "topic" with one page per micro-batch. `decoded` rows are counted
    * through `observe`, so corrupt drops are read from progress events. */
  def stream(spark: SparkSession, pagesDir: String): DataFrame = {
    val frames = spark.readStream.option("maxFilesPerTrigger", 1).text(pagesDir)
    val decoded = KafkaSource.decodeJson(frames, Schema)
      .observe("decoded", count(lit(1)).as("rows"))
    val norm = normalize(decoded)
    StreamingRollup.hourly(norm, "ts", Measure, dims(norm), lateness = Lateness)
  }

  /** The landed store compacted on read: latest emission per group. */
  def landed(spark: SparkSession, sink: String, dimCols: Seq[String]): DataFrame =
    spark.read.parquet(sink)
      .groupBy((col("hour") +: dimCols.map(c => col(s"`$c`"))): _*)
      .agg(max_by(col("sum_value"), col("batch_id")).as("sum_value"))

  /** The batch answer the landed store must equal: Rollup.hourly over the
    * same pages, decoded in one batch. */
  def expected(spark: SparkSession, pagesDir: String): DataFrame = {
    val norm = normalize(KafkaSource.decodeJson(spark.read.text(pagesDir), Schema))
    Rollup.hourly(norm, "ts", Measure, dims(norm), hourColName = "hour", sumColName = "sum_value")
  }
}
