package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPInputStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.HttpPushSink

/** S9/O3: gzip push sink with retry/backoff and (batchId, partition)
  * idempotency keys. The fake transport lives in a static object so
  * executor-side calls land in driver-visible state (local mode).
  */
object HttpPushSinkSpec {
  val attempts = new AtomicInteger(0)
  // idempotency key -> payload; putIfAbsent models an idempotent receiver
  val received = new ConcurrentHashMap[(Long, Int), Array[Byte]]()
  @volatile var failFirst = 0

  val transport: HttpPushSink.Transport = (batchId, pid, payload) => {
    val n = attempts.incrementAndGet()
    if (n <= failFirst) 503
    else { received.putIfAbsent((batchId, pid), payload); 200 }
  }

  def gunzip(bytes: Array[Byte]): String = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    new String(in.readAllBytes(), "UTF-8")
  }
}

class HttpPushSinkSpec extends SparkSpec {
  import spark.implicits._
  import HttpPushSinkSpec._

  test("withRetry: backoff then success; exhausts to the final failure") {
    var calls = 0
    val got = HttpPushSink.withRetry(maxAttempts = 3, baseDelayMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("boom") else 42
    }
    assert(got === 42 && calls === 3)
    var calls2 = 0
    val ex = intercept[RuntimeException] {
      HttpPushSink.withRetry(maxAttempts = 2, baseDelayMs = 1) {
        calls2 += 1; throw new RuntimeException("always")
      }
    }
    assert(ex.getMessage === "always" && calls2 === 2)
  }

  test("O4 taxonomy: fatal 4xx is never retried; 408/429/5xx back off") {
    // deterministic client error: exactly one attempt, no backoff sleeps
    var calls = 0
    val fatal = intercept[HttpPushSink.HttpClientError] {
      HttpPushSink.withRetry(maxAttempts = 5, baseDelayMs = 1) {
        calls += 1; HttpPushSink.raiseForStatus(400, "bad payload")
      }
    }
    assert(fatal.status === 400 && calls === 1)

    // throttle (429) is classified retryable despite being 4xx
    var calls429 = 0
    HttpPushSink.withRetry(maxAttempts = 3, baseDelayMs = 1) {
      calls429 += 1
      HttpPushSink.raiseForStatus(if (calls429 < 3) 429 else 200)
    }
    assert(calls429 === 3)

    // 5xx retries and carries the status when exhausted
    val server = intercept[HttpPushSink.HttpServerError] {
      HttpPushSink.withRetry(maxAttempts = 2, baseDelayMs = 1) {
        HttpPushSink.raiseForStatus(503)
      }
    }
    assert(server.status === 503)

    // classification boundaries: 408 retryable, 404 fatal, 2xx silent
    intercept[HttpPushSink.HttpServerError] { HttpPushSink.raiseForStatus(408) }
    intercept[HttpPushSink.HttpClientError] { HttpPushSink.raiseForStatus(404) }
    HttpPushSink.raiseForStatus(204)
  }

  test("streaming push: fatal 4xx fails the batch on the first attempt") {
    attempts.set(0); received.clear(); failFirst = 0

    val fatalTransport: HttpPushSink.Transport = (_, _, _) => {
      attempts.incrementAndGet(); 422
    }
    val df = Seq((1L, "a")).toDF("id", "name").coalesce(1)
    val ex = intercept[Exception] {
      HttpPushSink.pushBatch(df, 0L, fatalTransport, maxAttempts = 5, baseDelayMs = 1)
    }
    // the task failed without burning the backoff schedule: local[32]
    // retries the TASK (spark.task.maxFailures=1 in tests → once), but
    // within one task the 422 was attempted exactly once
    assert(attempts.get() < 5)
    assert(ex.getMessage.contains("422") ||
      Option(ex.getCause).exists(_.getMessage.contains("422")))
  }

  test("gzip payload round-trips") {
    val s = "line1\nline2"
    assert(gunzip(HttpPushSink.gzip(s.getBytes("UTF-8"))) === s)
  }

  test("streaming push: retries transient 5xx, delivers each partition once") {
    attempts.set(0); received.clear(); failFirst = 2

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("id", "name").coalesce(1)
    withTempDir("push_ckpt") { ckpt =>
      val q = HttpPushSink.writer(df, transport, maxAttempts = 5, baseDelayMs = 1)
        .option("checkpointLocation", ckpt.toString)
        .start()
      try {
        input.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
      } finally q.stop()
    }

    // two 503s then success: 3 attempts total, exactly one stored payload
    assert(attempts.get() === 3)
    assert(received.size() === 1)
    val ((batchId, _), payload) = {
      val e = received.entrySet().iterator().next()
      (e.getKey, e.getValue)
    }
    assert(batchId === 0L)
    val lines = gunzip(payload).split("\n").sorted.toSeq
    assert(lines === Seq("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}"""))

    // replay of the same (batchId, partition) is deduplicated by the
    // idempotent receiver: size stays 1
    failFirst = 0
    val before = received.size()
    transport(0L, 0, payload)
    assert(received.size() === before)
  }
}
