package graftbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.io.ByteArrayOutputStream
import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}

/** A loopback stand-in for InfluxDB v2, serving the two endpoints the
  * program calls:
  *
  *  - `POST /api/v2/query`: the states and the statistics watermark Flux
  *    queries (each answered from its own configured value), and any other
  *    program answered with the raw sample history inside its
  *    `range(start:, stop:)` as annotated CSV — raw samples, which the
  *    program re-buckets itself;
  *  - `POST /api/v2/write`: accepts line protocol after a modelled delay
  *    (a fixed cost per request plus a cost per body byte), answering a
  *    deterministic share of first attempts with 503.
  *
  * It is not InfluxDB: it does not store points, evaluate Flux or check
  * line syntax. It counts requests, bytes, status codes and in-flight
  * writes, and keeps an order-independent [[Digest]] of every line it
  * accepted.
  *
  * @param fail503Every answer first attempt n (counted from 1 since the
  *                     last [[resetCounters]]) with 503 when
  *                     `n % fail503Every == 2`; 0 disables
  */
final class InfluxStub(threads: Int,
                       fixedDelayMs: Long = 0L,
                       nsPerByte: Long = 0L,
                       fail503Every: Int = 0,
                       statesWatermarkMs: Option[Long] = None,
                       statsWatermarkMs: Option[Long] = None,
                       history: Option[InfluxStub.History] = None) {
  import InfluxStub._

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(pool)
  server.createContext("/api/v2/write", (ex: HttpExchange) => guarded(ex)(write))
  server.createContext("/api/v2/query", (ex: HttpExchange) => guarded(ex)(query))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  // --- counters (all reset together) ---
  private val writeRequests = new AtomicLong
  private val bodyBytes = new AtomicLong
  private val http4xx = new AtomicLong
  private val http5xx = new AtomicLong
  private val retries = new AtomicLong
  private val firstAttempts = new AtomicLong
  private val inflight = new AtomicInteger
  private val maxInflight = new AtomicInteger
  private val watermarkRequests = new AtomicLong
  private val scanRequests = new AtomicLong
  private val scanBytes = new AtomicLong
  private val accepted = new java.util.concurrent.atomic.AtomicReference(Digest.empty)
  /** Bodies answered 503, by digest, so their retry is recognised. */
  private val refused = ConcurrentHashMap.newKeySet[Digest]()

  def resetCounters(): Unit = {
    Seq(writeRequests, bodyBytes, http4xx, http5xx, retries, firstAttempts,
      watermarkRequests, scanRequests, scanBytes).foreach(_.set(0))
    maxInflight.set(0)
    accepted.set(Digest.empty)
    refused.clear()
  }

  def counters(): Counters = Counters(writeRequests.get, bodyBytes.get, http4xx.get,
    http5xx.get, retries.get, maxInflight.get, watermarkRequests.get, scanRequests.get,
    scanBytes.get, accepted.get)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }

  private def guarded(ex: HttpExchange)(h: (HttpExchange, Array[Byte]) => Unit): Unit =
    try h(ex, ex.getRequestBody.readAllBytes())
    catch { case e: Throwable => respond(ex, 500, e.toString.getBytes(UTF_8)) }
    finally ex.close()

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    if (code >= 500) http5xx.incrementAndGet()
    else if (code >= 400) http4xx.incrementAndGet()
    if (body.isEmpty) ex.sendResponseHeaders(code, -1)
    else {
      ex.sendResponseHeaders(code, body.length)
      ex.getResponseBody.write(body)
    }
  }

  private def write(ex: HttpExchange, body: Array[Byte]): Unit = {
    maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try accept(ex, body) finally inflight.decrementAndGet()
  }

  private def accept(ex: HttpExchange, body: Array[Byte]): Unit = {
    writeRequests.incrementAndGet()
    bodyBytes.addAndGet(body.length)
    if (ex.getRequestMethod != "POST") return respond(ex, 405, Array.emptyByteArray)
    val delayNs = fixedDelayMs * 1000000L + nsPerByte * body.length
    if (delayNs > 0) Thread.sleep(delayNs / 1000000L, (delayNs % 1000000L).toInt)
    val d = Digest.ofBody(body)
    if (refused.remove(d)) retries.incrementAndGet()
    else {
      val n = firstAttempts.incrementAndGet()
      if (fail503Every > 0 && n % fail503Every == 2) {
        refused.add(d)
        return respond(ex, 503, "transient: retry".getBytes(UTF_8))
      }
    }
    accepted.accumulateAndGet(d, _ + _)
    respond(ex, 204, Array.emptyByteArray)
  }

  private def query(ex: HttpExchange, body: Array[Byte]): Unit = {
    val flux = new String(body, UTF_8)
    if (flux.contains("limit(n: 1)") && flux.contains("r[\"ha_type\"] == \"statistics\"")) {
      watermarkRequests.incrementAndGet()
      respond(ex, 200, watermarkCsv(statsWatermarkMs))
    } else if (flux.contains("limit(n: 1)") && flux.contains("not exists r[\"ha_type\"]")) {
      watermarkRequests.incrementAndGet()
      respond(ex, 200, watermarkCsv(statesWatermarkMs))
    } else {
      scanRequests.incrementAndGet()
      val h = history.getOrElse(throw new IllegalStateException("no sample history served"))
      val m = RangeRx.findFirstMatchIn(flux)
        .getOrElse(throw new IllegalArgumentException("flux without range(start:, stop:)"))
      val start = Instant.parse(m.group(1).trim).toEpochMilli
      val stop = Option(m.group(2)).map(s => Instant.parse(s.trim).toEpochMilli)
        .getOrElse(Long.MaxValue)
      val csv = h.csv(start, stop)
      scanBytes.addAndGet(csv.length)
      respond(ex, 200, csv)
    }
  }
}

object InfluxStub {
  final case class Counters(writeRequests: Long, bodyBytes: Long, http4xx: Long,
                            http5xx: Long, retries: Long, maxInflight: Long,
                            watermarkRequests: Long, scanRequests: Long, scanBytes: Long,
                            accepted: Digest)

  private val RangeRx = """range\(start:\s*([^,)]+)(?:,\s*stop:\s*([^)]+))?\)""".r

  private def watermarkCsv(ms: Option[Long]): Array[Byte] = ms.fold(Array.emptyByteArray) { t =>
    ("#datatype,string,long,dateTime:RFC3339,double,string,string\n" +
      "#group,false,false,false,false,true,true\n" +
      "#default,_result,,,,,\n" +
      ",result,table,_time,_value,_field,_measurement\n" +
      s",_result,0,${Instant.ofEpochMilli(t)},1.0,value,W\n").getBytes(UTF_8)
  }

  /** Raw samples of one measurement, tagged `domain`/`entity_id`, sorted
    * by time so a range is a contiguous slice. */
  final class History(measurement: String, data: Recorder.Data) {
    private val sorted = data.samples.sortBy(_.timeMs).toArray
    private val times = sorted.map(_.timeMs)
    private val rows: Array[String] = sorted.map { s =>
      val ser = data.series(s.series)
      s",${Instant.ofEpochMilli(s.timeMs)},${s.value.toDouble},value,$measurement," +
        s"${ser.domain},${ser.entity}\n"
    }
    private val tables: Array[Int] = sorted.map(_.series)

    def csv(startMs: Long, stopMs: Long): Array[Byte] = {
      val from = lowerBound(startMs)
      val until = lowerBound(stopMs)
      val head = s"${Instant.ofEpochMilli(startMs)},${Instant.ofEpochMilli(
        math.min(stopMs, data.sampleStopMs))}"
      val out = new ByteArrayOutputStream(64 + (until - from) * 110)
      out.write(("#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339," +
        "dateTime:RFC3339,string,string,string,string,string\n" +
        "#group,false,false,true,true,false,false,true,true,true,true\n" +
        "#default,_result,,,,,,,,,\n" +
        ",result,table,_start,_stop,_time,_value,_field,_measurement,domain,entity_id\n")
        .getBytes(UTF_8))
      var i = from
      while (i < until) {
        out.write(s",_result,${tables(i)},$head${rows(i)}".getBytes(UTF_8))
        i += 1
      }
      out.toByteArray
    }

    private def lowerBound(t: Long): Int = {
      val i = java.util.Arrays.binarySearch(times, t)
      if (i >= 0) { var j = i; while (j > 0 && times(j - 1) == t) j -= 1; j } else -i - 1
    }
  }
}
