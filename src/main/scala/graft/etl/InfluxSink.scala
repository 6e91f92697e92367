package graft.etl

import graft.model.InfluxPoint
import graft.sources.{InfluxDataWriter, PointOrdinals}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.SQLExecution

import java.io.IOException
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

/** S3: the InfluxDB batch sink, rebuilt as an executor-parallel
  * line-protocol writer (the reference serializes Point objects and POSTs
  * synchronously one 10k batch at a time from a single thread,
  * sqllite2influxdb.py:100-161).
  *
  * Design: every partition runs the one per-task line writer,
  * [[graft.sources.InfluxDataWriter]] (the same one `format("influx")`
  * runs), which builds line-protocol strings locally and POSTs straight to
  * `/api/v2/write`, giving N-way parallel writes with bounded memory
  * (O(batchSize) lines resident, mirroring the reference's O(BATCH_SIZE)
  * pull loop at sqllite2influxdb.py:183-189). Idempotent by Influx point
  * overwrite semantics (same measurement+tagset+time ⇒ upsert), so Spark
  * task retries are safe (SURVEY §2.10-T3).
  *
  * `pointByPoint` reproduces the reference's DEBUG per-point write mode
  * (sqllite2influxdb.py:148-153).
  */
object InfluxSink {

  final case class Config(url: String, org: String, bucket: String,
                          token: String, batchSize: Int = 10000,
                          pointByPoint: Boolean = false)

  private val ConnectTimeoutMs = 10000
  private val ReadTimeoutMs = 30000
  private val MaxRetries = 3

  /** S4: config from the environment with fail-fast validation, mirroring
    * the reference's .env load + exit(1) on missing values
    * (sqllite2influxdb.py:10-31, quirk Q8). Driver-side errors are fatal;
    * row-level errors stay permissive (NULL propagation). */
  def configFromEnv(env: Map[String, String] = sys.env): Config = {
    def req(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(s"missing required env var $k"))
    val cfg = Config(
      url = req("INFLUXDB_URL"),
      org = req("INFLUXDB_ORG"),
      bucket = req("INFLUXDB_BUCKET"),
      token = req("INFLUXDB_TOKEN"),
      batchSize = env.getOrElse("BATCH_SIZE", "10000").toInt,
      pointByPoint = env.getOrElse("DEBUG_MODE", "false").toBoolean)
    require(cfg.batchSize > 0, s"BATCH_SIZE must be positive: ${cfg.batchSize}")
    require(cfg.url.startsWith("http"), s"INFLUXDB_URL must be http(s): ${cfg.url}")
    cfg
  }

  /** Line-protocol escaping per the InfluxDB v2 reference:
    * measurement: escape ',' and ' '; tag key/value and field key: escape
    * ',', '=', ' '; string field value: escape '"' and '\'. */
  def escMeasurement(s: String): String =
    s.replace(",", "\\,").replace(" ", "\\ ")
  def escTag(s: String): String =
    s.replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")
  def escFieldStr(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** One point → one line. Numeric fields bare, string fields quoted;
    * timestamp in ns (time_ms * 1e6). Tag order is sorted for deterministic
    * output (Influx recommends sorted tags for write performance). */
  def toLine(p: InfluxPoint): String = toLineNs(p, p.time_ms * 1000000L)

  /** [[toLine]] with an EXPLICIT nanosecond timestamp — the marker
    * cleanup replays fetched family points losslessly, including foreign
    * writers' sub-millisecond times that the ms-typed point row cannot
    * carry (p.time_ms is ignored). */
  def toLineNs(p: InfluxPoint, timeNs: Long): String = {
    val sb = new StringBuilder(128)
    sb.append(escMeasurement(p.measurement))
    p.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(',').append(escTag(k)).append('=').append(escTag(v))
    }
    val fields =
      p.fields_num.toSeq.sortBy(_._1).map { case (k, v) => s"${escTag(k)}=$v" } ++
      p.fields_str.toSeq.sortBy(_._1).map { case (k, v) => s"""${escTag(k)}="${escFieldStr(v)}"""" }
    sb.append(' ').append(fields.mkString(","))
    sb.append(' ').append(timeNs)
    sb.toString
  }

  /** Pluggable transport so tests capture lines without a server. */
  trait LineWriter extends Serializable {
    def writeBatch(lines: Seq[String]): Unit
  }

  /** The one Influx v2 HTTP call every client here makes: POST `body` to
    * `cfg.url + path` with the token, fixed connect/read timeouts and
    * URL-encoded query parameters (an org such as `home lab` or a bucket
    * such as `a&b` arrives intact). The response body is always read
    * whole — the error body on >= 400 — so keep-alive connections stay
    * reusable. Returns (status, body). */
  private[graft] def request(cfg: Config, path: String,
                             params: Seq[(String, String)],
                             contentType: String, body: Array[Byte],
                             accept: Option[String] = None): (Int, String) = {
    val query = params.map { case (k, v) =>
      k + "=" + URLEncoder.encode(v, StandardCharsets.UTF_8).replace("+", "%20")
    }.mkString("&")
    val conn = URI.create(s"${cfg.url}$path?$query").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(ConnectTimeoutMs)
    conn.setReadTimeout(ReadTimeoutMs)
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setFixedLengthStreamingMode(body.length)
    conn.setRequestProperty("Authorization", s"Token ${cfg.token}")
    conn.setRequestProperty("Content-Type", contentType)
    accept.foreach(conn.setRequestProperty("Accept", _))
    val out = conn.getOutputStream
    try out.write(body) finally out.close()
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text =
      if (in == null) ""
      else try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    (code, text)
  }

  /** [[request]] for calls with no retry: any status >= 300 fails fast
    * with `what` and the start of the error body (quirk Q8). */
  private[graft] def requestOk(cfg: Config, what: String, path: String,
                               params: Seq[(String, String)],
                               contentType: String, body: String,
                               accept: Option[String] = None): String = {
    val (code, text) = request(cfg, path, params, contentType,
      body.getBytes(StandardCharsets.UTF_8), accept)
    if (code >= 300)
      throw new RuntimeException(s"$what failed: HTTP $code ${text.take(300)}")
    text
  }

  /** Production-posture HTTP transport: connect/read timeouts, response
    * body always drained (keep-alive connections are reusable), bounded
    * exponential-backoff retry on 5xx/429/IO errors. 4xx (other than 429)
    * is a permanent error — the batch is malformed, retrying can't help. */
  final class HttpLineWriter(cfg: Config) extends LineWriter {
    override def writeBatch(lines: Seq[String]): Unit = {
      if (lines.isEmpty) return
      val body = lines.mkString("\n").getBytes(StandardCharsets.UTF_8)
      val params = Seq("org" -> cfg.org, "bucket" -> cfg.bucket,
        "precision" -> "ns")
      var attempt = 0
      while (true) {
        val failure: String =
          try {
            val (code, detail) = request(cfg, "/api/v2/write", params,
              "text/plain; charset=utf-8", body)
            if (code < 300) return
            if (code >= 400 && code < 500 && code != 429)
              throw new RuntimeException(
                s"influx write rejected: HTTP $code ${detail.take(500)}")
            s"HTTP $code"
          } catch {
            case e: IOException => e.toString
          }
        attempt += 1
        if (attempt > MaxRetries)
          throw new RuntimeException(
            s"influx write failed after $MaxRetries retries: $failure")
        Thread.sleep(200L << (attempt - 1)) // 200/400/800ms backoff
      }
    }
  }

  /** Write a point Dataset and return the number of lines written, from
    * one execution of its plan. Every partition runs the one per-task
    * line writer, [[graft.sources.InfluxDataWriter]], which batches
    * `batchSize` lines exactly like the reference's fetchmany loop; the
    * result is the sum of the partitions' committed line counts. */
  def write(points: Dataset[InfluxPoint], cfg: Config,
            writerFactory: Config => LineWriter = new HttpLineWriter(_)): Long = {
    val ords = PointOrdinals.resolve(points.schema)
    val qe = points.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("influx write")) {
      qe.toRdd.mapPartitionsWithIndex { (partitionId, rows) =>
        val w = new InfluxDataWriter(partitionId, cfg, writerFactory(cfg), ords)
        rows.foreach(w.write)
        Iterator.single(w.commit().nLines)
      }.fold(0L)(_ + _)
    }
  }

  /** points DataFrame (Schemas.influxPoint columns) → typed Dataset. */
  def asPoints(df: DataFrame): Dataset[InfluxPoint] = {
    import df.sparkSession.implicits._
    df.select("measurement", "tags", "fields_num", "fields_str", "time_ms")
      .as[InfluxPoint]
  }
}
