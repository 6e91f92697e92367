package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.etl.InfluxSink
import graft.model.{StateAttributesRow, StateRow, StatesMetaRow}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** End-to-end composition of the reference program (watermark → export →
  * transform → load) against a mock InfluxDB that serves BOTH endpoints:
  * /api/v2/query (watermark) and /api/v2/write (sink). */
class BackfillSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // oldest point in the sink: 2023-01-01T00:00:10Z
  private val watermarkCsv =
    """,result,table,_time,_value
      |,_result,0,2023-01-01T00:00:10Z,1.0
      |""".stripMargin

  test("full pipeline: only rows older than the sink watermark are loaded") {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/query", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val b = watermarkCsv.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    server.createContext("/api/v2/write", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        writes.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(204, -1); ex.close()
      }
    })
    server.start()
    try {
      val cfg = InfluxSink.Config(
        s"http://127.0.0.1:${server.getAddress.getPort}", "o", "b", "t")
      val watermark = graft.sources.InfluxWatermarkSource.oldestTimestamp(cfg)
        .map(_.toEpochMilli)
      watermark shouldBe Some(1672531210000L)

      // 1672531200.0 = 2023-01-01T00:00:00Z (older → exported);
      // 1672531220.0 = :20 (younger than the :10 watermark → excluded)
      val states = Seq(
        StateRow(1, Some(10), "21.5", 1672531200.0),
        StateRow(1, Some(10), "22.5", 1672531220.0)).toDF()
      val meta = Seq(StatesMetaRow(1, "sensor.kitchen")).toDF()
      val attrs = Seq(StateAttributesRow(10,
        """{"unit_of_measurement":"C","friendly_name":"K"}""")).toDF()

      val points = Backfill.plan(states, meta, attrs, watermark)
      InfluxSink.write(InfluxSink.asPoints(points), cfg)

      val lines = writes.toArray(Array.empty[String]).flatMap(_.split("\n"))
      lines.length shouldBe 1
      lines.head should startWith("C,")                 // measurement = unit
      lines.head should include("value=21.5")           // numeric state path
      lines.head should include("friendly_name=K")
      lines.head should endWith("1672531200000000000")  // ns timestamp
    } finally server.stop(0)
  }

  test("statistics backfill: only rows older than the sink watermark " +
    "load, through the full mock-server round trip") {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/query", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val b = watermarkCsv.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    server.createContext("/api/v2/write", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        writes.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(204, -1); ex.close()
      }
    })
    server.start()
    try {
      val cfg = InfluxSink.Config(
        s"http://127.0.0.1:${server.getAddress.getPort}", "o", "b", "t")
      val watermark = graft.sources.InfluxWatermarkSource.oldestTimestamp(cfg)
        .map(_.toEpochMilli)
      // :00 hour row older than the :10 watermark → exported; :20 excluded
      val stats = Seq(
        (1, 1672531200000L, 20.0, 19.0, 21.0, 20.5, 3.0),
        (1, 1672531220000L, 30.0, 29.0, 31.0, 30.5, 4.0)
      ).toDF("metadata_id", "start_ts_ms", "mean", "min", "max", "state", "sum")
      val meta = Seq((1, "sensor.temp_attic", "C", true))
        .toDF("metadata_id", "statistic_id", "unit_of_measurement", "has_mean")
      val points = Backfill.statisticsPlan(stats, meta, watermark)
      InfluxSink.write(InfluxSink.asPoints(points), cfg)
      val lines = writes.toArray(Array.empty[String]).flatMap(_.split("\n"))
      lines.length shouldBe 1
      lines.head should startWith("C,")                 // measurement = unit
      lines.head should include("entity_id=temp_attic")
      lines.head should include("mean=20.0")            // mean-type triple
      lines.head should not include "sum="
      lines.head should endWith("1672531200000000000")  // ns timestamp
    } finally server.stop(0)
  }

  /** A recorder database behind `jdbc:sqlite:<path>` (embedded Derby, see
    * [[DerbyAsSqliteDriver]]), seeded with `rows` per table. */
  private def seedRecorder(rows: Map[String, Seq[String]]): String = {
    val path = java.nio.file.Files.createTempDirectory("graft-recorder")
      .resolve("db").toString
    val c = DriverManager.getConnection(DerbyAsSqliteDriver.Prefix + path)
    try {
      val st = c.createStatement()
      Seq(
        """CREATE TABLE states_meta ("metadata_id" INTEGER NOT NULL,
          | "entity_id" VARCHAR(255))""".stripMargin,
        """CREATE TABLE state_attributes ("attributes_id" INTEGER NOT NULL,
          | "shared_attrs" VARCHAR(4096))""".stripMargin,
        """CREATE TABLE states ("state_id" INTEGER NOT NULL,
          | "metadata_id" INTEGER, "attributes_id" INTEGER,
          | "state" VARCHAR(255), "last_updated_ts" DOUBLE)""".stripMargin,
        """CREATE TABLE statistics_meta ("id" INTEGER NOT NULL,
          | "statistic_id" VARCHAR(255), "unit_of_measurement" VARCHAR(255),
          | "has_mean" BOOLEAN, "has_sum" BOOLEAN)""".stripMargin,
        """CREATE TABLE statistics ("id" INTEGER NOT NULL,
          | "metadata_id" INTEGER, "start_ts" DOUBLE, "mean" DOUBLE,
          | "min" DOUBLE, "max" DOUBLE, "state" DOUBLE,
          | "sum" DOUBLE)""".stripMargin
      ).foreach(st.execute)
      for ((table, values) <- rows; v <- values)
        st.execute(s"INSERT INTO $table VALUES ($v)")
      st.close()
    } finally c.close()
    path
  }

  /** Sums the input records of the tasks of one job group's jobs, and
    * notes when the job of a second, marker group has ended. */
  private final class GroupInputRecords(group: String, marker: String)
    extends SparkListener {
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    @volatile private var markerJob = -1
    @volatile var markerDone = false
    val records = new AtomicLong
    private def groupOf(e: SparkListenerJobStart): String =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (groupOf(e) == group) e.stageIds.foreach(stages.add)
      else if (groupOf(e) == marker) markerJob = e.jobId
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone = true
  }

  /** Runs `body` under a fresh job group; returns its result and the input
    * records its jobs read. A marker job run afterwards flushes the
    * asynchronous listener bus: once its end arrives, so have all of the
    * group's task ends. */
  private def inputRecordsOf[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val group = s"backfill-spec-${System.nanoTime()}"
    val l = new GroupInputRecords(group, group + "-marker")
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!l.markerDone && System.nanoTime() < deadline) Thread.sleep(10)
      l.markerDone shouldBe true
      (out, l.records.get)
    } finally sc.removeSparkListener(l)
  }

  test("Backfill.run and runStatistics read each recorder row once and " +
    "return exactly the lines the server received") {
    DerbyAsSqliteDriver.registered {
      // :00 rows are older than the :10 watermark (exported), :20 rows are
      // not. No junk states: their filter is pushed into the database, and
      // the read count below is every row of every table
      val db = seedRecorder(Map(
        "states_meta" -> Seq("1, 'sensor.kitchen'", "2, 'switch.lamp'"),
        "state_attributes" -> Seq(
          """10, '{"unit_of_measurement":"C","friendly_name":"K"}'""",
          "11, '{}'"),
        "states" -> Seq(
          "1, 1, 10, '21.5', 1672531200.0",
          "2, 1, 10, '22.5', 1672531220.0",
          "3, 2, 11, 'on', 1672531100.0"),
        "statistics_meta" -> Seq(
          "1, 'sensor.temp_attic', 'C', true, false",
          "2, 'sensor.energy_main', 'kWh', false, true"),
        "statistics" -> Seq(
          "1, 1, 1672531200.0, 20.0, 19.0, 21.0, NULL, NULL",
          "2, 1, 1672531220.0, 30.0, 29.0, 31.0, NULL, NULL",
          "3, 2, 1672531200.0, NULL, NULL, NULL, 5.5, 7.0")))
      val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/api/v2/query", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          ex.getRequestBody.readAllBytes()
          val b = watermarkCsv.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b); ex.close()
        }
      })
      server.createContext("/api/v2/write", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          writes.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          ex.sendResponseHeaders(204, -1); ex.close()
        }
      })
      server.start()
      def received(): Seq[String] =
        Iterator.continually(writes.poll()).takeWhile(_ != null)
          .flatMap(_.split("\n")).toVector
      try {
        val cfg = InfluxSink.Config(
          s"http://127.0.0.1:${server.getAddress.getPort}", "o", "b", "t")
        val (nStates, statesRead) = inputRecordsOf(Backfill.run(spark, db, cfg))
        val statesLines = received()
        nStates shouldBe statesLines.length
        statesLines.map(_.takeWhile(_ != ',')).sorted shouldBe Seq("C", "default_measurement")
        statesRead shouldBe 2 + 2 + 3 // states_meta + state_attributes + states

        val (nStats, statsRead) = inputRecordsOf(Backfill.runStatistics(spark, db, cfg))
        val statsLines = received()
        nStats shouldBe statsLines.length
        statsLines.map(_.takeWhile(_ != ',')).sorted shouldBe Seq("C", "kWh")
        statsRead shouldBe 2 + 3 // statistics_meta + statistics
      } finally server.stop(0)
    }
  }

  test("missing watermark exports everything (empty-bucket / Q1 path)") {
    val states = Seq(
      StateRow(1, Some(10), "1", 1672531200.0),
      StateRow(1, Some(10), "2", 1672531220.0),
      StateRow(1, Some(10), "unknown", 1672531230.0)).toDF()
    val meta = Seq(StatesMetaRow(1, "sensor.kitchen")).toDF()
    val attrs = Seq(StateAttributesRow(10, "{}")).toDF()
    Backfill.plan(states, meta, attrs, None).count() shouldBe 2 // junk dropped
  }
}

/** `jdbc:sqlite:<path>` → embedded Derby at `<path>`: Spark ships no SQLite
  * JDBC driver, so the recorder entry points read a Derby database through
  * their unmodified `jdbc:sqlite:` URL. */
final class DerbyAsSqliteDriver extends Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(DerbyAsSqliteDriver.Prefix)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else DriverManager.getConnection(
      s"jdbc:derby:${url.stripPrefix(DerbyAsSqliteDriver.Prefix)};create=true")
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("graft")
}

object DerbyAsSqliteDriver {
  val Prefix = "jdbc:sqlite:"

  /** Runs `body` with the driver registered, and deregisters it after. */
  def registered[T](body: => T): T = {
    val d = new DerbyAsSqliteDriver
    DriverManager.registerDriver(d)
    try body finally DriverManager.deregisterDriver(d)
  }
}
