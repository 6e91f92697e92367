package graftbench

import graft.Backfill
import graft.etl.{InfluxSink, Sources}
import graft.sources.InfluxRollupRead
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, round}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Self-tests of the benchmark's own parts: the plain-Scala expectation
  * against the program on a tiny seed (through the `jdbc:sqlite:` shim and
  * the stub, as the benchmark runs it), and the stub's digest when a batch
  * is refused once and retried. */
class SelfSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tiny = Recorder.Sizes(entities = 60, blobs = 80, states = 2000,
    statSensors = 30, statHours = 12, sampleHours = 6, samplesPerHour = 6)
  private val work = Files.createTempDirectory("e2ebench-selfspec")
  System.setProperty("derby.system.home", work.toString)
  System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  private lazy val data = Recorder.generate(7L, tiny)
  private lazy val db = {
    val p = work.resolve("recorder").toString
    Recorder.seed(p, data)
    p
  }

  override def afterAll(): Unit = spark.stop()

  private def lines(points: org.apache.spark.sql.DataFrame): Vector[String] =
    InfluxSink.asPoints(points).collect().map(InfluxSink.toLine).toVector.sorted

  test("the generated recorder exercises every quirk the expectation models") {
    val states = data.states.map(_.state).toSet
    assert(Set("unknown", "unavailable", "None").exists(states))
    assert(states.exists(_.startsWith("-")) && states.contains("007"))
    assert(data.states.exists(_.attributesId.isEmpty))
    assert(data.blobs.exists(_.attrs.isEmpty))
    assert(data.entities.exists(e => e.entityId.count(_ == '.') > 1))
    assert(data.entities.exists(!_.inMeta))
    val keys = data.blobs.flatMap(_.attrs).flatten.map(_._1).toSet
    assert(Set("id", "temperature", "unit_of_measurement", "friendly_name").subsetOf(keys))
  }

  test("states expectation equals Backfill.plan over the shim, with and without a watermark") {
    SqliteShim.register()
    val before = SqliteShim.counts()
    val read = (t: String) => Sources.sqliteJdbc(spark, db, t)
    val (s, m, a) = (read("states"), read("states_meta"), read("state_attributes"))
    for (wm <- Seq(None, Some(data.statesMidMs)))
      assert(lines(Backfill.plan(s, m, a, wm)) == Expect.states(data, wm).sorted)
    val used = SqliteShim.counts() - before
    assert(used.statements > 0 && used.rows >= data.states.size)
  }

  test("statistics expectation equals Backfill.statisticsPlan over the shim") {
    val stats = Sources.sqliteJdbc(spark, db, "statistics")
      .withColumn("start_ts_ms", round(col("start_ts") * 1000).cast("long"))
    val meta = Sources.sqliteJdbc(spark, db, "statistics_meta")
      .withColumnRenamed("id", "metadata_id")
    for (wm <- Seq(None, Some(data.statsMidMs)))
      assert(lines(Backfill.statisticsPlan(stats, meta, wm)) ==
        Expect.statistics(data, wm).sorted)
  }

  test("reverse expectation equals statisticsRead → reverseStatisticsPlan off the stub") {
    val stub = new InfluxStub(threads = 2,
      history = Some(new InfluxStub.History("W", data)))
    try {
      val read = InfluxRollupRead.statisticsRead(spark,
        InfluxRollupRead.statisticsOptions(Recorder.HourMs, Map(
          "url" -> stub.url, "bucket" -> "b", "readPartitions" -> "3",
          "rollup.group" -> "tag:domain,tag:entity_id", "rollup.measurement" -> "W",
          "rollup.startMs" -> Recorder.T0Ms.toString,
          "rollup.stopMs" -> data.sampleStopMs.toString)))
      val meta = Sources.sqliteJdbc(spark, db, "statistics_meta")
        .withColumnRenamed("id", "metadata_id")
      assert(lines(Backfill.reverseStatisticsPlan(read, meta, None)) ==
        Expect.reverseStatistics(data).sorted)
      assert(stub.counters().scanRequests == 3)
    } finally stub.stop()
  }

  test("a batch refused with 503 and retried is digested once") {
    val stub = new InfluxStub(threads = 2, fail503Every = 10)
    try {
      val w = new InfluxSink.HttpLineWriter(
        InfluxSink.Config(url = stub.url, org = "o", bucket = "b", token = "t"))
      val a = Seq("m,t=1 v=1.0 1", "m,t=2 v=2.0 2")
      val b = Seq("m,t=3 v=3.0 3")
      w.writeBatch(a) // first attempt 1: accepted
      w.writeBatch(b) // first attempt 2: 503, then the writer's retry
      val c = stub.counters()
      assert(c.accepted == Digest.ofLines(a ++ b))
      assert(c.writeRequests == 3 && c.http5xx == 1 && c.retries == 1)
    } finally stub.stop()
  }

  test("the digest ignores line order and counts repeats") {
    val xs = Seq("a 1", "b 2", "c 3")
    assert(Digest.ofLines(xs) == Digest.ofLines(xs.reverse))
    assert(Digest.ofBody(xs.mkString("\n").getBytes("UTF-8")) == Digest.ofLines(xs))
    assert(Digest.ofLines(xs :+ "a 1") != Digest.ofLines(xs))
  }
}
