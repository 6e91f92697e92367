package graftbench

import graft.Backfill
import graft.etl.{InfluxSink, Sources}
import graft.model.InfluxPoint
import graft.sources.{InfluxRollupRead, InfluxWatermarkSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Times `HttpLineWriter.writeBatch` from outside: the sink layer run
  * through `InfluxSink.write`'s public writer factory. */
final class TimedWriter(cfg: InfluxSink.Config) extends InfluxSink.LineWriter {
  private val inner = new InfluxSink.HttpLineWriter(cfg)
  override def writeBatch(lines: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    inner.writeBatch(lines)
    TimedWriter.callNs.add(System.nanoTime() - t0)
  }
}
object TimedWriter {
  val callNs = new ConcurrentLinkedQueue[java.lang.Long]()
}

/** The end-to-end benchmark: one closed-loop client drives the program's
  * public entry points against a generated recorder (embedded Derby behind
  * `jdbc:sqlite:`) and a loopback Influx stub, in one process on
  * `local[cores]`. See README.md beside this project for the workloads,
  * metrics and the layer map.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --out DIR [--cores C] [--data DIR]
  *
  * The last stdout line is one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`.
  */
object Main {

  /** Fixed generator sizes: a seed changes values, never volumes. */
  val sizes: Recorder.Sizes = Recorder.Sizes(entities = 1000, blobs = 1000, states = 20000,
    statSensors = 200, statHours = 72, sampleHours = 36, samplesPerHour = 12)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Checked but untimed iterations after the last set-up, so the JIT has
    * settled before measurement starts. */
  val WarmSeconds = 4.0

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path, cores: Int, data: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") match {
        case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(req("work")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("data"))
  }

  def log(s: String): Unit = System.err.println(s"[e2ebench] $s")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    System.setProperty("derby.system.home", o.work.toString)
    System.setProperty("derby.stream.error.file", o.work.resolve("derby.log").toString)
    // the database is rebuilt every run; skip Derby's fsyncs
    System.setProperty("derby.system.durability", "test")
    SqliteShim.register()
    // exit explicitly either way: Spark's non-daemon threads would keep a
    // JVM whose main thread died alive
    val result = try o.workload match {
      case "analytics_mix" => Analytics.run(o)
      case w => new Runner(o, Workload(w)).run()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    println(result)
    System.out.flush()
    sys.exit(0)
  }

  def newSession(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-e2ebench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(): Unit = SparkSession.getDefaultSession.foreach { s =>
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
        s""""$n": {"value": $v, "unit": "$u"}"""
      }.mkString(", ") + "}}"
}

/** Everything one set-up produces. */
final class Env(val spark: SparkSession, val data: Recorder.Data, val db: String,
                val stub: InfluxStub, val cfg: InfluxSink.Config, val expected: Expected,
                val cores: Int) {
  def close(): Unit = {
    stub.stop()
    SqliteShim.shutdown(db)
  }
}

/** What a correct iteration delivers: the stub's digest of accepted lines
  * and the point counts the program's entry points return. */
final case class Expected(digest: Digest, counts: Seq[Long])

/** One workload: how to stand up its stub, what a correct iteration
  * delivers, the iteration itself, and its layers run one by one. */
sealed trait Workload {
  def stub(d: Recorder.Data, cores: Int): InfluxStub
  def expected(d: Recorder.Data): Expected
  /** One end-to-end operation; returns the point counts the program
    * reports. */
  def iterate(env: Env): Seq[Long]
  /** The traced layer-by-layer run: each layer's public function on its
    * predecessor's output, already materialised. */
  def layers(env: Env, tr: Tracer, m: mutable.Map[String, Double]): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "backfill_states" => BackfillStates
    case "backfill_remote" => BackfillRemote
    case "reverse_statistics" => ReverseStatistics
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The remote-InfluxDB model of `backfill_remote`. */
  val RemoteFixedMs = 20L
  val RemoteNsPerByte = 20L
  val RemoteFail503Every = 10

  /** Materialise a frame in memory; the returned frame reads the cache. */
  def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  def recorderTable(env: Env, t: String): DataFrame = Sources.sqliteJdbc(env.spark, env.db, t)

  /** The source layer: recorder tables read through the program's JDBC
    * source and cached; returns the frames and their total row count. */
  def readTables(env: Env, tr: Tracer, m: mutable.Map[String, Double],
                 tables: String*): (Seq[DataFrame], Long) = {
    val (read, s) = tr.span("Sources.read")(tables.map(t => cached(recorderTable(env, t))))
    m("Sources.read_s") = s
    (read.map(_._1), read.map(_._2).sum)
  }

  /** Transform to noop, then the sink's two halves over cached points:
    * encode (`asPoints` ∘ `toLine`) and POST (`InfluxSink.write` through
    * a timed `HttpLineWriter`). */
  def transformAndSink(env: Env, tr: Tracer, m: mutable.Map[String, Double], rowsIn: Long,
                       plan: => DataFrame): Unit = {
    m("Transform.rows_in") = rowsIn.toDouble
    m("Transform.s") = tr.span("Transform")(plan.write.format("noop").mode("overwrite").save())._2
    val (points, n) = cached(plan)
    m("Transform.points_out") = n.toDouble
    val bytes = env.spark.sparkContext.longAccumulator("line_bytes")
    m("InfluxSink.encode_s") = tr.span("InfluxSink.encode") {
      InfluxSink.asPoints(points).foreachPartition { (it: Iterator[InfluxPoint]) =>
        it.foreach(p => bytes.add(InfluxSink.toLine(p).getBytes(UTF_8).length.toLong))
      }
    }._2
    m("InfluxSink.line_bytes") = bytes.value.toDouble
    TimedWriter.callNs.clear()
    env.stub.resetCounters()
    tr.span("InfluxSink.write") {
      InfluxSink.write(InfluxSink.asPoints(points), env.cfg,
        (c: InfluxSink.Config) => new TimedWriter(c))
    }
    val calls = TimedWriter.callNs.asScala.map(_.toDouble / 1e6).toSeq
    m("InfluxSink.post_s") = calls.sum / 1e3
    m("InfluxSink.post_p50_ms") = if (calls.isEmpty) 0.0 else Probe.median(calls)
    m("InfluxSink.post_p90_ms") = if (calls.isEmpty) 0.0 else Probe.percentile(calls, 0.9)
    m("layer.sink_correct") =
      if (env.stub.counters().accepted == env.expected.digest) 1.0 else 0.0
    points.unpersist()
  }
}

object BackfillStates extends Workload {
  def stub(d: Recorder.Data, cores: Int) = new InfluxStub(threads = cores)
  def expected(d: Recorder.Data): Expected = {
    val lines = Expect.states(d, None)
    Expected(Digest.ofLines(lines), Seq(lines.size.toLong))
  }
  def iterate(env: Env): Seq[Long] = Seq(Backfill.run(env.spark, env.db, env.cfg))
  def layers(env: Env, tr: Tracer, m: mutable.Map[String, Double]): Unit = {
    val (watermark, wmS) = tr.span("InfluxWatermarkSource") {
      InfluxWatermarkSource.oldestTimestamp(env.cfg).map(_.toEpochMilli)
    }
    m("InfluxWatermarkSource.s") = wmS
    val (frames @ Seq(states, meta, attrs), rows) = Workload.readTables(env, tr, m,
      "states", "states_meta", "state_attributes")
    Workload.transformAndSink(env, tr, m, rows, Backfill.plan(states, meta, attrs, watermark))
    frames.foreach(_.unpersist())
  }
}

object BackfillRemote extends Workload {
  def stub(d: Recorder.Data, cores: Int) = new InfluxStub(threads = cores,
    fixedDelayMs = Workload.RemoteFixedMs, nsPerByte = Workload.RemoteNsPerByte,
    fail503Every = Workload.RemoteFail503Every,
    statesWatermarkMs = Some(d.statesMidMs), statsWatermarkMs = Some(d.statsMidMs))
  def expected(d: Recorder.Data): Expected = {
    val states = Expect.states(d, Some(d.statesMidMs))
    val stats = Expect.statistics(d, Some(d.statsMidMs))
    Expected(Digest.ofLines(states) + Digest.ofLines(stats),
      Seq(states.size.toLong, stats.size.toLong))
  }
  def iterate(env: Env): Seq[Long] = Seq(
    Backfill.run(env.spark, env.db, env.cfg),
    Backfill.runStatistics(env.spark, env.db, env.cfg))
  def layers(env: Env, tr: Tracer, m: mutable.Map[String, Double]): Unit = {
    val ((wmStates, wmStats), wmS) = tr.span("InfluxWatermarkSource") {
      (InfluxWatermarkSource.oldestTimestamp(env.cfg).map(_.toEpochMilli),
        InfluxWatermarkSource.oldestStatisticsTimestamp(env.cfg).map(_.toEpochMilli))
    }
    m("InfluxWatermarkSource.s") = wmS
    val (frames @ Seq(states, meta, attrs, stats, smeta), rows) = Workload.readTables(env, tr,
      m, "states", "states_meta", "state_attributes", "statistics", "statistics_meta")
    // the same recorder adaptation runStatistics applies before its plan
    val statsIn = stats.withColumn("start_ts_ms", round(col("start_ts") * 1000).cast("long"))
    val smetaIn = smeta.withColumnRenamed("id", "metadata_id")
    Workload.transformAndSink(env, tr, m, rows,
      Backfill.plan(states, meta, attrs, wmStates)
        .unionByName(Backfill.statisticsPlan(statsIn, smetaIn, wmStats)))
    frames.foreach(_.unpersist())
  }
}

object ReverseStatistics extends Workload {
  val Measurement = "W"

  def stub(d: Recorder.Data, cores: Int) = new InfluxStub(threads = cores,
    history = Some(new InfluxStub.History(Measurement, d)))
  def expected(d: Recorder.Data): Expected =
    Expected(Digest.ofLines(Expect.reverseStatistics(d)), Nil)

  def readOptions(env: Env): Map[String, String] =
    InfluxRollupRead.statisticsOptions(Recorder.HourMs, Map(
      "url" -> env.cfg.url, "org" -> env.cfg.org, "bucket" -> env.cfg.bucket,
      "token" -> env.cfg.token,
      "readPartitions" -> env.cores.toString,
      "rollup.group" -> "tag:domain,tag:entity_id",
      "rollup.measurement" -> Measurement,
      "rollup.startMs" -> Recorder.T0Ms.toString,
      "rollup.stopMs" -> env.data.sampleStopMs.toString))

  private def meta(env: Env): DataFrame = Workload.recorderTable(env, "statistics_meta")
    .withColumnRenamed("id", "metadata_id")

  def iterate(env: Env): Seq[Long] = {
    val read = InfluxRollupRead.statisticsRead(env.spark, readOptions(env))
    InfluxSink.write(InfluxSink.asPoints(
      Backfill.reverseStatisticsPlan(read, meta(env), None)), env.cfg)
    Nil
  }

  def layers(env: Env, tr: Tracer, m: mutable.Map[String, Double]): Unit = {
    val ((read, n), readS) = tr.span("InfluxRollupRead") {
      Workload.cached(InfluxRollupRead.statisticsRead(env.spark, readOptions(env)))
    }
    m("InfluxRollupRead.read_s") = readS
    m("InfluxRollupRead.rows_out") = n.toDouble
    val (Seq(smeta), _) = Workload.readTables(env, tr, m, "statistics_meta")
    Workload.transformAndSink(env, tr, m, n, Backfill.reverseStatisticsPlan(read,
      smeta.withColumnRenamed("id", "metadata_id"), None))
    Seq(read, smeta).foreach(_.unpersist())
  }
}

/** Set up, warm up and measure one workload; returns the result line. */
final class Runner(o: Main.Opts, wl: Workload) {
  import Main.log
  import Runner.Iter

  private var attempted = 0
  private var failed = 0

  def iteration(env: Env): Iter = {
    env.stub.resetCounters()
    val s0 = SqliteShim.counts()
    val t0 = System.nanoTime()
    val counts = try Some(wl.iterate(env)) catch {
      case e: Exception => log(s"iteration failed: $e"); None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val c = env.stub.counters()
    val correct = counts.contains(env.expected.counts) && c.accepted == env.expected.digest
    if (!correct) log(s"iteration output check failed: got $counts ${c.accepted}, " +
      s"want ${env.expected}")
    attempted += 1
    if (!correct) failed += 1
    Iter(wall, c, SqliteShim.counts() - s0)
  }

  def setUp(k: Int): (Env, Double) = {
    val t0 = System.nanoTime()
    def lap(what: String) = log(f"  set-up $k $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Main.stopSession()
    val spark = Main.newSession(o)
    lap("session")
    val data = Recorder.generate(o.seed, Main.sizes)
    lap("generated")
    val db = o.work.resolve(s"recorder-$k").toString
    Recorder.seed(db, data)
    lap("seeded")
    val stub = wl.stub(data, o.cores)
    val cfg = InfluxSink.Config(url = stub.url, org = "bench", bucket = "recorder",
      token = "bench-token")
    val env = new Env(spark, data, db, stub, cfg, wl.expected(data), o.cores)
    lap("expected")
    iteration(env) // warm-up
    (env, (System.nanoTime() - t0) / 1e9)
  }

  def run(): String = {
    val setupS = mutable.ArrayBuffer.empty[Double]
    var env: Env = null
    for (k <- 0 until Main.Setups) {
      if (env != null) env.close()
      val (e, s) = setUp(k)
      env = e
      setupS += s
      log(f"set-up $k: $s%.2f s")
    }
    try {
      val warmEnd = System.nanoTime() + (Main.WarmSeconds * 1e9).toLong
      while (System.nanoTime() < warmEnd) iteration(env)
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      if (!o.trace) {
        val its = mutable.ArrayBuffer.empty[Iter]
        while (its.size < 3 || System.nanoTime() < deadline) its += iteration(env)
        val wall = Probe.median(its.map(_.wallS).toSeq)
        val points = Probe.median(its.map(_.c.accepted.lines.toDouble).toSeq)
        val bodyBytes = Probe.median(its.map(_.c.bodyBytes.toDouble).toSeq)
        log(s"iterations: ${its.map(i => f"${i.wallS}%.3f").mkString(" ")}")
        Main.json(failed == 0, attempted, failed, Seq(
          ("setup_s", Probe.median(setupS.toSeq), "s"),
          ("wall_s", wall, "s"),
          ("points_per_s", points / wall, "1/s"),
          ("wire_bytes_per_point", bodyBytes / points, "bytes"),
          ("peak_rss_mb", Probe.peakRssMb(), "MiB")))
      } else traced(env, deadline)
    } finally {
      env.close()
      Main.stopSession()
    }
  }

  private def traced(env: Env, deadline: Long): String = {
    val tr = new Tracer
    val untraced = mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    while (rounds.size < 2 || System.nanoTime() < deadline) {
      untraced += iteration(env).wallS
      val m = mutable.Map.empty[String, Double]
      tr.span("round") {
        val (it, w) = tr.span("iteration")(Probe.work(env.spark)(iteration(env)))._1
        m("wall_s") = it.wallS
        m("Backfill.spark_jobs") = w.jobs.toDouble
        m("Backfill.stages") = w.stages.toDouble
        m("Backfill.tasks") = w.tasks.toDouble
        m("Backfill.task_s") = w.taskS
        m("Backfill.shuffle_bytes") = w.shuffleBytes.toDouble
        m("Backfill.input_records") = w.inputRecords.toDouble
        m("Backfill.parallelism") = w.taskS / it.wallS
        m("jvm.gc_s") = w.gcS
        m("Sources.statements") = it.shim.statements.toDouble
        m("Sources.rows_fetched") = it.shim.rows.toDouble
        m("Sources.fetch_s") = it.shim.fetchNs / 1e9
        m("Sources.useful_ratio") =
          if (it.shim.rows == 0) 0.0 else it.c.accepted.lines.toDouble / it.shim.rows
        m("InfluxSink.requests") = it.c.writeRequests.toDouble
        m("InfluxSink.retries") = it.c.retries.toDouble
        m("InfluxSink.http_4xx") = it.c.http4xx.toDouble
        m("InfluxSink.http_5xx") = it.c.http5xx.toDouble
        m("InfluxSink.body_bytes") = it.c.bodyBytes.toDouble
        m("InfluxSink.max_inflight") = it.c.maxInflight.toDouble
        m("InfluxWatermarkSource.requests") = it.c.watermarkRequests.toDouble
        m("InfluxScan.requests") = it.c.scanRequests.toDouble
        m("InfluxScan.response_bytes") = it.c.scanBytes.toDouble
        wl.layers(env, tr, m)
      }
      if (m.get("layer.sink_correct").contains(0.0)) {
        log("layer-by-layer sink output check failed")
        failed += 1
      }
      rounds += m
    }
    tr.write(o.out.resolve(s"trace-${o.workload}-seed${o.seed}.jsonl"))
    def med(k: String): Double = {
      val xs = rounds.flatMap(_.get(k)).toSeq
      if (xs.isEmpty) 0.0 else Probe.median(xs)
    }
    val metrics = Runner.PerLayer.map { case (n, u) =>
      val v = n match {
        case "error_rate" => failed.toDouble / attempted
        case "trace.overhead_s" => med("wall_s") - Probe.median(untraced.toSeq)
        case _ => med(n)
      }
      (n, v, u)
    }
    Main.json(failed == 0, attempted, failed, metrics)
  }
}

object Runner {
  final case class Iter(wallS: Double, c: InfluxStub.Counters, shim: SqliteShim.Counts)

  /** Every per-layer metric, with its unit; a layer a workload does not
    * exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "Backfill.spark_jobs" -> "count", "Backfill.stages" -> "count",
    "Backfill.tasks" -> "count", "Backfill.task_s" -> "s",
    "Backfill.shuffle_bytes" -> "bytes", "Backfill.input_records" -> "count",
    "Backfill.parallelism" -> "ratio", "jvm.gc_s" -> "s",
    "Sources.read_s" -> "s", "Sources.statements" -> "count",
    "Sources.rows_fetched" -> "count", "Sources.fetch_s" -> "s",
    "Sources.useful_ratio" -> "ratio",
    "Transform.s" -> "s", "Transform.rows_in" -> "count", "Transform.points_out" -> "count",
    "InfluxSink.encode_s" -> "s", "InfluxSink.line_bytes" -> "bytes",
    "InfluxSink.post_s" -> "s", "InfluxSink.requests" -> "count",
    "InfluxSink.retries" -> "count", "InfluxSink.http_4xx" -> "count",
    "InfluxSink.http_5xx" -> "count", "InfluxSink.body_bytes" -> "bytes",
    "InfluxSink.post_p50_ms" -> "ms", "InfluxSink.post_p90_ms" -> "ms",
    "InfluxSink.max_inflight" -> "count",
    "InfluxWatermarkSource.s" -> "s", "InfluxWatermarkSource.requests" -> "count",
    "InfluxRollupRead.read_s" -> "s", "InfluxScan.requests" -> "count",
    "InfluxScan.response_bytes" -> "bytes", "InfluxRollupRead.rows_out" -> "count",
    "error_rate" -> "ratio", "trace.overhead_s" -> "s")
}
