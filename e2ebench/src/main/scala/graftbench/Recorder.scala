package graftbench

import java.sql.{Connection, DriverManager, Types}
import java.util.SplittableRandom

/** A seeded, generated Home Assistant recorder: the `states` trio, the
  * long-term `statistics` pair, and the raw sample history an InfluxDB
  * bucket would hold for the reverse statistics migration.
  *
  * The sizes are fixed per workload; the seed changes only the values,
  * so every seed costs about the same to process. The generator covers
  * the recorder quirks the pipeline handles: junk states, negative and
  * non-numeric states, dotted entity ids, NULL and dangling
  * `attributes_id`, malformed JSON, blocklisted and force-float keys,
  * attribute keys that collide with the `value`/`state` fields, and
  * characters that need line-protocol escaping.
  */
object Recorder {

  final case class Sizes(entities: Int, blobs: Int, states: Int,
                         statSensors: Int, statHours: Int,
                         sampleHours: Int, samplesPerHour: Int)

  /** 2024-03-01T00:00:00Z, hour aligned. */
  val T0Ms = 1709251200000L
  val HourMs = 3600000L
  val HistoryMs: Long = 14 * 24 * HourMs

  final case class Entity(metadataId: Int, entityId: String, inMeta: Boolean)
  /** `attrs` is the key → value-text map JSON parsing yields (numbers and
    * booleans keep their JSON text); None when the blob does not parse. */
  final case class Blob(id: Int, json: String, attrs: Option[Vector[(String, String)]])
  final case class State(stateId: Int, metadataId: Int, attributesId: Option[Int],
                         state: String, tsMs: Long)
  final case class StatMeta(id: Int, statisticId: String, unit: Option[String],
                            hasMean: Boolean, hasSum: Boolean)
  final case class Stat(id: Int, metadataId: Int, startMs: Long,
                        mean: Option[Double], min: Option[Double], max: Option[Double],
                        state: Option[Double], sum: Option[Double])
  /** One raw sample of series `series` (index into `Data.series`). */
  final case class Sample(series: Int, timeMs: Long, value: Long)
  /** A sample series' tag pair, split from a statistic id at the first dot. */
  final case class Series(domain: String, entity: String)

  final case class Data(sizes: Sizes, entities: Vector[Entity], blobs: Vector[Blob],
                        states: Vector[State], statMeta: Vector[StatMeta],
                        stats: Vector[Stat], series: Vector[Series],
                        samples: Vector[Sample]) {
    def sampleStopMs: Long = T0Ms + sizes.sampleHours * HourMs
    /** Mid-history watermarks for the incremental workload. */
    def statesMidMs: Long = T0Ms + HistoryMs / 2
    def statsMidMs: Long = T0Ms + (sizes.statHours / 2) * HourMs
  }

  private val domains = Vector("sensor", "sensor", "sensor", "binary_sensor", "light",
    "climate", "switch")
  private val rooms = Vector("kitchen", "living_room", "bedroom", "garage", "office", "hall")
  private val kinds = Vector("temperature", "humidity", "power", "energy", "motion", "lamp",
    "thermostat")
  private val units = Vector("°C", "%", "W", "kWh", "lx", "ppm", "dBm")
  private val makers = Vector("Aqara", "Shelly", "IKEA of Sweden", "Philips", "Espressif",
    "Sonoff", "Tuya")
  private val words = Vector("on", "off", "home", "idle", "heat", "1e3", "not_home")
  private val junk = Vector("unknown", "unavailable", "None")

  private sealed trait Json { def text: String; def render: String }
  private final case class JStr(text: String) extends Json {
    def render: String = "\"" + text.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }
  /** Numbers and booleans: the JSON text is also the parsed string value. */
  private final case class JLit(text: String) extends Json { def render: String = text }

  /** One decimal, printed the way Double.toString prints it ("21.5",
    * "3.0"), so the JSON text and the parsed double agree exactly. */
  private def dec1(r: SplittableRandom, lo: Int, hi: Int): String =
    (Math.round((lo + r.nextDouble() * (hi - lo)) * 10) / 10.0).toString

  private def cap(s: String) = s.split('_').map(_.capitalize).mkString(" ")

  def generate(seed: Long, sz: Sizes): Data = {
    val r = new SplittableRandom(seed)

    val entities = Vector.tabulate(sz.entities) { i =>
      val id = i + 1
      val d = domains(r.nextInt(domains.size))
      val room = rooms(r.nextInt(rooms.size))
      val kind = kinds(r.nextInt(kinds.size))
      val obj = if (id % 9 == 0) s"esp.${room}_$id" else s"${room}_${kind}_$id"
      Entity(id, s"$d.$obj", inMeta = id % 31 != 7)
    }

    val blobs = Vector.tabulate(sz.blobs) { i =>
      val id = i + 1
      r.nextInt(100) match {
        case 0 => Blob(id, "not json", None)
        case 1 => Blob(id, "{\"friendly_name\": \"Broken " + id, None)
        case 2 => Blob(id, "{}", Some(Vector.empty))
        case _ =>
          val room = rooms(r.nextInt(rooms.size))
          val kind = kinds(r.nextInt(kinds.size))
          val b = Vector.newBuilder[(String, Json)]
          def p(pct: Int) = r.nextInt(100) < pct
          if (p(85)) b += "friendly_name" -> JStr(
            if (p(5)) s"${cap(room)}, shelf=$id" else s"${cap(room)} ${cap(kind)} $id")
          if (!p(20)) b += "unit_of_measurement" ->
            JStr(if (p(12)) "" else units(r.nextInt(units.size)))
          b += "device_class" -> JStr(kind)
          if (p(50)) b += "state_class" -> JStr("measurement")
          if (p(40)) b += "temperature" -> (if (p(4)) JStr("n/a") else JLit(dec1(r, -10, 40)))
          if (p(30)) b += "humidity" -> JLit((20 + r.nextInt(70)).toString)
          if (p(10)) b += "co2" -> JStr((380 + r.nextInt(900)).toString)
          if (p(20)) b += "linkquality" -> JLit(r.nextInt(256).toString)
          if (p(40)) b += "battery" -> JLit(r.nextInt(101).toString)
          if (p(30)) b += "rssi" -> JStr(s"-${30 + r.nextInt(60)}")
          if (p(20)) b += "sw_version" -> JStr(s"1.${r.nextInt(9)}.${r.nextInt(20)}")
          b += "icon" -> JStr(s"mdi:$kind")
          b += "id" -> JStr(java.lang.Long.toHexString(r.nextLong()))
          if (p(30)) b += "id_str" -> JStr(s"0x${r.nextInt(1 << 20)}")
          if (p(20)) b += "update_available" -> JLit(if (p(50)) "true" else "false")
          if (p(25)) b += "child_lock" -> JLit(if (p(50)) "true" else "false")
          if (p(5)) b += "note" -> JStr("say \"hi\" \\ ok")
          if (p(2)) b += "state" -> JStr("override")
          if (p(2)) b += "value" -> JLit("1")
          b += "manufacturer" -> JStr(makers(r.nextInt(makers.size)))
          // pad to a realistic few hundred bytes per blob
          val model = new StringBuilder
          val want = 60 + r.nextInt(120)
          while (model.length < want) model.append(('a' + r.nextInt(26)).toChar)
          b += "model" -> JStr(model.toString)
          val kv = b.result()
          val json = kv.map { case (k, v) => "\"" + k + "\": " + v.render }
            .mkString("{", ", ", "}")
          Blob(id, json, Some(kv.map { case (k, v) => k -> v.text }))
      }
    }

    val states = Vector.tabulate(sz.states) { i =>
      val attr = r.nextInt(100) match {
        case x if x < 5 => None
        case 5 => Some(sz.blobs + 1 + r.nextInt(50)) // dangling: no such blob
        case _ => Some(1 + r.nextInt(sz.blobs))
      }
      val st = r.nextInt(100) match {
        case x if x < 5 => junk(r.nextInt(junk.size))
        case x if x < 12 => words(r.nextInt(words.size))
        case x if x < 16 => "-" + dec1(r, 0, 40)
        case 16 => "007"
        case 17 => s"${r.nextInt(50)}."
        case 18 => s".${r.nextInt(10)}"
        case _ => dec1(r, 0, 5000)
      }
      State(i + 1, 1 + r.nextInt(sz.entities), attr, st, T0Ms + r.nextLong(HistoryMs))
    }

    val statMeta = Vector.tabulate(sz.statSensors) { i =>
      val id = i + 1
      val sid = if (id % 7 == 0) s"sensor.esp.energy_$id" else s"sensor.energy_$id"
      val unit = id % 4 match {
        case 0 => Some("kWh"); case 1 => Some("W"); case 2 => None; case _ => Some("")
      }
      StatMeta(id, sid, unit, hasMean = id % 2 == 0, hasSum = id % 2 == 1 && id % 7 != 5)
    }
    // five extra sensors carry statistics rows but no meta row
    val statIds = (1 to sz.statSensors + 5).toVector
    def r2(x: Double) = Math.round(x * 100) / 100.0
    var statId = 0
    val stats = for (mid <- statIds; h <- 0 until sz.statHours) yield {
      statId += 1
      val meta = if (mid <= sz.statSensors) Some(statMeta(mid - 1)) else None
      val mean = r2(r.nextDouble() * 3000)
      val mn = r2(mean - r.nextDouble() * 100)
      val mx = r2(mean + r.nextDouble() * 100)
      val st = r2(r.nextDouble() * 50)
      val sum = r2(h * 40 + r.nextDouble() * 40)
      val (meanT, sumT) = meta match {
        case Some(m) if m.hasMean || m.hasSum => (m.hasMean, m.hasSum)
        case _ => (true, true) // untyped or unknown sensors: every column filled
      }
      Stat(statId, mid, T0Ms + h * HourMs,
        if (meanT && r.nextInt(50) != 0) Some(mean) else None,
        if (meanT) Some(mn) else None, if (meanT) Some(mx) else None,
        if (sumT) Some(st) else None, if (sumT) Some(sum) else None)
    }

    // raw history for every statistics sensor plus three series no meta
    // row names; values are integers and times whole milliseconds, so the
    // time-weighted means below are exact in any summation order
    val series = statMeta.map { m =>
      val dot = m.statisticId.indexOf('.')
      Series(m.statisticId.take(dot), m.statisticId.drop(dot + 1))
    } ++ (1 to 3).map(k => Series("sensor", s"ghost_$k"))
    val stepMs = HourMs / sz.samplesPerHour
    val samples = series.indices.flatMap { s =>
      val b = Vector.newBuilder[Sample]
      var t = T0Ms + r.nextLong(stepMs)
      val stop = T0Ms + sz.sampleHours * HourMs
      while (t < stop) {
        b += Sample(s, t, r.nextInt(5000).toLong)
        t += stepMs / 2 + r.nextLong(stepMs) + 1
      }
      b.result()
    }.toVector

    Data(sz, entities, blobs, states, statMeta, stats.toVector, series, samples)
  }

  // --- seeding the database ----------------------------------------------

  private val ddl = Seq(
    """CREATE TABLE states_meta ("metadata_id" INTEGER NOT NULL, "entity_id" VARCHAR(255))""",
    """CREATE TABLE state_attributes ("attributes_id" INTEGER NOT NULL, "hash" BIGINT,
      | "shared_attrs" VARCHAR(4096))""".stripMargin,
    """CREATE TABLE states ("state_id" INTEGER NOT NULL, "metadata_id" INTEGER,
      | "attributes_id" INTEGER, "state" VARCHAR(255), "last_changed_ts" DOUBLE,
      | "last_updated_ts" DOUBLE, "old_state_id" INTEGER)""".stripMargin,
    """CREATE TABLE statistics_meta ("id" INTEGER NOT NULL, "statistic_id" VARCHAR(255),
      | "source" VARCHAR(32), "unit_of_measurement" VARCHAR(255), "has_mean" BOOLEAN,
      | "has_sum" BOOLEAN, "name" VARCHAR(255))""".stripMargin,
    """CREATE TABLE statistics ("id" INTEGER NOT NULL, "created_ts" DOUBLE,
      | "metadata_id" INTEGER, "start_ts" DOUBLE, "mean" DOUBLE, "min" DOUBLE,
      | "max" DOUBLE, "last_reset_ts" DOUBLE, "state" DOUBLE, "sum" DOUBLE)""".stripMargin)

  /** Create the recorder database at `path` through the `jdbc:sqlite:`
    * shim and load every table in batches. */
  def seed(path: String, d: Data): Unit = {
    SqliteShim.register()
    val props = new java.util.Properties()
    props.setProperty("create", "true")
    val c = DriverManager.getConnection(SqliteShim.Prefix + path, props)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      ddl.foreach(st.execute)
      st.close()
      insert(c, "states_meta", 2, d.entities.filter(_.inMeta)) { (ps, e) =>
        ps.setInt(1, e.metadataId); ps.setString(2, e.entityId)
      }
      insert(c, "state_attributes", 3, d.blobs) { (ps, b) =>
        ps.setInt(1, b.id); ps.setLong(2, b.json.hashCode.toLong); ps.setString(3, b.json)
      }
      insert(c, "states", 7, d.states) { (ps, s) =>
        ps.setInt(1, s.stateId); ps.setInt(2, s.metadataId)
        optInt(ps, 3, s.attributesId); ps.setString(4, s.state)
        ps.setNull(5, Types.DOUBLE); ps.setDouble(6, s.tsMs / 1000.0)
        if (s.stateId > 1) ps.setInt(7, s.stateId - 1) else ps.setNull(7, Types.INTEGER)
      }
      insert(c, "statistics_meta", 7, d.statMeta) { (ps, m) =>
        ps.setInt(1, m.id); ps.setString(2, m.statisticId); ps.setString(3, "recorder")
        m.unit.fold(ps.setNull(4, Types.VARCHAR))(ps.setString(4, _))
        ps.setBoolean(5, m.hasMean); ps.setBoolean(6, m.hasSum)
        ps.setString(7, m.statisticId)
      }
      insert(c, "statistics", 10, d.stats) { (ps, s) =>
        ps.setInt(1, s.id); ps.setDouble(2, (s.startMs + HourMs) / 1000.0)
        ps.setInt(3, s.metadataId); ps.setDouble(4, s.startMs / 1000.0)
        optDouble(ps, 5, s.mean); optDouble(ps, 6, s.min); optDouble(ps, 7, s.max)
        ps.setNull(8, Types.DOUBLE); optDouble(ps, 9, s.state); optDouble(ps, 10, s.sum)
      }
      c.commit()
    } finally c.close()
  }

  private def optInt(ps: java.sql.PreparedStatement, i: Int, v: Option[Int]): Unit =
    v.fold(ps.setNull(i, Types.INTEGER))(ps.setInt(i, _))
  private def optDouble(ps: java.sql.PreparedStatement, i: Int, v: Option[Double]): Unit =
    v.fold(ps.setNull(i, Types.DOUBLE))(ps.setDouble(i, _))

  private def insert[T](c: Connection, table: String, cols: Int, rows: Seq[T])
                       (bind: (java.sql.PreparedStatement, T) => Unit): Unit = {
    val ps = c.prepareStatement(
      s"INSERT INTO $table VALUES (${Seq.fill(cols)("?").mkString(", ")})")
    try {
      var n = 0
      rows.foreach { row =>
        bind(ps, row); ps.addBatch(); n += 1
        if (n % 5000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }
}
