package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** An order-independent digest of a multiset of line-protocol lines: the
  * line count, the wrapping sum of a 64-bit hash per line, and the byte
  * total. Equal digests mean the same lines, each the same number of
  * times, in any order. */
final case class Digest(lines: Long, hashSum: Long, bytes: Long) {
  def +(o: Digest): Digest = Digest(lines + o.lines, hashSum + o.hashSum, bytes + o.bytes)
}

object Digest {
  val empty: Digest = Digest(0, 0, 0)

  /** FNV-1a 64 over the bytes, finished with the splitmix64 mixer. */
  def hash(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def ofLines(lines: Iterable[String]): Digest = lines.foldLeft(empty) { (d, l) =>
    val b = l.getBytes(UTF_8)
    d + Digest(1, hash(b, 0, b.length), b.length)
  }

  /** Digest of a newline-separated request body (empty lines skipped). */
  def ofBody(b: Array[Byte]): Digest = {
    var d = empty
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == '\n') {
        if (i > start) d = d + Digest(1, hash(b, start, i), i - start)
        start = i + 1
      }
      i += 1
    }
    d
  }
}

/** The lines a correct backfill must deliver, computed in plain Scala
  * from the generated rows. This is an independent restatement of the
  * recorder → line-protocol contract (junk filter, first-dot entity
  * split, permissive attribute parse, blocklist, force-float and
  * numeric-looking field dispatch, unit → measurement defaulting,
  * last-writer-wins field collisions, sorted tags and fields, escaping);
  * it calls none of the program's code.
  */
object Expect {
  import Recorder._

  private val junkStates = Set("unknown", "unavailable", "None")
  private val blocked = Set("id", "id_str", "update_available")
  private val forceFloat = Set("temperature", "humidity", "voc", "formaldehyd", "co2",
    "linkquality")
  private val numericLike = "^([0-9]+\\.?[0-9]*|\\.[0-9]+)$".r.pattern

  private def isNumericLike(s: String) = numericLike.matcher(s).find()
  private def toDouble(s: String): Option[Double] =
    try Some(s.toDouble) catch { case _: NumberFormatException => None }

  private def escMeasurement(s: String) = s.replace(",", "\\,").replace(" ", "\\ ")
  private def escTag(s: String) = s.replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")
  private def escStr(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  def line(measurement: String, tags: Map[String, String], num: Map[String, Double],
           str: Map[String, String], timeMs: Long): String = {
    val sb = new StringBuilder(escMeasurement(measurement))
    tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(',').append(escTag(k)).append('=').append(escTag(v))
    }
    val fields = num.toSeq.sortBy(_._1).map { case (k, v) => s"${escTag(k)}=$v" } ++
      str.toSeq.sortBy(_._1).map { case (k, v) => s"""${escTag(k)}="${escStr(v)}"""" }
    sb.append(' ').append(fields.mkString(",")).append(' ').append(timeMs * 1000000L)
    sb.toString
  }

  private def splitEntity(id: String): (String, String) = {
    val dot = id.indexOf('.')
    (id.take(dot), id.drop(dot + 1))
  }

  /** `Backfill.run`: states rows strictly older than the watermark. */
  def states(d: Data, watermarkMs: Option[Long]): Vector[String] = {
    val meta = d.entities.filter(_.inMeta).map(e => e.metadataId -> e.entityId).toMap
    val blobs = d.blobs.map(b => b.id -> b).toMap
    d.states.flatMap { s =>
      meta.get(s.metadataId)
        .filter(_ => !junkStates(s.state) && watermarkMs.forall(s.tsMs < _))
        .map { entityId =>
          val attrs = s.attributesId.flatMap(blobs.get).flatMap(_.attrs)
            .getOrElse(Vector.empty).filterNot(kv => blocked(kv._1))
          val a = attrs.toMap
          val (domain, short) = splitEntity(entityId)
          val unit = a.getOrElse("unit_of_measurement", "default_measurement")
          val measurement = if (unit == "") "count" else unit
          val stateNum = if (isNumericLike(s.state)) toDouble(s.state) else None
          val num = mutable.LinkedHashMap.empty[String, Double]
          val str = mutable.LinkedHashMap.empty[String, String]
          stateNum.foreach(v => num("value") = v)
          if (stateNum.isEmpty) str("state") = s.state
          attrs.foreach { case (k, v) =>
            val ff = forceFloat(k)
            if (ff || isNumericLike(v)) toDouble(v) match {
              case Some(x) => num(k) = x
              case None => if (ff) str(k) = v
            } else str(k) = v
          }
          line(measurement,
            Map("source" -> "HA", "domain" -> domain, "entity_id" -> short,
              "friendly_name" -> a.getOrElse("friendly_name", short)),
            num.toMap, str.toMap, s.tsMs)
        }
    }
  }

  private def statTags(statisticId: String): Map[String, String] = {
    val (domain, short) = splitEntity(statisticId)
    Map("source" -> "HA", "ha_type" -> "statistics", "domain" -> domain,
      "entity_id" -> short)
  }

  private def statMeasurement(unit: Option[String]): String =
    unit match { case None => "default_measurement"; case Some("") => "count"; case Some(u) => u }

  /** `Backfill.runStatistics`: statistics rows strictly older than the
    * watermark; mean-typed sensors publish mean/min/max, sum-typed ones
    * state/sum, and a row with no field left publishes nothing. */
  def statistics(d: Data, watermarkMs: Option[Long]): Vector[String] = {
    val meta = d.statMeta.map(m => m.id -> m).toMap
    d.stats.flatMap { s =>
      meta.get(s.metadataId).filter(_ => watermarkMs.forall(s.startMs < _)).flatMap { m =>
        val num = (if (m.hasMean) Seq("mean" -> s.mean, "min" -> s.min, "max" -> s.max)
                   else Nil) ++
          (if (m.hasSum) Seq("state" -> s.state, "sum" -> s.sum) else Nil)
        val fields = num.collect { case (k, Some(v)) => k -> v }.toMap
        if (fields.isEmpty) None
        else Some(line(statMeasurement(m.unit), statTags(m.statisticId), fields, Map.empty,
          s.startMs))
      }
    }
  }

  /** The reverse migration: hourly time-weighted mean (each numeric
    * sample held until the next one, the last one holding nothing), min
    * and max per series from the raw history inside [T0, stop), keyed back
    * onto mean-typed statistics sensors. */
  def reverseStatistics(d: Data): Vector[String] = {
    val byShort = d.statMeta.filter(_.hasMean).map { m =>
      val (dom, short) = splitEntity(m.statisticId)
      (dom, short) -> m
    }.toMap
    val stop = d.sampleStopMs
    d.samples.groupBy(_.series).toVector.sortBy(_._1).flatMap { case (si, raw) =>
      val ser = d.series(si)
      byShort.get((ser.domain, ser.entity)).toVector.flatMap { m =>
        val xs = raw.filter(s => s.timeMs >= T0Ms && s.timeMs < stop).sortBy(_.timeMs)
        val num = mutable.Map.empty[Long, Long].withDefaultValue(0L)
        val cov = mutable.Map.empty[Long, Long].withDefaultValue(0L)
        val mn = mutable.Map.empty[Long, Long]
        val mx = mutable.Map.empty[Long, Long]
        def bucket(t: Long) = t - Math.floorMod(t, HourMs)
        xs.foreach { s =>
          val b = bucket(s.timeMs)
          mn(b) = mn.get(b).fold(s.value)(math.min(_, s.value))
          mx(b) = mx.get(b).fold(s.value)(math.max(_, s.value))
        }
        xs.zip(xs.drop(1)).foreach { case (a, z) =>
          var b = bucket(a.timeMs)
          while (b < z.timeMs) {
            val piece = math.min(z.timeMs, b + HourMs) - math.max(a.timeMs, b)
            num(b) += a.value * piece
            cov(b) += piece
            b += HourMs
          }
        }
        (cov.keySet ++ mn.keySet).toVector.sorted.map { b =>
          val fields = Map.newBuilder[String, Double]
          if (cov(b) > 0) fields += "mean" -> num(b).toDouble / cov(b).toDouble
          mn.get(b).foreach(v => fields += "min" -> v.toDouble)
          mx.get(b).foreach(v => fields += "max" -> v.toDouble)
          line(statMeasurement(m.unit), statTags(m.statisticId), fields.result(), Map.empty, b)
        }
      }
    }
  }
}
