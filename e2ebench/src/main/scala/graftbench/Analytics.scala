package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `analytics_mix`: eight of the program's analytics queries, each written
  * to Spark's `noop` sink — which runs every output column, where
  * `count()` lets the optimiser prune them — in a seed-shuffled order over
  * a parquet fixture directory (`--data`). One pass over the list is one
  * iteration.
  *
  * Every timed pass is checked after its timing: each query's row count
  * and order-independent hash must equal `analytics_expected.json` (the
  * values for the standard sf0.1 fixture). A missing entry or a mismatch
  * counts as failed.
  */
object Analytics {
  val Queries: Seq[String] = Seq("events_resample_linear", "events_agg_maintain",
    "tpch_pricing_summary", "core_points", "text_bm25", "dq_referential_bloom",
    "pipeline_dedup_pack", "media_feature_neardup_lsh")

  private val ExpectedFile = "analytics_expected.json"

  /** Hash of one result row. Doubles enter at 12 significant digits, so a
    * summation-order difference in the last bits does not read as a wrong
    * answer. */
  def rowHash(r: Row): Long = {
    val b = cell(r).getBytes(UTF_8)
    Digest.hash(b, 0, b.length)
  }

  private def cell(v: Any): String = v match {
    case d: Double => f"$d%.12g"
    case f: Float => f"${f.toDouble}%.6g"
    case null => "\u0000"
    case r: Row => r.toSeq.map(cell).mkString("(", "\u0001", ")")
    case a: scala.collection.Seq[_] => a.map(cell).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => cell(k) + "\u0002" + cell(x) }.toSeq.sorted.mkString("{", "\u0001", "}")
    case other => other.toString
  }

  /** Row count and order-independent hash (the wrapping sum of row
    * hashes), computed by the executors. */
  def countAndHash(df: DataFrame): (Long, Long) = {
    val parts = df.rdd.mapPartitions { it =>
      var n, h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def expected(): Map[String, (Long, Long)] = {
    val f = Paths.get(sys.props.getOrElse("e2ebench.home", ".")).resolve(ExpectedFile)
    if (!Files.isRegularFile(f)) Map.empty
    else {
      val rx = """"([a-z_0-9]+)":\s*\{\s*"rows":\s*(-?\d+),\s*"hash":\s*(-?\d+)\s*\}""".r
      rx.findAllMatchIn(new String(Files.readAllBytes(f), UTF_8))
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
    }
  }

  def run(o: Main.Opts): String = {
    val dir = o.data.getOrElse(
      throw new IllegalArgumentException("analytics_mix needs --data <fixture dir>"))
    val want = expected()
    val order = new scala.util.Random(o.seed).shuffle(Queries)
    var attempted, failed = 0
    val t0 = System.nanoTime()
    val spark = Main.newSession(o)

    def pass(): Map[String, (Double, Probe.Work)] = order.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      def timed(): Double = {
        val t = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      // the listener is attached in traced runs only
      val (wall, work) = if (o.trace) Probe.work(spark)(timed()) else (timed(), Probe.NoWork)
      val got = countAndHash(df)
      attempted += 1
      if (!want.get(q).contains(got)) {
        failed += 1
        Main.log(s"""check failed: "$q": {"rows": ${got._1}, "hash": ${got._2}} """ +
          s"want ${want.get(q)}")
      }
      q -> (wall, work)
    }.toMap

    pass() // warm-up
    val setupS = (System.nanoTime() - t0) / 1e9
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[Map[String, (Double, Probe.Work)]]
    while (passes.size < 2 || System.nanoTime() < deadline) passes += pass()
    Main.stopSession()

    val metrics =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", Probe.median(passes.map(_.values.map(_._1).sum).toSeq), "s"),
        ("peak_rss_mb", Probe.peakRssMb(), "MiB"))
      else Queries.flatMap { q =>
        def med(f: Probe.Work => Double) = Probe.median(passes.map(p => f(p(q)._2)).toSeq)
        Seq((s"query.$q.s", Probe.median(passes.map(_(q)._1).toSeq), "s"),
          (s"query.$q.spark_jobs", med(_.jobs.toDouble), "count"),
          (s"query.$q.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes"))
      } :+ ("error_rate", failed.toDouble / attempted, "ratio")
    Main.json(failed == 0, attempted, failed, metrics)
  }
}
