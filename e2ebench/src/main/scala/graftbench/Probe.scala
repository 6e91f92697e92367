package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark work done by the actions run while it is attached: jobs, stages,
  * tasks, executor run time, shuffle bytes written and input records. */
final class WorkListener extends SparkListener {
  val jobs, stages, tasks, taskNs, shuffleBytes, inputRecords = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }
}

object Probe {
  final case class Work(jobs: Long, stages: Long, tasks: Long, taskS: Double,
                        shuffleBytes: Long, inputRecords: Long, gcS: Double)
  val NoWork: Work = Work(0, 0, 0, 0.0, 0, 0, 0.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Run `body` with a [[WorkListener]] attached; return its result and
    * the Spark work and JVM GC time it caused. */
  def work[T](spark: SparkSession)(body: => T): (T, Work) = {
    val sc = spark.sparkContext
    val l = new WorkListener
    BenchBus.drain(sc)
    sc.addSparkListener(l)
    val gc0 = gcMs()
    val r = try body finally {
      BenchBus.drain(sc)
      sc.removeSparkListener(l)
    }
    (r, Work(l.jobs.get, l.stages.get, l.tasks.get, l.taskNs.get / 1e9,
      l.shuffleBytes.get, l.inputRecords.get, (gcMs() - gc0) / 1e3))
  }

  /** Peak resident set (VmHWM) of this process in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
}

/** Spans kept in memory and written out once, at the end of a traced run. */
final class Tracer {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var lastId = 0
  private val origin = System.nanoTime()

  /** Time `body` as span `name`, a child of the enclosing span. */
  def span[T](name: String)(body: => T): (T, Double) = {
    lastId += 1
    val id = lastId
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    val r = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    spans += Span(id, name, t0 - origin, t1 - origin, parent)
    (r, (t1 - t0) / 1e9)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)
}
