package searchbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span recorder. Spans are taken around the client's calls into
  * the library's public functions; with tracing off, [[span]] only runs its
  * body. Single-threaded, like the closed-loop client.
  */
final class Tracer(var on: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, request: String)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var request: String = ""

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, request)
        stack.pop()
      }
    }

  /** Duration minus the part of it covered by the span's children. */
  def selfNs: Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path, origin: Long): Unit = {
    val self = selfNs
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":"${s.request}",""" +
        f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,"end_ms":${(s.endNs - origin) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark work per request, keyed by the job group the client sets around
  * each request (`SparkContext.setJobGroup`).
  */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var shuffleBytes, recordsRead, cpuNs, schedDelayMs = 0L
  }
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      acc(g).synchronized(acc(g).jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) { val a = acc(g); a.synchronized(a.stages += 1) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      a.synchronized {
        a.tasks += 1
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        a.cpuNs += m.executorCpuTime
        a.schedDelayMs += delay
      }
    }
  }
  def get(g: String): Acc = byGroup.getOrDefault(g, new Acc)
}

object Gc {
  def totalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      if (hi == lo) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest percentile with at least ten samples above it, but at
    * least p50 (fewer than twenty samples give the median). A failed
    * operation counts as +infinity, so it always lies beyond the tail.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = if (xs.size < 2) 0.5 else math.max(0.5, 1.0 - 10.0 / (xs.size - 1))
    (100 * q, quantile(xs, q))
  }
  /** Second-half median over first-half median, minus one. */
  def drift(xs: Seq[Double]): Double =
    if (xs.size < 4) 0.0
    else {
      val (a, b) = xs.splitAt(xs.size / 2)
      median(b) / median(a) - 1
    }
}
