package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a request's root. */
final case class Span(id: Long, parent: Long, request: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]

  def span[A](name: String, request: Long, parent: Long)(f: Long => A): A = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id) finally spans.add(Span(id, parent, request, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Span duration minus the part of it that its children cover. */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b } else hi = hi max b
      }
      if (hi > lo) covered += hi - lo
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark task metrics summed per job group. The HTTP server runs each
  * request in its own `graft-http-*` group; calls the benchmark makes
  * itself carry `perfbench-*` groups.
  */
final class SparkMetrics extends SparkListener {
  final class Acc {
    var jobs, tasks = 0L
    var waitMs, runMs, cpuNs, gcMs = 0L
    var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes, inputBytes = 0L
    def +=(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; waitMs += o.waitMs; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
      shuffleWriteRecords += o.shuffleWriteRecords; shuffleReadBytes += o.shuffleReadBytes
      spillBytes += o.spillBytes; inputBytes += o.inputBytes
    }
  }
  private val groups = new ConcurrentHashMap[String, Acc]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val a = acc(g)
    a.synchronized(a.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      // time the task waited for a free slot after its stage was submitted
      a.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime))
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Totals over the groups whose name passes `p`. */
  def sum(p: String => Boolean): Acc = {
    val out = new Acc
    groups.asScala.foreach { case (g, a) => if (p(g)) a.synchronized(out += a) }
    out
  }

  def reset(): Unit = groups.clear()
}
