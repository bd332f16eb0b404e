package graftbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._

/** Bench-side spans: name, start, end, parent and run id, kept in
  * memory and written once when the run ends. A span's layer is its
  * name up to the first '.'; a layer's self time is the time its spans
  * cover minus the part their child spans cover.
  *
  * With tracing off, `span` only runs its body.
  */
final class Trace(val on: Boolean, runId: String) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicInteger()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        spans.synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  /** Seconds of self time per layer. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.synchronized(spans.toList)
    val children = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (c.start max s.start, c.end min s.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach) else (sum + b - (a max reach), b)
          }._1
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def write(path: String): Unit = {
    val lines = spans.synchronized(spans.toList).sortBy(_.start).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** What the jobs of one job group did. */
final class GroupStats {
  var jobs = 0
  var firstStartMs = Long.MaxValue
  var lastEndMs = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** Wall from the group's first job start to its last job end. */
  def wallS: Double = if (jobs == 0) 0.0 else (lastEndMs - firstStartMs) / 1e3
}

/** Job, task, shuffle and spill counts grouped by `spark.jobGroup.id`
  * (the pipeline runs each step in a `graft-<step>` group; a streaming
  * query runs its batches in a group named after its run id).
  */
final class JobStats extends SparkListener {
  private var groups = mutable.Map[String, GroupStats]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()

  private def group(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobGroup(e.jobId) = g
    val s = group(g)
    s.jobs += 1
    s.firstStartMs = s.firstStartMs min e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val s = group(g)
      s.lastEndMs = s.lastEndMs max e.time
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = group(stageGroup.getOrElse(e.stageId, ""))
      s.taskMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Groups seen since the last call; starts a fresh count. The
    * listener bus is asynchronous, so callers settle it first.
    */
  def take(): Map[String, GroupStats] = synchronized {
    val out = groups.toMap
    groups = mutable.Map()
    out
  }
}

object GroupStats {
  def sum(a: GroupStats, b: GroupStats): GroupStats = {
    val s = new GroupStats
    s.jobs = a.jobs + b.jobs
    s.firstStartMs = a.firstStartMs min b.firstStartMs
    s.lastEndMs = a.lastEndMs max b.lastEndMs
    s.taskMs = a.taskMs + b.taskMs
    s.shuffleBytes = a.shuffleBytes + b.shuffleBytes
    s.spillBytes = a.spillBytes + b.spillBytes
    s
  }
}

object JobStats {
  /** Give the asynchronous listener bus time to deliver the events of
    * jobs that just ended.
    */
  def settle(): Unit = Thread.sleep(300)
}
