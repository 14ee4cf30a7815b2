package ixbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced call: name, start, end, parent, operation id, and the counts
  * gathered while it was the innermost open span. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int, val startNs: Long) {
  var endNs: Long = 0L
  val counts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's own calls into each layer, kept in memory
  * and written out when the run ends. A [[SparkListener]] attributes each
  * job, and its tasks' counts, to the span that was open when the job was
  * submitted: the span id travels as a job-local property. Disabled, every
  * call is a plain pass-through. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val PropKey = "ixbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opSeq = 0
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  /** Whether the current pass records spans; the traced run alternates
    * recorded and unrecorded passes to measure the tracing overhead. */
  var recording: Boolean = enabled

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      id.flatMap(i => Option(byId.get(i.toInt))).foreach { s =>
        s.synchronized(s.counts("jobs") += 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) s.synchronized {
        val m = e.taskMetrics
        s.counts("tasks") += 1
        s.counts("executor_run_ms") += m.executorRunTime
        s.counts("bytes_read") += m.inputMetrics.bytesRead
        s.counts("bytes_written") += m.outputMetrics.bytesWritten
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Starts a new operation id: spans of one query share it. */
  def newOp(): Unit = opSeq += 1

  def span[T](name: String)(body: => T): T = {
    if (!recording) return body
    val s = spans.synchronized {
      val sp = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, opSeq,
        System.nanoTime())
      spans += sp
      byId.put(sp.id, sp)
      sp
    }
    val fs0 = (FsCounters.metaOps.get, FsCounters.dataOps.get, FsCounters.dataOpens.get)
    stack = s :: stack
    sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.counts("fs_meta_ops") += FsCounters.metaOps.get - fs0._1
      s.counts("fs_data_ops") += FsCounters.dataOps.get - fs0._2
      s.counts("files_opened") += FsCounters.dataOpens.get - fs0._3
      stack = stack.tail
      sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Adds a count measured by the caller to the innermost open span. */
  def add(key: String, v: Long): Unit =
    if (recording) stack.headOption.foreach(s => s.synchronized(s.counts(key) += v))

  /** Waits for the listener to see every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.IxbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  /** A span's duration minus the part its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val counts = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":{${counts.mkString(",")}}}""")
    } finally w.close()
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}
