package ixbench

import scala.collection.mutable

object Util {
  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** A workload's figures: the metrics of the final JSON line, and the lines
  * printed before it. */
final class WorkloadResult {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val lines: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Records a metric and prints it with its unit and sample count. */
  def put(name: String, value: Double, unit: String, samples: Int, note: String = ""): Unit = {
    metrics(name) = (value, unit)
    show(name, value, unit, samples, note)
  }

  /** Prints a figure with its unit and sample count, outside the JSON. */
  def show(name: String, value: Double, unit: String, samples: Int, note: String = ""): Unit =
    lines += f"  $name%-28s ${fmt(value)}%14s $unit%-6s n=$samples" + (if (note.isEmpty) "" else s"  ($note)")

  def info(line: String): Unit = lines += line

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.6f"
}

/** A workload: its tables, written before the Spark session starts, and
  * its run. */
trait Workload {
  def generate(opts: Options): Unit
  def run(b: Bench): WorkloadResult
}

object ProcessStart {
  /** The JVM's start time, in epoch milliseconds. */
  val ms: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

object Log {
  /** A progress line on standard error, with seconds since the JVM started. */
  def apply(msg: String): Unit =
    System.err.println(f"ixbench ${(System.currentTimeMillis() - ProcessStart.ms) / 1000.0}%7.1fs $msg")
}
