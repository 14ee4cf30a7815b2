package ixbench

/** The index benchmark's JVM side: runs one workload, checks every answer,
  * and prints the metrics, the last line as one JSON object. Started by
  * `run.py`, which builds the classpath. */
object Main {
  val Workloads: Map[String, Workload] =
    Map("lookup" -> Lookup, "many_files" -> ManyFiles, "maintain" -> Maintain)

  def main(args: Array[String]): Unit = {
    val opts = Options.parse(args)
    val workload = Workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
    workload.generate(opts)
    Log("generated")
    val b = new Bench(opts)
    val (result, error) =
      try (Some(workload.run(b)), None)
      catch { case e: Throwable => (None, Some(e)) }
    error.foreach { e =>
      b.check("workload", Some(e.toString))
      e.printStackTrace()
    }
    if (opts.trace) b.trace.write(opts.traceOut)
    b.trace.close()
    b.spark.stop()

    println(s"workload ${opts.workload} seed ${opts.seed} trace ${if (opts.trace) 1 else 0} " +
      s"local[${b.cores}]")
    println(s"  operations attempted ${b.attempted}, failed ${b.failed}")
    b.failureLines.foreach(l => println(s"  FAILED $l"))
    result.foreach(_.lines.foreach(println))
    val correct = b.failed == 0 && result.isDefined
    val metrics = result.toSeq.flatMap(_.metrics).map { case (name, (v, unit)) =>
      s""""$name": {"value": ${jsonNumber(v)}, "unit": "$unit"}"""
    }
    println(s"""{"correct": $correct, "attempted": ${math.max(1, b.attempted)}, """ +
      s""""failed": ${b.failed}, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
