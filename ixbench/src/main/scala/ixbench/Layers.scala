package ixbench

/** Turns a run's samples and spans into the reported metrics. */
object Layers {
  /** Which layer each span name's self time belongs to. */
  val LayerOfSpan: Seq[(String, String)] = Seq(
    "load" -> "metastore", "optimize" -> "rules", "plan" -> "planner",
    "execute" -> "listing+scan", "create" -> "build", "refresh" -> "refresh",
    "oracle" -> "oracle")

  /** The end-to-end metrics of an untraced run. Pass times are printed in
    * milliseconds, and reported as `pass_p50_rel`: over the median time of
    * the reference read, one plain `spark.read.parquet` query of one file,
    * timed after each pass. Wall times on a shared host drift by a fifth
    * between runs minutes apart; the ratio of two times taken side by side
    * does not. */
  def endToEnd(r: WorkloadResult, setupS: Double, passMs: Seq[Double], refMs: Seq[Double],
      filesRatio: Double, indexRatio: Double, heapMb: Double, passNote: String): Unit = {
    r.put("setup_s", setupS, "s", 1, "process start to the first timed operation")
    r.show("pass_p50_ms", Stats.median(passMs), "ms", passMs.size, passNote)
    val (tail, pct) = tailOf(passMs)
    r.show("pass_tail_ms", tail, "ms", passMs.size, s"p$pct")
    r.show("reference_p50_ms", Stats.median(refMs), "ms", refMs.size, "plain read of one file")
    r.put("pass_p50_rel", Stats.median(passMs) / Stats.median(refMs), "ratio", passMs.size,
      "pass_p50_ms / reference_p50_ms")
    r.put("files_read_ratio", filesRatio, "ratio", 1, "scan numFiles per pass / table files")
    r.put("index_bytes_ratio", indexRatio, "ratio", 1, "index bytes / data bytes")
    r.put("heap_mb", heapMb, "MB", 1, "retained after full GC")
  }

  /** The highest percentile with ten samples beyond it, or the median when
    * there are fewer than twenty samples. */
  def tailOf(xs: Seq[Double]): (Double, Int) = Stats.tailPercentile(xs.size) match {
    case Some(p) => (Stats.quantile(xs, p / 100.0), p)
    case None => (Stats.median(xs), 50)
  }

  /** Per-layer figures of one timed loop (query passes or maintenance
    * cycles): `roots` are its recorded root spans. */
  final class Spans(t: Trace, roots: Seq[Span], countRoots: Seq[Span]) {
    private val children = t.all.groupBy(_.parent)
    private def below(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).flatMap(c => c +: below(c))
    private val underRoot: Map[Int, Seq[Span]] = roots.map(r => r.id -> below(r)).toMap
    private def sum(r: Span, name: String)(f: Span => Double): Double =
      underRoot(r.id).filter(_.name == name).map(f).sum

    /** Median over roots of the summed duration of spans named `name`. */
    def medianMs(name: String): Double = Stats.median(roots.map(sum(_, name)(_.ms)))

    /** Median over roots of a count summed over spans named `name`. */
    def medianCount(name: String, key: String): Double =
      Stats.median(roots.map(sum(_, name)(_.counts(key).toDouble)))

    /** Mean per root of a count over spans named `name`, over the roots
      * that are the same in every run of a seed. */
    def meanCount(name: String, key: String): Double =
      countRoots.map(sum(_, name)(_.counts(key).toDouble)).sum / countRoots.size
  }

  /** Mean per span of a count over every span named `name` (set-up and
    * loop alike). */
  def perSpan(t: Trace, name: String, key: String): Double = {
    val s = t.all.filter(_.name == name)
    if (s.isEmpty) 0.0 else s.map(_.counts(key)).sum.toDouble / s.size
  }

  /** Self time per layer, summed over the run, printed after the metrics. */
  def selfTimes(r: WorkloadResult, t: Trace): Unit = {
    r.info("  layer self time over the whole run (ms):")
    LayerOfSpan.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (layer, names) =>
      val ss = t.all.filter(s => names.exists(_._1 == s.name))
      if (ss.nonEmpty) r.info(f"    $layer%-14s ${ss.map(t.selfMs).sum}%12.1f  spans=${ss.size}")
    }
  }

  /** The per-layer metrics every workload reports in its traced run. */
  def perLayer(r: WorkloadResult, t: Trace, sp: Spans, n: Int, graftMs: Seq[Double],
      listingMs: Seq[Double], gcPerPass: Double, refresh: RefreshCounts, plainPassMs: Double,
      overheadMs: Double): Unit = {
    r.put("metastore.load_ms", sp.medianMs("load"), "ms", n)
    r.put("metastore.fs_read_ops", sp.meanCount("load", "fs_meta_ops"), "count", n,
      "Hadoop FS calls under the metastore; 0 is a cache hit")
    r.put("rules.optimize_ms", sp.medianMs("optimize"), "ms", n)
    r.put("rules.graft_ms", Stats.median(graftMs), "ms", graftMs.size)
    r.put("rules.jobs", sp.meanCount("optimize", "jobs"), "count", n)
    r.put("listing.ms", Stats.median(listingMs), "ms", listingMs.size, "scan metadataTime")
    r.put("listing.files_listed", sp.meanCount("execute", "num_files"), "count", n, "scan numFiles")
    r.put("scan.files_read", sp.meanCount("execute", "files_opened"), "count", n, "data files opened")
    r.put("scan.bytes_read", sp.meanCount("execute", "bytes_read"), "bytes", n)
    r.put("scan.tasks", sp.meanCount("execute", "tasks"), "count", n)
    r.put("scan.executor_run_ms", sp.medianCount("execute", "executor_run_ms"), "ms", n)
    r.put("exec.jobs", sp.meanCount("execute", "jobs"), "count", n)
    val creates = t.all.count(_.name == "create")
    r.put("build.jobs", perSpan(t, "create", "jobs"), "count", creates, "per create")
    r.put("build.tasks", perSpan(t, "create", "tasks"), "count", creates, "per create")
    r.put("build.executor_run_ms", perSpan(t, "create", "executor_run_ms"), "ms", creates, "per create")
    r.put("build.bytes_written", perSpan(t, "create", "bytes_written"), "bytes", creates, "per create")
    r.put("refresh.added_files", refresh.added, "count", refresh.n, "per refresh")
    r.put("refresh.removed_files", refresh.removed, "count", refresh.n, "per refresh")
    r.put("refresh.jobs", perSpan(t, "refresh", "jobs"), "count", refresh.n, "per refresh")
    r.put("refresh.partition_values", refresh.partitionValues, "count", 1,
      "partition entries in the index metadata at the end")
    r.put("jvm.gc_ms", gcPerPass, "ms", n, "per pass")
    r.put("env.plain_pass_ms", plainPassMs, "ms", QueryLoop.PlainPasses,
      "the reads through plain spark.read.parquet")
    r.put("trace.overhead_ms", overheadMs, "ms", n, "traced minus untraced pass_p50_ms")
  }
}

/** Files a refresh added and removed per call, and the partition entries
  * the index metadata holds at the end. */
final case class RefreshCounts(added: Double, removed: Double, n: Int, partitionValues: Double)
