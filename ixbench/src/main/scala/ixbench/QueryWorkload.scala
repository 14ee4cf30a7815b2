package ixbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One query shape of a pass: the query for pass `p` and the check of its
  * result against the oracle. */
trait QueryShape {
  def name: String
  def query(p: Int)(df: DataFrame): DataFrame
  /** None when the result and the scan are right; `corrupt` alters the
    * expected answer, so a correct result fails. */
  def check(p: Int, run: QueryRun, corrupt: Boolean): Option[String]
}

/** The expected answer of one query, and the files that hold its rows:
  * a sound scan reads every one of them. */
final case class Expected(answer: Answer, files: Set[String])

object Oracle {
  /** Answers many queries with one plain scan: `matches` gives, for a row
    * of the table, the ids of the queries it satisfies. */
  def scan(plain: DataFrame, matches: Row => Iterable[Int]): Map[Int, Expected] = {
    val n = plain.columns.length
    plain.withColumn("_f", input_file_name()).rdd
      .flatMap { r =>
        val ids = matches(r)
        if (ids.isEmpty) Nil
        else {
          val one = (1L, Checksum.row(r, n).toLong, Set(BenchFs.relative(r.getString(n))))
          ids.map(_ -> one)
        }
      }
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2, a._3 ++ b._3))
      .collect()
      .map { case (id, (rows, sum, files)) => id -> Expected(Answer(rows, sum), files) }
      .toMap
  }

  val NoRows = Expected(Answer(0, 0), Set.empty)

  /** The answer and soundness check of a row-returning query. */
  def checkRows(want: Expected, run: QueryRun, corrupt: Boolean): Option[String] = {
    val got = Checksum.answer(run.rows)
    val expect = if (corrupt) want.answer.copy(rows = want.answer.rows + 1) else want.answer
    if (got != expect) Some(s"answer $got, expected $expect")
    else {
      val missed = want.files -- run.opened
      if (missed.nonEmpty) Some(s"scan skipped ${missed.size} file(s) holding matching rows, " +
        s"e.g. ${missed.head}")
      else None
    }
  }
}

/** The per-pass figures a query workload keeps; `refMs` is the time of
  * the pass's reference read. */
final case class PassSample(ms: Double, shapeMs: Seq[Double], numFiles: Long, gcMs: Long,
    recorded: Boolean, refMs: Double = 0)

/** A plain `spark.read.parquet` query of one data file and the rows it
  * returns. Timed after every pass, it is the box-speed unit that
  * `pass_p50_rel` divides the pass time by. */
final case class Reference(query: DataFrame, rows: Long)

object Reference {
  /** Runs `ref` once, checks its row count, and returns its wall time. */
  def timed(b: Bench, what: String, ref: Reference): Double = {
    val (got, ms) = Util.timedMs(ref.query.collect().length)
    b.check(what, if (got == ref.rows) None else Some(s"$got rows, expected ${ref.rows}"))
    ms
  }
}

/** Drives passes of a query workload: warm-up, then the timed closed
  * loop, then the figures. `reference(p)` is read after pass `p`. */
final class QueryLoop(b: Bench, shapes: Seq[QueryShape], load: () => DataFrame,
    reference: Int => Reference, warmupPasses: Seq[Int], timedPasses: Int, val minPasses: Int) {

  val samples = mutable.ArrayBuffer.empty[PassSample]
  private val warmupFiles = mutable.ArrayBuffer.empty[Long]
  val shapeFiles: mutable.Map[String, mutable.ArrayBuffer[Long]] =
    mutable.LinkedHashMap(shapes.map(_.name -> mutable.ArrayBuffer.empty[Long]): _*)
  val graftRuleMs = mutable.ArrayBuffer.empty[Double]
  /** When the first timed operation started, in epoch milliseconds. */
  var setupEndMs = 0L
  val listingMs = mutable.ArrayBuffer.empty[Double]

  private def pass(p: Int, timed: Boolean, corruptFirst: Boolean): PassSample = {
    val gc0 = b.gcMs
    var files = 0L
    var listing = 0.0
    var graft = 0.0
    val times = shapes.zipWithIndex.map { case (s, i) =>
      val run = b.trace.span(s.name)(b.runQuery(load, s.query(p)))
      b.check(s"${s.name} pass $p", s.check(p, run, corrupt = corruptFirst && i == 0))
      files += run.numFiles
      listing += run.listingMs
      graft += run.graftRuleNs / 1e6
      if (timed) shapeFiles(s.name) += run.numFiles
      run.wallNs / 1e6
    }
    if (timed) { listingMs += listing; graftRuleMs += graft }
    PassSample(times.sum, times, files, b.gcMs - gc0, b.trace.recording)
  }

  /** Runs the warm-up passes, then timed passes for `seconds` (and at
    * least `minPasses`). */
  def run(seconds: Int, corrupt: Boolean): Unit = {
    warmupPasses.foreach { p =>
      warmupFiles += pass(p, timed = false, corruptFirst = false).numFiles
      Reference.timed(b, s"reference pass $p", reference(p))
    }
    setupEndMs = System.currentTimeMillis()
    Log("warmed up")
    val deadline = System.nanoTime() + seconds * 1000000000L
    var p = 0
    while (p < timedPasses && (p < minPasses || System.nanoTime() < deadline)) {
      // the traced run alternates recorded and unrecorded passes
      if (b.trace.enabled) b.trace.recording = p % 2 == 0
      val s = b.trace.span("pass") {
        b.trace.add("pass", p)
        pass(p, timed = true, corruptFirst = corrupt && p == 0)
      }
      // outside the pass span, so the trace's counts stay the pass's own
      val refMs = Reference.timed(b, s"reference pass $p", reference(p))
      b.trace.drain()
      samples += s.copy(refMs = refMs)
      p += 1
    }
    b.trace.recording = b.trace.enabled
    Log(s"ran $p timed passes")
  }

  def shapeCount: Int = shapes.size

  /** Files read per pass (the scans' `numFiles`) over the warm-up passes
    * and the first `minPasses` timed passes: the same passes in every run
    * of a seed. */
  def filesPerPass: Double = {
    val files = warmupFiles ++ samples.take(minPasses).map(_.numFiles)
    files.sum.toDouble / files.size
  }
}

object QueryLoop {
  /** Passes [[plainPassMs]] takes the median of. */
  val PlainPasses = 3

  /** A pass of the same queries through plain `spark.read.parquet`, the
    * box-speed reference; the median of [[PlainPasses]] passes. */
  def plainPassMs(b: Bench, path: String, shapes: Seq[QueryShape]): Double =
    Stats.median((0 until PlainPasses).map { p =>
      shapes.map(s => Util.timedMs(s.query(p)(b.spark.read.parquet(path)).collect())._2).sum
    })

  /** The end-to-end metrics of an untraced run, or the per-layer ones of a
    * traced run. `plainPassMs` runs the pass's reads through plain
    * `spark.read.parquet` and is called only in a traced run. */
  def report(b: Bench, loop: QueryLoop, table: String, tableFiles: Int,
      plainPassMs: => Double): WorkloadResult = {
    val indexRatio = b.indexBytesRatio(table)
    val r = new WorkloadResult
    val heap = b.retainedHeapMb()
    val timed = loop.samples.filter(_.recorded == b.trace.enabled)
    val passMs = timed.map(_.ms).toSeq
    loop.shapeFiles.keys.zipWithIndex.foreach { case (name, i) =>
      val ms = timed.map(_.shapeMs(i)).toSeq
      val files = loop.shapeFiles(name).take(loop.minPasses)
      r.info(f"  ${"shape." + name + "_ms"}%-28s ${Stats.median(ms)}%14.3f ms     n=${ms.size}" +
        f"   listing.files_listed ${files.sum.toDouble / files.size}%.2f per query")
    }
    if (!b.trace.enabled) {
      val setupS = (loop.setupEndMs - ProcessStart.ms) / 1000.0
      Layers.endToEnd(r, setupS, passMs, timed.map(_.refMs).toSeq, loop.filesPerPass / tableFiles,
        indexRatio, heap, s"${loop.shapeCount} shapes per pass")
    } else {
      val roots = b.trace.all.filter(_.name == "pass")
      val sp = new Layers.Spans(b.trace, roots,
        roots.filter(_.counts("pass") < loop.minPasses))
      val untraced = loop.samples.filterNot(_.recorded).map(_.ms).toSeq
      val gc = timed.map(_.gcMs).sum.toDouble / timed.size
      Layers.perLayer(r, b.trace, sp, roots.size, loop.graftRuleMs.toSeq, loop.listingMs.toSeq, gc,
        RefreshCounts(0, 0, 0, b.partitionValues(table)), plainPassMs,
        Stats.median(passMs) - Stats.median(untraced))
      r.info(f"  traced pass_p50_ms ${Stats.median(passMs)}%.3f, untraced ${Stats.median(untraced)}%.3f")
      Layers.selfTimes(r, b.trace)
    }
    r
  }
}
