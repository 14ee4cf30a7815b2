package ixbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.index.implicits._

/** The write side: a rolling window of date partitions. Each cycle appends
  * one partition and deletes the oldest, then times a refresh and the
  * first indexed read of a key in the new partition. Every refresh
  * invalidates the caches, so the metastore and listing run cold. The full
  * create runs once, in set-up. */
object Maintain extends Workload {
  val Window = 8
  val FilesPerDay = 4
  val RowsPerFile = 2500L
  val RowsPerDay: Long = FilesPerDay * RowsPerFile
  val TableFiles: Int = Window * FilesPerDay
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)
  val Steps = Seq("refresh", "first_read")
  val RefsPerCycle = 8

  /** Row ids are day * RowsPerDay + i; the key is clustered by day and
    * file, the payload is noise. */
  def table(seed: Long): Data.Table = Data.Table(
    "message events { optional int64 key; optional int64 score; optional binary payload (STRING); }",
    id => Array[Any](id, Data.uniform(seed, id, 1, 1000000),
      "p" + java.lang.Long.toHexString(Data.mix(seed, id, 2))))

  /** The figures of one timed cycle; `refMs` is the time of its reference
    * read. */
  final case class Cycle(stepMs: Seq[Double], numFiles: Long, listingMs: Long, graftMs: Double,
      gcMs: Long, recorded: Boolean, refMs: Double) {
    def ms: Double = stepMs.sum
  }

  private def dayDir(opts: Options, name: String, day: Int) =
    opts.local(s"data/$name/d=${Epoch.plusDays(day)}")

  private def writeDay(opts: Options, name: String, day: Int): Unit = {
    val t = table(opts.seed)
    Data.parallel(FilesPerDay) { f =>
      val first = day * RowsPerDay + f * RowsPerFile
      Data.write(t, Iterator.range(first, first + RowsPerFile),
        new java.io.File(dayDir(opts, name, day), f"part-$day%05d-$f.parquet"))
    }
  }

  def generate(opts: Options): Unit = (0 until Window).foreach(writeDay(opts, "maintain", _))

  def run(b: Bench): WorkloadResult = {
    val path = BenchFs.table("maintain")
    val (_, createMs) = Util.timedMs(b.trace.span("create") {
      b.spark.index.create.indexBy("key", "score").parquet(path)
    })
    Log("indexed")

    val rnd = new Random(b.opts.seed)
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val refreshStats = mutable.ArrayBuffer.empty[(Long, Long)]
    val warmup = 1
    val minCycles = 4
    val maxCycles = 200

    /** Cycle c appends day Window + c and deletes day c. */
    def cycle(c: Int, timed: Boolean): Unit = {
      val day = Window + c
      writeDay(b.opts, "maintain", day)
      Data.deleteRecursively(dayDir(b.opts, "maintain", c))
      val key = day * RowsPerDay + rnd.nextLong(RowsPerDay)
      val want = Oracle.scan(b.spark.read.parquet(path), r => if (r.getLong(0) == key) Seq(0) else Nil)
        .getOrElse(0, Oracle.NoRows)
      val gc0 = b.gcMs
      b.trace.newOp()
      val (stats, refreshMs) = Util.timedMs(b.trace.span("refresh") {
        val s = b.spark.index.refresh.parquet(path)
        b.trace.add("added_files", s.addedFiles)
        b.trace.add("removed_files", s.removedFiles)
        s
      })
      b.check(s"refresh cycle $c",
        if (stats.addedFiles == FilesPerDay && stats.removedFiles == FilesPerDay) None
        else Some(s"refresh added ${stats.addedFiles} and removed ${stats.removedFiles} files, " +
          s"expected $FilesPerDay and $FilesPerDay"))
      val run = b.trace.span("first_read")(
        b.runQuery(() => b.spark.index.parquet(path), _.where(col("key") === key)))
      b.check(s"first read cycle $c",
        Oracle.checkRows(want, run, corrupt = b.opts.corruptAnswer && timed && cycles.isEmpty))
      val gcMs = b.gcMs - gc0
      // the reference read: the same key from its file, through plain
      // Parquet; read several times, as one read of a small file varies
      // more than a cycle does
      val file = (key - day * RowsPerDay) / RowsPerFile
      val ref = Reference(
        b.spark.read.parquet(s"$path/d=${Epoch.plusDays(day)}/" + f"part-$day%05d-$file.parquet")
          .where(col("key") === key), 1)
      val refMs = Stats.median(
        (0 until RefsPerCycle).map(i => Reference.timed(b, s"reference cycle $c.$i", ref)))
      if (timed) {
        refreshStats += stats.addedFiles -> stats.removedFiles
        cycles += Cycle(Seq(refreshMs, run.wallNs / 1e6), run.numFiles, run.listingMs,
          run.graftRuleNs / 1e6, gcMs, b.trace.recording, refMs)
      }
    }

    (0 until warmup).foreach(cycle(_, timed = false))
    // after a fixed number of refreshes, so the same in every run of a seed
    val indexRatio = b.indexBytesRatio("maintain")
    val setupS = (System.currentTimeMillis() - ProcessStart.ms) / 1000.0
    Log("warmed up")
    val deadline = System.nanoTime() + b.opts.seconds * 1000000000L
    var c = warmup
    while (c < maxCycles && (c - warmup < minCycles || System.nanoTime() < deadline)) {
      if (b.trace.enabled) b.trace.recording = (c - warmup) % 2 == 0
      b.trace.span("cycle") {
        b.trace.add("pass", c - warmup)
        cycle(c, timed = true)
      }
      b.trace.drain()
      c += 1
    }
    b.trace.recording = b.trace.enabled
    Log(s"ran ${c - warmup} timed cycles")

    val r = new WorkloadResult
    val heap = b.retainedHeapMb()
    val timed = cycles.filter(_.recorded == b.trace.enabled).toSeq
    Steps.zipWithIndex.foreach { case (s, i) =>
      val ms = timed.map(_.stepMs(i))
      r.info(f"  ${s + "_p50_ms"}%-28s ${Stats.median(ms)}%14.3f ms     n=${ms.size}")
    }
    r.info(f"  ${"create_ms"}%-28s $createMs%14.3f ms     n=1  (set-up, first in the JVM)")
    val fixed = cycles.take(minCycles)
    if (!b.trace.enabled) {
      Layers.endToEnd(r, setupS, timed.map(_.ms), timed.map(_.refMs),
        fixed.map(_.numFiles).sum.toDouble / fixed.size / TableFiles, indexRatio, heap,
        "refresh + first read per cycle")
    } else {
      val roots = b.trace.all.filter(_.name == "cycle")
      val sp = new Layers.Spans(b.trace, roots, roots.filter(_.counts("pass") < minCycles))
      val untraced = cycles.filterNot(_.recorded).map(_.ms).toSeq
      val refresh = RefreshCounts(
        refreshStats.take(minCycles).map(_._1).sum.toDouble / math.min(minCycles, refreshStats.size),
        refreshStats.take(minCycles).map(_._2).sum.toDouble / math.min(minCycles, refreshStats.size),
        refreshStats.size, b.partitionValues("maintain"))
      Layers.perLayer(r, b.trace, sp, roots.size, cycles.map(_.graftMs).toSeq,
        cycles.map(_.listingMs.toDouble).toSeq, timed.map(_.gcMs).sum.toDouble / timed.size,
        refresh, QueryLoop.plainPassMs(b, path, Seq(new QueryShape {
          val name = "first_read"
          def query(p: Int)(df: org.apache.spark.sql.DataFrame) =
            df.where(col("key") === (Window + c - 1) * RowsPerDay + p)
          def check(p: Int, run: QueryRun, corrupt: Boolean) = None
        })),
        Stats.median(timed.map(_.ms)) - Stats.median(untraced))
      Layers.selfTimes(r, b.trace)
    }
    r
  }
}
