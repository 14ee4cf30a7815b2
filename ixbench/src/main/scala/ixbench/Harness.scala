package ixbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

final case class Options(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: File,
    traceOut: File,
    corruptAnswer: Boolean) {
  /** Local directory behind [[BenchFs.Root]]. */
  def local(rel: String): File = new File(new File(work, "fs"), rel)
}

object Options {
  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = m.getOrElse("trace", "0") == "1",
      work = new File(need("work")).getAbsoluteFile,
      traceOut = new File(m.getOrElse("trace-out", new File(need("work"), "trace.jsonl").getPath)),
      corruptAnswer = m.getOrElse("corrupt-answer", "0") == "1")
  }
}

/** What a timed query returned and what its scan did. */
final case class QueryRun(
    rows: Array[Row],
    wallNs: Long,
    numFiles: Long,
    listingMs: Long,
    opened: Set[String],
    graftRuleNs: Long)

/** An answer: row count plus an order-independent checksum of the rows. */
final case class Answer(rows: Long, checksum: Long)

/** A closed loop of one client thread against a Spark `local[N]` session. */
final class Bench(val opts: Options) {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  val spark: SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ixbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", new File(opts.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").getPath)
      .config("spark.sql.index.metastore", BenchFs.metastore)
    BenchFs.hadoopConf(new File(opts.work, "fs")).foreach { case (k, v) =>
      b.config(s"spark.hadoop.$k", v)
    }
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")

  val trace = new Trace(spark.sparkContext, opts.trace)

  private var attemptedOps = 0L
  private var failedOps = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def attempted: Long = attemptedOps
  def failed: Long = failedOps

  /** Counts one operation and records its check result. */
  def check(what: String, error: Option[String]): Unit = {
    attemptedOps += 1
    error.foreach { e =>
      failedOps += 1
      if (failures.size < 20) failures += s"$what: $e"
    }
  }
  def failureLines: Seq[String] = failures.toSeq

  private val scanHelper = new AdaptiveSparkPlanHelper {}

  /** load -> optimize -> physical plan -> execute, each under its own
    * span; the wall time covers all four. */
  def runQuery(load: () => DataFrame, query: DataFrame => DataFrame): QueryRun = {
    FsCounters.takeOpened()
    trace.newOp()
    val t0 = System.nanoTime()
    val df = trace.span("load")(load())
    val q = query(df)
    val qe = q.queryExecution
    trace.span("optimize")(qe.optimizedPlan)
    trace.span("plan")(qe.executedPlan)
    var wall = 0L
    val (rows, numFiles, listingMs) = trace.span("execute") {
      val rows = q.collect()
      wall = System.nanoTime() - t0
      val scans = scanHelper.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def metric(name: String) = scans.map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
      trace.add("num_files", metric("numFiles"))
      (rows, metric("numFiles"), metric("metadataTime"))
    }
    val graftNs = qe.tracker.rules.iterator
      .collect { case (rule, summary) if rule.contains(".graft.") => summary.totalTimeNs }.sum
    QueryRun(rows, wall, numFiles, listingMs, FsCounters.takeOpened(), graftNs)
  }

  /** The local directory of a table's index in the metastore. */
  def indexDir(table: String): File = {
    def find(d: File): Seq[File] =
      if (d.getName.endsWith("data_" + table)) Seq(d)
      else Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(find)
    val idx = find(opts.local("meta"))
    require(idx.size == 1, s"expected one index directory for $table, found ${idx.size}")
    idx.head
  }

  /** Bytes of the table's index directory over the table's data bytes. */
  def indexBytesRatio(table: String): Double =
    Data.bytes(indexDir(table)).toDouble / Data.bytes(opts.local("data/" + table))

  /** Partition entries in the index metadata of a table. */
  def partitionValues(table: String): Double = {
    import org.json4s._
    val text = new String(java.nio.file.Files.readAllBytes(
      new File(indexDir(table), "metadata.json").toPath), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(text) \ "partitionValues" match {
      case JArray(values) => values.size.toDouble
      case other => throw new IllegalStateException(s"no partition values in $other")
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap retained after a full collection, in MB. The pause between two
    * collections lets Spark's context cleaner drop the blocks of broadcasts
    * the first one found unreachable. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * or None when there are fewer than twenty samples. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10)
}

/** An order-independent checksum of rows: the sum of a per-row Murmur3
  * hash, seeded and chained over the fields as Spark's `hash(...)` is. */
object Checksum {
  private def hashValue(v: Any, h: Int): Int = v match {
    case null => h
    case l: Long => Murmur3_x86_32.hashLong(l, h)
    case i: Int => Murmur3_x86_32.hashInt(i, h)
    case d: java.time.LocalDate => Murmur3_x86_32.hashInt(d.toEpochDay.toInt, h)
    case s: String =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Murmur3_x86_32.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
    case other => throw new IllegalArgumentException(s"unhashed type ${other.getClass}")
  }

  /** The hash of the first `n` fields of `r`. */
  def row(r: Row, n: Int): Int = {
    var h = 42
    var i = 0
    while (i < n) { h = hashValue(r.get(i), h); i += 1 }
    h
  }

  def answer(rows: Array[Row]): Answer =
    Answer(rows.length, rows.iterator.map(r => row(r, r.length).toLong).sum)
}
