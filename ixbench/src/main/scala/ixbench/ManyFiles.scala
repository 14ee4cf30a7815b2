package ixbench

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.index.implicits._

/** Many KB-sized files in partition directories, made by byte-copying
  * single-key seed files, loaded with the distributed pruning threshold
  * below the file count: planning-bound, the scan is tiny and the driver
  * never holds the files table. */
object ManyFiles extends Workload {
  val Seeds = 50
  val Copies = 20
  val Dirs = 10
  val RowsPerSeed = 20
  val FileCount: Int = Seeds * Copies
  val Threshold: Long = FileCount / 2L
  val Shapes = Seq("point", "part_point", "unselective_limit", "meta_agg", "topk", "join_dim")

  def ks(k: Long): String = f"s$k%03d"

  /** Seed file s holds key k = s in every row. */
  val table: Data.Table = Data.Table(
    "message seed { optional int64 k; optional binary ks (STRING); optional int64 v; }",
    id => Array[Any](id / RowsPerSeed, ks(id / RowsPerSeed), id))

  def generate(opts: Options): Unit = {
    Data.parallel(Seeds) { s =>
      Data.write(table, Iterator.range(s.toLong * RowsPerSeed, (s + 1L) * RowsPerSeed),
        opts.local(f"seeds/seed-$s%03d.parquet"))
    }
    // copy j of every seed goes to directory b=(j % Dirs)
    Data.parallel(FileCount) { i =>
      val (s, j) = (i % Seeds, i / Seeds)
      val dst = opts.local(f"data/many_files/b=${j % Dirs}%02d/part-$s%03d-$j%03d.parquet")
      dst.getParentFile.mkdirs()
      Files.copy(opts.local(f"seeds/seed-$s%03d.parquet").toPath, dst.toPath)
      Data.pin(dst)
    }
  }

  def run(b: Bench): WorkloadResult = {
    import b.spark.implicits._
    val path = BenchFs.table("many_files")
    b.trace.span("create") {
      b.spark.index.create
        .option("spark.sql.index.parquet.filter.enabled", "false")
        .indexBy("k", "ks").parquet(path)
    }
    Log("indexed")

    val warmup = 2
    val maxPasses = Seeds - warmup
    val rnd = new Random(b.opts.seed)
    def perm(n: Int): IndexedSeq[Int] = rnd.shuffle((0 until n).toIndexedSeq)
    val point = perm(Seeds).map(_.toLong)
    val partPoint = perm(Seeds * Dirs).map(i => (i / Seeds, (i % Seeds).toLong))
    val limits = perm(RowsPerSeed * 100).map(i => (i % RowsPerSeed, 1 + i / RowsPerSeed))
    val aggRanges = perm(Dirs * Dirs).map(i => (i / Dirs, i % Dirs)).filter { case (lo, hi) => lo <= hi }
    val topN = perm(2000).map(_ + 1)
    val joinKeys = Iterator.continually(perm(Seeds).take(3).sorted.map(_.toLong))
      .distinct.take(Seeds).toIndexedSeq

    // one plain scan answers every key query: query id = k * Dirs + b
    val oracle = b.trace.span("oracle") {
      Oracle.scan(b.spark.read.parquet(path), r => Seq((r.getLong(0) * Dirs + r.getInt(3)).toInt))
    }
    Log("oracle answered")
    def cell(k: Long, d: Int) = oracle.getOrElse((k * Dirs + d).toInt, Oracle.NoRows)
    def sumOf(xs: Seq[Expected]) = Expected(
      Answer(xs.map(_.answer.rows).sum, xs.map(_.answer.checksum).sum), xs.flatMap(_.files).toSet)
    def byKey(k: Long) = sumOf((0 until Dirs).map(cell(k, _)))
    // rows per key, highest key first: the keys of a top-n answer
    val kRows = (0L until Seeds).reverse.map(k => k -> byKey(k).answer.rows)
    def topKeys(n: Int): Seq[Long] =
      kRows.iterator.flatMap { case (k, c) => Iterator.fill(c.toInt)(k) }.take(n).toSeq

    def shape(i: Int)(q: Int => DataFrame => DataFrame)(
        chk: (Int, QueryRun, Boolean) => Option[String]): QueryShape = new QueryShape {
      val name = Shapes(i)
      def query(p: Int)(df: DataFrame): DataFrame = q(p)(df)
      def check(p: Int, run: QueryRun, corrupt: Boolean): Option[String] = chk(p, run, corrupt)
    }
    // a row some seed file holds
    def tableRow(r: Row): Boolean =
      r.getString(1) == ks(r.getLong(0)) && r.getLong(2) / RowsPerSeed == r.getLong(0)
    def rowCount(rows: Array[Row], want: Long, corrupt: Boolean): Option[String] = {
      val expect = if (corrupt) want + 1 else want
      if (rows.length != expect) Some(s"${rows.length} rows, expected $expect") else None
    }
    val shapes = Seq(
      shape(0)(p => _.where(col("k") === point(p)))((p, run, c) =>
        Oracle.checkRows(byKey(point(p)), run, c)),
      shape(1)(p => _.where(col("b") === partPoint(p)._1 && col("k") === partPoint(p)._2))(
        (p, run, c) => Oracle.checkRows(cell(partPoint(p)._2, partPoint(p)._1), run, c)),
      // v is not indexed: every file is listed, the limit reads few
      shape(2)(p => _.where(col("v") >= limits(p)._1).limit(limits(p)._2))((p, run, c) =>
        rowCount(run.rows, limits(p)._2.toLong, c).orElse(
          if (run.rows.forall(r => tableRow(r) && r.getLong(2) >= limits(p)._1)) None
          else Some("a returned row does not match the predicate or the table"))),
      shape(3)(p => _.where(col("b").between(aggRanges(p)._1, aggRanges(p)._2))
        .agg(count(lit(1)), min("k"), max("k"))) { (p, run, c) =>
        val (lo, hi) = aggRanges(p)
        val cells = for (k <- 0L until Seeds; d <- lo to hi if cell(k, d).answer.rows > 0) yield k -> d
        val want = Row(cells.map { case (k, d) => cell(k, d).answer.rows }.sum + (if (c) 1 else 0),
          cells.map(_._1).min, cells.map(_._1).max)
        if (run.rows.toSeq == Seq(want)) None else Some(s"${run.rows.toSeq}, expected $want")
      },
      shape(4)(p => _.orderBy(col("k").desc).limit(topN(p)))((p, run, c) =>
        rowCount(run.rows, topN(p).toLong, c).orElse(
          if (run.rows.forall(tableRow) &&
            run.rows.map(_.getLong(0)).sorted.toSeq == topKeys(topN(p)).sorted) None
          else Some("top-n keys differ from the oracle's"))),
      shape(5)(p => df => df.join(joinKeys(p).toDF("k"), "k").select(df.columns.toIndexedSeq.map(col): _*))(
        (p, run, c) => Oracle.checkRows(sumOf(joinKeys(p).map(byKey)), run, c)))

    val loop = new QueryLoop(b, shapes,
      () => b.spark.index.option("spark.sql.index.pruning.distributedThreshold", Threshold).parquet(path),
      // the reference read: the first copy of seed file p % Seeds, through plain Parquet
      p => Reference(b.spark.read.parquet(f"$path/b=00/part-${p % Seeds}%03d-000.parquet")
        .where(col("k") === p % Seeds), RowsPerSeed),
      warmupPasses = maxPasses until Seeds, timedPasses = maxPasses, minPasses = 10)
    loop.run(b.opts.seconds, b.opts.corruptAnswer)
    QueryLoop.report(b, loop, "many_files", FileCount,
      QueryLoop.plainPassMs(b, path, shapes))
  }
}
