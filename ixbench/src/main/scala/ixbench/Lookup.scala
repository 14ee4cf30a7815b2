package ixbench

import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.index.implicits._

/** The reference README's example: a lineitem-like table of 1M rows in 400
  * files, indexed on four columns with default bloom sketches and default
  * conf, so pruning folds on the driver over a warm metastore. */
object Lookup extends Workload {
  val Rows = 1000000L
  val Files = 400
  val RowsPerFile: Long = Rows / Files
  val OrderKeys: Long = Rows / 4
  val PartKeys = 100000L // part keys are even: 0, 2, ...; odd ones never occur
  val Days = 1000L
  val Epoch: LocalDate = LocalDate.of(1992, 1, 1)
  val InList = 5
  val RangeDays = 3
  val IndexedColumns = Seq("l_orderkey", "l_partkey", "l_shipdate", "l_returnflag")
  val Shapes = Seq("eq_clustered", "eq_sketch", "in_list", "range", "two_col_and", "miss")
  private val Flags = Array("A", "N", "R")
  private val Payload = "-payload-payload"

  /** Clustered order key; unclustered part key; ship date correlated with
    * file order; low-cardinality return flag; a string payload. */
  def table(seed: Long): Data.Table = {
    // part key = 2 * ((a * id + c(q)) mod PartKeys), q = id / PartKeys:
    // with a prime to PartKeys each block of PartKeys ids holds every part
    // key once, so every part key holds Rows / PartKeys rows in as many
    // files whatever the seed. The offset c(q) differs per block, so no two
    // files hold the same set of part keys: with one offset, files PartKeys
    // ids apart had identical bloom sketches and a false positive cost ten
    // files at once.
    val a = {
      val x = Data.uniform(seed, 0, 6, PartKeys / 2) * 2 + 1
      if (x % 5 == 0) x + 2 else x
    }
    def c(q: Long) = Data.uniform(seed, q, 7, PartKeys)
    Data.Table(
      """message lineitem {
        |  optional int64 l_orderkey; optional int64 l_partkey;
        |  optional int32 l_shipdate (DATE); optional binary l_returnflag (STRING);
        |  optional binary l_comment (STRING);
        |}""".stripMargin,
      id => Array[Any](
        id / 4,
        Math.floorMod(a * id + c(id / PartKeys), PartKeys) * 2,
        (Epoch.toEpochDay + id * Days / Rows + Data.uniform(seed, id, 2, 7)).toInt,
        Flags(Data.uniform(seed, id, 3, 3).toInt),
        "c" + java.lang.Long.toHexString(Data.mix(seed, id, 4)) +
          Payload.take(Data.uniform(seed, id, 5, 16).toInt)))
  }

  def generate(opts: Options): Unit = {
    val t = table(opts.seed)
    Data.parallel(Files) { i =>
      Data.write(t, Iterator.range(i * RowsPerFile, (i + 1) * RowsPerFile),
        opts.local(f"data/lookup/part-$i%05d.parquet"))
    }
  }

  def run(b: Bench): WorkloadResult = {
    val seed = b.opts.seed
    val path = BenchFs.table("lookup")
    val t = table(seed)
    b.trace.span("create") {
      b.spark.index.create.indexBy(IndexedColumns: _*).parquet(path)
    }
    Log("indexed")

    // keys: distinct per shape across every pass, warm-up passes included;
    // timed passes are 0 until maxPasses, the warm-up passes follow them
    val warmup = 5
    val maxPasses = 150
    val total = maxPasses + warmup
    val rnd = new Random(seed)
    def distinct(n: Int)(draw: => Long): IndexedSeq[Long] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (seen.size < n) seen += draw
      seen.toIndexedSeq
    }
    val orderKeys = distinct(total * (1 + InList))(rnd.nextLong(OrderKeys))
    val eqOrder = orderKeys.take(total)
    val inLists = orderKeys.drop(total).grouped(InList).toIndexedSeq
    val rangeStart = distinct(total)(rnd.nextLong(Days - RangeDays))
      .map(d => (Epoch.toEpochDay + d).toInt)
    val missKeys = distinct(total)(rnd.nextLong(PartKeys) * 2 + 1)
    // the part key, and the (part key, ship date) pair, of rows that exist
    val picked = distinct(2 * total)(rnd.nextLong(Rows)).map(t.row)
    val eqPart = picked.take(total).map(_(1).asInstanceOf[Long])
    val twoCol = picked.drop(total).map(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[Int]))

    // one plain scan answers every query: query id = shape * total + pass
    def ids[K](shape: Int, keys: Seq[(K, Int)]): Seq[(K, Int)] =
      keys.map { case (k, p) => k -> (shape * total + p) }
    def index[K](pairs: Seq[(K, Int)]): Map[K, Seq[Int]] = pairs.groupMap(_._1)(_._2)
    val byOrder = index(ids(0, eqOrder.zipWithIndex) ++
      ids(2, inLists.zipWithIndex.flatMap { case (ks, p) => ks.map(_ -> p) }))
    val byPart = index(ids(1, eqPart.zipWithIndex) ++ ids(5, missKeys.zipWithIndex))
    val byDay = index(ids(3, rangeStart.zipWithIndex.flatMap { case (d, p) =>
      (0 until RangeDays).map(i => (d + i) -> p) }))
    val byPartDay = index(ids(4, twoCol.zipWithIndex))
    val oracle = b.trace.span("oracle") {
      Oracle.scan(b.spark.read.parquet(path), { r =>
        val day = r.getAs[LocalDate](2).toEpochDay.toInt
        byOrder.getOrElse(r.getLong(0), Nil) ++ byPart.getOrElse(r.getLong(1), Nil) ++
          byDay.getOrElse(day, Nil) ++ byPartDay.getOrElse((r.getLong(1), day), Nil)
      })
    }
    Log("oracle answered")

    def date(d: Int) = LocalDate.ofEpochDay(d)
    def shape(i: Int)(q: Int => Column): QueryShape = new QueryShape {
      val name = Shapes(i)
      def query(p: Int)(df: DataFrame): DataFrame = df.where(q(p))
      def check(p: Int, run: QueryRun, corrupt: Boolean): Option[String] =
        Oracle.checkRows(oracle.getOrElse(i * total + p, Oracle.NoRows), run, corrupt)
    }
    val shapes = Seq(
      shape(0)(p => col("l_orderkey") === eqOrder(p)),
      shape(1)(p => col("l_partkey") === eqPart(p)),
      shape(2)(p => col("l_orderkey").isin(inLists(p): _*)),
      shape(3)(p => col("l_shipdate").between(date(rangeStart(p)), date(rangeStart(p) + RangeDays - 1))),
      shape(4)(p => col("l_partkey") === twoCol(p)._1 && col("l_shipdate") === date(twoCol(p)._2)),
      shape(5)(p => col("l_partkey") === missKeys(p)))

    // the reference read: an order key of file p % Files, whose four rows
    // sit in that file, through plain Parquet
    def reference(p: Int): Reference = {
      val i = p % Files
      Reference(b.spark.read.parquet(f"$path/part-$i%05d.parquet")
        .where(col("l_orderkey") === i * RowsPerFile / 4 + p % (RowsPerFile / 4)), 4)
    }

    val loop = new QueryLoop(b, shapes, () => b.spark.index.parquet(path), reference,
      warmupPasses = maxPasses until total, timedPasses = maxPasses, minPasses = 12)
    loop.run(b.opts.seconds, b.opts.corruptAnswer)
    QueryLoop.report(b, loop, "lookup", Files,
      QueryLoop.plainPassMs(b, path, shapes))
  }
}
