package graft.index

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.implicits._

/** Race-hammers the epoch-tagged memo contract of
  * [[org.apache.spark.sql.graft.GraftFileIndex]]: N threads loop
  * listFiles / metadata-aggregate / top-k-bound computations while the
  * main thread appends data and refreshes in a loop. The contract under
  * test: a computation that BEGAN before a refresh may return its own
  * pre-refresh snapshot to its in-flight caller, but must never be
  * INSTALLED where a post-refresh reader could see it — every fresh
  * reader after refresh() returns must see exactly the new snapshot
  * (a stale kth bound would make the injected top-k range cut unsound). */
class MemoConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-memorace").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-memorace-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(IndexConf.MetastoreLocation, s"$work/metastore")
    .getOrCreate()

  private val table = s"$work/t"
  private val rowsPerBatch = 100L
  // sketches off: each refresh iteration stays footer-only fast, and the
  // memos under test (stats, bounds, listings) never touch sketches
  private val opts = Map(IndexConf.FilterEnabled -> "false")

  private def writeBatch(i: Int): Unit = {
    // batch i carries values [i*1000, i*1000+rows): strictly increasing
    // block minima, so the k=1 largest bound identifies the snapshot
    spark.range(i * 1000L, i * 1000L + rowsPerBatch).toDF("v")
      .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
      .parquet(table)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    writeBatch(0)
    spark.index.create.mode("overwrite").options(opts).indexBy("v").parquet(table)
  }

  test("no post-refresh reader ever sees a pre-refresh memo snapshot") {
    val ms = new Metastore(spark, IndexConf(spark, opts))
    val roots = IndexedDataSource.resolveTableRoots(spark, Seq(table))
    val (indexDir, meta) = ms.load(Metastore.Dataspace, roots)
    val gfi = new org.apache.spark.sql.graft.GraftFileIndex(
      spark, indexDir, meta, IndexConf(spark, opts))

    val stop = new AtomicBoolean(false)
    val firstError = new AtomicReference[Throwable](null)
    def guarded(body: => Unit): Unit =
      try body catch { case t: Throwable => firstError.compareAndSet(null, t) }

    // 6 hammer threads: continuous memo computes whose installs race the
    // main loop's refresh() clears
    val hammers = (1 to 6).map { h =>
      val t = new Thread(() => guarded {
        val rnd = new scala.util.Random(h)
        while (!stop.get()) rnd.nextInt(3) match {
          case 0 => gfi.metadataStats(Seq("v"))
          case 1 => gfi.topKBound("v", LongType, 1L, largest = true)
          case _ => gfi.listFiles(Nil, Nil)
        }
      }, s"memo-hammer-$h")
      t.setDaemon(true)
      t.start()
      t
    }

    try {
      (1 to 8).foreach { i =>
        writeBatch(i)
        IndexedDataSource.refreshIndex(spark, table, Metastore.Dataspace, opts)
        gfi.refresh()
        val expectRows = (i + 1) * rowsPerBatch
        val expectBound = Some(i * 1000L)
        // several FRESH readers immediately after the refresh — each must
        // see exactly the new snapshot, never a resurrected stale memo
        val readers = (1 to 4).map { r =>
          val t = new Thread(() => guarded {
            val rows = gfi.metadataStats(Seq("v")).rows
            assert(rows == expectRows,
              s"post-refresh reader $r of iteration $i saw $rows rows, want $expectRows")
            val bound = gfi.topKBound("v", LongType, 1L, largest = true)
            assert(bound == expectBound,
              s"post-refresh reader $r of iteration $i saw kth bound $bound, want $expectBound")
          }, s"fresh-reader-$i-$r")
          t.start()
          t
        }
        readers.foreach(_.join(30000))
        assert(firstError.get() == null,
          s"iteration $i: ${Option(firstError.get()).map(_.toString).getOrElse("")}")
      }
    } finally {
      stop.set(true)
      hammers.foreach(_.join(10000))
    }
    assert(firstError.get() == null, s"hammer failed: ${firstError.get()}")
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
