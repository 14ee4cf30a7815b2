package graft.index

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.implicits._

/** A non-`file:` scheme backed by the local disk with a listStatus call
  * counter — the stand-in for a cluster store (HDFS-class: real directory
  * mtimes). Lets the suite measure exactly how many LIST calls a
  * manifest-guided refresh issues against the table's filesystem. */
class CountingMockFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: URI = URI.create("mockfs:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingMockFileSystem.listStatusCalls.incrementAndGet()
    CountingMockFileSystem.listedPaths.add(p.toString)
    super.listStatus(p)
  }
}

object CountingMockFileSystem {
  val listStatusCalls = new AtomicLong(0L)
  val listedPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { listStatusCalls.set(0L); listedPaths.clear() }
  def drain(): Seq[String] = {
    val b = Seq.newBuilder[String]
    var p = listedPaths.poll()
    while (p != null) { b += p; p = listedPaths.poll() }
    b.result()
  }
}

/** End-to-end lifecycle over a REMOTE (non-`file:`) scheme — the
  * default-on surface of the dir-manifest refresh tier, previously only
  * ever exercised force-enabled over local paths:
  *   - "auto" engages for a whitelisted scheme and stays off for one
  *     that is not whitelisted (the object-store safety gate);
  *   - a 1-dir delta re-lists EXACTLY one directory, asserted by the
  *     wrapper filesystem's listStatus call count — the tier's central
  *     O(changed dirs) LIST-cost claim, measured instead of argued;
  *   - create → load → prune → refresh → delete all work unchanged over
  *     the scheme (metastore keyed by scheme, pruning intact). */
class MockFsRefreshSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-mockfs").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-mockfs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.hadoop.fs.mockfs.impl",
      classOf[CountingMockFileSystem].getName)
    .config(IndexConf.MetastoreLocation, s"$work/metastore")
    .getOrCreate()

  import spark.implicits._

  private val tablePath = s"mockfs://$work/orders_part"

  // auto + the scheme whitelisted: this IS the default-on cloud path
  private val opts = Map(
    IndexConf.DistributedPruningThreshold -> "1",
    IndexConf.RefreshDirManifest -> "auto",
    IndexConf.RefreshDirManifestSchemes -> "hdfs,abfs,abfss,mockfs",
    IndexConf.RefreshDirMtimeSlack -> "0")

  private def refresh(o: Map[String, String] = opts) =
    IndexedDataSource.refreshIndex(spark, tablePath, Metastore.Dataspace, o)

  private lazy val years: Seq[Int] = {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
    orders.write.mode("overwrite").partitionBy("o_year").parquet(tablePath)
    orders.select("o_year").distinct().as[Int].collect().sorted.toSeq
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    years
    spark.index.create.mode("overwrite").options(opts)
      .indexBy("o_custkey").parquet(tablePath)
  }

  test("auto engages the manifest tier on a whitelisted remote scheme") {
    IndexedDataSource.lastManifestStats = None
    assert(refresh() == IndexedDataSource.RefreshStats(0L, 0L))
    val (probed, changed, deleted, unchanged) =
      IndexedDataSource.lastManifestStats.getOrElse(
        fail("auto mode must engage for mockfs:// when whitelisted"))
    assert(probed == years.size + 1L)
    assert(deleted == 0L && changed + unchanged == probed)
  }

  test("auto stays OFF when the scheme is not whitelisted (object-store gate)") {
    IndexedDataSource.lastManifestStats = None
    val gated = opts + (IndexConf.RefreshDirManifestSchemes -> "hdfs,abfs")
    assert(refresh(gated) == IndexedDataSource.RefreshStats(0L, 0L))
    assert(IndexedDataSource.lastManifestStats.isEmpty,
      "a scheme outside the whitelist must not engage the mtime probe")
  }

  test("1-dir delta re-lists exactly one directory (listStatus-counted)") {
    // re-seed the manifest (the gated full walk above rewrote it)
    assert(refresh() == IndexedDataSource.RefreshStats(0L, 0L))
    val y = years.head
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .filter(col("o_year") === y).limit(40).drop("o_year")
      .coalesce(1).write.mode("append").parquet(s"$tablePath/o_year=$y")
    CountingMockFileSystem.reset()
    IndexedDataSource.lastManifestStats = None
    val stats = refresh()
    val listed = CountingMockFileSystem.drain()
    assert(stats == IndexedDataSource.RefreshStats(1L, 0L), s"got $stats")
    val (_, changed, _, _) =
      IndexedDataSource.lastManifestStats.getOrElse(fail("tier did not run"))
    assert(changed == 1L, s"only the appended dir may re-list, got $changed")
    // DIRECTORY-level LIST calls (the O(changed dirs) claim): exactly the
    // one appended partition dir. File-path listStatus (the sketch
    // builder's per-added-file read) is O(delta) and allowed.
    val dirListings = listed.filter(p =>
      p.endsWith("orders_part") || p.matches(".*o_year=\\d+$"))
    assert(dirListings.size == 1 && dirListings.head.endsWith(s"o_year=$y"),
      s"a 1-dir delta must LIST exactly the changed dir, got: $listed")
  }

  test("indexed pruning + metastore round-trip work unchanged over mockfs") {
    val plain = spark.read.parquet(tablePath)
    val indexed = spark.index.parquet(tablePath)
    val key = plain.select("o_custkey").as[Long].head()
    val a = indexed.filter(col("o_custkey") === key)
      .select("o_orderkey").as[Long].collect().sorted
    val b = plain.filter(col("o_custkey") === key)
      .select("o_orderkey").as[Long].collect().sorted
    assert(a.nonEmpty && a.sameElements(b))
    assert(IndexedDataSource.existsIndex(spark, tablePath, Metastore.Dataspace))
    IndexedDataSource.deleteIndex(spark, tablePath, Metastore.Dataspace)
    assert(!IndexedDataSource.existsIndex(spark, tablePath, Metastore.Dataspace))
  }

  test("metastore on the remote scheme, table local: the symmetric cross-scheme case") {
    // the Wrong-FS class of bug has two directions; the other tests pin
    // table-remote/metastore-local, this one pins the inverse
    val t2 = s"$work/local_table"
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    nation.coalesce(2).write.mode("overwrite").parquet(t2)
    val o2 = Map(
      IndexConf.MetastoreLocation -> s"mockfs://$work/metastore2",
      IndexConf.DistributedPruningThreshold -> "1")
    IndexedDataSource.createIndex(spark, t2, Metastore.Dataspace,
      org.apache.spark.sql.SaveMode.Overwrite, Seq("n_nationkey"),
      indexAll = false, o2, "parquet")
    nation.limit(5).coalesce(1).write.mode("append").parquet(t2)
    val st = IndexedDataSource.refreshIndex(spark, t2, Metastore.Dataspace, o2)
    assert(st == IndexedDataSource.RefreshStats(1L, 0L), s"got $st")
    val df = IndexedDataSource.load(spark, Seq(t2), Metastore.Dataspace, o2, None)
    assert(df.count() == spark.read.parquet(t2).count())
    val key = nation.select("n_nationkey").as[Long].head()
    assert(df.filter(col("n_nationkey") === key).count() ==
      spark.read.parquet(t2).filter(col("n_nationkey") === key).count())
  }

  test("one listing opens the sketch table once, however many partitions survive min/max") {
    // every file spans [0, 10000], so min/max keeps all six files of the
    // three partitions and only the bloom sketches can cut the lookup
    val t3 = s"mockfs://$work/sketch_part"
    for (p <- 0 until 3; f <- 0 until 2) {
      val base = (p * 2 + f) * 100L
      spark.range(base + 1, base + 100).union(spark.range(0, 1))
        .union(spark.range(10000, 10001)).toDF("k")
        .coalesce(1).write.mode("append").parquet(s"$t3/p=$p")
    }
    val o3 = Map(IndexConf.MetastoreLocation -> s"mockfs://$work/metastore3")
    spark.index.create.mode("overwrite").options(o3).indexBy("k").parquet(t3)
    // a reader without the sketches create handed to this process's
    // cache (another process, say) reads them from the table
    SketchStore.invalidate(new org.apache.hadoop.fs.Path(new Metastore(spark, IndexConf(spark, o3))
      .location(Metastore.Dataspace, IndexedDataSource.resolveTableRoots(spark, Seq(t3))),
      Metastore.SketchDir))
    val lookup = spark.index.options(o3).parquet(t3).filter(col("k") === 150L)
    CountingMockFileSystem.reset()
    assert(lookup.count() == 1L)
    val sketchOpens = CountingMockFileSystem.drain()
      .filter(_.endsWith(s"/${Metastore.SketchDir}"))
    assert(sketchOpens.size == 1,
      s"min/max survivors in 3 partitions must load their sketches in one read, got $sketchOpens")
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
