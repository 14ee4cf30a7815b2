package graft.index

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.implicits._

/** Refresh on both tiers — the driver tier below
  * `spark.sql.index.pruning.distributedThreshold` and the distributed tier
  * at threshold 1:
  *   - after every step of a table's history, the refreshed index equals
  *     a fresh create over the same data (files-table rows with
  *     partitionIdx mapped to partition values, sketch rows, file count,
  *     bytes, data schema);
  *   - a refresh that fails before its swap leaves the index loadable and
  *     unchanged, leaves no staging behind, and a rerun converges, with
  *     the stats pass on either of its runners ([[PassRunners]]);
  *   - a create failing in its pass leaves no index dir, and a create
  *     over partitions holding only empty files records them;
  *   - a small create and the driver tier's small refreshes start no Spark
  *     job and write the files table as one part, a delta or create past
  *     one scan task runs pinned jobs, and part-level sketch removals
  *     stay pinned. */
class RefreshTiersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-refresh-tiers").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-refresh-tiers-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(IndexConf.MetastoreLocation, s"$work/metastore")
    .getOrCreate()

  private val IndexCols = Seq("k", "s", "x", "ts")
  private val Fresh = "fresh"
  private val Tiers = Seq(
    "driver" -> Map.empty[String, String],
    "distributed" -> Map(IndexConf.DistributedPruningThreshold -> "1"))

  /** Append `files` parquet files of keys [from, from + n) to `dir`: columns k,
    * s, ts, plus x unless `withX` is off and y when `withY` is on; ts
    * written as INT96 (no footer min/max) when `int96`, else as
    * TIMESTAMP_MICROS (footer min/max). */
  private def writeFile(dir: String, from: Long, n: Long, withX: Boolean = true,
      withY: Boolean = false, int96: Boolean = false, files: Int = 1): Unit = {
    val base = spark.range(from, from + n).select(
      col("id").as("k"), concat(lit("s"), col("id") % 13).as("s"),
      timestamp_seconds(col("id") + 1600000000L).as("ts"))
    val withCols = Seq(
      Some(col("k")), Some(col("s")), Some(col("ts")),
      if (withX) Some((col("k") * 3).as("x")) else None,
      if (withY) Some((col("k") + 7).as("y")) else None).flatten
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      if (int96) "INT96" else "TIMESTAMP_MICROS")
    val df = base.select(withCols: _*)
    try (if (files == 1) df.coalesce(1) else df.repartition(files)).write.mode("append").parquet(dir)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)

  private def allDataFiles(table: String): Seq[java.io.File] =
    Option(new java.io.File(table).listFiles()).toSeq.flatten
      .filter(_.isDirectory).flatMap(d => dataFiles(d.getPath)).sortBy(_.getPath)

  /** Delete a data file and its checksum side file. */
  private def remove(f: java.io.File): Unit = {
    assert(f.delete())
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    ()
  }

  /** What a refreshed index and a fresh create must agree on. */
  private case class Snapshot(
      files: Seq[(Seq[Option[String]], FileStatsRow)],
      sketches: Seq[(String, String, String, Seq[Byte])],
      fileCount: Long,
      totalBytes: Long,
      dataSchema: StructType)

  private def indexDir(dataspace: String, table: String): Path =
    Metastore(spark).location(dataspace, IndexedDataSource.resolveTableRoots(spark, Seq(table)))

  private def snapshot(dataspace: String, table: String): Snapshot = {
    val (dir, meta) = Metastore(spark).load(
      dataspace, IndexedDataSource.resolveTableRoots(spark, Seq(table)))
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = IndexFilesTable.readUncached(new Path(dir, Metastore.FilesDir), hconf)
      .map(r => (meta.partitionValues(r.partitionIdx), r.copy(partitionIdx = -1)))
      .sortBy(_._2.path)
    val sketchDir = new Path(dir, Metastore.SketchDir)
    val sketches =
      if (!sketchDir.getFileSystem(hconf).exists(sketchDir)) Nil
      else spark.read.schema(SketchStore.Schema).parquet(sketchDir.toString).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getAs[Array[Byte]](3).toSeq))
        .sortBy(r => (r._1, r._2))
    Snapshot(files, sketches, meta.fileCount, meta.totalBytes, meta.dataSchema)
  }

  private def create(dataspace: String, table: String): Unit =
    IndexedDataSource.createIndex(spark, Seq(table), dataspace, SaveMode.Overwrite,
      IndexCols, indexAll = false, Map.empty, Sources.Parquet)

  private def refresh(table: String, opts: Map[String, String]) =
    IndexedDataSource.refreshIndex(spark, Seq(table), Metastore.Dataspace, opts)

  /** The refreshed index equals a fresh create over the same data. The
    * distributed listing does not fetch block locations (see
    * `distributedListingDiff`), so on that tier the two listing hints are
    * left out; and its append-only metadata widens the old schema with
    * the delta's, which can order the fields differently from create's
    * first-path merge, so there the schemas compare field by field. */
  private def assertMatchesCreate(table: String, tier: String, step: String): Snapshot = {
    create(Fresh, table)
    val got = snapshot(Metastore.Dataspace, table)
    val want = snapshot(Fresh, table)
    val hints = (s: Snapshot) =>
      if (tier == "driver") s.files
      else s.files.map { case (pv, r) => (pv, r.copy(blockSize = 0L, locationsJson = "")) }
    assert(hints(got) == hints(want), s"$tier/$step: files-table rows differ")
    assert(got.sketches == want.sketches, s"$tier/$step: sketch rows differ")
    assert((got.fileCount, got.totalBytes) == (want.fileCount, want.totalBytes),
      s"$tier/$step: counts differ")
    if (tier == "driver") {
      assert(got.dataSchema == want.dataSchema, s"$tier/$step: data schema differs")
    } else {
      assert(got.dataSchema.fields.sortBy(_.name).toSeq == want.dataSchema.fields.sortBy(_.name).toSeq,
        s"$tier/$step: data schema differs")
    }
    assert(staging(table).isEmpty, s"$tier/$step: staging left behind")
    got
  }

  /** Staging dirs and commit temp files in the index dir of `table`. */
  private def staging(table: String): Seq[String] =
    Option(new java.io.File(indexDir(Metastore.Dataspace, table).toUri.getPath).listFiles())
      .toSeq.flatten.map(_.getName).filter(n => n.endsWith("_tmp") || n.endsWith(".tmp"))

  /** Predicates whose per-file pruning verdicts the caches must agree on:
    * min/max and sketch probes, a range and a miss. */
  private val Probes = Seq(col("k") === 150L, col("s") === "s3", col("x") > 2000L,
    col("k") === -1L)

  /** What the read caches serve for the index of `table` — on the driver
    * tier the snapshot its last commit handed over — equals what a
    * reader gets after every cache is dropped: the metadata, the
    * files-table rows and each file's pruning verdict for each probe. */
  private def assertCachesMatchCold(table: String, tier: String, step: String): Unit = {
    val roots = IndexedDataSource.resolveTableRoots(spark, Seq(table))
    val dir = indexDir(Metastore.Dataspace, table)
    val (filesDir, sketchDir) = (new Path(dir, Metastore.FilesDir), new Path(dir, Metastore.SketchDir))
    val hconf = spark.sparkContext.hadoopConfiguration
    def view(): (IndexMetadata, Seq[FileStatsRow], Seq[Set[String]]) = {
      val (_, meta) = Metastore(spark).load(Metastore.Dataspace, roots)
      val rows = IndexFilesTable.readAll(filesDir, meta, hconf).sortBy(_.path)
      val index = new org.apache.spark.sql.graft.GraftFileIndex(spark, dir, meta)
      val relation = spark.index.parquet(table)
      val verdicts = Probes.map { p =>
        val cond = relation.where(p).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.get
        index.listFiles(Nil, Seq(cond)).flatMap(_.files.map(_.getPath.toString)).toSet
      }
      (meta, rows, verdicts)
    }
    if (tier == "driver") {
      val (_, meta) = Metastore(spark).load(Metastore.Dataspace, roots)
      assert(IndexFilesTable.cached(filesDir, meta).isDefined &&
        SketchStore.cached(sketchDir, meta).isDefined, s"$tier/$step: nothing was handed over")
    }
    val warm = view()
    Metastore.cacheInvalidate(dir.toString)
    IndexFilesTable.invalidate(filesDir)
    SketchStore.invalidate(sketchDir)
    val cold = view()
    assert(warm._1 == cold._1, s"$tier/$step: handed-over metadata differs")
    assert(warm._2 == cold._2, s"$tier/$step: handed-over files-table rows differ")
    assert(warm._3 == cold._3, s"$tier/$step: handed-over pruning verdicts differ")
  }

  private def sameRows(indexed: DataFrame, plain: DataFrame): Unit = {
    val a = indexed.collect().map(_.toString).sorted
    val b = plain.collect().map(_.toString).sorted
    assert(a.sameElements(b), s"indexed ${a.length} rows vs plain ${b.length}")
  }

  for ((tier, opts) <- Tiers) {
    test(s"$tier tier: refresh equals a fresh create after every step of a history") {
      val t = s"$work/history_$tier"
      writeFile(s"$t/p=0", 0, 200)
      writeFile(s"$t/p=0", 200, 200)
      writeFile(s"$t/p=1", 400, 200)
      writeFile(s"$t/p=1", 600, 200)
      create(Metastore.Dataspace, t)
      def step(name: String, added: Long, removed: Long): Snapshot = {
        val st = refresh(t, opts)
        assert(st == IndexedDataSource.RefreshStats(added, removed), s"$tier/$name: $st")
        assertCachesMatchCold(t, tier, name)
        val snap = assertMatchesCreate(t, tier, name)
        sameRows(spark.index.parquet(t),
          spark.read.option("mergeSchema", "true").parquet(t))
        snap
      }

      // append-only, into an existing and a new partition
      writeFile(s"$t/p=1", 800, 200)
      writeFile(s"$t/p=2", 1000, 200)
      step("append", 2, 0)

      // removal
      remove(dataFiles(s"$t/p=0").head)
      step("removal", 0, 1)

      // rewrite in place: same path, new content and mtime
      val victim = dataFiles(s"$t/p=1").head
      val scratch = s"$work/rewrite_$tier"
      writeFile(scratch, 5000, 150)
      val fresh = dataFiles(scratch).head
      Files.copy(fresh.toPath, victim.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.copy(new java.io.File(scratch, s".${fresh.getName}.crc").toPath,
        new java.io.File(victim.getParent, s".${victim.getName}.crc").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(victim.setLastModified(victim.lastModified() + 60000L))
      step("rewrite", 1, 1)

      // heterogeneous append: the new file lacks the indexed column x
      writeFile(s"$t/p=2", 1200, 100, withX = false)
      step("no-x append", 1, 0)

      // the only file carrying y comes and goes: dataSchema must shrink
      writeFile(s"$t/p=2", 1300, 100, withY = true)
      assert(step("y append", 1, 0).dataSchema.fieldNames.contains("y"))
      remove(dataFiles(s"$t/p=2").find(f =>
        spark.read.parquet(f.getPath).columns.contains("y")).get)
      assert(!step("y removal", 0, 1).dataSchema.fieldNames.contains("y"))

      // an INT96 delta: its ts bounds come from the fallback scan
      writeFile(s"$t/p=1", 1400, 100, int96 = true)
      val snap = step("int96 append", 1, 0)
      assert(snap.files.forall { case (_, r) =>
        IndexMetadata.blocksFromJsonString(r.blocksJson)
          .forall(_.columns.get("ts").forall(_.min.isDefined))
      }, s"$tier: a ts block kept no bounds")

      // every file removed: an empty index that still loads and answers
      val before = allDataFiles(t).size.toLong
      allDataFiles(t).foreach(remove)
      assert(refresh(t, opts) == IndexedDataSource.RefreshStats(0L, before))
      val empty = snapshot(Metastore.Dataspace, t)
      assert(empty.files.isEmpty && empty.sketches.isEmpty)
      assert((empty.fileCount, empty.totalBytes) == (0L, 0L))
      assert(spark.index.parquet(t).where(col("k") === 5L).count() == 0L)
    }

  }

  for ((tier, opts) <- Tiers; runner <- PassRunners.All) {
    test(PassRunners.named(
        s"$tier tier: a refresh failing before its swap leaves the index as it was", runner)) {
      PassRunners.on(spark, runner) {
        val t = s"$work/failing_${tier}_$runner"
        (0 until 4).foreach(i => writeFile(s"$t/p=0", i * 100L, 100))
        create(Metastore.Dataspace, t)
        val q = (df: DataFrame) => df.where(col("k") === 150L || col("s") === "s3")
        val answer = q(spark.index.parquet(t)).collect().map(_.toString).sorted
        val before = snapshot(Metastore.Dataspace, t)

        // a good file and a truncated one land together
        writeFile(s"$t/p=0", 1000, 100)
        val good = dataFiles(s"$t/p=0").last
        val bad = new java.io.File(s"$t/p=0", "part-truncated.parquet")
        val bytes = Files.readAllBytes(good.toPath)
        Files.write(bad.toPath, java.util.Arrays.copyOf(bytes, bytes.length / 2))
        intercept[Exception](refresh(t, opts))
        // no task of the aborted jobs outlives the cleanup
        TestListenerBus.drain(spark.sparkContext)
        val dir = indexDir(Metastore.Dataspace, t)
        Seq(Metastore.FilesDir, Metastore.SketchDir).foreach { d =>
          assert(!new java.io.File(dir.toUri.getPath, d + "_tmp").exists(), s"$tier: ${d}_tmp left behind")
        }

        assert(spark.index.exists.parquet(t))
        assert(q(spark.index.parquet(t)).collect().map(_.toString).sorted.sameElements(answer))
        assert(snapshot(Metastore.Dataspace, t) == before, "the failed refresh changed the index")

        remove(bad)
        assert(refresh(t, opts) == IndexedDataSource.RefreshStats(1L, 0L))
        assertMatchesCreate(t, tier, "rerun")
        sameRows(q(spark.index.parquet(t)), q(spark.read.parquet(t)))
      }
    }
  }

  for (runner <- PassRunners.All) {
    test(PassRunners.named("a create failing in its pass leaves no index behind", runner)) {
      PassRunners.on(spark, runner) {
        val t = s"$work/failing_create_$runner"
        (0 until 4).foreach(i => writeFile(s"$t/p=0", i * 100L, 100))
        val good = dataFiles(s"$t/p=0").last
        val bad = new java.io.File(s"$t/p=0", "part-truncated.parquet")
        val bytes = Files.readAllBytes(good.toPath)
        Files.write(bad.toPath, java.util.Arrays.copyOf(bytes, bytes.length / 2))
        intercept[Exception](create(Metastore.Dataspace, t))
        // no task of the aborted jobs outlives the cleanup
        TestListenerBus.drain(spark.sparkContext)
        val dir = new java.io.File(indexDir(Metastore.Dataspace, t).toUri.getPath)
        assert(!spark.index.exists.parquet(t))
        assert(!dir.exists(), "the failed create left its index dir")
        assert(!Option(dir.getParentFile.listFiles()).toSeq.flatten
          .exists(_.getName.contains("_tmp")), "the failed create left staging behind")

        remove(bad)
        create(Metastore.Dataspace, t)
        sameRows(spark.index.parquet(t), spark.read.parquet(t))
        sameRows(spark.index.parquet(t).where(col("k") === 150L || col("s") === "s3"),
          spark.read.parquet(t).where(col("k") === 150L || col("s") === "s3"))
      }
    }
  }

  test("create records partitions holding only empty files, and an append refresh indexes") {
    val t = s"$work/empty_files"
    Seq(0, 1).foreach { p =>
      assert(new java.io.File(s"$t/p=$p").mkdirs())
      assert(new java.io.File(s"$t/p=$p/part-empty.parquet").createNewFile())
    }
    IndexedDataSource.createIndex(spark, Seq(t), Metastore.Dataspace, SaveMode.Overwrite,
      Nil, indexAll = true, Map.empty, Sources.Parquet)
    val roots = IndexedDataSource.resolveTableRoots(spark, Seq(t))
    val (_, created) = Metastore(spark).load(Metastore.Dataspace, roots)
    assert(created.partitionValues.sortBy(_.toString) == Seq(Seq(Some("0")), Seq(Some("1"))))
    assert((created.fileCount, created.totalBytes) == (0L, 0L))

    writeFile(s"$t/p=1", 0, 100)
    writeFile(s"$t/p=2", 100, 100)
    assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(2L, 0L))
    val snap = snapshot(Metastore.Dataspace, t)
    assert(snap.files.map { case (pv, r) => (pv, new Path(r.path).getParent.getName) } ==
      Seq(Seq(Some("1")) -> "p=1", Seq(Some("2")) -> "p=2"))
    assert(snap.fileCount == 2L)
    // Spark's schema inference would read an empty file's footer
    val plain = spark.read.schema(spark.index.parquet(t).schema).parquet(t)
    sameRows(spark.index.parquet(t), plain)
    sameRows(spark.index.parquet(t).where(col("k") === 150L), plain.where(col("k") === 150L))
  }

  /** Spark jobs started, and Spark writes into a `files*` dir, by `body`. */
  private def counted(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger(0)
    val filesWrites = new AtomicInteger(0)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val writeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.executedPlan.foreach {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.getName.startsWith(Metastore.FilesDir) =>
            filesWrites.incrementAndGet(); ()
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(writeListener)
    try {
      body
      TestListenerBus.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(writeListener)
    }
    (jobs.get, filesWrites.get)
  }

  test("create and driver-tier refreshes run their pinned Spark job counts") {
    val t = s"$work/jobs"
    (0 until 8).foreach(i => writeFile(s"$t/p=${i / 4}", i * 100L, 100))
    // the first footer's schema, the pass and both writes on the driver
    val (createJobs, _) = counted(create(Metastore.Dataspace, t))
    assert(createJobs == 0, s"create ran $createJobs Spark jobs")
    val filesDir = new java.io.File(indexDir(Metastore.Dataspace, t).toUri.getPath, Metastore.FilesDir)
    def parts = dataFiles(filesDir.getPath).size
    assert(parts == 1, "a small create writes the files table as one part file")

    // 4 files land in a new partition, the 4 of the first one go
    (0 until 4).foreach(i => writeFile(s"$t/p=2", 1000 + i * 100L, 100))
    dataFiles(s"$t/p=0").foreach(remove)
    var stats: IndexedDataSource.RefreshStats = null
    val (cycleJobs, cycleWrites) = counted { stats = spark.index.refresh.parquet(t) }
    assert(stats == IndexedDataSource.RefreshStats(4L, 4L))
    assert(cycleJobs == 0, s"refresh ran $cycleJobs Spark jobs")
    assert(cycleWrites == 0, "the driver tier writes the files table without Spark")
    assert(parts == 1, "a refresh with removals writes the files table as one part file")

    // an append, then the same append with INT96 timestamps: the
    // fallback's bounds come from the same pass, so the job counts match
    (0 until 4).foreach(i => writeFile(s"$t/p=3", 2000 + i * 100L, 100))
    val (plainJobs, plainWrites) = counted { spark.index.refresh.parquet(t) }
    assert(plainJobs == 0, s"an append ran $plainJobs Spark jobs")
    assert(parts == 2, "an append adds one part file")
    (0 until 4).foreach(i => writeFile(s"$t/p=4", 3000 + i * 100L, 100, int96 = true))
    val (int96Jobs, int96Writes) = counted { spark.index.refresh.parquet(t) }
    assert(parts == 3, "an INT96 append adds one part file, not a rewrite")
    assert(plainWrites == 0 && int96Writes == 0)
    assert(int96Jobs == plainJobs, s"INT96 delta ran $int96Jobs jobs, the plain one $plainJobs")
    sameRows(spark.index.parquet(t).where(col("ts") > timestamp_seconds(lit(1600003350L))),
      spark.read.parquet(t).where(col("ts") > timestamp_seconds(lit(1600003350L))))
  }

  test("a delta past one scan task runs the pass as Spark jobs and equals a fresh create") {
    val t = s"$work/scan_task"
    (0 until 4).foreach(i => writeFile(s"$t/p=0", i * 100L, 100))
    create(Metastore.Dataspace, t)
    // at the default sizes (a 4 MB open cost per file, 128 MB per task)
    // 31 small files fit one scan task and 32 do not
    writeFile(s"$t/p=1", 1000, 620, files = 31)
    val (fitting, _) = counted {
      assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(31L, 0L))
    }
    assert(fitting == 0, s"a 31-file delta ran $fitting Spark jobs")
    writeFile(s"$t/p=2", 2000, 640, files = 32)
    val (past, _) = counted {
      assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(32L, 0L))
    }
    assert(past > 0, "a 32-file delta ran no Spark job")
    assertMatchesCreate(t, "driver", "past one scan task")
    // with a removal, the kept rows are staged beside the Spark pass's parts
    remove(dataFiles(s"$t/p=0").head)
    writeFile(s"$t/p=3", 3000, 640, files = 32)
    assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(32L, 1L))
    assertMatchesCreate(t, "driver", "a removal beside a delta past one scan task")
    sameRows(spark.index.parquet(t).where(col("k") === 2100L),
      spark.read.parquet(t).where(col("k") === 2100L))
  }

  test("a create past one scan task runs its pinned Spark job count") {
    val t = s"$work/create_jobs"
    writeFile(s"$t/p=0", 0, 640, files = 32)
    // the pass with the files-table write, its summary, the sketch write
    val (jobs, _) = counted(create(Metastore.Dataspace, t))
    assert(jobs == 3, s"a 32-file create ran $jobs Spark jobs")
    sameRows(spark.index.parquet(t).where(col("k") === 100L),
      spark.read.parquet(t).where(col("k") === 100L))
  }

  test("driver tier: removals drop dead sketch parts and keep untouched ones") {
    val t = s"$work/sketch_parts"
    (0 until 8).foreach(i => writeFile(s"$t/p=${i / 4}", i * 100L, 100))
    create(Metastore.Dataspace, t)
    // one sketch part per refresh: p=2, p=3, p=4
    (2 to 4).foreach { p =>
      (0 until 4).foreach(i => writeFile(s"$t/p=$p", p * 1000L + i * 100L, 100))
      assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(4L, 0L))
    }
    val sketchDir = new java.io.File(indexDir(Metastore.Dataspace, t).toUri.getPath, Metastore.SketchDir)
    def sketchParts: Map[String, Long] =
      dataFiles(sketchDir.getPath).map(f => f.getName -> f.lastModified()).toMap
    def partFiles(part: String): Set[String] =
      spark.read.schema(SketchStore.Schema).parquet(new java.io.File(sketchDir, part).getPath)
        .select("file").collect().map(_.getString(0)).toSet
    val before = sketchParts
    assert(before.size == 4, s"expected the create part and three delta parts: $before")
    val byPartition = before.keys.map(p => p -> partFiles(p)).toMap
    def partOf(partition: Int): String =
      byPartition.collectFirst { case (n, fs) if fs.forall(_.contains(s"/p=$partition/")) &&
        fs.exists(_.contains(s"/p=$partition/")) => n }.get
    val (dead, mixedByRewrite, untouched) = (partOf(2), partOf(3), partOf(4))
    val createPart = (before.keySet - dead - mixedByRewrite - untouched).head

    // every file of p=2 goes (a dead part), one of p=0 goes (the create
    // part is mixed) and one of p=3 is rewritten in place (its part is
    // mixed, and the new sketch lands in the delta part)
    dataFiles(s"$t/p=2").foreach(remove)
    val gone = dataFiles(s"$t/p=0").head
    remove(gone)
    val victim = dataFiles(s"$t/p=3").head
    val scratch = s"$work/sketch_parts_rewrite"
    writeFile(scratch, 9000, 150)
    Files.copy(dataFiles(scratch).head.toPath, victim.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    assert(victim.setLastModified(victim.lastModified() + 60000L))
    assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(1L, 6L))

    val after = sketchParts
    assert(after.get(untouched).contains(before(untouched)), "an untouched part was rewritten")
    assert(!after.contains(dead), "a dead part survived")
    assert(after.contains(createPart) && after.contains(mixedByRewrite))
    assert(after.size == 4, s"expected the two filtered parts, the untouched one and the delta: $after")
    val norm = (f: java.io.File) => SketchStore.normalizePath(f.getPath)
    val rows = spark.read.schema(SketchStore.Schema).parquet(sketchDir.getPath)
      .select("file", "column").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == rows.distinct.length, "a (file, column) sketch row is duplicated")
    assert(rows.map(_._1).toSet == allDataFiles(t).map(norm).toSet)
    assert(!rows.exists(_._1 == norm(gone)))
    assertMatchesCreate(t, "driver", "part-level removal")
  }

  test("two creates of the same table record the same partition numbering") {
    val t = s"$work/numbering"
    (0 until 12).foreach(p => writeFile(s"$t/p=$p", p * 100L, 100))
    create(Metastore.Dataspace, t)
    create(Fresh, t)
    val hconf = spark.sparkContext.hadoopConfiguration
    val (a, b) = (indexDir(Metastore.Dataspace, t), indexDir(Fresh, t))
    val json = (d: Path) =>
      Files.readAllBytes(java.nio.file.Paths.get(new Path(d, Metastore.MetadataFile).toUri.getPath)).toSeq
    assert(json(a) == json(b), "metadata.json differs between two creates")
    assert(IndexFilesTable.readUncached(new Path(a, Metastore.FilesDir), hconf) ==
      IndexFilesTable.readUncached(new Path(b, Metastore.FilesDir), hconf))
    val (_, meta) = Metastore(spark).load(Metastore.Dataspace,
      IndexedDataSource.resolveTableRoots(spark, Seq(t)))
    assert(meta.partitionValues == (0 until 12).map(p => Seq(Some(p.toString))).sortBy(_.head.get))
  }

  /** Copies the index dir `from` over the index dir `to` on disk. */
  private def copyIndex(from: Path, to: Path): Unit = {
    val (src, dst) = (java.nio.file.Paths.get(from.toUri.getPath), java.nio.file.Paths.get(to.toUri.getPath))
    org.apache.commons.io.FileUtils.deleteDirectory(dst.toFile)
    org.apache.commons.io.FileUtils.copyDirectory(src.toFile, dst.toFile)
  }

  test("refresh and readers build on the index on disk, not on what this process cached") {
    val t = s"$work/external"
    val day = (d: Int) => s"$t/d=2024-01-0$d"
    writeFile(day(2), 0, 100)
    writeFile(day(3), 100, 100)
    create(Metastore.Dataspace, t)
    // every cache of the index is warm
    sameRows(spark.index.parquet(t).where(col("k") === 150L),
      spark.read.parquet(t).where(col("k") === 150L))

    // an external writer: the same table's index, built under a second
    // metastore and refreshed there after a later day landed, replaces
    // this index on disk
    val other = Map(IndexConf.MetastoreLocation -> s"$work/metastore_external")
    IndexedDataSource.createIndex(spark, Seq(t), Metastore.Dataspace, SaveMode.Overwrite,
      IndexCols, indexAll = false, other, Sources.Parquet)
    writeFile(day(4), 200, 100)
    assert(IndexedDataSource.refreshIndex(spark, Seq(t), Metastore.Dataspace, other) ==
      IndexedDataSource.RefreshStats(1L, 0L))
    val roots = IndexedDataSource.resolveTableRoots(spark, Seq(t))
    copyIndex(new Metastore(spark, IndexConf(spark, other)).location(Metastore.Dataspace, roots),
      indexDir(Metastore.Dataspace, t))

    // a reader that reloads the metadata reads the rows that go with it
    val noCache = spark.index.option(IndexConf.MetastoreCacheTtl, "0")
    sameRows(noCache.parquet(t).where(col("k") === 250L),
      spark.read.parquet(t).where(col("k") === 250L))
    assert(noCache.parquet(t).where(col("k") === 250L).count() == 1L)

    // a refresh through this process's warm cache builds on the disk
    writeFile(day(1), 300, 100)
    assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(1L, 0L))
    assertMatchesCreate(t, "driver", "after an external refresh")
    sameRows(spark.index.parquet(t).where(col("k") === 250L || col("k") === 350L),
      spark.read.parquet(t).where(col("k") === 250L || col("k") === 350L))
  }

  /** Runs `body` with the index metastore on the `faultfs:` scheme. */
  private def onFaultFs[T](body: => T): T = {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl",
      classOf[FaultInjectingFileSystem].getName)
    spark.conf.set(IndexConf.MetastoreLocation, s"faultfs://$work/metastore_fault")
    try body
    finally {
      FaultInjectingFileSystem.failOn = (_, _) => false
      spark.conf.set(IndexConf.MetastoreLocation, s"$work/metastore")
    }
  }

  /** Every overlapped step of a driver-tier refresh, and the call that
    * fails it. */
  private val Branches: Seq[(String, (String, String) => Boolean)] = Seq(
    "listing" -> ((op, p) => op == "list" && p.contains("/branch_") && !p.contains("metastore")),
    "old-rows read" -> ((op, p) => op == "open" && p.contains("/files/")),
    "metadata re-read" -> ((op, p) => op == "open" && p.endsWith("/" + Metastore.MetadataFile)),
    "pass" -> ((op, p) => op == "open" && p.endsWith("part-late.parquet")),
    "sketch removals" -> ((op, p) => op == "open" && p.contains("/sketches/part-")),
    "files part" -> ((op, p) => op == "create" && p.contains("/files_tmp/")),
    "sketch part" -> ((op, p) => op == "create" && p.contains("/sketches_tmp/.part-")),
    "metadata temp file" -> ((op, p) => op == "create" && p.endsWith(".metadata.json.tmp")),
    "_SUCCESS temp file" -> ((op, p) => op == "create" && p.endsWith("._SUCCESS.tmp")))

  /** Runs `body`, a refresh, and checks that every Spark job it started,
    * from whichever of its threads, ran under one job tag: the refresh's,
    * which its cancellation reaches. */
  private def underOneTag[T](what: String)(body: => T): T = {
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        tags.add(Option(e.properties).map(_.getProperty("spark.job.tags", "")).getOrElse(""))
        ()
      }
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try scala.util.Try(body)
      finally {
        TestListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    // Spark adds tags of its own to a SQL execution's jobs
    val seen = tags.toArray.map(_.toString.split(",").filter(_.startsWith("graft-index-")).toSeq)
    assert(seen.forall(_.size == 1) && seen.flatten.distinct.size <= 1,
      s"$what: jobs ran under tags ${seen.mkString(", ")}")
    out.get
  }

  for (runner <- PassRunners.All) {
    test(PassRunners.named(
        "driver tier: a failure in any overlapped step leaves the index as it was", runner)) {
      onFaultFs {
        PassRunners.on(spark, runner) {
          for (((branch, fails), i) <- Branches.zipWithIndex) {
            val local = s"$work/branch_${runner}_$i"
            val t = s"faultfs://$local"
            (0 until 4).foreach(j => writeFile(s"$local/p=0", j * 100L, 100))
            create(Metastore.Dataspace, t)
            val before = snapshot(Metastore.Dataspace, t)

            // one file lands, one goes: the refresh runs every step
            val indexed = dataFiles(s"$local/p=0").toSet
            writeFile(s"$local/p=0", 1000, 100)
            val late = (dataFiles(s"$local/p=0").toSet -- indexed).head
            assert(late.renameTo(new java.io.File(late.getParent, "part-late.parquet")))
            new java.io.File(late.getParent, s".${late.getName}.crc").delete()
            remove(dataFiles(s"$local/p=0").head)
            FaultInjectingFileSystem.failOn = fails
            try {
              val e = intercept[Exception](underOneTag(branch)(refresh(t, Map.empty)))
              assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
                .exists(c => Option(c.getMessage).exists(_.contains("injected"))),
                s"$branch: the refresh failed otherwise: $e")
            } finally FaultInjectingFileSystem.failOn = (_, _) => false

            val dir = indexDir(Metastore.Dataspace, t)
            assert(staging(t).isEmpty, s"$branch: staging left behind: ${staging(t)}")
            assert(!new java.io.File(new java.io.File(dir.toUri.getPath).getParentFile,
              s"_${dir.getName}.lock").exists(), s"$branch: the lock was not released")
            // loadable and unchanged (a query would read the removed file)
            assert(spark.index.exists.parquet(t))
            assert(snapshot(Metastore.Dataspace, t) == before, s"$branch: the failed refresh changed the index")

            assert(underOneTag(s"rerun after $branch")(refresh(t, Map.empty)) ==
              IndexedDataSource.RefreshStats(1L, 1L), branch)
            assertMatchesCreate(t, "driver", s"rerun after a failed $branch")
            val q = (df: DataFrame) => df.where(col("k") === 1050L || col("s") === "s3")
            sameRows(q(spark.index.parquet(t)), q(spark.read.parquet(local)))
          }
        }
      }
    }
  }

  test("driver tier: the swap only deletes and renames") {
    onFaultFs {
      val local = s"$work/swap_calls"
      val t = s"faultfs://$local"
      (0 until 8).foreach(i => writeFile(s"$local/p=${i / 4}", i * 100L, 100))
      create(Metastore.Dataspace, t)
      (0 until 4).foreach(i => writeFile(s"$local/p=2", 1000 + i * 100L, 100))
      dataFiles(s"$local/p=0").foreach(remove)
      FaultInjectingFileSystem.drain()
      assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(4L, 4L))
      val calls = FaultInjectingFileSystem.drain()
      val dir = indexDir(Metastore.Dataspace, t).toString
      val swap = calls.dropWhile(_ != ("delete" -> new Path(dir, Metastore.SuccessFile).toString))
      assert(swap.nonEmpty, s"no _SUCCESS delete among $calls")
      assert(swap.forall(c => c._1 == "delete" || c._1 == "rename"),
        s"the swap made other calls: ${swap.filterNot(c => c._1 == "delete" || c._1 == "rename")}")
      assert(swap.contains("rename" -> Metastore.staged(new Path(dir), Metastore.SuccessFile).toString))
      assertMatchesCreate(t, "driver", "swap calls")
    }
  }

  test("driver tier: a sketch part's footer is read once per process") {
    onFaultFs {
      val local = s"$work/sketch_footers"
      val t = s"faultfs://$local"
      (0 until 4).foreach(i => writeFile(s"$local/p=0", i * 100L, 100))
      create(Metastore.Dataspace, t)
      val sketches =
        new Path(indexDir(Metastore.Dataspace, t), Metastore.SketchDir).toUri.getPath
      def parts: Set[String] = Option(new java.io.File(sketches).list()).toSeq.flatten
        .filter(_.startsWith("part-")).toSet
      // each step adds a file to partition `p` and removes one of p=0's,
      // which sort before every other partition: only the part of p=0's
      // files can hold a removed path. Returns the live parts it opened.
      def step(p: Int): Map[String, Int] = {
        writeFile(s"$local/p=$p", p * 1000L, 100)
        if (p > 2) remove(dataFiles(s"$local/p=0").head)
        FaultInjectingFileSystem.drainOpened()
        assert(refresh(t, Map.empty) == IndexedDataSource.RefreshStats(1L, if (p > 2) 1L else 0L))
        FaultInjectingFileSystem.drainOpened().map(new Path(_).toUri.getPath)
          .filter(_.startsWith(sketches + "/part-"))
          .groupMapReduce(new Path(_).getName)(_ => 1)(_ + _)
      }
      step(1)
      step(2)
      val written = parts
      // parts written here: only the part holding p=0's files is opened
      val own = step(3)
      assert(own.size == 1 && own.keySet.subsetOf(written), s"opened: $own")
      val p0 = own.keys.head
      // parts written elsewhere (as this process had never seen them):
      // every footer is read once, then never again
      StatisticsBuilder.forgetKnownParts()
      val before = parts
      val first = step(4)
      assert((before -- first.keySet).isEmpty, s"unread parts: ${before -- first.keySet}")
      assert((first - p0).values.forall(_ == 1), s"opened: $first")
      val again = step(5)
      assert(again.keySet == Set(p0), s"opened: $again")
      assertMatchesCreate(t, "driver", "after footer reads")
    }
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
