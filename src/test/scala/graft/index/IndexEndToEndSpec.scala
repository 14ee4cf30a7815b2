package graft.index

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.implicits._

/** End-to-end differential suite: every indexed query must return exactly
  * the rows of the plain `spark.read.parquet` query (the reference's
  * checkAnswer pattern, TestBase.scala:123-133), and selective equality
  * predicates must actually prune files. */
class IndexEndToEndSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-e2e").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-index-e2e")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(IndexConf.MetastoreLocation, s"$work/metastore")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  private lazy val tablePath = {
    val p = s"$work/lineitem"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition(8, col("l_orderkey"))
      .write.parquet(p)
    p
  }

  private def checkSame(indexed: DataFrame, plain: DataFrame): Unit = {
    val a = indexed.collect().map(_.toString).sorted
    val b = plain.collect().map(_.toString).sorted
    assert(a.length == b.length, s"row count: indexed=${a.length} plain=${b.length}")
    assert(a.sameElements(b), "row contents differ")
  }

  private def filesScanned(df: DataFrame): Long = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in plan")
    scans.map(_.relation.location.listFiles(Nil, Nil).map(_.files.size).sum).sum.toLong
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.index.create.mode("overwrite")
      .indexBy("l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate")
      .parquet(tablePath)
  }

  test("small-file compaction: rows preserved, file count cut, refresh re-indexes") {
    val p = s"$work/lineitem_compact_e2e"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition(16, col("l_orderkey")).write.parquet(p)
    spark.index.create.mode("overwrite").indexBy("l_orderkey").parquet(p)
    val before = spark.read.parquet(p).collect().map(_.toString).sorted

    // files above the small threshold are left alone → no-op
    assert(graft.ops.Layout.compact(spark, p, smallFileBytes = 1) ==
      graft.ops.Layout.CompactionStats(0L, 0L, 0L))

    val st = graft.ops.Layout.compact(spark, p)
    assert(st.compactedFiles == 16L && st.producedFiles == 1L && st.bytesRewritten > 0L)
    val dataFiles = new java.io.File(p).listFiles
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(dataFiles.length == 1 && dataFiles.head.getName.startsWith("part-compact-"))

    val rs = spark.index.refresh.parquet(p)
    assert(rs.addedFiles == 1L && rs.removedFiles == 16L)
    val after = spark.index.parquet(p).collect().map(_.toString).sorted
    assert(after.sameElements(before), "compaction must be row-preserving")

    // a lone already-compacted file is not worth rewriting → no-op
    assert(graft.ops.Layout.compact(spark, p) ==
      graft.ops.Layout.CompactionStats(0L, 0L, 0L))
  }

  test("compaction recurses into Hive partition dirs, rows preserved") {
    val p = s"$work/orders_part_compact"
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .repartition(4, col("o_orderkey"))
      .write.partitionBy("o_year").parquet(p)
    val before = spark.read.parquet(p).collect().map(_.toString).sorted
    val years = new java.io.File(p).listFiles.filter(_.getName.startsWith("o_year=")).toSeq
    assert(years.nonEmpty)
    def leafFiles(d: java.io.File) =
      d.listFiles.filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(years.forall(leafFiles(_).length == 4))

    val st = graft.ops.Layout.compact(spark, p)
    assert(st.compactedFiles == 4L * years.size && st.producedFiles == years.size.toLong)
    assert(years.forall(leafFiles(_).length == 1))
    val after = spark.read.parquet(p).collect().map(_.toString).sorted
    assert(after.sameElements(before), "partitioned compaction must preserve rows")
  }

  test("vacuum heals compaction debris and upsert staging, never data") {
    val p = s"$work/vacuum_e2e"
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").write.parquet(p)
    val rows = spark.read.parquet(p).count()
    // dead compaction run (tmp, no manifest) + upsert staging siblings
    new java.io.File(s"$p/_compact_tmp_dead1").mkdirs()
    new java.io.File(s"${p}_tmp_42").mkdirs()
    new java.io.File(s"${p}_old_7").mkdirs()
    // a sibling whose name does NOT match the sink-prefixed pattern stays
    new java.io.File(s"$work/vacuum_e2e_other_tmp_1").mkdirs()
    assert(graft.ops.Layout.vacuum(spark, p) == 3)
    assert(graft.ops.Layout.vacuum(spark, p) == 0)
    assert(new java.io.File(s"$work/vacuum_e2e_other_tmp_1").exists())
    assert(spark.read.parquet(p).count() == rows)
    assert(graft.ops.Layout.vacuum(spark, s"$work/does_not_exist") == 0)
  }

  test("compaction crash recovery: rollback without manifest, roll-forward with") {
    val p = s"$work/compact_recover"
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .repartition(4).write.parquet(p)
    val rows = spark.read.parquet(p).count()
    def dataFiles = new java.io.File(p).listFiles
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))

    // crash BETWEEN rename-ins (tmp dir present, no manifest): a moved-in
    // duplicate of one original must be rolled BACK
    val f0 = dataFiles.head
    java.nio.file.Files.copy(f0.toPath,
      new java.io.File(s"$p/part-compact-dead01-0.parquet").toPath)
    new java.io.File(s"$p/_compact_tmp_dead01").mkdirs()
    assert(spark.read.parquet(p).count() > rows) // duplicates visible
    assert(graft.ops.Layout.vacuum(spark, p) == 1)
    assert(spark.read.parquet(p).count() == rows)
    assert(!new java.io.File(s"$p/part-compact-dead01-0.parquet").exists())

    // crash AFTER the manifest (all renames done): the listed original
    // must be rolled FORWARD (deleted), keeping exactly one copy
    val f1 = dataFiles.head
    java.nio.file.Files.copy(f1.toPath,
      new java.io.File(s"$p/part-compact-dead02-0.parquet").toPath)
    java.nio.file.Files.write(
      new java.io.File(s"$p/_compact_manifest_dead02").toPath, f1.getName.getBytes)
    assert(graft.ops.Layout.vacuum(spark, p) == 1)
    assert(spark.read.parquet(p).count() == rows)
    assert(!f1.exists())
    assert(new java.io.File(s"$p/part-compact-dead02-0.parquet").exists())
  }

  test("vacuum promotes the surviving upsert staging copy when the sink is gone") {
    val p = s"$work/upsert_promote"
    // crashed mid-swap: sink dir absent, _old_ = previous sink, _tmp_ = new
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .limit(2).write.parquet(s"${p}_old_3")
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.parquet(s"${p}_tmp_5")
    val newRows = spark.read.parquet(s"${p}_tmp_5").count()
    assert(graft.ops.Layout.vacuum(spark, p) >= 1)
    assert(spark.read.parquet(p).count() == newRows, "newest copy promoted to sink")
    assert(!new java.io.File(s"${p}_tmp_5").exists())
    assert(!new java.io.File(s"${p}_old_3").exists())
  }

  test("vacuum heals debris in nested partition leaves") {
    val p = s"$work/nested_vacuum"
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))
      .filter(col("o_year") === 1995 && col("o_month") <= 2)
      .write.partitionBy("o_year", "o_month").parquet(p)
    val rows = spark.read.parquet(p).count()
    val leaf = new java.io.File(p).listFiles.filter(_.getName.startsWith("o_year="))
      .head.listFiles.filter(_.getName.startsWith("o_month=")).head
    // dead run at depth 2: duplicate moved-in file + tmp dir, no manifest
    val f0 = leaf.listFiles.filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(f0.toPath,
      new java.io.File(leaf, "part-compact-deadn1-0.parquet").toPath)
    new java.io.File(leaf, "_compact_tmp_deadn1").mkdirs()
    assert(spark.read.parquet(p).count() > rows)
    assert(graft.ops.Layout.vacuum(spark, p) == 1)
    assert(spark.read.parquet(p).count() == rows)
  }

  test("compaction merges schema-evolved small files without dropping columns") {
    val p = s"$work/compact_evolved"
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").write.parquet(p)
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .withColumn("extra", col("r_regionkey") * 10)
      .write.mode("append").parquet(p)
    val before = spark.read.option("mergeSchema", "true").parquet(p)
      .select("r_regionkey", "extra").collect().map(_.toString).sorted
    val st = graft.ops.Layout.compact(spark, p)
    assert(st.compactedFiles >= 2L)
    val after = spark.read.option("mergeSchema", "true").parquet(p)
      .select("r_regionkey", "extra").collect().map(_.toString).sorted
    assert(after.sameElements(before), "evolved column must survive compaction")
  }

  test("double/decimal/float indexing: parity, file cut, NaN and -0.0 safety") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val p = s"$work/prices"
    val base = spark.range(0, 4000).select(
      $"id",
      ($"id".cast("double") * 2.5).as("price"),
      ($"id" % 100).cast(DecimalType(10, 2)).as("amt"),
      ($"id" % 7).cast("float").as("disc"))
    // range-clustered on price so the cut is observable, plus one special
    // file carrying NaN / -0.0 / -Inf (NaN poisons parquet-mr FP footer
    // stats -> create's full-scan fallback patches exact NaN-aware bounds)
    graft.ops.Layout.clusterBy(base, 8, col("price"))
      .write.mode("overwrite").parquet(p)
    Seq((-1L, Double.NaN, BigDecimal("1.00"), 0.5f),
        (-2L, -0.0d, BigDecimal("2.00"), 1.5f),
        (-3L, Double.NegativeInfinity, BigDecimal("3.00"), 2.5f))
      .toDF("id", "price", "amt", "disc")
      .select($"id", $"price", $"amt".cast(DecimalType(10, 2)).as("amt"), $"disc")
      .coalesce(1).write.mode("append").parquet(p)
    spark.index.create.mode("overwrite").indexBy("price", "amt", "disc").parquet(p)

    def both(f: DataFrame => DataFrame): Unit =
      checkSame(f(spark.index.parquet(p)), f(spark.read.parquet(p)))

    both(_.filter(col("price") >= 2000.0 && col("price") < 2500.0))
    both(_.filter(col("price") === 250.0))
    both(_.filter(col("price") === Double.NaN)) // NaN = NaN is true in SQL
    both(_.filter(col("price") > 1e308)) // NaN ranks above every bound
    both(_.filter(col("price") <= 0.0)) // -0.0 == 0.0
    both(_.filter(col("price") < -1e308)) // only -Inf
    both(_.filter(col("amt") >= lit(BigDecimal("50.00"))))
    both(_.filter(col("amt").isin(BigDecimal("3.00"), BigDecimal("4.00"))))
    both(_.filter(col("disc") === lit(3.0f)))
    both(_.filter(col("disc") > lit(4.5f)))

    // the clustered double range must CUT files, not just match
    val q = spark.index.parquet(p)
      .filter(col("price") >= 2000.0 && col("price") < 2500.0)
    q.collect()
    val fi = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.isDefined, "indexed scan must use GraftFileIndex")
    assert(fi.get.lastListedFiles < fi.get.lastTotalFiles,
      s"expected double-range cut: ${fi.get.lastListedFiles}/${fi.get.lastTotalFiles}")

    // the > 1e308 probe must keep the NaN-bearing file ONLY (plus nothing
    // else): exactly one file listed, and the row comes back
    val qNaN = spark.index.parquet(p).filter(col("price") > 1e308)
    assert(qNaN.collect().map(_.getLong(0)).toSet == Set(-1L))
    val fiN = qNaN.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fiN.get.lastListedFiles == 1L,
      s"NaN file alone should survive: ${fiN.get.lastListedFiles}")
  }

  test("nested-leaf indexing: parity, file cut, array paths rejected") {
    import spark.implicits._
    val p = s"$work/nested_t"
    spark.range(0, 2000).select(
        $"id",
        struct(($"id" % 500).as("user_id"),
          concat(lit("s"), ($"id" % 5)).as("status"),
          struct(($"id" % 37).cast("double").as("score")).as("inner")).as("payload"),
        array($"id").as("tags"))
      .repartitionByRange(8, col("payload.user_id"))
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite")
      .indexBy("payload.user_id", "payload.status", "payload.inner.score")
      .parquet(p)

    def both(f: DataFrame => DataFrame): Unit =
      checkSame(f(spark.index.parquet(p)), f(spark.read.parquet(p)))
    both(_.filter(col("payload.user_id") <= 30L))
    both(_.filter(col("payload.user_id") === 123L))
    both(_.filter(col("payload.status") === "s3"))
    both(_.filter(col("payload.inner.score") > 30.0)) // two hops + double leaf
    both(_.filter(col("payload.user_id").between(10L, 20L) &&
      col("payload.status").isin("s1", "s2")))
    // null-struct semantics: payload.user_id IS NULL when payload is null
    both(_.filter(col("payload.user_id").isNull))

    // the user_id-clustered layout must CUT files on the nested range
    val q = spark.index.parquet(p).filter(col("payload.user_id") <= 30L)
    q.collect()
    val fi = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fi.lastListedFiles < fi.lastTotalFiles,
      s"expected nested-range cut: ${fi.lastListedFiles}/${fi.lastTotalFiles}")

    // paths through arrays (value-level stats, not row-level) and missing
    // leaves are rejected at create
    for (bad <- Seq("tags.element", "payload.nope", "payload.user_id.x")) {
      intercept[IllegalArgumentException] {
        spark.index.create.mode("overwrite").indexBy(bad).parquet(p)
      }
    }

    // nested TOP-K: the API resolves the dotted leaf and cuts files on
    // the user_id-clustered layout; results stay exact
    def topRows(df: DataFrame) =
      df.orderBy(col("payload.user_id").desc_nulls_last, col("id")).limit(25)
        .select(col("id"), col("payload.user_id"))
        .collect().map(_.toString).sorted.toSeq
    val topApi = graft.index.TopK.topKPruned(
      spark.index.parquet(p), col("payload.user_id"), 25)
    assert(topRows(topApi) == topRows(spark.read.parquet(p)))
    topApi.orderBy(col("payload.user_id").desc_nulls_last).limit(25).collect()
    val fiT = topApi.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fiT.lastListedFiles < fiT.lastTotalFiles,
      s"expected nested top-k cut: ${fiT.lastListedFiles}/${fiT.lastTotalFiles}")
    // the automatic rewrite on the nested sort key stays EXACT (the cut
    // itself depends on whether nested column pruning aliases the key)
    assert(topRows(spark.index.parquet(p)) == topRows(spark.read.parquet(p)))
  }

  test("create + exists + delete lifecycle") {
    assert(spark.index.exists.parquet(tablePath))
    spark.index.delete.parquet(tablePath)
    assert(!spark.index.exists.parquet(tablePath))
    spark.index.create.mode("overwrite")
      .indexBy("l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate")
      .parquet(tablePath)
    assert(spark.index.exists.parquet(tablePath))
  }

  test("point equality matches plain read and prunes files") {
    val key = spark.read.parquet(tablePath).select("l_orderkey").head.getLong(0)
    val indexed = spark.index.parquet(tablePath).filter(col("l_orderkey") === key)
    val plain = spark.read.parquet(tablePath).filter(col("l_orderkey") === key)
    checkSame(indexed, plain)

    val pruned = indexed.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    indexed.collect() // force listFiles
    assert(pruned.isDefined, "indexed scan must use GraftFileIndex")
    assert(pruned.get.lastListedFiles < pruned.get.lastTotalFiles,
      s"expected pruning: ${pruned.get.lastListedFiles}/${pruned.get.lastTotalFiles}")
  }

  test("semi-join file pruning: join parity, files cut, cap fallback") {
    import spark.implicits._
    val keys = spark.read.parquet(tablePath).select("l_orderkey")
      .distinct().limit(2).collect().map(_.getLong(0)).toSeq
    val dim = keys.map(k => (k, s"name$k")).toDF("k", "name")
    val fact = spark.index.parquet(tablePath)
    val pruned = graft.index.JoinPrune.semiJoinPruned(
      fact, dim, col("l_orderkey"), col("k"))
    val plain = spark.read.parquet(tablePath)
      .join(dim, col("l_orderkey") === col("k"))
    checkSame(pruned, plain)
    // the IN-list derived from the dim reaches the index: files cut.
    // Walk through AQE wrappers — the scan hides inside a QueryStageExec.
    pruned.collect() // force listFiles
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val fi = scans(pruned.queryExecution.executedPlan)
      .map(_.relation.location)
      .collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.isDefined, "fact side must scan through GraftFileIndex")
    assert(fi.get.lastListedFiles < fi.get.lastTotalFiles,
      s"expected file cut: ${fi.get.lastListedFiles}/${fi.get.lastTotalFiles}")
    // past the cap the plain join comes back — same rows either way
    checkSame(graft.index.JoinPrune.semiJoinPruned(
      fact, dim, col("l_orderkey"), col("k"), maxKeys = 1), plain)
    // empty dim: empty IN-list short-circuits to zero rows, no error
    assert(graft.index.JoinPrune.semiJoinPruned(fact,
      dim.filter(col("k") < 0), col("l_orderkey"), col("k")).count() == 0L)
  }

  test("bloom join pruning: parity, file cut, string keys, empty dim") {
    import spark.implicits._
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    // contiguous low-key dim: the min/max range cut must prune files
    val keys = spark.read.parquet(tablePath).select("l_orderkey")
      .distinct().orderBy("l_orderkey").limit(3).collect().map(_.getLong(0)).toSeq
    val dim = keys.map(k => (k, s"name$k")).toDF("k", "name")
    val fact = spark.index.parquet(tablePath)
    val pruned = graft.index.JoinPrune.bloomJoinPruned(
      fact, dim, col("l_orderkey"), col("k"))
    val plain = spark.read.parquet(tablePath)
      .join(dim, col("l_orderkey") === col("k"))
    checkSame(pruned, plain)
    pruned.collect() // force listFiles
    val fi = scans(pruned.queryExecution.executedPlan)
      .map(_.relation.location)
      .collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.isDefined, "fact side must scan through GraftFileIndex")
    assert(fi.get.lastListedFiles < fi.get.lastTotalFiles,
      s"expected file cut: ${fi.get.lastListedFiles}/${fi.get.lastTotalFiles}")
    // string keys take the UTF-8 putBinary/mightContainBinary path
    val sdim = Seq(("A", 1)).toDF("rf", "tag")
    checkSame(
      graft.index.JoinPrune.bloomJoinPruned(
        fact, sdim, col("l_returnflag"), col("rf")),
      spark.read.parquet(tablePath).join(sdim, col("l_returnflag") === col("rf")))
    // empty dim: no non-null keys — inner join empty, no job failure
    assert(graft.index.JoinPrune.bloomJoinPruned(fact,
      dim.filter(col("k") < 0), col("l_orderkey"), col("k")).count() == 0L)
  }

  test("top-k pruning: desc/asc parity, files cut, degradations") {
    import spark.implicits._
    val fact = spark.index.parquet(tablePath)
    val plain = spark.read.parquet(tablePath)
    def topRows(df: org.apache.spark.sql.DataFrame, desc: Boolean, k: Int) = {
      val keyOrd =
        if (desc) col("l_orderkey").desc_nulls_last else col("l_orderkey").asc_nulls_last
      val tie = if (desc) col("l_linenumber").desc else col("l_linenumber").asc
      df.orderBy(keyOrd, tie).limit(k)
        .select("l_orderkey", "l_linenumber").collect().map(_.toString).sorted.toSeq
    }
    // desc parity on the HASH-partitioned fixture: every file's [min,max]
    // spans the key domain, so no cut is provable — values must still be
    // exact and the scan must still route through GraftFileIndex
    val prunedTop = graft.index.TopK.topKPruned(fact, col("l_orderkey"), 50)
    assert(topRows(prunedTop, desc = true, 50) == topRows(plain, desc = true, 50))
    prunedTop.collect() // force listFiles with the pushed bound
    val fi = prunedTop.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.isDefined, "top-k pruned scan must use GraftFileIndex")
    // asc (bottom-k) parity
    val prunedBot =
      graft.index.TopK.topKPruned(fact, col("l_orderkey"), 50, largest = false)
    assert(topRows(prunedBot, desc = false, 50) == topRows(plain, desc = false, 50))
    // the file cut the threshold predicate buys needs a layout whose
    // per-file ranges are disjoint: range-cluster by the ranking key
    val ckPath = s"$work/topk_clustered"
    graft.ops.Layout.clusterBy(plain, 8, col("l_orderkey"))
      .write.mode("overwrite").parquet(ckPath)
    spark.index.create.mode("overwrite").indexBy("l_orderkey").parquet(ckPath)
    val cFact = spark.index.parquet(ckPath)
    val cPlain = spark.read.parquet(ckPath)
    def cutOf(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      df.collect()
      val g = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
      (g.lastListedFiles, g.lastTotalFiles)
    }
    val cTop = graft.index.TopK.topKPruned(cFact, col("l_orderkey"), 50)
    assert(topRows(cTop, desc = true, 50) == topRows(cPlain, desc = true, 50))
    val (descListed, descTotal) = cutOf(cTop)
    assert(descListed < descTotal,
      s"expected file cut on clustered layout: $descListed/$descTotal")
    val cBot = graft.index.TopK.topKPruned(cFact, col("l_orderkey"), 50, largest = false)
    assert(topRows(cBot, desc = false, 50) == topRows(cPlain, desc = false, 50))
    val (ascListed, ascTotal) = cutOf(cBot)
    assert(ascListed < ascTotal,
      s"expected file cut on clustered layout (asc): $ascListed/$ascTotal")
    // a filtered frame, or a computed column shadowing the indexed name:
    // the table-wide bound says nothing about their rows, so the frame
    // comes back unchanged and the answer equals the plain query
    val low = col("l_orderkey") < cPlain.agg(max("l_orderkey")).head.getLong(0) / 2
    def shadowed(df: DataFrame) =
      df.select(col("l_linenumber"), (-col("l_orderkey")).as("l_orderkey"))
    for (desc <- Seq(true, false)) {
      assert(topRows(graft.index.TopK.topKPruned(cFact.filter(low), col("l_orderkey"), 50,
          largest = desc), desc, 50) == topRows(cPlain.filter(low), desc, 50),
        s"filtered frame (desc=$desc)")
      assert(topRows(graft.index.TopK.topKPruned(shadowed(cFact), col("l_orderkey"), 50,
          largest = desc), desc, 50) == topRows(shadowed(cPlain), desc, 50),
        s"shadowing alias (desc=$desc)")
    }
    // j < k stays exact (the documented contract)
    assert(topRows(prunedTop, desc = true, 7) == topRows(plain, desc = true, 7))
    // k > guaranteed non-null rows: threshold unprovable, frame unchanged
    val total = plain.count()
    assert(graft.index.TopK.topKPruned(
      fact, col("l_orderkey"), total.toInt + 1).count() == total)
    // unindexed column / plain frame / join shape: all degrade untouched
    assert(graft.index.TopK.topKPruned(fact, col("l_extendedprice"), 5)
      .count() == total)
    assert(graft.index.TopK.topKPruned(plain, col("l_orderkey"), 5)
      .count() == total)
    assert(graft.index.TopK.topKPruned(
      fact.join(Seq((1L, "x")).toDF("l_orderkey", "t"), Seq("l_orderkey")),
      col("l_orderkey"), 5).columns.contains("t"))
    // nullable key: nulls never rank, parity against explicit nulls-last
    val p = s"$work/topk_nulls"
    (0L until 400L).map(i => (if (i % 7 == 0) None else Some(i), i))
      .toDF("v", "id").repartition(8, col("id")).write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("v").parquet(p)
    val nf = spark.index.parquet(p)
    val np = spark.read.parquet(p)
    def nullTop(df: org.apache.spark.sql.DataFrame, desc: Boolean) = {
      val o = if (desc) col("v").desc_nulls_last else col("v").asc_nulls_last
      df.orderBy(o, col("id")).limit(20)
        .select("v", "id").collect().map(_.toString).sorted.toSeq
    }
    assert(nullTop(graft.index.TopK.topKPruned(nf, col("v"), 20), desc = true)
      == nullTop(np, desc = true))
    assert(nullTop(graft.index.TopK.topKPruned(nf, col("v"), 20, largest = false),
      desc = false) == nullTop(np, desc = false))
  }

  test("top-k pruning on a DOUBLE key: parity and file cut") {
    val p = s"$work/topk_double"
    val plain0 = spark.read.parquet(tablePath)
    graft.ops.Layout.clusterBy(plain0, 8, col("l_extendedprice"))
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("l_extendedprice").parquet(p)
    val fact = spark.index.parquet(p)
    val plain = spark.read.parquet(p)
    def top(df: DataFrame, desc: Boolean) = {
      val o = if (desc) col("l_extendedprice").desc_nulls_last
        else col("l_extendedprice").asc_nulls_last
      df.orderBy(o, col("l_orderkey"), col("l_linenumber")).limit(40)
        .select("l_extendedprice", "l_orderkey", "l_linenumber")
        .collect().map(_.toString).sorted.toSeq
    }
    val pr = graft.index.TopK.topKPruned(fact, col("l_extendedprice"), 40)
    assert(top(pr, desc = true) == top(plain, desc = true))
    pr.collect()
    val fi = pr.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fi.lastListedFiles < fi.lastTotalFiles,
      s"expected double top-k cut: ${fi.lastListedFiles}/${fi.lastTotalFiles}")
    val prA = graft.index.TopK.topKPruned(
      fact, col("l_extendedprice"), 40, largest = false)
    assert(top(prA, desc = false) == top(plain, desc = false))
  }

  test("automatic top-k rewrite: plain orderBy().limit() prunes files") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical
    val p = s"$work/topk_auto"
    graft.ops.Layout.clusterBy(spark.read.parquet(tablePath), 8, col("l_orderkey"))
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("l_orderkey").parquet(p)
    val fact = spark.index.parquet(p)
    val plain = spark.read.parquet(p)
    def rows(df: DataFrame, o: org.apache.spark.sql.Column) =
      df.orderBy(o, col("l_linenumber")).limit(30)
        .select("l_orderkey", "l_linenumber").collect().map(_.toString).sorted.toSeq

    // stock Spark shape — no TopK API call — gets the injected bound:
    // filter visible in the optimized plan, files cut, rows exact
    val q = fact.orderBy(col("l_orderkey").desc, col("l_linenumber")).limit(30)
    val opt = q.queryExecution.optimizedPlan
    assert(opt.collectFirst { case f: logical.Filter => f }.isDefined,
      s"expected the injected bound filter in:\n$opt")
    assert(rows(fact, col("l_orderkey").desc) == rows(plain, col("l_orderkey").desc))
    assert(rows(fact, col("l_orderkey").asc) == rows(plain, col("l_orderkey").asc))
    q.collect()
    val fi = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fi.lastListedFiles < fi.lastTotalFiles,
      s"expected auto top-k cut: ${fi.lastListedFiles}/${fi.lastTotalFiles}")

    // a USER filter between sort and relation invalidates the bound —
    // no injection (no filter in the plan may touch the sort key)
    val qf = fact.filter(col("l_returnflag") === "R")
      .orderBy(col("l_orderkey").desc).limit(30)
    val condsF = qf.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f.condition
    }
    assert(!condsF.exists(_.references.exists(_.name.equalsIgnoreCase("l_orderkey"))),
      s"user-filtered sort must not gain a bound: $condsF")
    assert(
      qf.select("l_orderkey", "l_linenumber").collect().map(_.toString).sorted.toSeq ==
        plain.filter(col("l_returnflag") === "R")
          .orderBy(col("l_orderkey").desc).limit(30)
          .select("l_orderkey", "l_linenumber").collect().map(_.toString).sorted.toSeq)

    // NULLS FIRST (asc default) on a nullable key: nulls rank and are all
    // kept via the OR IS NULL arm
    val pn = s"$work/topk_auto_nulls"
    (0L until 400L).map(i => (if (i % 7 == 0) None else Some(i), i))
      .toDF("v", "id").repartition(8, col("id")).write.mode("overwrite").parquet(pn)
    spark.index.create.mode("overwrite").indexBy("v").parquet(pn)
    def nrows(df: DataFrame) = df.orderBy(col("v"), col("id")).limit(20)
      .select("v", "id").collect().map(_.toString).sorted.toSeq
    assert(nrows(spark.index.parquet(pn)) == nrows(spark.read.parquet(pn)))

    // conf off: plan untouched
    spark.conf.set(IndexConf.TopKRewrite, "false")
    try {
      val qOff = fact.orderBy(col("l_orderkey").desc).limit(30)
      assert(qOff.queryExecution.optimizedPlan.collectFirst {
        case f: logical.Filter => f
      }.isEmpty, "rewrite must respect the conf gate")
    } finally spark.conf.unset(IndexConf.TopKRewrite)
  }

  test("automatic grouped top-k rewrite: window rank filter prunes files") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical
    // year-partitioned, custkey-clustered within partitions — the layout
    // a grouped bound cuts on (same shape as the API-path test fixture)
    val p = s"$work/wgl_auto"
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .repartitionByRange(16, col("o_year"), col("o_custkey"))
      .write.partitionBy("o_year").mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("o_custkey").parquet(p)
    val fact = spark.index.parquet(p)
    val plain = spark.read.parquet(p)
    def grouped(df: DataFrame, fn: org.apache.spark.sql.Column) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_year")).orderBy(col("o_custkey").desc, col("o_orderkey"))
      df.withColumn("rn", fn.over(w)).filter(col("rn") <= 10)
        .select("o_year", "rn", "o_orderkey", "o_custkey")
        .collect().map(_.toString).sorted.toSeq
    }
    // stock window shape, no API call: parity for row_number AND rank
    assert(grouped(fact, row_number()) == grouped(plain, row_number()))
    assert(grouped(fact, rank()) == grouped(plain, rank()))
    // the injected bound is visible and the files are cut
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_year")).orderBy(col("o_custkey").desc, col("o_orderkey"))
    val q = fact.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
    val conds = q.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f.condition
    }
    assert(conds.exists(_.references.exists(_.name.equalsIgnoreCase("o_custkey"))),
      s"expected an injected o_custkey bound, got: $conds")
    q.collect()
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case qe: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(qe.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }
    val fi = scansOf(q.queryExecution.executedPlan).map(_.relation.location)
      .collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fi.lastListedFiles < fi.lastTotalFiles,
      s"expected grouped auto cut: ${fi.lastListedFiles}/${fi.lastTotalFiles}")
    // dense_rank admits rank ties past k — must NOT gain a bound
    val qd = fact.withColumn("rn", dense_rank().over(w)).filter(col("rn") <= 10)
    val condsD = qd.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f.condition
    }
    assert(!condsD.exists(_.references.exists(_.name.equalsIgnoreCase("o_custkey"))),
      "dense_rank must not be bounded")
    assert(grouped(fact, dense_rank()) == grouped(plain, dense_rank()))
    // window partitioned by a NON-partition column: untouched, still exact
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("o_custkey").desc, col("o_orderkey"))
    val qn = fact.withColumn("rn", row_number().over(w2)).filter(col("rn") <= 5)
    val condsN = qn.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f.condition
    }
    assert(!condsN.exists(_.references.exists(_.name.equalsIgnoreCase("o_custkey"))),
      "non-partition grouping must not be bounded")
  }

  test("grouped top-k pruning: per-partition bounds cut files, degradations") {
    import spark.implicits._
    // orders partitioned by year, custkey-clustered WITHIN partitions so
    // per-file [min,max] are tight — the layout a grouped top-k prunes on
    val p = s"$work/orders_topk_group"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
    orders.repartitionByRange(16, col("o_year"), col("o_custkey"))
      .write.partitionBy("o_year").mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("o_custkey").parquet(p)
    val fact = spark.index.parquet(p)
    val plain = spark.read.parquet(p)
    def top(df: org.apache.spark.sql.DataFrame, k: Int) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_year")).orderBy(col("o_custkey").desc, col("o_orderkey"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select("o_year", "rn", "o_orderkey", "o_custkey")
        .collect().map(_.toString).sorted.toSeq
    }
    val pruned = graft.index.TopK.topKPerGroupPruned(
      fact, col("o_year"), col("o_custkey"), 10)
    assert(top(pruned, 10) == top(plain, 10), "per-group top-10 must survive")
    assert(top(pruned, 3) == top(plain, 3), "j < k stays exact")
    pruned.collect()
    val fi = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fi.lastListedFiles < fi.lastTotalFiles,
      s"expected grouped file cut: ${fi.lastListedFiles}/${fi.lastTotalFiles}")
    // degradations: non-partition group column, k above a group's rows,
    // plain frame — all return the frame unchanged
    val total = plain.count()
    assert(graft.index.TopK.topKPerGroupPruned(
      fact, col("o_orderstatus"), col("o_custkey"), 10).count() == total)
    assert(graft.index.TopK.topKPerGroupPruned(
      fact, col("o_year"), col("o_custkey"), total.toInt + 1).count() == total)
    assert(graft.index.TopK.topKPerGroupPruned(
      plain, col("o_year"), col("o_custkey"), 10).count() == total)
    // a filtered frame, or a computed column shadowing the indexed name:
    // unchanged, so every group's answer equals the plain query
    val low = col("o_custkey") < plain.agg(max("o_custkey").cast("long")).head.getLong(0) / 8
    assert(top(graft.index.TopK.topKPerGroupPruned(
      fact.filter(low), col("o_year"), col("o_custkey"), 10), 10) ==
      top(plain.filter(low), 10), "filtered frame")
    def shadowed(df: DataFrame) = df.select(col("o_year"), col("o_orderkey"),
      (-col("o_custkey")).as("o_custkey"))
    assert(top(graft.index.TopK.topKPerGroupPruned(
      shadowed(fact), col("o_year"), col("o_custkey"), 10), 10) ==
      top(shadowed(plain), 10), "shadowing alias")
    // distributed tier: per-partition folds run as a files-table job
    // (threshold forced under the file count) — same values, same cut
    val factDist = spark.index
      .option(graft.index.IndexConf.DistributedPruningThreshold, "1")
      .parquet(p)
    val prunedDist = graft.index.TopK.topKPerGroupPruned(
      factDist, col("o_year"), col("o_custkey"), 10)
    assert(top(prunedDist, 10) == top(plain, 10), "distributed-tier parity")
    prunedDist.collect()
    val fiD = prunedDist.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fiD.lastListedFiles < fiD.lastTotalFiles,
      s"distributed grouped cut: ${fiD.lastListedFiles}/${fiD.lastTotalFiles}")
    // bottom-k (asc) parity on the same fixture
    def bottom(df: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_year")).orderBy(col("o_custkey").asc_nulls_last, col("o_orderkey"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select("o_year", "rn", "o_orderkey", "o_custkey")
        .collect().map(_.toString).sorted.toSeq
    }
    assert(bottom(graft.index.TopK.topKPerGroupPruned(
      fact, col("o_year"), col("o_custkey"), 10, largest = false)) == bottom(plain))
  }

  test("IN list matches") {
    val keys = spark.read.parquet(tablePath)
      .select("l_orderkey").distinct().limit(3).collect().map(_.getLong(0))
    val cond = col("l_orderkey").isin(keys: _*)
    checkSame(
      spark.index.parquet(tablePath).filter(cond),
      spark.read.parquet(tablePath).filter(cond))
  }

  test("range predicates match") {
    val cond = col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1995-03-01").cast("timestamp")
    checkSame(
      spark.index.parquet(tablePath).filter(cond),
      spark.read.parquet(tablePath).filter(cond))
  }

  test("and/or tree with unsupported residue matches") {
    val plainDf = spark.read.parquet(tablePath)
    // l_quantity is unindexed — exercises the only-fully-indexed-pushdown rule
    val cond2 = (col("l_orderkey") === 1L && col("l_returnflag") === "R") ||
      (col("l_suppkey") < 10L && col("l_quantity") > 30.0)
    checkSame(
      spark.index.parquet(tablePath).filter(cond2),
      plainDf.filter(cond2))
  }

  test("string equality with bloom sketch matches") {
    val cond = col("l_returnflag") === "A"
    checkSame(
      spark.index.parquet(tablePath).filter(cond),
      spark.read.parquet(tablePath).filter(cond))
  }

  test("startsWith predicates match and can prune") {
    for (prefix <- Seq("A", "R", "N", "Z", "")) {
      val cond = col("l_returnflag").startsWith(prefix)
      checkSame(
        spark.index.parquet(tablePath).filter(cond),
        spark.read.parquet(tablePath).filter(cond))
    }
    // no flag starts with "Z" → everything prunes
    assert(spark.index.parquet(tablePath)
      .filter(col("l_returnflag").startsWith("Z")).count() === 0L)
  }

  test("negative: equality on absent key prunes everything and returns 0") {
    val indexed = spark.index.parquet(tablePath).filter(col("l_orderkey") === -42L)
    assert(indexed.count() === 0L)
  }

  test("projection-only query matches") {
    checkSame(
      spark.index.parquet(tablePath).select("l_orderkey", "l_quantity"),
      spark.read.parquet(tablePath).select("l_orderkey", "l_quantity"))
  }

  test("dict sketch variant matches") {
    spark.conf.set(IndexConf.FilterType, "dict")
    try {
      spark.index.create.mode("overwrite").indexBy("l_suppkey", "l_linenumber")
        .parquet(tablePath)
      val cond = col("l_suppkey") === 5L && col("l_linenumber") === 1
      checkSame(
        spark.index.parquet(tablePath).filter(cond),
        spark.read.parquet(tablePath).filter(cond))
    } finally {
      spark.conf.set(IndexConf.FilterType, "bloom")
      spark.index.create.mode("overwrite")
        .indexBy("l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate")
        .parquet(tablePath)
    }
  }

  test("substring predicates prune via exact dict sketch") {
    val p = s"$work/part_dict_e2e"
    spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .repartition(8, col("p_type"))
      .write.mode("overwrite").parquet(p)
    spark.conf.set(IndexConf.FilterType, "dict")
    try {
      spark.index.create.mode("overwrite").indexBy("p_type", "p_brand").parquet(p)

      def graftIndex(df: DataFrame) = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get

      val contains = col("p_type").contains("CONOM")
      val indexed = spark.index.parquet(p).filter(contains)
      checkSame(indexed, spark.read.parquet(p).filter(contains))
      val fi = graftIndex(indexed)
      indexed.collect() // force listFiles
      assert(fi.lastListedFiles < fi.lastTotalFiles,
        s"dict Contains should prune: ${fi.lastListedFiles}/${fi.lastTotalFiles}")

      val endsWith = col("p_brand").endsWith("21")
      checkSame(
        spark.index.parquet(p).filter(endsWith),
        spark.read.parquet(p).filter(endsWith))

      // no match in any dictionary → everything pruned, zero rows
      val none = spark.index.parquet(p).filter(col("p_type").contains("ZZZZ"))
      assert(none.count() == 0L)
      val fiNone = graftIndex(none)
      assert(fiNone.lastListedFiles == 0L)
    } finally {
      spark.conf.set(IndexConf.FilterType, "bloom")
    }
  }

  test("save mode matrix") {
    // exists → error
    intercept[IllegalStateException] {
      spark.index.create.mode("error").indexBy("l_orderkey").parquet(tablePath)
    }
    // ignore → no-op
    spark.index.create.mode("ignore").indexBy("l_orderkey").parquet(tablePath)
    // append → rejected
    intercept[UnsupportedOperationException] {
      spark.index.create.mode("append").indexBy("l_orderkey").parquet(tablePath)
    }
  }

  test("unsupported column type rejected") {
    // doubles/decimals index since the Canon sortable-bits extension and
    // array<primitive> since the element-domain extension, so the
    // rejection fixture needs genuinely unsupported types: boolean, an
    // array of an unsupported ELEMENT type, and a decimal too wide for
    // the unscaled-Long domain
    import spark.implicits._
    val p = s"$work/unsupported_t"
    spark.range(10).select(
        $"id", ($"id" % 2 === 0).as("flag"),
        array($"id" % 2 === 0).as("arr"),
        $"id".cast(org.apache.spark.sql.types.DecimalType(38, 4)).as("wide"))
      .write.mode("overwrite").parquet(p)
    for (c <- Seq("flag", "arr", "wide")) {
      val e = intercept[IllegalArgumentException] {
        spark.index.create.mode("overwrite").indexBy(c).parquet(p)
      }
      assert(e.getMessage.contains("unsupported"), s"col $c: ${e.getMessage}")
    }
  }

  test("partitioned table: partition pruning + index pruning") {
    val pPath = s"$work/orders_part"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
    orders.write.partitionBy("o_year").mode("overwrite").parquet(pPath)
    spark.index.create.mode("overwrite").indexBy("o_custkey").parquet(pPath)

    val cond = col("o_year") === 1995 && col("o_custkey") === 7L
    val indexed = spark.index.parquet(pPath).filter(cond)
    val plain = spark.read.parquet(pPath).filter(cond)
    checkSame(indexed, plain)

    // partition pruning composes with index pruning: the listing touches
    // fewer files than the table holds
    val fi = indexed.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.isDefined)
    assert(fi.get.lastListedFiles < fi.get.lastTotalFiles,
      s"expected partition+index pruning: ${fi.get.lastListedFiles}/${fi.get.lastTotalFiles}")

    // indexing a partition column is rejected
    val e = intercept[IllegalArgumentException] {
      spark.index.create.mode("overwrite").indexBy("o_year").parquet(pPath)
    }
    assert(e.getMessage.contains("partition column"))
  }

  test("dynamic partition pruning injects a runtime filter into the indexed scan") {
    import spark.implicits._
    // Hive-partitioned indexed table joined to a small FILTERED dim on
    // the partition column: Spark's DPP rule must plant a runtime
    // partition filter inside the GraftFileIndex listing (our listFiles
    // evaluates whatever partitionFilters arrive — planning-time or
    // runtime), so at 100 TB a star-join touches only the dim-selected
    // partitions WITHOUT a literal predicate in the query text.
    val pPath = s"$work/orders_dpp"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
    orders.write.partitionBy("o_year").mode("overwrite").parquet(pPath)
    spark.index.create.mode("overwrite").indexBy("o_custkey").parquet(pPath)

    val years = spark.read.parquet(pPath).select("o_year").distinct()
      .as[Int].collect().sorted
    assert(years.length >= 2, "fixture needs multiple partitions")
    val target = years.head
    // the dim must be FILE-BACKED: a LocalRelation's filter constant-
    // folds away at planning and DPP then sees no selective predicate
    years.map(y => (y, if (y == target) "keep" else "drop"))
      .toSeq.toDF("y", "tag")
      .write.mode("overwrite").parquet(s"$work/dpp_dim")
    val dim = spark.read.parquet(s"$work/dpp_dim")
    val fact = spark.index.parquet(pPath)
    val joined = fact.join(dim.filter($"tag" === "keep"),
      fact("o_year") === dim("y"))
    // execute THIS QueryExecution — a .count() plans a fresh one whose
    // scan instance is different, leaving the inspected metrics at zero
    val n = joined.queryExecution.toRdd.count()
    assert(n == spark.read.parquet(pPath)
      .filter($"o_year" === target).count())
    val planStr = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(planStr.contains("dynamicpruning"),
      s"expected a DPP subquery in the indexed scan:\n$planStr")
    // the join plan is AQE-wrapped — descend through adaptive stages to
    // reach the scan (plain .collect stops at the AdaptiveSparkPlanExec)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val factScan = scans(joined.queryExecution.executedPlan)
      .find(_.relation.location
        .isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
    assert(factScan.isDefined)
    // Spark applies the runtime filter to the PartitionDirectory list
    // AFTER the static GraftFileIndex listing, so the proof of pruning
    // is the scan's own numFiles metric: only the surviving partition's
    // files were read
    val total = factScan.get.relation.location
      .asInstanceOf[org.apache.spark.sql.graft.GraftFileIndex].lastTotalFiles
    val read = factScan.get.metrics("numFiles").value
    assert(read > 0, "metric must be populated (plan actually executed)")
    assert(read < total, s"DPP should cut files read: $read/$total")
  }

  test("within-file row groups: native parquet pushdown skips blocks the file fold admits") {
    import spark.implicits._
    // The index ORs per-block verdicts into FILE verdicts for listing
    // (reference ParquetIndexFilters.scala:29-46); within-file skipping
    // is deliberately delegated to parquet's native row-group pushdown,
    // which prunes on the same min/max the index stores — so a selective
    // predicate on a clustered multi-row-group file reads one block, not
    // the file, with no custom scan node. This proves that division of
    // labor end to end.
    val p = s"$work/rowgroups"
    spark.range(0L, 80000L)
      .select($"id", concat(lit("pay-"), $"id").as("payload"))
      .coalesce(1).sortWithinPartitions("id")
      .write.mode("overwrite")
      .option("parquet.block.size", (128 * 1024).toString)
      .option("parquet.page.size", (32 * 1024).toString)
      .parquet(p)
    val nGroups = {
      val fs = new java.io.File(p).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      assert(fs.length == 1, s"fixture wants ONE data file, got ${fs.length}")
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(fs.head.getAbsolutePath),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.size
    }
    assert(nGroups >= 4, s"fixture wants several row groups, got $nGroups")
    spark.index.create.mode("overwrite").indexBy("id").parquet(p)

    val q = spark.index.parquet(p).filter(col("id") === 42L)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // the file-level fold keeps the (only) file — the cut must be inside
    val fi = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
    assert(fi.lastListedFiles == 1L && fi.lastTotalFiles == 1L)
    val scan = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.metadata("PushedFilters").contains("EqualTo(id,42)"),
      s"predicate must reach the parquet reader: ${scan.metadata("PushedFilters")}")
    val out = scan.metrics("numOutputRows").value
    assert(out > 0L && out < 80000L / 2,
      s"row-group pushdown should cut within-file rows, scan emitted $out")
  }

  test("IsNull / null-aware predicates on a table with nulls") {
    val nPath = s"$work/lineitem_nulls"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("l_returnflag",
        when(col("l_linenumber") === 1, lit(null: String)).otherwise(col("l_returnflag")))
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(nPath)
    spark.index.create.mode("overwrite").indexBy("l_orderkey", "l_returnflag").parquet(nPath)
    for (cond <- Seq(
      col("l_returnflag").isNull,
      col("l_returnflag").isNull && col("l_orderkey") > 100L,
      col("l_returnflag") <=> "R",
      col("l_returnflag").isNotNull && col("l_orderkey") === 7L)) {
      checkSame(
        spark.index.parquet(nPath).filter(cond),
        spark.read.parquet(nPath).filter(cond))
    }
  }

  test("createIfNotExists auto-creates on load") {
    val aPath = s"$work/auto_table"
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode("overwrite").parquet(aPath)
    spark.conf.set(IndexConf.CreateIfNotExists, "true")
    try {
      assert(!spark.index.exists.parquet(aPath))
      val got = spark.index.parquet(aPath).count()
      assert(spark.index.exists.parquet(aPath))
      assert(got == spark.read.parquet(aPath).count())
    } finally spark.conf.set(IndexConf.CreateIfNotExists, "false")
  }

  test("catalog table: create/query/delete via table()") {
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .write.mode("overwrite").format("parquet").saveAsTable("graft_nation")
    try {
      spark.index.create.mode("overwrite").indexBy("n_nationkey").table("graft_nation")
      assert(spark.index.exists.table("graft_nation"))
      val cond = col("n_nationkey") === 7
      checkSame(
        spark.index.table("graft_nation").filter(cond),
        spark.table("graft_nation").filter(cond))
      spark.index.delete.table("graft_nation")
      assert(!spark.index.exists.table("graft_nation"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_nation")
  }

  // ------------------------------------------------------------------
  // Reference edge-case differential fixtures (IndexSuite.scala:657-881)
  // ------------------------------------------------------------------

  test("all-null indexed column: equality prunes to 0, isNull keeps all") {
    val p = s"$work/all_null"
    spark.range(16).withColumn("nl", lit(null).cast("string"))
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("id", "nl").parquet(p)
    assert(spark.index.parquet(p).filter(col("nl") === "a").count() === 0L)
    assert(spark.index.parquet(p).filter(col("nl").isNull).count() === 16L)
    checkSame(
      spark.index.parquet(p).filter(col("nl").isNull && col("id") < 8),
      spark.read.parquet(p).filter(col("nl").isNull && col("id") < 8))
  }

  test("#25 UTF-8 min/max: multi-byte above ascii orders correctly") {
    val p = s"$work/utf8_a"
    import spark.implicits._
    Seq("a", "é").toDF("col").coalesce(1).write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("col").parquet(p)
    val got = spark.index.parquet(p).filter(col("col") > "a").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("é"))
  }

  test("#25 UTF-8 min/max: multi-byte between ascii bounds") {
    val p = s"$work/utf8_b"
    import spark.implicits._
    Seq("aa", "bé", "bb").toDF("col").coalesce(1).write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("col").parquet(p)
    val got = spark.index.parquet(p).filter(col("col") > "bb").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("bé"))
  }

  test("#25 UTF-8-only values: point equality with sketches") {
    val p = s"$work/utf8_c"
    import spark.implicits._
    Seq("ᚠᛇᚻ", "᛫ᛒᛦᚦ᛫ᚠᚱ", "ᚩᚠᚢᚱ᛫", "ᚠᛁᚱᚪ᛫ᚷ", "ᛖᚻᚹᛦ", "ᛚᚳᚢᛗ").toDF("col")
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("col").parquet(p)
    val got = spark.index.parquet(p).filter(col("col") === "ᛖᚻᚹᛦ").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("ᛖᚻᚹᛦ"))
    checkSame(
      spark.index.parquet(p).filter(col("col") >= "ᛖ"),
      spark.read.parquet(p).filter(col("col") >= "ᛖ"))
  }

  test("#40 table with empty files (odd partitions filtered out)") {
    val p = s"$work/empty_parts"
    import spark.implicits._
    spark.sparkContext.parallelize(0 until 8, 8)
      .map(x => (x, s"$x")).filter(_._1 % 2 == 0).toDF("col1", "col2")
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexByAll().parquet(p)
    val got = spark.index.parquet(p).filter(col("col1") === 2).collect()
    assert(got.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((2, "2")))
  }

  test("#40 fully empty table indexes and returns 0 rows") {
    val p = s"$work/empty_table"
    import spark.implicits._
    spark.sparkContext.parallelize(0 until 8, 8)
      .map(x => (x, s"$x")).filter(_ => false).toDF("col1", "col2")
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexByAll().parquet(p)
    assert(spark.index.parquet(p).filter(col("col1") === 2).count() === 0L)
    assert(spark.index.parquet(p).count() === 0L)
  }

  test("string column of all empty values") {
    val p = s"$work/str_empty_all"
    import spark.implicits._
    Seq("", "", "", "").toDF("col").write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexByAll().parquet(p)
    assert(spark.index.parquet(p).filter(col("col") === "").count() === 4L)
  }

  test("string column of some empty values") {
    val p = s"$work/str_empty_some"
    import spark.implicits._
    Seq("", "1", "", "1").toDF("col").write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexByAll().parquet(p)
    val df = spark.index.parquet(p)
    assert(df.filter(col("col") === "").count() === 2L)
    assert(df.filter(col("col") === "1").count() === 2L)
    assert(df.filter(col("col") > "").count() === 2L)
  }

  test("field metadata round-trips through the index schema") {
    import org.apache.spark.sql.types._
    val p = s"$work/with_metadata"
    val schema = StructType(Nil)
      .add("id", LongType, false,
        new MetadataBuilder().putString("key", "long col").build())
      .add("name", StringType, true,
        new MetadataBuilder().putString("key", "str col").build())
    val rdd = spark.sparkContext.parallelize(
      org.apache.spark.sql.Row(1L, "a") :: org.apache.spark.sql.Row(2L, "b") ::
        org.apache.spark.sql.Row(3L, "c") :: Nil)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexByAll().parquet(p)
    val indexed = spark.index.parquet(p)
    assert(indexed.schema.fields.map(_.name).toSeq == Seq("id", "name"))
    assert(indexed.schema("id").metadata.getString("key") == "long col")
    assert(indexed.schema("name").metadata.getString("key") == "str col")
    assert(indexed.schema == spark.read.parquet(p).schema)
    checkSame(indexed.filter(col("id") === 2L),
      spark.read.parquet(p).filter(col("id") === 2L))
  }

  test("unsupported types rejected: array-of-struct and struct columns") {
    import spark.implicits._
    val p = s"$work/unsupported"
    Seq(("a", Seq((1, 2)), (1, 2))).toDF("c1", "arrst", "st")
      .write.mode("overwrite").parquet(p)
    // array<primitive> is supported (element-domain — ArrayIndexSpec);
    // an array of STRUCT has no canonical element domain and must reject
    val e1 = intercept[IllegalArgumentException] {
      spark.index.create.mode("overwrite").indexBy("arrst").parquet(p)
    }
    assert(e1.getMessage.contains("unsupported"))
    val e2 = intercept[IllegalArgumentException] {
      spark.index.create.mode("overwrite").indexBy("c1", "st").parquet(p)
    }
    assert(e2.getMessage.contains("unsupported type"))
    // indexByAll prunes to the supported column and still works
    spark.index.create.mode("overwrite").indexByAll().parquet(p)
    checkSame(
      spark.index.parquet(p).filter(col("c1") === "a"),
      spark.read.parquet(p).filter(col("c1") === "a"))
  }

  test("heterogeneous files: schema merges across footers, queries work") {
    import spark.implicits._
    val p = s"$work/two_schemas"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("overwrite").parquet(p)
    Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "s", "extra")
      .write.mode("append").parquet(p)
    spark.index.create.mode("overwrite").indexBy("id").parquet(p)
    val indexed = spark.index.parquet(p)
    // merged schema keeps the column only some files have
    assert(indexed.schema.fieldNames.toSeq == Seq("id", "s", "extra"))
    val plain = spark.read.option("mergeSchema", "true").parquet(p)
    checkSame(indexed.orderBy("id"), plain.orderBy("id"))
    checkSame(
      indexed.filter(col("id") === 3L),
      plain.filter(col("id") === 3L))
    // files without the filtered row's value are pruned
    checkSame(
      indexed.filter(col("id") >= 3L && col("extra").isNotNull),
      plain.filter(col("id") >= 3L && col("extra").isNotNull))
  }

  test("DateType index column: equality and range pruning") {
    val p = s"$work/orders_date"
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_date", col("o_orderdate").cast("date"))
      .repartitionByRange(8, col("o_date"))
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("o_date", "o_orderkey").parquet(p)
    val d = java.sql.Date.valueOf("1995-06-15")
    for (cond <- Seq(
      col("o_date") === d,
      col("o_date") >= d && col("o_date") < java.sql.Date.valueOf("1995-09-01"),
      col("o_date").isin(d, java.sql.Date.valueOf("1996-01-01")))) {
      checkSame(
        spark.index.parquet(p).filter(cond),
        spark.read.parquet(p).filter(cond))
    }
    // range-partitioned by date → a one-day equality must prune files
    val indexed = spark.index.parquet(p).filter(col("o_date") === d)
    indexed.collect()
    val fi = indexed.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.get.lastListedFiles < fi.get.lastTotalFiles)
  }

  test("INT96 timestamps degrade gracefully (no stats, correct results)") {
    val p = s"$work/int96_ts"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("ts"))
        .repartition(4)
        .write.mode("overwrite").parquet(p)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    // fallback OFF: the legacy degrade-to-may-contain path must stay sound
    spark.index.create.mode("overwrite")
      .option(IndexConf.MinMaxFallback, "false")
      .indexBy("ts", "o_orderkey").parquet(p)
    val cond = col("ts") >= lit("1995-01-01").cast("timestamp") &&
      col("ts") < lit("1996-01-01").cast("timestamp")
    // INT96 footer stats are unusable → may-contain (no unsound pruning),
    // results still exact via the residual filter
    checkSame(
      spark.index.parquet(p).filter(cond),
      spark.read.parquet(p).filter(cond))
    // the other indexed column still prunes
    assert(spark.index.parquet(p).filter(col("o_orderkey") === -5L).count() === 0L)
  }

  test("INT96 timestamps: full-scan min/max fallback restores range pruning") {
    val p = s"$work/int96_ts_fallback"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("ts"))
        .repartitionByRange(8, col("o_orderdate"))
        .write.mode("overwrite").parquet(p)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    // default conf: fallback ON — a data-scan agg patches ts min/max
    spark.index.create.mode("overwrite").indexBy("ts", "o_orderkey").parquet(p)
    val cond = col("ts") >= lit("1995-01-01").cast("timestamp") &&
      col("ts") < lit("1995-04-01").cast("timestamp")
    checkSame(
      spark.index.parquet(p).filter(cond),
      spark.read.parquet(p).filter(cond))
    // range-clustered by date → the 3-month window must prune files now
    val indexed = spark.index.parquet(p).filter(cond)
    indexed.collect()
    val fi = indexed.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.get.lastListedFiles < fi.get.lastTotalFiles,
      s"expected pruning: ${fi.get.lastListedFiles} of ${fi.get.lastTotalFiles}")
    // point equality on the far edge of the domain prunes too
    val eq = spark.index.parquet(p)
      .filter(col("ts") === lit("1998-08-01").cast("timestamp"))
    eq.collect()
    val fi2 = eq.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi2.get.lastListedFiles < fi2.get.lastTotalFiles)
  }

  test("min/max fallback through refresh: appended INT96 files get bounds") {
    val p = s"$work/int96_ts_refresh"
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("ts"),
        col("o_orderdate"))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      src.filter(col("o_orderdate") < "1996-01-01")
        .drop("o_orderdate").repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(p)
      spark.index.create.mode("overwrite").indexBy("ts").parquet(p)
      src.filter(col("o_orderdate") >= "1996-01-01")
        .drop("o_orderdate").repartitionByRange(4, col("ts"))
        .write.mode("append").parquet(p)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val stats = spark.index.refresh.parquet(p)
    assert(stats.addedFiles > 0L)
    val cond = col("ts") >= lit("1997-06-01").cast("timestamp")
    checkSame(
      spark.index.parquet(p).filter(cond),
      spark.read.parquet(p).filter(cond))
    // the predicate only touches refresh-appended files; with patched
    // bounds the pre-1996 half must be pruned
    val indexed = spark.index.parquet(p).filter(cond)
    indexed.collect()
    val fi = indexed.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi.get.lastListedFiles < fi.get.lastTotalFiles,
      s"expected pruning: ${fi.get.lastListedFiles} of ${fi.get.lastTotalFiles}")
  }

  test("indexed keyed table: upsert + refresh keeps pruning, O(delta) diff") {
    import spark.implicits._
    val p = s"$work/keyed_indexed"
    graft.ops.Upsert.writeKeyedTable(
      spark.range(0, 1000).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v")),
      "k", p, numBuckets = 8, mode = "overwrite")
    spark.index.create.mode("overwrite").indexBy("k").parquet(p)
    // indexed point query over the fresh table prunes and matches plain
    def prunedScan(k: Long): (Long, Long) = {
      val q = spark.index.parquet(p).filter(col("k") === k)
      q.collect()
      val fi = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
      (fi.lastListedFiles, fi.lastTotalFiles)
    }
    checkSame(spark.index.parquet(p).filter(col("k") === 123L),
      spark.read.parquet(p).filter(col("k") === 123L))
    val (listed0, total0) = prunedScan(123L)
    assert(listed0 < total0, s"expected pruning: $listed0 of $total0")

    // MERGE a small delta, then refresh: the index diff is the touched
    // buckets' files only (delta-proportional), never a full rebuild
    val totalFiles = filesScanned(spark.read.parquet(p))
    val st = graft.ops.Upsert.upsertByKey(spark, p,
      spark.range(0, 3).select(col("id").as("k"),
        concat(lit("NEW"), col("id")).as("v"))
        .union(Seq((5000L, "ins")).toDF("k", "v")),
      "k", numBuckets = 8)
    assert(st.touchedBuckets < 8)
    val rs = spark.index.refresh.parquet(p)
    assert(rs.addedFiles > 0L && rs.addedFiles < totalFiles,
      s"refresh should touch only delta buckets: $rs vs $totalFiles files")
    // updated + inserted keys served THROUGH the index, still pruned
    val got = spark.index.parquet(p).filter(col("k").isin(1L, 5000L))
      .select(col("k"), col("v")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "NEW1", 5000L -> "ins"))
    checkSame(
      spark.index.parquet(p).filter(col("k") === 700L),
      spark.read.parquet(p).filter(col("k") === 700L))

    // DELETE keys, refresh, the key is gone through the index too
    graft.ops.Upsert.deleteByKey(spark, p, Seq(700L).toDF("k"), "k", 8)
    val rs2 = spark.index.refresh.parquet(p)
    assert(rs2.removedFiles > 0L)
    assert(spark.index.parquet(p).filter(col("k") === 700L).isEmpty)
    assert(spark.index.parquet(p).count() == 1000L) // 1000 + 1 ins - 1 del
  }

  test("maintenance lock: concurrent run fails fast, lease expiry heals") {
    val p = s"$work/lock_tbl"
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .repartition(4).write.mode("overwrite").parquet(p)
    val dir = new org.apache.hadoop.fs.Path(p)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a live holder: both compact and vacuum must fail fast, not corrupt
    graft.ops.MaintenanceLock.withLock(fs, dir) {
      intercept[graft.ops.ConcurrentMaintenanceException] {
        graft.ops.Layout.compact(spark, p)
      }
      intercept[graft.ops.ConcurrentMaintenanceException] {
        graft.ops.Layout.vacuum(spark, p)
      }
    }
    // released on exit → next run proceeds
    assert(graft.ops.Layout.vacuum(spark, p) == 0)
    // crashed holder: a lock file past its lease is healed automatically
    val lock = new org.apache.hadoop.fs.Path(dir, graft.ops.MaintenanceLock.LockName)
    fs.create(lock, false).close()
    intercept[graft.ops.ConcurrentMaintenanceException] {
      graft.ops.Layout.vacuum(spark, p)
    }
    fs.setTimes(lock, System.currentTimeMillis() - 3600L * 1000, -1)
    assert(graft.ops.Layout.vacuum(spark, p) == 0)
    assert(!fs.exists(lock))
    // create/refresh/delete share the index's SIBLING lock: a held lock
    // blocks all three (create and delete remove the index dir itself,
    // so the lock must live beside it)
    spark.index.create.mode("overwrite").indexBy("o_orderkey").parquet(p)
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .limit(10).coalesce(1).write.mode("append").parquet(p)
    val metastore = graft.index.Metastore(spark)
    val indexDir = metastore.location(graft.index.Metastore.Dataspace,
      graft.index.IndexedDataSource.resolveTablePath(spark, p))
    graft.ops.MaintenanceLock.withSiblingLock(metastore.fs, indexDir) {
      intercept[graft.ops.ConcurrentMaintenanceException] {
        spark.index.refresh.parquet(p)
      }
      intercept[graft.ops.ConcurrentMaintenanceException] {
        spark.index.create.mode("overwrite").indexBy("o_orderkey").parquet(p)
      }
      intercept[graft.ops.ConcurrentMaintenanceException] {
        spark.index.delete.parquet(p)
      }
      // the index survived every blocked mutation attempt
      assert(spark.index.exists.parquet(p))
    }
    val stats = spark.index.refresh.parquet(p)
    assert(stats.addedFiles > 0L)
    spark.index.delete.parquet(p)
    assert(!spark.index.exists.parquet(p))
  }

  test("multi-row-group files: blooms sized by file rows, pruning intact") {
    val p = s"$work/multi_rg"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition(2, col("l_orderkey"))
      .write.option("parquet.block.size", 64 * 1024) // force several row groups
      .mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite").indexBy("l_orderkey").parquet(p)
    val ms = Metastore(spark)
    val filesDir = new org.apache.hadoop.fs.Path(
      ms.location(Metastore.Dataspace, IndexedDataSource.resolveTablePath(spark, p)),
      Metastore.FilesDir)
    val meta = ms.load(Metastore.Dataspace, IndexedDataSource.resolveTablePath(spark, p))._2
    val rows = IndexFilesTable.readAll(filesDir, meta, spark.sparkContext.hadoopConfiguration)
    assert(rows.exists(r => IndexMetadata.blocksFromJsonString(r.blocksJson).size > 1),
      "fixture must produce multi-row-group files")
    // bloom covers the whole file: an absent key prunes everything, a
    // present key from ANY row group matches the plain scan
    assert(spark.index.parquet(p).filter(col("l_orderkey") === -1L).count() === 0L)
    val keys = spark.read.parquet(p).select("l_orderkey").distinct()
      .orderBy(col("l_orderkey").desc).limit(1).head.getLong(0)
    checkSame(
      spark.index.parquet(p).filter(col("l_orderkey") === keys),
      spark.read.parquet(p).filter(col("l_orderkey") === keys))
  }

  test("sketch reads are pruned to surviving files (no full-table load)") {
    val p = s"$work/sketch_prune"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartitionByRange(64, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite")
      .indexBy("l_orderkey", "l_returnflag").parquet(p)
    val ms = Metastore(spark)
    val sketchDir = new org.apache.hadoop.fs.Path(
      ms.location(Metastore.Dataspace, IndexedDataSource.resolveTablePath(spark, p)),
      Metastore.SketchDir)
    SketchStore.invalidate(sketchDir) // fresh store → zeroed telemetry
    val meta = ms.load(Metastore.Dataspace, IndexedDataSource.resolveTablePath(spark, p))._2
    val store = SketchStore.forDir(sketchDir, meta, spark.sparkContext.hadoopConfiguration)

    val key = spark.read.parquet(p).select("l_orderkey").head.getLong(0)
    checkSame(
      spark.index.parquet(p).filter(col("l_orderkey") === key),
      spark.read.parquet(p).filter(col("l_orderkey") === key))

    val totalRows = 64L * 2 // files × indexed columns
    assert(store.rowsRead.sum > 0, "sketches were consulted")
    assert(store.rowsRead.sum < totalRows,
      s"expected pruned sketch read, got ${store.rowsRead.sum}/$totalRows rows")

    // range-only predicates never touch sketch IO
    val before = store.rowsRead.sum
    spark.index.parquet(p).filter(col("l_orderkey") > key).count()
    assert(store.rowsRead.sum == before, "range query must not load sketches")
  }

  test("distributed pruning path (threshold forced low) matches driver path") {
    spark.conf.set(IndexConf.DistributedPruningThreshold, "1")
    try {
      val key = spark.read.parquet(tablePath).select("l_orderkey").head.getLong(0)
      val indexed = spark.index.parquet(tablePath).filter(col("l_orderkey") === key)
      checkSame(indexed, spark.read.parquet(tablePath).filter(col("l_orderkey") === key))
      val fi = indexed.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
      indexed.collect()
      assert(fi.exists(_.lastPrunedDistributed), "expected the Spark-job fold path")
      assert(fi.get.lastListedFiles < fi.get.lastTotalFiles,
        s"distributed fold must still prune: ${fi.get.lastListedFiles}/${fi.get.lastTotalFiles}")
      // range filter + unfiltered listing also work distributed
      checkSame(
        spark.index.parquet(tablePath).filter(col("l_orderkey") > key),
        spark.read.parquet(tablePath).filter(col("l_orderkey") > key))
      checkSame(spark.index.parquet(tablePath), spark.read.parquet(tablePath))
      // top-k threshold takes the files-table sort + kth-element walk here
      checkSame(
        graft.index.TopK.topKPruned(
            spark.index.parquet(tablePath), col("l_orderkey"), 25)
          .orderBy(col("l_orderkey").desc, col("l_linenumber")).limit(25),
        spark.read.parquet(tablePath)
          .orderBy(col("l_orderkey").desc, col("l_linenumber")).limit(25))
      // STRING keys fold distributed too (formerly a silent None degrade):
      // both the ungrouped walk and the grouped fold must prove a bound
      // on this tier, and the pruned result stays exact
      checkSame(
        graft.index.TopK.topKPruned(
            spark.index.parquet(tablePath), col("l_returnflag"), 25)
          .orderBy(col("l_returnflag").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(25),
        spark.read.parquet(tablePath)
          .orderBy(col("l_returnflag").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(25))
      locally {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        val gfi = spark.index.parquet(tablePath).queryExecution.analyzed
          .collectLeaves().collectFirst {
            case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation]
              .location.asInstanceOf[org.apache.spark.sql.graft.GraftFileIndex]
          }.get
        assert(gfi.topKBound("l_returnflag",
          org.apache.spark.sql.types.StringType, 5, largest = true).isDefined,
          "distributed string kth walk must prove a bound")
        assert(gfi.topKBound("l_returnflag",
          org.apache.spark.sql.types.StringType, 5, largest = false).isDefined)
        assert(gfi.topKBoundByPartitions("l_returnflag",
          org.apache.spark.sql.types.StringType, 5, largest = true).isDefined,
          "distributed grouped string fold must prove a bound")
      }
    } finally spark.conf.unset(IndexConf.DistributedPruningThreshold)

    // per-call option switches the path too (no session conf set)
    val key2 = spark.read.parquet(tablePath).select("l_orderkey").head.getLong(0)
    val viaOpt = spark.index
      .option(IndexConf.DistributedPruningThreshold, "1")
      .parquet(tablePath).filter(col("l_orderkey") === key2)
    viaOpt.collect()
    val fi2 = viaOpt.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    assert(fi2.exists(_.lastPrunedDistributed),
      "option() must thread the threshold into listFiles")
  }

  test("driver and distributed runners agree value by value") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft.GraftFileIndex
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    // three partitions of three overlapping files each; `s` has nulls
    def writeParts(p: String): Unit =
      for (part <- 0 until 3; f <- 0 until 3) {
        val base = (part * 3 + f) * 50L
        spark.range(base, base + 60).select(
            col("id").as("k"),
            when(col("id") % 13 === 0, lit(null).cast("string")).otherwise(
              concat(lit("s"), lpad((col("id") * 7 % 500).cast("string"), 3, "0"))).as("s"),
            (col("id") / 4.0 - 20).as("d"))
          .coalesce(1).write.mode("append").parquet(s"$p/part=$part")
      }
    // a file whose indexed columns are all null yields no usable top-k
    // pairs: alone in its partition it must make the grouped bound None
    def writeNullFile(dir: String): Unit =
      spark.range(0, 5).select(lit(null).cast("long").as("k"),
          lit(null).cast("string").as("s"), lit(null).cast("double").as("d"))
        .coalesce(1).write.mode("append").parquet(dir)
    val bloomPath = s"$work/runner_parity_bloom"
    writeParts(bloomPath)
    writeNullFile(s"$bloomPath/part=3")
    val dictPath = s"$work/runner_parity_dict"
    writeParts(dictPath)
    writeNullFile(s"$dictPath/part=0")
    spark.index.create.mode("overwrite").indexBy("k", "s", "d").parquet(bloomPath)
    spark.index.create.mode("overwrite").option(IndexConf.FilterType, Sketch.Dict)
      .indexBy("k", "s", "d").parquet(dictPath)

    def onDriver(p: String) = spark.index.parquet(p)
    def onTable(p: String) =
      spark.index.option(IndexConf.DistributedPruningThreshold, "1").parquet(p)
    def listed(df: DataFrame): (Set[String], Boolean) = {
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get
      val gfi = scan.relation.location.asInstanceOf[GraftFileIndex]
      val files = gfi.listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files.map(_.getPath.toString)).toSet
      (files, gfi.lastPrunedDistributed)
    }
    def index(df: DataFrame): GraftFileIndex = df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.relation.location.asInstanceOf[GraftFileIndex]
    }.get
    val filters: Seq[Column] = Seq(
      col("k") === 170L, col("k").isin(5L, 170L, 333L), col("k") > 300L,
      col("d") < -15.0, col("s") === "s077", col("s").contains("123"))

    for (p <- Seq(bloomPath, dictPath)) {
      filters.foreach { f =>
        val (driverFiles, driverOnTable) = listed(onDriver(p).filter(f))
        val (tableFiles, tableOnTable) = listed(onTable(p).filter(f))
        assert(!driverOnTable && tableOnTable, s"$p $f: runner not switched")
        assert(driverFiles == tableFiles, s"$p $f: listings differ")
      }
      val (d, t) = (index(onDriver(p)), index(onTable(p)))
      val cols = Seq("k", "s", "d")
      assert(d.metadataStats(cols) == t.metadataStats(cols), p)
      assert(d.metadataStatsByPartition(cols) == t.metadataStatsByPartition(cols), p)
      for ((c, dt) <- Seq("k" -> LongType, "s" -> StringType, "d" -> DoubleType);
           largest <- Seq(true, false); k <- Seq(1L, 7L, 100L, 10000L)) {
        val what = s"$p $c largest=$largest k=$k"
        assert(d.topKBound(c, dt, k, largest) == t.topKBound(c, dt, k, largest), what)
        assert(d.topKBoundByPartitions(c, dt, k, largest) ==
          t.topKBoundByPartitions(c, dt, k, largest), what)
      }
      assert(t.topKBound("s", StringType, 7L, largest = true).isDefined, p)
    }
    val (bloomTable, dictTable) = (index(onTable(bloomPath)), index(onTable(dictPath)))
    assert(bloomTable.topKBoundByPartitions("k", LongType, 7L, largest = true).isEmpty,
      "a partition of pair-less files proves no bound")
    assert(dictTable.topKBoundByPartitions("k", LongType, 7L, largest = true).isDefined,
      "a pair-less file beside files with bounds leaves its partition's bound")
  }

  test("catalog: non-parquet provider rejected; dual dataspace independent") {
    import spark.implicits._
    // JSON-provider catalog table cannot be indexed (reference
    // IndexSuite.scala:917-942)
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite")
      .format("json").saveAsTable("graft_json_tbl")
    try {
      val e = intercept[UnsupportedOperationException] {
        spark.index.create.mode("overwrite").indexBy("id").table("graft_json_tbl")
      }
      assert(e.getMessage.contains("provider"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_json_tbl")

    // the same physical path carries two independent indexes under the
    // source and catalog dataspaces (reference IndexSuite.scala:944-965)
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode("overwrite").format("parquet").saveAsTable("graft_region")
    try {
      val location = org.apache.spark.sql.graft.SparkInternals
        .catalogTableInfo(spark, "graft_region")._2.toString
      spark.index.create.mode("overwrite").indexBy("r_regionkey").table("graft_region")
      spark.index.create.mode("overwrite").indexBy("r_regionkey").parquet(location)
      assert(spark.index.exists.table("graft_region"))
      assert(spark.index.exists.parquet(location))
      spark.index.delete.parquet(location)
      assert(!spark.index.exists.parquet(location))
      assert(spark.index.exists.table("graft_region"), "catalog index must survive")
      checkSame(
        spark.index.table("graft_region").filter(col("r_regionkey") === 2L),
        spark.table("graft_region").filter(col("r_regionkey") === 2L))
      spark.index.delete.table("graft_region")
    } finally spark.sql("DROP TABLE IF EXISTS graft_region")
  }

  test("eager sketch loading returns same results") {
    spark.conf.set(IndexConf.EagerLoading, "true")
    try {
      val key = spark.read.parquet(tablePath).select("l_orderkey").head.getLong(0)
      checkSame(
        spark.index.parquet(tablePath).filter(col("l_orderkey") === key),
        spark.read.parquet(tablePath).filter(col("l_orderkey") === key))
    } finally spark.conf.set(IndexConf.EagerLoading, "false")
  }

  test("QueryContext Java-style entry, Array overloads, options plumbing") {
    val p = s"$work/qc_table"
    spark.read.parquet("/root/testdata/sf0.001/region.parquet")
      .write.mode("overwrite").parquet(p)
    // the exact call chain Java uses: new QueryContext(spark).index()...
    val ctx = new QueryContext(spark)
    ctx.index().create
      .mode("overwrite")
      .option(IndexConf.FilterEnabled, "false") // per-call override
      .indexBy(Array("r_regionkey"))            // Java array overload
      .parquet(p)
    // the option reached the build: no sketch table was written
    val ms = Metastore(spark)
    val sketchDir = new org.apache.hadoop.fs.Path(
      ms.location(Metastore.Dataspace, IndexedDataSource.resolveTablePath(spark, p)),
      Metastore.SketchDir)
    assert(!ms.fs.exists(sketchDir),
      "filter.enabled=false option must suppress the sketch build")
    checkSame(
      ctx.index().parquet(p).filter(col("r_regionkey") === 2L),
      spark.read.parquet(p).filter(col("r_regionkey") === 2L))
    // manager-level options thread into create via .create
    val im = ctx.index().option(IndexConf.FilterEnabled, "true")
    im.create.mode("overwrite").indexBy(Array("r_regionkey")).parquet(p)
    assert(ms.fs.exists(sketchDir), "manager option must flow into create")
  }

  test("format() accepts parquet only; load() is an alias") {
    intercept[IllegalArgumentException] { spark.index.format("json") }
    val viaLoad = spark.index.format("parquet").load(tablePath)
    assert(viaLoad.count() == spark.read.parquet(tablePath).count())
  }

  test("refresh: appended files become visible and are pruned") {
    val rPath = s"$work/lineitem_refresh"
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.filter(col("l_orderkey") % 2 === 0)
      .repartition(4, col("l_orderkey")).write.mode("overwrite").parquet(rPath)
    spark.index.create.mode("overwrite")
      .indexBy("l_orderkey", "l_returnflag").parquet(rPath)

    // no-op refresh: nothing changed
    val none = spark.index.refresh.parquet(rPath)
    assert(none == IndexedDataSource.RefreshStats(0L, 0L))

    // append the other half as new files
    li.filter(col("l_orderkey") % 2 === 1)
      .repartition(4, col("l_orderkey")).write.mode("append").parquet(rPath)
    val stats = spark.index.refresh.parquet(rPath)
    assert(stats.addedFiles == 4L && stats.removedFiles == 0L,
      s"expected 4 added / 0 removed, got $stats")

    // full differential: indexed == plain over the whole (grown) table
    checkSame(spark.index.parquet(rPath), spark.read.parquet(rPath))

    // an odd key lives only in appended files — found, and pruned
    val oddKey = li.filter(col("l_orderkey") % 2 === 1)
      .agg(min(col("l_orderkey"))).head.getLong(0)
    val q = spark.index.parquet(rPath).filter(col("l_orderkey") === oddKey)
    checkSame(q, spark.read.parquet(rPath).filter(col("l_orderkey") === oddKey))
    val fi = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
    q.collect() // force listFiles
    assert(fi.isDefined)
    assert(fi.get.lastListedFiles < 8,
      s"expected pruning over 8 files, listed ${fi.get.lastListedFiles}")

    // bloom sketches were appended too: string equality still prunes
    val flagQ = spark.index.parquet(rPath)
      .filter(col("l_orderkey") === oddKey && col("l_returnflag") === "R")
    checkSame(flagQ, spark.read.parquet(rPath)
      .filter(col("l_orderkey") === oddKey && col("l_returnflag") === "R"))
  }

  test("refresh: distributed listing tier — level-walk, k=v parse, delta-only driver") {
    import spark.implicits._
    val rPath = s"$work/orders_refresh_dist"
    val lowThreshold = Map(IndexConf.DistributedPruningThreshold -> "1")
    def refreshDist() = IndexedDataSource.refreshIndex(
      spark, rPath, Metastore.Dataspace, lowThreshold)
    // Hive-partitioned fixture WITH a null-partition
    // (__HIVE_DEFAULT_PARTITION__) to exercise the executor-side parse
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year",
        when(col("o_custkey") % 97 === 0, lit(null: Integer))
          .otherwise(year(col("o_orderdate"))))
    val years = orders.select("o_year").na.drop().distinct()
      .as[Int].collect().sorted
    orders.filter(col("o_year") === years.head)
      .write.mode("overwrite").partitionBy("o_year").parquet(rPath)
    spark.index.create.mode("overwrite").indexBy("o_custkey").parquet(rPath)

    // no-op distributed refresh
    assert(refreshDist() == IndexedDataSource.RefreshStats(0L, 0L))

    // append into NEW partitions (incl. the null one) — the distributed
    // walk must discover the dirs, parse values, and index the delta
    orders.filter(col("o_year").isNull || col("o_year") =!= years.head)
      .write.mode("append").partitionBy("o_year").parquet(rPath)
    IndexedDataSource.lastListingResidency = None
    val stats = refreshDist()
    assert(stats.addedFiles > 0L && stats.removedFiles == 0L, s"got $stats")
    // the measured form of the O(dirs + partitions + delta) residency
    // claim: the level-walk hands the driver at most the partition-dir
    // fan-out per level, the partition tuples once, and ONLY added refs
    val (resDirs, resParts, resAdded) =
      IndexedDataSource.lastListingResidency.getOrElse(
        fail("distributed listing tier did not run"))
    val nParts = years.length + 1L // incl. the null partition
    assert(resDirs <= nParts, s"dir rows per level must be <= $nParts, got $resDirs")
    // r11: tuples are derived from ADDED rows only (existing partitions
    // are already in the metadata), so the driver holds the DELTA's
    // partition tuples — here everything but the pre-existing first year
    assert(resParts == nParts - 1,
      s"partition tuples: got $resParts, want ${nParts - 1} (delta only)")
    assert(resAdded == stats.addedFiles,
      s"only added refs reach the driver: got $resAdded vs ${stats.addedFiles}")
    checkSame(spark.index.parquet(rPath), spark.read.parquet(rPath))

    // the NEW partition is pruned by partition value, incl. IS NULL
    val yNew = years.last
    checkSame(
      spark.index.parquet(rPath).filter(col("o_year") === yNew && col("o_custkey") <= 10),
      spark.read.parquet(rPath).filter(col("o_year") === yNew && col("o_custkey") <= 10))
    checkSame(
      spark.index.parquet(rPath).filter(col("o_year").isNull),
      spark.read.parquet(rPath).filter(col("o_year").isNull))

    // removal through the distributed diff
    val leaf = new java.io.File(s"$rPath/o_year=$yNew")
    val victim = leaf.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val stats2 = refreshDist()
    assert(stats2 == IndexedDataSource.RefreshStats(0L, 1L), s"got $stats2")
    checkSame(spark.index.parquet(rPath), spark.read.parquet(rPath))

    // scratch listing table cleaned up after the mutation
    assert(!new java.io.File(s"$work/metastore").exists() ||
      !java.nio.file.Files.walk(java.nio.file.Paths.get(s"$work/metastore"))
        .anyMatch(p => p.getFileName.toString == "files_listing_tmp"))
  }

  test("refresh: removed and rewritten files drop stale index entries") {
    val rPath = s"$work/lineitem_refresh_rm"
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.repartition(6, col("l_orderkey")).write.mode("overwrite").parquet(rPath)
    spark.index.create.mode("overwrite").indexBy("l_orderkey").parquet(rPath)

    // remove two data files behind the index's back
    val dir = new java.io.File(rPath)
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.take(2).foreach(f => assert(f.delete()))
    val stats = spark.index.refresh.parquet(rPath)
    assert(stats == IndexedDataSource.RefreshStats(0L, 2L), s"got $stats")
    checkSame(spark.index.parquet(rPath), spark.read.parquet(rPath))

    // rewrite the remaining table in place (same path, new files):
    // old entries drop, new files index
    val schema = spark.read.parquet(rPath).schema
    val snapshot = spark.read.parquet(rPath).collect()
    val snapDf = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(snapshot: _*)), schema)
    snapDf.repartition(3).write.mode("overwrite").parquet(rPath)
    val stats2 = spark.index.refresh.parquet(rPath)
    assert(stats2.addedFiles == 3L && stats2.removedFiles == 4L, s"got $stats2")
    checkSame(spark.index.parquet(rPath), spark.read.parquet(rPath))
    assert(spark.index.parquet(rPath).count() == snapshot.length.toLong)
  }

  test("50k-file table: distributed prune, survivors-only driver state, live refresh") {
    // The million-file story at test scale (verifies what the scaladocs
    // promise): ~50k files index through executor-side footer jobs, the
    // prune takes the Spark-job fold (threshold is below the file count),
    // the driver lists only the surviving paths, and refresh stays a
    // 1-file delta. (The min/max fallback is a no-op here: every file
    // carries footer stats, so the pass finds no holes to patch.)
    val saved = spark.conf.getOption(IndexConf.MetastoreLocation)
    try {
      val df = graft.SparkEntry.indexed50kFiles(spark, "/root/testdata/sf0.001")
      val q = df.filter(col("k") === 5L)
      val expectedFiles = graft.SparkEntry.Files50kCopies + 1L // seed + copies
      assert(q.count() ==
        expectedFiles * graft.SparkEntry.Files50kRowsPerSeed)
      val fi = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
      assert(fi.isDefined)
      assert(fi.get.lastPrunedDistributed,
        "50k files over a 10k threshold must take the Spark-job fold path")
      // exact: seed construction is deterministic (one key per seed file)
      assert(fi.get.lastTotalFiles ==
        graft.SparkEntry.Files50kSeeds * expectedFiles,
        s"expected exactly 64*781 files, saw ${fi.get.lastTotalFiles}")
      assert(fi.get.lastListedFiles == expectedFiles,
        s"driver must hold only the ${expectedFiles} survivors, " +
          s"listed ${fi.get.lastListedFiles}")

      // refresh at 50k files: append one new-key file; the diff anti-join
      // runs distributed and only the 1-file delta reaches the driver
      val tableDir = "/root/repo/target/graft_scratch/sf0.001/files50k"
      val preListing = new java.io.File(tableDir).listFiles().map(_.getName).toSet
      spark.range(100)
        .select(lit(999L).as("k"), col("id").as("v"))
        .coalesce(1).write.mode("append").parquet(tableDir)
      try {
        val st = spark.index.refresh.parquet(tableDir)
        assert(st.addedFiles == 1L && st.removedFiles == 0L, s"got $st")
        val q2 = spark.index
          .option(IndexConf.DistributedPruningThreshold, "10000")
          .parquet(tableDir).filter(col("k") === 999L)
        assert(q2.count() == 100L)
        val fi2 = q2.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.relation.location
        }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }
        assert(fi2.get.lastListedFiles == 1L,
          s"new key lives in exactly 1 file, listed ${fi2.get.lastListedFiles}")
      } finally {
        // ALWAYS restore the create-once scratch (even on assert failure
        // above — a leftover file would flake every later exact-count
        // assert): drop the appended file + crc sidecar, refresh it out
        new java.io.File(tableDir).listFiles()
          .filter(f => !preListing.contains(f.getName))
          .filter(f => f.getName.endsWith(".parquet") || f.getName.endsWith(".crc"))
          .foreach(f => assert(f.delete()))
        val st2 = spark.index.refresh.parquet(tableDir)
        assert(st2 == IndexedDataSource.RefreshStats(0L, 1L), s"got $st2")
      }
    } finally saved.foreach(spark.conf.set(IndexConf.MetastoreLocation, _))
  }

  test("sketch-table GC: compact+refresh cycles leave live-files × columns rows") {
    val p = s"$work/sketch_gc"
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_quantity").limit(2000)
    li.repartition(6).write.mode("overwrite").parquet(p)
    spark.index.create.mode("overwrite")
      .indexBy("l_orderkey", "l_returnflag").parquet(p)
    val ms = Metastore(spark)
    val sketchDir = new org.apache.hadoop.fs.Path(
      ms.location(Metastore.Dataspace, IndexedDataSource.resolveTablePath(spark, p)),
      Metastore.SketchDir)
    val nCols = 2L
    def liveParquet(): Array[java.io.File] = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    def assertInSync(): Unit = {
      val rows = spark.read.parquet(sketchDir.toString)
        .select("file", "column").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.length.toLong == liveParquet().length * nCols,
        s"sketch rows ${rows.length} != ${liveParquet().length} files × $nCols cols")
      assert(rows.distinct.length == rows.length,
        "duplicate (file, column) sketch keys")
      val liveNorm =
        liveParquet().map(f => SketchStore.normalizePath(f.getAbsolutePath)).toSet
      assert(rows.map(_._1).toSet == liveNorm, "sketch file set != live file set")
    }
    assertInSync()
    for (_ <- 1 to 3) {
      li.limit(300).repartition(2).write.mode("append").parquet(p)
      spark.index.refresh.parquet(p)
      assertInSync()
      val st = graft.ops.Layout.compact(spark, p)
      assert(st.compactedFiles > 0L, s"expected a real compaction, got $st")
      spark.index.refresh.parquet(p)
      assertInSync()
      checkSame(spark.index.parquet(p), spark.read.parquet(p))
    }
    // same-path rewrite: copy one live file over another (same path, new
    // size/mtime) — refresh must leave ONE fresh sketch row per key, not
    // the stale row + the re-sketched append
    li.limit(300).repartition(2).write.mode("append").parquet(p)
    spark.index.refresh.parquet(p)
    val files = liveParquet().sortBy(_.getName)
    val (a, b) = (files(0), files(1))
    java.nio.file.Files.copy(b.toPath, a.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // keep RawLocalFileSystem's checksum sidecar consistent with the copy
    val (aCrc, bCrc) = (new java.io.File(a.getParent, s".${a.getName}.crc"),
      new java.io.File(b.getParent, s".${b.getName}.crc"))
    if (bCrc.exists) {
      java.nio.file.Files.copy(bCrc.toPath, aCrc.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else if (aCrc.exists) assert(aCrc.delete())
    assert(a.setLastModified(b.lastModified() + 123456L))
    val st2 = spark.index.refresh.parquet(p)
    assert(st2.addedFiles >= 1L && st2.removedFiles >= 1L, s"got $st2")
    assertInSync()
    checkSame(spark.index.parquet(p), spark.read.parquet(p))
    val key = spark.read.parquet(p).select("l_orderkey").head.getLong(0)
    checkSame(spark.index.parquet(p).filter(col("l_orderkey") === key),
      spark.read.parquet(p).filter(col("l_orderkey") === key))
  }

  test("refresh: survives ALL data files being removed") {
    // retention-job shape: every file deleted; the summary aggregates over
    // an empty files table (NULL sum/max must degrade to 0, not NPE)
    val rPath = s"$work/lineitem_refresh_all_rm"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .limit(100).repartition(3).write.mode("overwrite").parquet(rPath)
    spark.index.create.mode("overwrite").indexBy("l_orderkey").parquet(rPath)

    val dir = new java.io.File(rPath)
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
    val stats = spark.index.refresh.parquet(rPath)
    assert(stats == IndexedDataSource.RefreshStats(0L, 3L), s"got $stats")
    // index stays loadable (the _SUCCESS marker was restored) and empty
    assert(spark.index.parquet(rPath).count() == 0L)
  }

  test("refresh: heterogeneous append whose files lack an indexed column") {
    // delta files carry only (k, v); the index also covers `extra`, which
    // must aggregate as all-null in the delta sketch job, not fail to resolve
    val rPath = s"$work/hetero_refresh"
    import spark.implicits._
    (1L to 50L).map(k => (k, s"v$k", k * 10)).toDF("k", "v", "extra")
      .repartition(2).write.mode("overwrite").parquet(rPath)
    spark.index.create.mode("overwrite").indexBy("k", "extra").parquet(rPath)

    (51L to 80L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(2).write.mode("append").parquet(rPath)
    val stats = spark.index.refresh.parquet(rPath)
    assert(stats.addedFiles == 2L && stats.removedFiles == 0L, s"got $stats")

    val plain = spark.read.option("mergeSchema", "true").parquet(rPath)
    checkSame(spark.index.parquet(rPath), plain)
    // predicate on the column absent from the delta: old rows still found,
    // and the all-null delta sketches/stats exclude the new files soundly
    checkSame(spark.index.parquet(rPath).filter(col("extra") === 100L),
      plain.filter(col("extra") === 100L))
    checkSame(spark.index.parquet(rPath).filter(col("k") === 60L),
      plain.filter(col("k") === 60L))
  }

  test("refresh: new partition dir appends partition values") {
    val pPath = s"$work/orders_part_refresh"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
    orders.filter(col("o_year") < 2000)
      .write.partitionBy("o_year").mode("overwrite").parquet(pPath)
    spark.index.create.mode("overwrite").indexBy("o_custkey").parquet(pPath)

    orders.filter(col("o_year") >= 2000)
      .write.partitionBy("o_year").mode("append").parquet(pPath)
    val stats = spark.index.refresh.parquet(pPath)
    assert(stats.addedFiles > 0 && stats.removedFiles == 0L, s"got $stats")

    val cond = col("o_year") === 2000 && col("o_custkey") === 7L
    checkSame(spark.index.parquet(pPath).filter(cond),
      spark.read.parquet(pPath).filter(cond))
    checkSame(spark.index.parquet(pPath), spark.read.parquet(pPath))
  }

  test("range-clustered layout: range predicates prune files, hash layout cannot") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val lo = lit("1995-01-01").cast("timestamp_ntz")
    val hi = lit("1995-04-01").cast("timestamp_ntz")
    val cond = col("l_shipdate") >= lo && col("l_shipdate") < hi

    def listedFor(path: String): Long = {
      val q = spark.index.parquet(path).filter(cond)
      val fi = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
      q.collect()
      fi.lastListedFiles
    }

    val cPath = s"$work/lineitem_clustered"
    graft.ops.Layout.clusterBy(li, 16, col("l_shipdate"))
      .write.mode("overwrite").parquet(cPath)
    spark.index.create.mode("overwrite").indexBy("l_shipdate").parquet(cPath)
    checkSame(spark.index.parquet(cPath).filter(cond),
      spark.read.parquet(cPath).filter(cond))
    val clusteredListed = listedFor(cPath)

    val hPath = s"$work/lineitem_hashed"
    li.repartition(16, col("l_orderkey")).write.mode("overwrite").parquet(hPath)
    spark.index.create.mode("overwrite").indexBy("l_shipdate").parquet(hPath)
    val hashedListed = listedFor(hPath)

    // ~7 years of dates over 16 range-clustered files -> a one-quarter
    // range intersects few slices; each hashed file spans all dates.
    assert(clusteredListed < 16, s"clustered layout should prune, listed $clusteredListed")
    assert(clusteredListed < hashedListed,
      s"clustered=$clusteredListed should beat hashed=$hashedListed")
    assert(hashedListed == 16, s"hash layout cannot range-prune, listed $hashedListed")
  }

  test("z-order layout: ranges on EITHER dimension prune; 1-D clustering cannot") {
    import spark.implicits._
    // two independent uniform keys — the adversarial case for 1-D layouts
    val df = (0 until 40000).map(i => (i.toLong % 1000L, (i.toLong * 7919L) % 1000L, i.toLong))
      .toDF("x", "y", "payload")

    def listedFor(path: String, cond: org.apache.spark.sql.Column): Long = {
      val q = spark.index.parquet(path).filter(cond)
      val fi = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.GraftFileIndex => g }.get
      q.collect()
      fi.lastListedFiles
    }
    val xCond = col("x").between(100, 199)   // 10% of the x domain
    val yCond = col("y").between(500, 599)   // 10% of the y domain

    val zPath = s"$work/xy_zorder"
    graft.ops.Layout.zorderBy(df, 16, Seq("x", "y"))
      .write.mode("overwrite").parquet(zPath)
    spark.index.create.mode("overwrite").indexBy("x", "y").parquet(zPath)
    checkSame(spark.index.parquet(zPath).filter(xCond && yCond),
      spark.read.parquet(zPath).filter(xCond && yCond))
    val zX = listedFor(zPath, xCond)
    val zY = listedFor(zPath, yCond)
    val zBoth = listedFor(zPath, xCond && yCond)

    val cPath = s"$work/xy_clustered"
    graft.ops.Layout.clusterBy(df, 16, col("x"))
      .write.mode("overwrite").parquet(cPath)
    spark.index.create.mode("overwrite").indexBy("x", "y").parquet(cPath)
    val cY = listedFor(cPath, yCond)

    // 16 z-files tile the plane ~4x4: a 10% slab on either axis crosses
    // one row/column of tiles (~4-8 files), and the conjunction ~1-2
    assert(zX < 16, s"z-order should prune x-ranges, listed $zX")
    assert(zY < 16, s"z-order should prune y-ranges, listed $zY")
    assert(zBoth <= math.min(zX, zY), s"conjunction listed $zBoth > min($zX,$zY)")
    assert(cY == 16, s"x-clustered layout cannot prune y-ranges, listed $cY")
  }

  test("bucketed tables: co-located join plans zero Exchange") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val bl = graft.ops.Layout.writeBucketed(
      li, "e2e_bucketed_lineitem", s"$work/bucketed_lineitem", 4, "l_orderkey")
    val bo = graft.ops.Layout.writeBucketed(
      ord, "e2e_bucketed_orders", s"$work/bucketed_orders", 4, "o_orderkey")

    val joined = bl.join(bo.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle the join keys:\n$plan")

    val expect = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    checkSame(joined, expect)

    // a fresh catalog (new session) can re-register the bucketed layout
    // over the existing files without rewriting them
    spark.sql("DROP TABLE e2e_bucketed_lineitem")
    val reRegistered = graft.ops.Layout.registerBucketed(
      spark, "e2e_bucketed_lineitem", s"$work/bucketed_lineitem", 4, "l_orderkey")
    val reJoined = reRegistered
      .join(bo.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val rePlan = reJoined.queryExecution.executedPlan.toString
    assert(!rePlan.contains("Exchange hashpartitioning(l_orderkey"),
      s"re-registered bucketed table lost bucket metadata:\n$rePlan")
    checkSame(reJoined, expect)
  }

  test("metastore cache TTL: expired entries reload from the _SUCCESS-gated store") {
    val ms = Metastore(spark)
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val (dir, _) = ms.load(Metastore.Dataspace, p) // warm the cache
    val success = new org.apache.hadoop.fs.Path(dir, Metastore.SuccessFile)
    val fs = ms.fs
    fs.delete(success, false)
    try {
      // default 12 h TTL: the entry is fresh, disk is not consulted, so
      // the missing marker is invisible
      ms.load(Metastore.Dataspace, p)
      // TTL 0 (= expire immediately): the same load re-reads the
      // _SUCCESS-gated store and now fails — an external writer's
      // in-progress rewrite is honored
      spark.conf.set(IndexConf.MetastoreCacheTtl, "0")
      intercept[IllegalStateException] {
        Metastore(spark).load(Metastore.Dataspace, p)
      }
      // external writer commits: marker restored, expired load succeeds
      fs.create(success, true).close()
      Metastore(spark).load(Metastore.Dataspace, p)
    } finally {
      if (!fs.exists(success)) fs.create(success, true).close()
      spark.conf.unset(IndexConf.MetastoreCacheTtl)
    }
  }

  test("metastore cache TTL: expired entry serves stale during a writer's in-flight refresh") {
    val ms = Metastore(spark)
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val (dir, warm) = ms.load(Metastore.Dataspace, p) // warm the cache
    val success = new org.apache.hadoop.fs.Path(dir, Metastore.SuccessFile)
    val fs = ms.fs
    try {
      spark.conf.set(IndexConf.MetastoreCacheTtl, "1") // expires below
      Thread.sleep(1100)
      fs.delete(success, false)
      // expired entry + missing _SUCCESS models an external writer whose
      // refresh is mid-mutation (marker recreated only at commit): the
      // reader keeps working from the stale metadata instead of failing
      val (_, stale) = Metastore(spark).load(Metastore.Dataspace, p)
      assert(stale == warm)
      // writer commits: the next (still-expired) load re-reads disk
      fs.create(success, true).close()
      val (_, fresh) = Metastore(spark).load(Metastore.Dataspace, p)
      assert(fresh == warm)
    } finally {
      if (!fs.exists(success)) fs.create(success, true).close()
      spark.conf.unset(IndexConf.MetastoreCacheTtl)
    }
  }

  test("refresh: missing index is rejected") {
    val mPath = s"$work/lineitem_refresh_missing"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .limit(10).write.mode("overwrite").parquet(mPath)
    val e = intercept[IllegalStateException] {
      spark.index.refresh.parquet(mPath)
    }
    assert(e.getMessage.contains("does not exist"))
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
