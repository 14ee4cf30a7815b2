package graft.index

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.implicits._

/** The stats pass (`StatisticsBuilder.withPass`) against rebuilds made
  * here from `spark.read` of each file, on both of its runners
  * ([[PassRunners]]):
  *   - its sketch rows equal sketches built with `Sketch.create(kind,
  *     max(4096, rows))`, `put` and `Canon.fromCatalyst`, for every sketch
  *     kind and every column domain, after create and after a refresh;
  *   - the bounds it patches into footer holes equal Spark's `min`/`max`
  *     of each file, canonicalized, after create and after a refresh on
  *     both tiers;
  *   - both runners write identical files-table and sketch rows, for
  *     Parquet and ORC;
  *   - a few files' merged schema is read on the driver without a job. */
class StatsPassSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-stats-pass").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stats-pass-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(IndexConf.MetastoreLocation, s"$work/metastore")
    .getOrCreate()

  private val Tiers = Seq(
    "driver" -> Map.empty[String, String],
    "distributed" -> Map(IndexConf.DistributedPruningThreshold -> "1"))

  private def dataFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => new Path(f.toURI).toString).sortBy(identity)

  private def indexOf(dataspace: String, table: String): (Path, IndexMetadata) =
    Metastore(spark).load(dataspace, IndexedDataSource.resolveTableRoots(spark, Seq(table)))

  private def create(dataspace: String, table: String, cols: Seq[String],
      opts: Map[String, String]): Unit =
    IndexedDataSource.createIndex(spark, Seq(table), dataspace, SaveMode.Overwrite,
      cols, indexAll = false, opts, Sources.Parquet)

  // ---- sketches ----

  /** Every column domain: k int (a bitmap under "dict"), s string, st.a
    * struct leaf, arr array elements, ev.t array-of-struct leaves, m map
    * keys and, through the generated m#value field, map values. */
  private val SketchCols = Seq("k", "s", "st.a", "arr", "ev.t", "m")

  /** One file of keys [from, from + n), without the map column unless
    * `withMap`. */
  private def writeNested(dir: String, from: Long, n: Long, withMap: Boolean): Unit = {
    val id = col("id")
    val all = spark.range(from, from + n).select(
      (id % 1000).cast("int").as("k"),
      concat(lit("s"), id % 97).as("s"),
      struct((id * 7).as("a"), concat(lit("b"), id).as("b")).as("st"),
      when(id % 5 === 0, lit(null))
        .otherwise(array(id, id + 1, lit(null).cast("bigint"))).as("arr"),
      array(struct(concat(lit("t"), id % 11).as("t")),
        struct(lit(null).cast("string").as("t"))).as("ev"),
      map(concat(lit("k"), id % 13),
        when(id % 3 === 0, lit(null)).otherwise((id % 17).cast("int"))).as("m"))
    all.select(all.columns.filter(c => withMap || c != "m").map(col).toSeq: _*)
      .coalesce(1).write.mode("append").parquet(dir)
  }

  /** The members a field's sketch holds, per row, as `spark.read` of the
    * file yields them, with their type; none when the file lacks them. */
  private def members(df: DataFrame, f: StructField): Option[DataFrame] = {
    val base = IndexMetadata.domainOf(f) match {
      case 1 => IndexMetadata.arrayPrefixOf(f).getOrElse(f.name)
      case 3 => IndexMetadata.mapValueBase(f.name)
      case _ => f.name
    }
    if (scala.util.Try(df.select(col(base)).schema).isFailure) None
    else Some(IndexMetadata.domainOf(f) match {
      case 0 => df.select(col(f.name))
      case 1 if base != f.name =>
        df.select(explode(col(base)).as("e")).select(col("e." + f.name.drop(base.length + 1)))
      case 1 => df.select(explode(col(f.name)))
      case 2 => df.select(explode(map_keys(col(f.name))))
      case _ => df.select(explode(map_values(col(base))))
    })
  }

  /** The sketch rows of `file` built independently of the pass. */
  private def expectedSketches(file: String, kind: String, meta: IndexMetadata)
      : Seq[(String, String, String, Seq[Byte])] = {
    val df = spark.read.parquet(file)
    val rows = df.count()
    meta.indexSchema.fields.toSeq.map { f =>
      val k = Sketch.resolveKind(kind, f.dataType)
      val sketch = Sketch.create(k, math.max(4096L, rows))
      members(df, f).foreach { m =>
        val dt = m.schema.head.dataType
        m.queryExecution.toRdd
          .map(r => if (r.isNullAt(0)) None else Some(Canon.fromCatalyst(dt, r.get(0, dt))))
          .collect().flatten.foreach(sketch.put)
      }
      (SketchStore.normalizePath(file), f.name, k, sketch.serialize().toSeq)
    }
  }

  private def sketchRows(dataspace: String, table: String): Seq[(String, String, String, Seq[Byte])] = {
    val (dir, _) = indexOf(dataspace, table)
    spark.read.schema(SketchStore.Schema).parquet(new Path(dir, Metastore.SketchDir).toString)
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getAs[Array[Byte]](3).toSeq))
  }

  for (kind <- Seq(Sketch.Bloom, Sketch.Dict); runner <- PassRunners.All) {
    test(PassRunners.named(s"$kind sketches of every domain equal sketches built from each file",
        runner)) { PassRunners.on(spark, runner) {
        // a space in the table path: the sketch key is the listing's path
        val t = s"$work/sketch $kind $runner"
        writeNested(t, 0, 300, withMap = true)
        writeNested(t, 300, 200, withMap = false) // lacks the indexed map
        val opts = Map(IndexConf.FilterType -> kind)
        create(Metastore.Dataspace, t, SketchCols, opts)
        def check(step: String): Unit = {
          val (_, meta) = indexOf(Metastore.Dataspace, t)
          assert(meta.indexSchema.fieldNames.toSeq ==
            Seq("k", "s", "st.a", "arr", "ev.t", "m", IndexMetadata.mapValueFieldName("m")))
          val want = dataFiles(t).flatMap(expectedSketches(_, kind, meta)).sortBy(r => (r._1, r._2))
          val got = sketchRows(Metastore.Dataspace, t).sortBy(r => (r._1, r._2))
          assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)), s"$kind/$step")
          got.zip(want).foreach { case (g, w) =>
            assert(g._4 == w._4, s"$kind/$step: sketch data of ${g._1} ${g._2} differs")
          }
        }
        check("create")
        // sketched together, a file above 4096 rows and a small one each
        // get a sketch sized by their own row count
        writeNested(t, 1000, 5000, withMap = true)
        writeNested(t, 7000, 100, withMap = true)
        assert(IndexedDataSource.refreshIndex(spark, t, Metastore.Dataspace, opts) ==
          IndexedDataSource.RefreshStats(2L, 0L))
        check("refresh")
        // and the index answers through those sketches
        val plain = spark.read.option("mergeSchema", "true").parquet(t)
        Seq(col("s") === "s5", array_contains(col("arr"), 301L), col("st.a") === 2107L,
            exists(col("ev"), e => e("t") === "t3"), map_contains_key(col("m"), "k4"))
          .foreach { p =>
            assert(spark.index.parquet(t).where(p).count() == plain.where(p).count(), s"$kind: $p")
          }
    } }
  }

  // ---- the min/max fallback ----

  /** Columns with footer holes in some files: ts (INT96 in some files),
    * d (a double from a writer whose FP bounds are not trusted, with NaN
    * and -0.0; absent from some files) and n (all null). */
  private val FallbackCols = Seq("ts", "d", "n")

  private val fallbackSchema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("d", DoubleType), StructField("n", IntegerType)))

  /** Writes `rows` of (id, d) as one file; ts from id, n all null; without
    * d when `ds` is empty. An untrusted file's footer names a writer other
    * than parquet-mr, so its FP bounds are holes. */
  private def writeFallback(dir: String, from: Long, ds: Seq[Double], int96: Boolean,
      untrusted: Boolean, n: Int = 5): Unit = {
    val rows = (0 until n).map { i =>
      Row(from + i, new java.sql.Timestamp((1600000000L + from + i) * 1000L),
        if (ds.isEmpty) null else java.lang.Double.valueOf(ds(i % ds.size)), null)
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), fallbackSchema)
    val before = dataFiles(dir).toSet
    spark.conf.set("spark.sql.parquet.outputTimestampType", if (int96) "INT96" else "TIMESTAMP_MICROS")
    try (if (ds.isEmpty) df.drop("d") else df).coalesce(1).write.mode("append").parquet(dir)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    if (untrusted) {
      val f = new java.io.File(new Path((dataFiles(dir).toSet -- before).head).toUri.getPath)
      val bytes = Files.readAllBytes(f.toPath)
      val from = new String(bytes, "ISO-8859-1")
      val at = from.lastIndexOf("parquet-mr version")
      assert(at >= 0, "no created_by in the footer")
      "parquet-xx".getBytes("ISO-8859-1").copyToArray(bytes, at)
      Files.write(f.toPath, bytes)
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
  }

  /** Each file's bounds per fallback column in the files table equal
    * Spark's min/max of that file, canonicalized. */
  private def assertBounds(dataspace: String, table: String, step: String): Unit = {
    val (dir, meta) = indexOf(dataspace, table)
    val rows = IndexFilesTable.readUncached(new Path(dir, Metastore.FilesDir),
      spark.sparkContext.hadoopConfiguration)
    assert(rows.map(_.path).sorted == dataFiles(table), step)
    rows.foreach { r =>
      val df = spark.read.parquet(r.path)
      val blocks = IndexMetadata.blocksFromJsonString(r.blocksJson)
      meta.indexSchema.fields.foreach { f =>
        val want =
          if (!df.columns.contains(f.name)) None
          else {
            val mm = df.agg(min(col(f.name)), max(col(f.name))).head
            for {
              mn <- Canon.fromExternal(f.dataType, mm.get(0))
              mx <- Canon.fromExternal(f.dataType, mm.get(1))
            } yield (mn, mx)
          }
        val got = blocks.flatMap(_.columns.get(f.name)).flatMap(s => s.min.zip(s.max)).toSet
        assert(got == want.toSet, s"$step: ${f.name} of ${r.path}")
      }
    }
  }

  for (runner <- PassRunners.All) test(PassRunners.named("footer holes get each file's own " +
      "data bounds, after create and refresh on both tiers", runner)) {
    PassRunners.on(spark, runner) {
      // NaN is Spark's largest double and -0.0 equals 0.0
      val nanAndZeros = Seq(1.5, -0.0, Double.NaN, 0.0, -2.0)
      val zeros = Seq(-0.0, 0.0, 3.0)
      for ((tier, opts) <- Tiers) {
        val t = s"$work/fallback_${tier}_$runner"
        writeFallback(t, 0, Seq(2.0, -1.0), int96 = false, untrusted = false)
        writeFallback(t, 100, nanAndZeros, int96 = true, untrusted = true)
        create(Metastore.Dataspace, t, FallbackCols, Map.empty)
        assertBounds(Metastore.Dataspace, t, s"$tier/create")
        writeFallback(t, 200, zeros, int96 = true, untrusted = true)
        writeFallback(t, 300, Nil, int96 = false, untrusted = false) // lacks d
        assert(IndexedDataSource.refreshIndex(spark, t, Metastore.Dataspace, opts) ==
          IndexedDataSource.RefreshStats(2L, 0L))
        assertBounds(Metastore.Dataspace, t, s"$tier/refresh")
        create("fresh", t, FallbackCols, Map.empty)
        assertBounds("fresh", t, s"$tier/create over all")
        // the holes were real: the untrusted and INT96 files have no footer bounds
        val (_, meta) = indexOf("fresh", t)
        val rawDir = new Path(s"$work/raw_${tier}_$runner")
        StatisticsBuilder.withPass(spark, dataFiles(t).map(p => 0 -> StatisticsBuilder.FileRef(
            p, new java.io.File(new Path(p).toUri.getPath).length(), 0L)),
            StatisticsBuilder.reader(spark, meta.indexSchema, meta.dataSchema, None,
              fallback = false, Sources.Parquet), 1)(_.writeFileStats(rawDir, Nil))
        val raw = IndexFilesTable.readUncached(rawDir, spark.sparkContext.hadoopConfiguration)
        assert(raw.count(r => IndexMetadata.blocksFromJsonString(r.blocksJson)
          .exists(_.columns.get("ts").exists(_.min.isEmpty))) == 2, s"$tier: INT96 holes")
        assert(raw.count(r => IndexMetadata.blocksFromJsonString(r.blocksJson)
          .exists(_.columns.get("d").exists(_.min.isEmpty))) == 2, s"$tier: untrusted FP holes")
      }
    }
  }

  // ---- the runners ----

  /** The index's files-table rows (by path) and sketch rows (by file,
    * column). */
  private def indexRows(dataspace: String, table: String)
      : (Seq[FileStatsRow], Seq[(String, String, String, Seq[Byte])]) = {
    val (dir, _) = indexOf(dataspace, table)
    (IndexFilesTable.readUncached(new Path(dir, Metastore.FilesDir),
      spark.sparkContext.hadoopConfiguration).sortBy(_.path),
      sketchRows(dataspace, table).sortBy(r => (r._1, r._2)))
  }

  test("both runners write identical files-table and sketch rows, Parquet and ORC") {
    val nested = s"$work/runners_nested"
    writeNested(nested, 0, 300, withMap = true)
    writeNested(nested, 300, 5000, withMap = false)
    val holes = s"$work/runners_holes"
    writeFallback(holes, 0, Seq(2.0, -1.0), int96 = false, untrusted = false)
    writeFallback(holes, 100, Seq(1.5, -0.0, Double.NaN), int96 = true, untrusted = true)
    writeFallback(holes, 200, Nil, int96 = false, untrusted = false)
    // ORC leaves holes for doubles and timestamp_ntz; its arrays and maps
    // are element and key domains
    val orc = s"$work/runners_orc"
    Seq(0L -> 200L, 200L -> 50L).foreach { case (from, n) =>
      val id = col("id")
      spark.range(from, from + n).select((id % 100).cast("int").as("k"),
        concat(lit("s"), id % 7).as("s"), when(id % 9 === 0, lit(Double.NaN))
          .otherwise(id / 3.0).as("d"),
        timestamp_seconds(id + 1600000000L).cast("timestamp_ntz").as("ntz"),
        array(id, id * 2).as("arr"), map(concat(lit("k"), id % 5), id).as("m"))
        .coalesce(1).write.mode("append").orc(orc)
    }
    val tables = Seq(
      (nested, Sources.Parquet, SketchCols, Map(IndexConf.FilterType -> Sketch.Dict)),
      (holes, Sources.Parquet, FallbackCols, Map.empty[String, String]),
      (orc, Sources.Orc, Seq("k", "s", "d", "ntz", "arr", "m"), Map.empty[String, String]))
    for ((t, src, cols, opts) <- tables) {
      val jobs = PassRunners.All.map { runner =>
        runner -> PassRunners.on(spark, runner)(PassRunners.jobs(spark)(
          IndexedDataSource.createIndex(spark, Seq(t), runner, SaveMode.Overwrite, cols,
            indexAll = false, opts, src)))
      }.toMap
      assert(jobs("driver") == 0, s"$t: the driver runner started ${jobs("driver")} jobs")
      assert(jobs("spark") > 0, s"$t: the Spark runner started no job")
      val (driverFiles, driverSketches) = indexRows("driver", t)
      val (sparkFiles, sparkSketches) = indexRows("spark", t)
      assert(driverFiles.nonEmpty && driverFiles == sparkFiles, s"$t: files-table rows differ")
      assert(driverSketches.nonEmpty && driverSketches == sparkSketches, s"$t: sketch rows differ")
      // create validates its columns against the first file's footer, read
      // on the driver: the schema Spark infers for that file
      val first = new Path(if (src == Sources.Orc) {
        new java.io.File(orc).listFiles().filter(_.getName.endsWith(".orc")).map(_.getPath).min
      } else dataFiles(t).head)
      val status = first.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(first)
      assert(org.apache.spark.sql.graft.SparkInternals.fileSchema(spark, src, status) ==
        Sources.read(spark, src, Seq(first.toString)).schema, s"$t: first-file schema")
    }
  }

  test("a few files' merged schema is read on the driver, as Spark infers it") {
    // create falls back to it when the first listed file lacks an indexed
    // column, which listing order decides
    val t = s"$work/merged_schema"
    writeNested(t, 0, 300, withMap = true)
    writeNested(t, 300, 200, withMap = false)
    val files = dataFiles(t).map { p =>
      val path = new Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path)
    }
    val want = Sources.read(spark, Sources.Parquet, files.map(_.getPath.toString)).schema
    assert(want.fieldNames.contains("m"))
    for (runner <- PassRunners.All; order <- Seq(files, files.reverse)) {
      var got = StructType(Nil)
      val jobs = PassRunners.on(spark, runner)(PassRunners.jobs(spark) {
        got = org.apache.spark.sql.graft.SparkInternals.filesSchema(spark, Sources.Parquet, order)
      })
      assert((jobs == 0) == (runner == "driver"), s"$runner started $jobs jobs")
      assert(got.fields.sortBy(_.name).toSeq == want.fields.sortBy(_.name).toSeq, runner)
    }
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
