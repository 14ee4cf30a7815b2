package graft.index

import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AutoIndexSubstitutionRule, GraftFileIndex, IndexedScanStrategy, JoinPruneRule, MetadataAggregateRule, ParamLiteral, TopKRewriteRule}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.implicits._

/** The planner strategy that binds the literals of an indexed scan's
  * filter as parameters ([[IndexedScanStrategy]]):
  *   - answers over an indexed table equal the plain read's for a matrix
  *     of literal types, on a session that registers the strategy on first
  *     `spark.index` touch and on one built with [[graft.GraftExtensions]];
  *   - after a shape's first key, new keys compile no class, where the
  *     plain read compiles per key;
  *   - plain reads keep their literals and EXPLAIN text is unchanged;
  *   - either session kind runs each graft rule and the strategy once;
  *   - every index load over one committed index shares one parse of its
  *     block stats. */
class IndexedScanStrategySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-indexed-scan").toString
  private val table = s"$work/t"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-indexed-scan-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(IndexConf.MetastoreLocation, s"$work/metastore")
    .getOrCreate()

  /** A new session over the same context: with the graft extensions, or
    * plain (the rules come with its first `spark.index`). */
  private def session(extensions: Boolean): SparkSession = {
    spark.sparkContext // the context the new session joins
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config(IndexConf.MetastoreLocation, s"$work/metastore")
    (if (extensions) b.withExtensions(new graft.GraftExtensions) else b).create()
  }

  private lazy val extSpark = session(extensions = true)

  private val Day0 = LocalDate.of(2020, 1, 1)
  private val Ts0 = 1600000000L

  override def beforeAll(): Unit = {
    super.beforeAll()
    def fp(nan: Column, negZero: Column, zero: Column, other: Column): Column =
      when(col("id") % 10 === 0, nan).when(col("id") % 10 === 1, negZero)
        .when(col("id") % 10 === 2, zero).otherwise(other)
    spark.range(0, 400, 1, 4).select(
      col("id").as("k"),
      (col("id") % 2 === 0).as("b"),
      (col("id") % 100).cast("byte").as("y"),
      (col("id") % 1000).cast("short").as("sh"),
      (col("id") % 50).cast("int").as("i"),
      fp(lit(Float.NaN), lit(-0.0f), lit(0.0f), (col("id") * 0.5).cast("float")).as("f"),
      fp(lit(Double.NaN), lit(-0.0), lit(0.0), col("id") * 0.25).as("d"),
      date_add(lit(Day0), (col("id") % 30).cast("int")).as("dt"),
      timestamp_seconds(col("id") * 3600 + Ts0).as("ts"),
      timestamp_seconds(col("id") * 3600 + Ts0).cast("timestamp_ntz").as("tsn"))
      .write.parquet(table)
    spark.index.create.indexBy("k", "dt").parquet(table)
    ()
  }

  /** One filter per literal type, and the null and set shapes. */
  private val matrix: Seq[(String, Column)] = Seq(
    "boolean" -> (col("b") === true),
    "byte" -> (col("y") === lit(7.toByte)),
    "short" -> (col("sh") === lit(12.toShort)),
    "int" -> (col("i") === 33),
    "long" -> (col("k") === 123L),
    "float" -> (col("f") > 1.5f),
    "float NaN" -> (col("f") === Float.NaN),
    "float -0.0" -> (col("f") === -0.0f),
    "double NaN" -> (col("d") === Double.NaN),
    "double -0.0" -> (col("d") === -0.0),
    "double range" -> col("d").between(10.0, 20.5),
    "date" -> (col("dt") === Day0.plusDays(7)),
    "timestamp" -> (col("ts") >= Instant.ofEpochSecond(Ts0 + 3600 * 200)),
    "timestamp_ntz" -> (col("tsn") === LocalDateTime.ofEpochSecond(Ts0 + 3600 * 77, 0, ZoneOffset.UTC)),
    "typed null" -> (col("i") === lit(null).cast("int")),
    "null-safe equal" -> (col("k") <=> 5L),
    "null-safe typed null" -> (col("i") <=> lit(null).cast("int")),
    "not in" -> !col("i").isin(1, 2, 3),
    "in of 5" -> col("k").isin(1L, 50L, 150L, 250L, 399L))

  private def keys(df: DataFrame): Seq[Long] = df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  private def filterConditions(df: DataFrame): Seq[Expression] =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f.condition }

  private def inlinedLiterals(e: Expression): Seq[Literal] = e.collect {
    case l @ Literal(v, _) if v != null && ParamLiteral.bind(l).isInstanceOf[ParamLiteral] => l
  }

  private def params(e: Expression): Seq[ParamLiteral] = e.collect { case p: ParamLiteral => p }

  for (extensions <- Seq(false, true)) {
    val kind = if (extensions) "extensions session" else "plain session"
    test(s"$kind: indexed answers equal the plain read over a literal-type matrix") {
      val s = if (extensions) extSpark else spark
      var bound = 0
      for ((name, q) <- matrix) {
        val indexed = s.index.parquet(table).where(q)
        val plain = s.read.parquet(table).where(q)
        assert(keys(indexed) == keys(plain), name)
        // the indexed filter carries parameters where the plain one
        // carries literals, one for one
        val (ic, pc) = (filterConditions(indexed), filterConditions(plain))
        assert(ic.flatMap(inlinedLiterals).isEmpty, s"$name: ${ic.mkString(", ")}")
        assert(pc.flatMap(params).isEmpty, s"$name: ${pc.mkString(", ")}")
        assert(ic.flatMap(params).size == pc.flatMap(inlinedLiterals).size, name)
        bound += ic.flatMap(params).size
      }
      assert(bound >= 15, s"only $bound literals were bound")
      assert(keys(s.read.parquet(table).where(col("f") === Float.NaN)).size == 40)
      assert(keys(s.read.parquet(table).where(col("d") === -0.0)).size == 80)
    }
  }

  test("after a shape's first key, new keys compile no class; the plain read compiles per key") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val shapes: Seq[(String, Int => Column)] = Seq(
      "eq" -> (n => col("k") === n * 7L % 400),
      "in of 5" -> (n => col("k").isin((0 until 5).map(j => n * 5L + j): _*)),
      "date range" -> (n => col("dt").between(Day0.plusDays(n), Day0.plusDays(n + 3))),
      "two-column and" -> (n => col("k") === n.toLong && col("dt") === Day0.plusDays(n % 30)))
    for ((name, q) <- shapes) {
      spark.index.parquet(table).where(q(0)).collect()
      val before = compiles
      (1 to 20).foreach(n => spark.index.parquet(table).where(q(n)).collect())
      assert(compiles == before, s"$name: ${compiles - before} classes compiled for 20 new keys")
    }
    spark.read.parquet(table).where(col("k") === 1000L).collect()
    val before = compiles
    (1 to 20).foreach(n => spark.read.parquet(table).where(col("k") === 1000L + n).collect())
    assert(compiles - before >= 20, s"plain read: ${compiles - before} classes for 20 keys")
  }

  test("EXPLAIN of an indexed lookup reads as the stock plan's") {
    val plan = spark.index.parquet(table).where(col("k") === 12345L).queryExecution.executedPlan
    assert(plan.toString.contains("= 12345)"), plan.toString)
    val stock = plan.transformAllExpressions { case p: ParamLiteral => p.literal }
    assert(plan.toString == stock.toString)
    assert(plan.collect { case f: FilterExec => params(f.condition) }.flatten.nonEmpty)
  }

  test("each session kind runs every graft rule and the strategy once") {
    val ruleClasses = Seq(classOf[MetadataAggregateRule], classOf[AutoIndexSubstitutionRule],
      classOf[TopKRewriteRule], classOf[JoinPruneRule])
    def counts(s: SparkSession): (Seq[Int], Int) = {
      val st = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      val rules = st.optimizer.batches.flatMap(_.rules)
      (ruleClasses.map(c => rules.count(c.isInstance)), st.planner.strategies.count(_ == IndexedScanStrategy))
    }
    def touch(s: SparkSession): Unit = {
      // concurrent first touches register once too
      val threads = (0 until 4).map(_ => new Thread(() => { s.index; () }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      s.index
      ()
    }
    val plain = session(extensions = false)
    assert(counts(plain) == (Seq(0, 0, 0, 0), 0))
    touch(plain)
    assert(counts(plain) == (Seq(1, 1, 1, 1), 1))

    val ext = session(extensions = true)
    val injected = counts(ext)
    assert(injected._1.forall(_ > 0) && injected._2 == 1, injected)
    touch(ext)
    assert(counts(ext) == injected)
  }

  test("index loads over one committed index share one parse of its block stats") {
    def index(df: DataFrame): GraftFileIndex = df.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.get.asInstanceOf[GraftFileIndex]
    def rows(gfi: GraftFileIndex) = IndexFilesTable.rowsByPartition(
      new org.apache.hadoop.fs.Path(gfi.indexDir, Metastore.FilesDir), gfi.meta,
      spark.sparkContext.hadoopConfiguration)
    val (a, b) = (index(spark.index.parquet(table)), index(spark.index.parquet(table)))
    assert(a ne b)
    assert(a.meta eq b.meta)
    assert(rows(a) eq rows(b))
    assert(rows(a).values.map(_.size).sum == 4)
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
