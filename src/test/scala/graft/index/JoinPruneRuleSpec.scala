package graft.index

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.implicits._

/** Automatic join pruning (JoinPruneRule): a PLAIN inner/semi equi-join
  * over an indexed fact must get the explicit JoinPrune API's file cut
  * with zero API — and every soundness gate must leave the join
  * untouched but correct. */
class JoinPruneRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-joinprune").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-joinprune")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(IndexConf.MetastoreLocation, s"$work/metastore")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  // fact: 16 files clustered by key (key ranges disjoint per file), so an
  // IN probe on few keys provably cuts files; dim: 64 suppliers
  private lazy val factPath = {
    import spark.implicits._
    val p = s"$work/fact"
    (0 until 64000).toDF("i")
      .select(($"i" / 1000).cast("long").as("k"),
        ($"i" % 997).cast("long").as("v"),
        concat(lit("row-"), $"i").as("payload"))
      .repartitionByRange(16, $"k")
      .sortWithinPartitions($"k")
      .write.parquet(p)
    spark.index.create.mode("overwrite").indexBy("k", "v").parquet(p)
    p
  }

  private lazy val dimPath = {
    import spark.implicits._
    val p = s"$work/dim"
    (0 until 64).toDF("i")
      .select($"i".cast("long").as("dk"), concat(lit("nm-"), $"i").as("name"))
      .coalesce(1).write.parquet(p)
    p
  }

  private def fact: DataFrame = spark.index.parquet(factPath)
  private def dim: DataFrame = spark.read.parquet(dimPath)

  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  /** The injected probe as the OPTIMIZED plan shows it: an In/InSet (or
    * InBloom) conjunct in a Filter over the indexed relation. */
  private def probeConjuncts(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case f: Filter => f.condition
    }.flatMap { c =>
      c.collect {
        case i: In => s"in(${i.value.sql})"
        case i: InSet => s"inset(${i.child.sql})"
        case b: graft.functions.InBloom => s"inbloom(${b.child.sql})"
      }
    }

  private def factFilesRead(df: DataFrame): (Long, Long) = {
    df.collect()
    val scan = scans(df.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
      .getOrElse(fail("no indexed scan in plan"))
    val total = new java.io.File(factPath).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).toLong
    (scan.metrics("numFiles").value, total)
  }

  test("plain inner join over an indexed fact gets the IN probe and the file cut") {
    import spark.implicits._
    val joined = fact.join(dim.filter($"dk" <= 2), $"k" === $"dk")
      .select($"k", $"v", $"name")
    val probes = probeConjuncts(joined)
    assert(probes.exists(_.startsWith("in")), s"expected an IN probe, got $probes")
    val (read, total) = factFilesRead(joined)
    assert(read > 0 && read < total, s"probe should cut files: $read/$total")
    // bit-for-bit vs the un-pruned join
    val expected = spark.read.parquet(factPath)
      .join(dim.filter($"dk" <= 2), $"k" === $"dk")
      .select($"k", $"v", $"name")
    assert(joined.orderBy($"k", $"v", $"name").collect().toSeq ==
      expected.orderBy($"k", $"v", $"name").collect().toSeq)
  }

  test("join key reversed and fact on the right still rewrite") {
    import spark.implicits._
    // a RANGE dim filter: constraint propagation mirrors the range (not
    // an equality) onto the fact key, so the probe is still the only
    // path to an exact key cut
    val joined = dim.filter($"dk" >= 5 && $"dk" <= 6).join(fact, $"dk" === $"k")
    assert(probeConjuncts(joined).nonEmpty, "right-side fact must rewrite too")
    val (read, total) = factFilesRead(joined)
    assert(read < total)
    assert(joined.count() == 2000L)
  }

  test("single-key dim: the INFERRED equality cuts files and the probe stands down") {
    import spark.implicits._
    // dk === 5 propagates k = 5 onto the fact side (constraint
    // propagation); that literal equality is maximally selective for the
    // fold already, so the rule must NOT stack a redundant probe (and
    // re-run dim jobs every fixed-point pass) — but the file cut must
    // still happen, via the inferred equality itself
    val joined = dim.filter($"dk" === 5).join(fact, $"dk" === $"k")
    assert(probeConjuncts(joined).isEmpty,
      s"inferred equality suppresses the probe, got ${probeConjuncts(joined)}")
    val (read, total) = factFilesRead(joined)
    assert(read < total, s"equality itself must cut files: $read/$total")
    assert(joined.count() == 1000L)
  }

  test("left-semi (SQL IN-subquery) shape rewrites when fact is on the left") {
    import spark.implicits._
    fact.createOrReplaceTempView("jp_fact")
    dim.createOrReplaceTempView("jp_dim")
    val q = spark.sql(
      "SELECT k, v FROM jp_fact WHERE k IN (SELECT dk FROM jp_dim WHERE dk = 7)")
    assert(probeConjuncts(q).nonEmpty, "IN-subquery lowers to LeftSemi — must rewrite")
    val (read, total) = factFilesRead(q)
    assert(read < total)
    assert(q.count() == 1000L)
  }

  test("alias-of-attribute projects on the fact side are walked through") {
    import spark.implicits._
    val joined = fact.select($"k".as("fk"), $"v")
      .join(dim.filter($"dk" >= 9 && $"dk" <= 10), $"fk" === $"dk")
    assert(probeConjuncts(joined).nonEmpty)
    assert(joined.count() == 2000L)
  }

  test("empty dim keys: the injected empty IN folds the fact listing to zero files") {
    import spark.implicits._
    val joined = fact.join(dim.filter($"dk" < 0), $"k" === $"dk")
    assert(joined.count() == 0L)
    val factScan = scans(joined.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
    // extension path: the operator batch collapses the empty IN to an
    // empty relation (no scan at all); extraOptimizations path: the IN is
    // pushed and the index folds the listing to zero files — both read 0
    factScan.foreach(s => assert(s.metrics("numFiles").value == 0L,
      "empty-IN probe must fold the fact listing to zero files"))
  }

  test("past the key cap the bloom variant fires: range + InBloom, still exact") {
    import spark.implicits._
    spark.conf.set(IndexConf.JoinPruneMaxKeys, "4")
    try {
      val joined = fact.join(dim.filter($"dk" >= 10 && $"dk" <= 20), $"k" === $"dk")
        .select($"k", $"name")
      val probes = probeConjuncts(joined)
      assert(probes.exists(_.startsWith("inbloom")), s"expected bloom probe, got $probes")
      val (read, total) = factFilesRead(joined)
      assert(read < total, s"range cut should prune clustered files: $read/$total")
      assert(joined.count() == 11000L)
    } finally spark.conf.unset(IndexConf.JoinPruneMaxKeys)
  }

  test("soundness gates: nondeterministic dim, outer join, <=> and conf-off bail") {
    import spark.implicits._
    val nondet = fact.join(
      dim.filter(rand(7) < 0.99).filter($"dk" === 3), $"k" === $"dk")
    assert(probeConjuncts(nondet).isEmpty, "nondeterministic dim must not be probed")
    assert(nondet.count() <= 1000L)

    val outer = fact.join(dim.filter($"dk" === 3), $"k" === $"dk", "left_outer")
    assert(probeConjuncts(outer).isEmpty, "left-outer fact side must not be filtered")
    assert(outer.count() == 64000L)

    val nullSafe = fact.join(dim.filter($"dk" === 3), $"k" <=> $"dk")
    assert(probeConjuncts(nullSafe).isEmpty, "null-safe equality is not eligible")
    assert(nullSafe.count() == 1000L)

    spark.conf.set(IndexConf.JoinPrune, "false")
    try {
      val off = fact.join(dim.filter($"dk" === 3), $"k" === $"dk")
      assert(probeConjuncts(off).isEmpty)
      assert(off.count() == 1000L)
    } finally spark.conf.unset(IndexConf.JoinPrune)
  }

  test("non-selective dim (no filter, over the byte gate) is not probed") {
    import spark.implicits._
    spark.conf.set(IndexConf.JoinPruneMaxDimBytes, "0")
    try {
      val joined = fact.join(dim, $"k" === $"dk")
      assert(probeConjuncts(joined).isEmpty,
        "unfiltered dim past the byte gate must not be probed")
      assert(joined.count() == 64000L)
    } finally spark.conf.unset(IndexConf.JoinPruneMaxDimBytes)
    // under the gate (test dim is tiny) the unfiltered join IS probed —
    // every key matches, result unchanged
    val joined = fact.join(dim, $"k" === $"dk")
    assert(probeConjuncts(joined).nonEmpty)
    assert(joined.count() == 64000L)
  }

  test("a user IN filter on the key suppresses a second probe (idempotent shape)") {
    import spark.implicits._
    val joined = fact.filter($"k".isin(1L, 2L, 3L))
      .join(dim.filter($"dk" <= 10), $"k" === $"dk")
    // exactly ONE In conjunct on k in the optimized plan: the user's
    // (Spark's own constraint propagation may mirror it onto dk — that
    // one is not ours either)
    val probes = probeConjuncts(joined)
    assert(probes.count(p => p == "in(k)" || p == "inset(k)") == 1,
      s"expected the user's IN only, got $probes")
    assert(joined.count() == 3000L)
  }

  test("composite-key join: every eligible equi-conjunct probes independently") {
    import spark.implicits._
    val dim2 = Seq((3L, 3391L)).toDF("dk", "dv")
    val joined = fact.join(dim2, $"k" === $"dk" && $"v" === $"dv")
    val probes = probeConjuncts(joined)
    assert(probes.count(p => p == "in(k)" || p == "inset(k)") == 1, s"got $probes")
    assert(probes.count(p => p == "in(v)" || p == "inset(v)") == 1, s"got $probes")
    // i = 3391: k = 3391/1000 = 3, v = 3391 % 997 = 400 — no row matches
    // (3, 3391) on v, so assert against the plain join, not a guess
    val expected = spark.read.parquet(factPath)
      .join(dim2, $"k" === $"dk" && $"v" === $"dv").count()
    assert(joined.count() == expected)
    val (read, total) = factFilesRead(joined)
    assert(read < total)
  }

  test("outer joins prune only the non-preserved indexed side") {
    import spark.implicits._
    // dk=999 has no fact match — the preserved dim row must survive with
    // nulls while the fact side is cut to dk=3's files
    val dim2 = Seq(3L, 999L).toDF("dk")
    val lo = dim2.join(fact, $"dk" === $"k", "left_outer")
    assert(probeConjuncts(lo).nonEmpty, "left-outer RIGHT (indexed) side must be probed")
    assert(lo.count() == 1001L, "1000 matches + 1 preserved unmatched dim row")
    val (readL, totalL) = factFilesRead(lo)
    assert(readL < totalL, s"expected a file cut: $readL/$totalL")

    val ro = fact.join(dim2, $"k" === $"dk", "right_outer")
    assert(probeConjuncts(ro).nonEmpty, "right-outer LEFT (indexed) side must be probed")
    assert(ro.count() == 1001L)
    val (readR, totalR) = factFilesRead(ro)
    assert(readR < totalR, s"expected a file cut: $readR/$totalR")

    // full outer preserves BOTH sides — never rewritten
    val fo = fact.join(dim2, $"k" === $"dk", "full_outer")
    assert(probeConjuncts(fo).isEmpty, "full-outer must not be probed")
    assert(fo.count() == 64000L + 1L)
  }

  test("nested struct-leaf join key probes and cuts files by the dotted path") {
    import spark.implicits._
    // nested fact: payload.uid clusters per file like k does
    val p = s"$work/fact_nested"
    (0 until 64000).toDF("i")
      .select(struct(($"i" / 1000).cast("long").as("uid"),
        concat(lit("s"), $"i").as("tag")).as("payload"),
        ($"i" % 997).cast("long").as("v"))
      .repartitionByRange(16, $"payload.uid")
      .sortWithinPartitions($"payload.uid")
      .write.parquet(p)
    spark.index.create.mode("overwrite").indexBy("payload.uid").parquet(p)
    val nested = spark.index.parquet(p)
    val joined = nested.join(dim.filter($"dk" >= 3 && $"dk" <= 4),
      $"payload.uid" === $"dk")
    val probes = probeConjuncts(joined)
    assert(probes.exists(_.startsWith("in")),
      s"nested key must probe, got $probes")
    joined.collect()
    val scan = scans(joined.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
      .getOrElse(fail("no indexed scan"))
    val fi = scan.relation.location.asInstanceOf[org.apache.spark.sql.graft.GraftFileIndex]
    assert(fi.lastListedFiles < fi.lastTotalFiles,
      s"nested IN must cut files: ${fi.lastListedFiles}/${fi.lastTotalFiles}")
    // bit-for-bit vs the un-pruned join
    val expected = spark.read.parquet(p).join(dim.filter($"dk" >= 3 && $"dk" <= 4),
      $"payload.uid" === $"dk")
    assert(joined.select($"payload.uid", $"v", $"dk").orderBy($"v", $"dk").collect().toSeq ==
      expected.select($"payload.uid", $"v", $"dk").orderBy($"v", $"dk").collect().toSeq)
  }

  test("row-set-nondeterministic dims (limit / sample) are never probed") {
    import spark.implicits._
    // every expression inside is deterministic, but limit-over-a-scan can
    // re-yield a DIFFERENT 5 rows when the join re-executes the dim than
    // the probe collected — an IN of the probe's keys would drop rows
    val lim = fact.join(dim.filter($"dk" <= 30).limit(5), $"k" === $"dk")
    assert(probeConjuncts(lim).isEmpty,
      "limit dim must bail: probe-time and join-time row sets can differ")
    assert(lim.count() == 5000L, "each of the 5 dim keys matches 1000 fact rows")
    val samp = fact.join(dim.sample(0.5, 42L).filter($"dk" === 3), $"k" === $"dk")
    assert(probeConjuncts(samp).isEmpty, "sample dim must bail (order-sensitive row set)")
    samp.collect()
    // the explicit API runs the same dim gate: a limit, sample or rand()
    // dim gets the plain join, with no IN or bloom probe of its own
    val unsafeDims = Seq(
      "limit" -> dim.filter($"dk" <= 30).limit(5),
      "sample" -> dim.sample(0.5, 42L).filter($"dk" <= 30),
      "rand" -> dim.filter(rand(7L) < 0.5 && $"dk" <= 30))
    for ((what, d) <- unsafeDims) {
      val semi = graft.index.JoinPrune.semiJoinPruned(fact, d, $"k", $"dk")
      assert(probeConjuncts(semi).isEmpty, s"semiJoinPruned, $what dim: ${probeConjuncts(semi)}")
      val bloom = graft.index.JoinPrune.bloomJoinPruned(fact, d, $"k", $"dk")
      assert(probeConjuncts(bloom).isEmpty, s"bloomJoinPruned, $what dim: ${probeConjuncts(bloom)}")
    }
    assert(graft.index.JoinPrune.semiJoinPruned(
      fact, dim.filter($"dk" <= 30).limit(5), $"k", $"dk").count() == 5000L)
  }

  test("a literal equality on the key suppresses probing (OptimizeIn's one-element form)") {
    import spark.implicits._
    // the shape OptimizeIn lowers a one-element injected IN to — and
    // equally a user's own point filter: the fold already prunes by the
    // equality, so a probe under it would only re-run dim jobs on every
    // fixed-point pass
    val joined = fact.filter($"k" === 3L).join(dim.filter($"dk" <= 10), $"k" === $"dk")
    assert(probeConjuncts(joined).isEmpty,
      s"equality already cuts — no probe expected, got ${probeConjuncts(joined)}")
    assert(joined.count() == 1000L)
    // end-to-end: a single-key dim still injects and cuts files
    val single = fact.join(dim.filter($"dk" === 11), $"k" === $"dk")
    assert(single.count() == 1000L)
    val (read, total) = factFilesRead(single)
    assert(read < total, s"single-key probe should cut files: $read/$total")
  }

  test("explicit JoinPrune API calls are not double-probed by the rule") {
    import spark.implicits._
    // two keys: a one-element API IN would be lowered to EqualTo by
    // OptimizeIn and probeConjuncts could not see it
    val viaApi = graft.index.JoinPrune.semiJoinPruned(
      fact, dim.filter($"dk" >= 4 && $"dk" <= 5), $"k", $"dk")
    val probes = probeConjuncts(viaApi)
    // exactly ONE In on the fact key: the API's (constraint propagation
    // may mirror it onto dk — that one is not ours either)
    assert(probes.count(p => p == "in(k)" || p == "inset(k)") == 1, s"got $probes")
    assert(viaApi.count() == 2000L)
  }

  test("semi/anti joins prune the indexed PROBE side (fact on the right)") {
    import spark.implicits._
    // EXISTS shape with the INDEXED table as the subquery: left is the
    // small filtered driver, right (fact) is probe-only — prunable
    val small = dim.filter($"dk" >= 4 && $"dk" <= 5).select($"dk")
    val semi = small.join(fact, $"dk" === $"k", "left_semi")
    val semiProbes = probeConjuncts(semi)
    assert(semiProbes.exists(p => p.contains("(k)")), s"got $semiProbes")
    assert(semi.count() == 2L)
    semi.collect()
    val semiScan = scans(semi.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
      .getOrElse(fail("no indexed scan"))
    assert(semiScan.metrics("numFiles").value < 16L,
      s"semi probe side should cut: ${semiScan.metrics("numFiles").value}/16")
    // NOT EXISTS (plain anti): right/probe side prunes, left never does
    val anti = small.join(fact.filter($"v" < 0L), $"dk" === $"k", "left_anti")
    val antiProbes = probeConjuncts(anti)
    assert(antiProbes.exists(p => p.contains("(k)")), s"got $antiProbes")
    // no fact row has v < 0, so nothing kills the two left rows
    assert(anti.count() == 2L)
    // row parity against the unindexed replay
    val plainFact = spark.read.parquet(factPath)
    val expected = dim.filter($"dk" >= 4 && $"dk" <= 5).select($"dk")
      .join(plainFact.filter($"v" < 0L), $"dk" === $"k", "left_anti")
      .collect().map(_.toString).sorted.toSeq
    assert(anti.collect().map(_.toString).sorted.toSeq == expected)
    // null-aware NOT IN (Or-shaped condition) is never rewritten — and
    // stays correct
    fact.createOrReplaceTempView("jp_fact")
    dim.filter($"dk" >= 4 && $"dk" <= 5).createOrReplaceTempView("jp_dim")
    val notIn = spark.sql(
      "SELECT dk FROM jp_dim WHERE dk NOT IN (SELECT k FROM jp_fact WHERE v < 0)")
    assert(notIn.count() == 2L)
    // existence join (IN-subquery under a disjunction): every left row
    // is emitted with a flag, the indexed probe side still prunes
    val exist = spark.sql(
      "SELECT dk FROM jp_dim WHERE dk IN (SELECT k FROM jp_fact) OR dk = 4")
    val existProbes = probeConjuncts(exist)
    assert(existProbes.exists(_.contains("(k)")), s"got $existProbes")
    assert(exist.count() == 2L)
    exist.collect()
    val existScan = scans(exist.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
      .getOrElse(fail("no indexed scan"))
    assert(existScan.metrics("numFiles").value < 16L,
      s"existence probe side should cut: ${existScan.metrics("numFiles").value}/16")
  }

  test("fact-fact: BOTH indexed sides get cut by ping-pong probes, no loop") {
    import spark.implicits._
    // second INDEXED table on the same key domain: 16 files, 4 keys each
    val p2 = s"$work/fact2"
    (0 until 64).toDF("i")
      .select($"i".cast("long").as("k2"), concat(lit("m-"), $"i").as("meta"))
      .repartitionByRange(16, $"k2")
      .write.mode("overwrite").parquet(p2)
    spark.index.create.mode("overwrite").indexBy("k2").parquet(p2)
    val t2 = spark.index.parquet(p2)
    // kill the small-bytes selectivity shortcut so only REAL filters make
    // a side probe-worthy — the composition must bootstrap off the user's
    // filter alone
    spark.conf.set(IndexConf.JoinPruneMaxDimBytes, "0")
    try {
      val q = fact.filter($"k" <= 2).join(t2, $"k" === $"k2")
        .select($"k", $"v", $"meta")
      // chosen semantics (pinned): the fixed point PING-PONGS — iteration
      // 1 probes the filtered side and cuts the other; iteration 2 sees
      // the injected IN as a real filter and probes back; iteration 3 is
      // structurally idempotent (alreadyProbed on both) — so BOTH sides
      // end up cut and the optimizer converges
      val probes = probeConjuncts(q)
      assert(probes.exists(_.contains("(k)")), s"left probe missing: $probes")
      assert(probes.exists(_.contains("(k2)")), s"right probe missing: $probes")
      val expected = spark.read.parquet(factPath).filter($"k" <= 2)
        .join(spark.read.parquet(p2), $"k" === $"k2").select($"k", $"v", $"meta")
      assert(q.collect().map(_.toString).sorted.toSeq ==
        expected.collect().map(_.toString).sorted.toSeq)
      q.collect()
      val ss = scans(q.queryExecution.executedPlan).filter(
        _.relation.location.isInstanceOf[org.apache.spark.sql.graft.GraftFileIndex])
      assert(ss.size == 2, s"expected two indexed scans, got ${ss.size}")
      ss.foreach { s =>
        val read = s.metrics("numFiles").value
        assert(read < 16, s"each indexed side should cut: read $read/16 files")
      }
    } finally spark.conf.unset(IndexConf.JoinPruneMaxDimBytes)
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
