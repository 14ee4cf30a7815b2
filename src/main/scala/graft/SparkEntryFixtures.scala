package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scratch fixtures + shared helpers for the driver contract: the
  * create-once indexed tables, materialized pipeline indexes and
  * streaming ingests every [[SparkEntry]] query domain builds on.
  * Split out of SparkEntry mechanically (round 11) — no behavior
  * change; members are private[graft] so the sibling query traits and
  * Bench keep their existing call sites. */
private[graft] trait SparkEntryFixtures {

  private[graft] def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize `events.ts` to a session-timezone TIMESTAMP regardless of
    * how the driver generated the column — the physical type has drifted
    * across testdata generations (TIMESTAMP(NANOS) → read as raw-nanos
    * long under `nanosAsLong`; TIMESTAMP(MICROS) without UTC adjustment →
    * TIMESTAMP_NTZ), and the oracle's DuckDB read is naive either way.
    * All correctness sessions run with session timeZone = UTC, so the
    * NTZ→TZ cast is micros-identity and every downstream query
    * (`date_format`, `unix_micros`, windows) sees identical values on
    * both engines. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: epoch nanos exceed 2^53, so
        // double-precision division can be off by 1µs (ADVICE r1)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  private[graft] def eventsTbl(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
  }


  // ---------------------------------------------------------------------
  // Index-engine scratch tables: the driver testdata ships single-file
  // tables, so file-level pruning needs a deterministic multi-file copy.
  // Built once per (scale factor, engine version) under target/ and
  // indexed through the public graft.index API.
  // ---------------------------------------------------------------------

  private[graft] val scratchRoot = "/root/repo/target/graft_scratch"

  /** Fixed plan-literal BPE merge table for the value-gated encode query
    * (q_text_bpe_encode). Hierarchical — later ranks consume earlier
    * merge outputs, so the oracle's recursion runs multiple rounds — and
    * strictly `a != b` for every pair, so within one round occurrences
    * of the chosen pair can never overlap and "merge all occurrences
    * left-to-right" equals "merge every matching position", which IS
    * expressible as one list_transform in SQL. */
  private[graft] val bpeFixedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("a", "t"), ("th", "at"), ("i", "n"),
    ("a", "n"), ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
    ("o", "r"), ("s", "t"), ("e", "n"), ("o", "u"), ("c", "h"),
    ("q", "u"), ("qu", "er"), ("i", "s"), ("a", "s"), ("l", "e"))

  /** Single source of truth for scratch-table locations — Bench reads
    * tables (plain-scan baseline, 50k refresh target) through this
    * instead of re-deriving the path convention by string concat. */
  private[graft] def scratchTableDir(dir: String, name: String): String =
    s"$scratchRoot/${new java.io.File(dir).getName}/$name"

  // "<oldest metadata version this binary would have to rebuild>.<scratch
  // builder revision>": the first component is pinned to the LAST
  // CurrentVersion bump that actually invalidated existing fixtures —
  // MinReadableVersion=3 keeps every fixture since v5 loadable, so a
  // CurrentVersion bump alone (e.g. v6 multi-root) must NOT rebuild the
  // whole fixture tree (the 50k-file table included). Bump the second
  // component when a builder's layout changes.
  private[graft] def scratchVersion: String = "5.3"

  /** Create-once protocol shared by every scratch table: version-marked
    * build under target/, then served through the indexed read. The
    * `build` closure receives the table dir and must leave it indexed. */
  private[graft] def scratchTable(s: SparkSession, dir: String, name: String,
      source: String = "parquet")(
      build: String => Unit): DataFrame =
    SparkEntry.synchronized {
      import graft.index.implicits._
      val scratch = s"$scratchRoot/${new java.io.File(dir).getName}"
      val tableDir = s"$scratch/$name"
      s.conf.set(graft.index.IndexConf.MetastoreLocation, s"$scratch/metastore")
      val marker = new java.io.File(s"$scratch/${name}_ready")
      val upToDate = marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == scratchVersion
      if (!upToDate) {
        // a version-stale fixture rebuilds from CLEAN: incremental
        // builders (streaming ingests with checkpoints, refresh
        // fixtures) would otherwise resume onto the old-version index
        // left in the dir and fail the metadata version gate.
        // The marker is deleted FIRST: a rebuild killed mid-build must
        // not masquerade as ready on the next run (the stale marker
        // would vouch for a torn dir).
        marker.delete()
        deleteRecursively(new java.io.File(tableDir))
        build(tableDir)
        java.nio.file.Files.write(marker.toPath, scratchVersion.getBytes)
      }
      if (source == "orc") s.index.orc(tableDir) else s.index.parquet(tableDir)
    }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Indexed multi-file copy of lineitem for sfDir; create-once. */
  private[graft] def indexedLineitem(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .repartition(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate")
        .parquet(tableDir)
    }

  /** Lineitem split into TWO sibling roots (orderkey parity) indexed as
    * ONE multi-root index — the "same table landed in several dirs /
    * glob" layout (extension over the reference's single non-glob dir,
    * IndexedDataSource.scala:173-177). Union of roots == lineitem, so
    * the oracle reads the plain table; create-once. */
  private[graft] def indexedLineitemTwoRoots(s: SparkSession, dir: String): DataFrame =
    SparkEntry.synchronized {
      import graft.index.implicits._
      val scratch = s"$scratchRoot/${new java.io.File(dir).getName}"
      s.conf.set(graft.index.IndexConf.MetastoreLocation, s"$scratch/metastore")
      val a = s"$scratch/lineitem_mr/even"
      val b = s"$scratch/lineitem_mr/odd"
      val marker = new java.io.File(s"$scratch/lineitem_mr_ready")
      val upToDate = marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == scratchVersion
      if (!upToDate) {
        marker.delete() // a killed rebuild must not masquerade as ready
        deleteRecursively(new java.io.File(s"$scratch/lineitem_mr"))
        val li = s.read.parquet(s"$dir/lineitem.parquet")
        li.filter(col("l_orderkey") % 2 === 0).repartition(8, col("l_orderkey"))
          .write.mode("overwrite").parquet(a)
        li.filter(col("l_orderkey") % 2 === 1).repartition(8, col("l_orderkey"))
          .write.mode("overwrite").parquet(b)
        s.index.create.mode("overwrite")
          .indexBy("l_orderkey", "l_returnflag").parquet(a, b)
        java.nio.file.Files.write(marker.toPath, scratchVersion.getBytes)
      }
      s.index.parquet(a, b)
    }

  /** ORC copy of lineitem, indexed and pruned by the same engine — the
    * second implementation of the reference's MetastoreSupport
    * extensibility axis (stripe statistics instead of parquet footers,
    * same sketches/pruning/refresh); create-once. */
  private[graft] def indexedLineitemOrc(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem_orc", source = "orc") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .repartition(16, col("l_orderkey"))
        .write.mode("overwrite").orc(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("l_orderkey", "l_returnflag").orc(tableDir)
    }

  /** ~50k-file synthetic table (the million-file story at test scale):
    * 64 single-key seed files, each replicated 780× by raw byte copy —
    * identical stats, distinct paths — because listing, footer indexing
    * and prune cost scale with FILE COUNT, which is exactly what this
    * table exercises. Seeds are built DETERMINISTICALLY: the rows are
    * generated driver-side in key order and `parallelize(_, 64)` slices
    * positionally, so partition i holds exactly key i (repartitionByRange
    * samples boundaries and could merge two keys / leave a partition
    * empty). Sketches are disabled (min/max pruning is the story; a
    * 50k-row sketch table would just slow the build) and the reader
    * carries a distributed-pruning threshold BELOW the file count, so
    * queries take the Spark-job fold path a million-file table would.
    * Create-once. */
  private[graft] val Files50kSeeds = 64
  private[graft] val Files50kCopies = 780 // per seed => 64 × 781 = 49,984 files
  private[graft] val Files50kRowsPerSeed = 100
  // 4x the seeds (so the grouped/kth folds see 4x the key domain too),
  // same copies => 256 × 781 = 199,936 files — the r8 verdict's scale
  // probe above the 50k table every distributed-tier claim was benched at
  private[graft] val Files200kSeeds = 256
  private[graft] val Files200kCopies = 780
  // 5x the 200k probe => 1280 × 781 = 999,680 files — the LAST scale
  // decade reachable on one box (~4 GB of 4 KB files): the r9 verdict's
  // final listing probe, where prune latency and refresh driver
  // residency must still hold their O(survivors)/O(dirs+delta) claims
  private[graft] val Files1mSeeds = 1280
  private[graft] val Files1mCopies = 780

  // Shared parquet/ORC 50k builder — only the format strings differ, so
  // the seed construction, seed assert, copy loop and index options are
  // maintained once (a determinism fix can't land in one format only).
  private[graft] def build50k(s: SparkSession, tableDir: String, source: String): Unit =
    buildManyFiles(s, tableDir, source, Files50kSeeds, Files50kCopies)

  /** The many-tiny-files fixture builder: `seeds` one-k-value seed files,
    * each copied `copies` times (copies run as a Spark job — 200k
    * driver-side NIO copies would dominate the build). ks: a string twin
    * of k (zero-padded so UTF-8 binary order == numeric order) — the
    * distributed STRING kth-walk/prune fixture key. */
  private[graft] def buildManyFiles(s: SparkSession, tableDir: String, source: String,
      seedCount: Int, copies: Int): Unit = {
    import graft.index.implicits._
    import s.implicits._
    val ext = if (source == "orc") "orc" else "parquet"
    val rows = for {
      k <- 0 until seedCount
      r <- 0 until Files50kRowsPerSeed
    } yield (k.toLong, f"s$k%03d", (k.toLong * Files50kRowsPerSeed) + r)
    val seedWriter = s.sparkContext.parallelize(rows, seedCount)
      .toDF("k", "ks", "v").write.mode("overwrite")
    if (source == "orc") seedWriter.orc(tableDir) else seedWriter.parquet(tableDir)
    val d = new java.io.File(tableDir)
    val seeds = d.listFiles().filter(f => f.getName.endsWith("." + ext) &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(seeds.length == seedCount,
      s"expected $seedCount seed files, got ${seeds.length}")
    val copyJobs = seeds.zipWithIndex.flatMap { case (f, si) =>
      (0 until copies).map(j => (f.getAbsolutePath, s"part-copy-$si-$j.$ext"))
    }.toSeq
    val dirB = d.getAbsolutePath
    s.sparkContext.parallelize(copyJobs, math.max(1, copyJobs.size / 4096))
      .foreach { case (src, dstName) =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(src),
          java.nio.file.Paths.get(dirB, dstName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    val create = s.index.create.mode("overwrite")
      .option(graft.index.IndexConf.FilterEnabled, "false")
      .indexBy("k", "ks")
    if (source == "orc") create.orc(tableDir) else create.parquet(tableDir)
  }

  private[graft] def indexed50kFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.index.implicits._
    scratchTable(s, dir, "files50k")(build50k(s, _, "parquet"))
    // re-open with the distributed threshold under the file count: the
    // Spark-job fold path is the one a million-file table would take
    s.index.option(graft.index.IndexConf.DistributedPruningThreshold, "10000")
      .parquet(scratchTableDir(dir, "files50k"))
  }

  /** The 200k-file scale probe over [[indexed50kFiles]]'s design: 4x the
    * files AND 4x the key domain, same per-file shape — the fixture for
    * proving the distributed prune/kth/listing tiers hold their
    * driver-residency and latency claims one scale step up. Create-once
    * (the build itself runs the copies as a Spark job). */
  private[graft] def indexed200kFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.index.implicits._
    scratchTable(s, dir, "files200k")(
      buildManyFiles(s, _, "parquet", Files200kSeeds, Files200kCopies))
    s.index.option(graft.index.IndexConf.DistributedPruningThreshold, "10000")
      .parquet(scratchTableDir(dir, "files200k"))
  }

  /** The ~1M-file scale probe (5× [[indexed200kFiles]], same per-file
    * shape): the final local decade for the distributed prune / kth walk
    * / level-walk refresh claims. Create-once (copies + footers all run
    * as Spark jobs; budget ~5-10 min on first build, then cached). */
  private[graft] def indexed1mFiles(s: SparkSession, dir: String): DataFrame = {
    import graft.index.implicits._
    scratchTable(s, dir, "files1m")(
      buildManyFiles(s, _, "parquet", Files1mSeeds, Files1mCopies))
    s.index.option(graft.index.IndexConf.DistributedPruningThreshold, "10000")
      .parquet(scratchTableDir(dir, "files1m"))
  }

  /** ORC twin of [[indexed50kFiles]]: proves the distributed prune fold
    * is format-agnostic — stripe statistics feed the same files-table
    * Spark job the parquet footers do. Create-once. */
  private[graft] def indexed50kFilesOrc(s: SparkSession, dir: String): DataFrame = {
    import graft.index.implicits._
    scratchTable(s, dir, "files50k_orc", source = "orc")(build50k(s, _, "orc"))
    s.index.option(graft.index.IndexConf.DistributedPruningThreshold, "10000")
      .orc(scratchTableDir(dir, "files50k_orc"))
  }

  /** Indexed lineitem copy with DICT/BITMAP sketches (per-call option):
    * long column → exact dict, int column → roaring bitmap. Separate
    * table dir so the bloom-indexed copy keeps its own index. */
  private[graft] def indexedLineitemDict(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem_dict") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("l_linenumber", col("l_linenumber").cast("int"))
        .repartition(16, col("l_suppkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .option(graft.index.IndexConf.FilterType, "dict")
        .indexBy("l_suppkey", "l_linenumber")
        .parquet(tableDir)
    }

  /** Per-order supplier-key ARRAYS (collect_list over lineitem), indexed
    * on the array column's ELEMENT domain — the `array_contains` pruning
    * fixture (element min/max + dict/bloom membership per file);
    * create-once. */
  private[graft] def indexedOrderSupps(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "order_supps") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(collect_list(col("l_suppkey")).as("supps"),
          count(lit(1)).as("n_items"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite").indexBy("supps", "l_orderkey")
        .parquet(tableDir)
    }

  /** Per-order supplier→count MAPS (map_from_entries over lineitem),
    * indexed on the map column's KEY domain — the `map_contains_key`
    * pruning fixture (key min/max + dict/bloom membership per file);
    * create-once. */
  private[graft] def indexedOrderSuppMap(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "order_suppmap") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("l_orderkey"))
        .agg(map_from_entries(collect_list(struct(col("l_suppkey"), col("n"))))
          .as("suppmap"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite").indexBy("suppmap", "l_orderkey")
        .parquet(tableDir)
    }

  /** Per-order item ARRAYS OF STRUCTS (collect_list of (supp, qty) over
    * lineitem), indexed on the STRUCT LEAF `items.supp` through the
    * repeated level — the `exists(items, x -> x.supp = v)` pruning
    * fixture (leaf element min/max + dict/bloom per file); create-once. */
  private[graft] def indexedOrderItems(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "order_items") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(collect_list(struct(col("l_suppkey").as("supp"),
          col("l_quantity").as("qty"))).as("items"),
          count(lit(1)).as("n_items"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite").indexBy("items.supp", "l_orderkey")
        .parquet(tableDir)
    }

  /** Per-order attribute MAPS with file-UNIFORM keys and order-correlated
    * values (okey → l_orderkey), range-laid-out so only the VALUE domain
    * (`m#value` field) can cut files for `m['okey'] = v` — the map
    * value-domain pruning fixture; create-once. */
  private[graft] def indexedOrderValMap(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "order_valmap") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
        .select(col("l_orderkey"), col("n_items"),
          map_from_arrays(array(lit("okey"), lit("cnt")),
            array(col("l_orderkey"), col("n_items"))).as("attrs"))
        .repartitionByRange(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite").indexBy("attrs")
        .parquet(tableDir)
    }

  /** Indexed part copy with exact DICT sketches on the low-cardinality
    * string columns, laid out so p_type values cluster per file — the
    * fixture for substring (Contains/EndsWith) pruning, which only an
    * exact dictionary can answer; create-once. */
  private[graft] def indexedPartDict(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "part_dict") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/part.parquet")
        .repartition(16, col("p_type"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .option(graft.index.IndexConf.FilterType, "dict")
        .indexBy("p_type", "p_brand")
        .parquet(tableDir)
    }

  /** Indexed lineitem copy built through the INCREMENTAL path: index half
    * the files, append the rest, `spark.index.refresh` — so the refresh
    * flow (delta footer job, appended stats + sketches, metadata update)
    * is exercised by the oracle gate on every run; create-once. */
  private[graft] def indexedLineitemRefreshed(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem_refresh") { tableDir =>
      import graft.index.implicits._
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("l_orderkey", "l_returnflag").parquet(tableDir)
      li.filter(col("l_orderkey") % 2 === 1)
        .repartition(8, col("l_orderkey"))
        .write.mode("append").parquet(tableDir)
      val stats = s.index.refresh.parquet(tableDir)
      require(stats.addedFiles == 8L && stats.removedFiles == 0L,
        s"refresh scratch build expected 8 added files, got $stats")
    }

  /** Indexed lineitem copy that goes through SMALL-FILE COMPACTION after
    * indexing: 32 tiny files → Layout.compact rewrites them into the
    * target size → spark.index.refresh re-indexes the delta. The oracle
    * gate then proves compaction is row-preserving AND the refreshed
    * index still answers; create-once. */
  private[graft] def indexedLineitemCompacted(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem_compact") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .repartition(32, col("l_orderkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("l_orderkey", "l_returnflag").parquet(tableDir)
      // thresholds derived from the actual file sizes so the fixture
      // compacts all 32 files into a few at ANY scale factor
      val sizes = new java.io.File(tableDir).listFiles
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .map(_.length)
      val cs = graft.ops.Layout.compact(s, tableDir,
        smallFileBytes = sizes.max + 1, targetFileBytes = sizes.sum / 4 + 1)
      require(cs.compactedFiles == 32L && cs.producedFiles >= 1L &&
        cs.producedFiles < 32L, s"compaction expected to rewrite 32 files: $cs")
      val rs = s.index.refresh.parquet(tableDir)
      require(rs.addedFiles == cs.producedFiles && rs.removedFiles == cs.compactedFiles,
        s"refresh after compaction out of step: $rs vs $cs")
    }

  /** Range-clustered indexed lineitem (graft.ops.Layout.clusterBy on
    * l_shipdate): each file covers a narrow shipdate slice, so footer
    * min/max prunes RANGE predicates — which the hash-layout copy cannot
    * (every hashed file spans the full date domain); create-once. */
  private[graft] def indexedLineitemClustered(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem_clustered") { tableDir =>
      import graft.index.implicits._
      graft.ops.Layout.clusterBy(
          s.read.parquet(s"$dir/lineitem.parquet"), 16, col("l_shipdate"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("l_shipdate", "l_orderkey").parquet(tableDir)
    }

  /** Price-clustered indexed lineitem with DOUBLE / DECIMAL(12,2) / FLOAT
    * indexed columns — the floating-point Canon domain fixture
    * (IEEE754-sortable-bits Long canonical; the reference stops at five
    * types, ParquetSchemaUtils.scala:32-33, a 2016-era footer-stats limit
    * modern parquet no longer has). Clustered on l_extendedprice so
    * double-range predicates provably cut files; create-once. */
  private[graft] def indexedLineitemPrice(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem_price") { tableDir =>
      import graft.index.implicits._
      graft.ops.Layout.clusterBy(
          s.read.parquet(s"$dir/lineitem.parquet")
            .withColumn("l_quantity_dec",
              col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
            .withColumn("l_discount_f", col("l_discount").cast("float")),
          16, col("l_extendedprice"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("l_extendedprice", "l_quantity_dec", "l_discount_f")
        .parquet(tableDir)
    }

  /** Orders folded into a STRUCT column and indexed on nested leaves
    * (`payload.user_id`, `payload.status`) — the event-style table shape
    * (crawl/clickstream payloads) the reference's top-level-only limit
    * never served (ParquetSchemaUtils.scala:40-54); modern footers carry
    * per-leaf stats. user_id-clustered so nested range predicates cut
    * files; create-once. */
  private[graft] def indexedOrdersNested(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "orders_nested") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          struct(col("o_custkey").as("user_id"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("price")).as("payload"))
        .repartitionByRange(16, col("payload.user_id"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("payload.user_id", "payload.status").parquet(tableDir)
    }

  /** INT96-timestamp orders copy — the legacy-writer fixture: written
    * with outputTimestampType=INT96, whose footers carry NO usable
    * timestamp statistics, so RANGE pruning on o_ordertime exists only
    * because create's stats pass patched the footer holes with each
    * file's data bounds (StatisticsBuilder; reference covers the same
    * case via its full-scan stats, ParquetIndexReadSupport.scala:64-73).
    * Range-clustered so the pruning is observable; create-once. */
  private[graft] def indexedOrdersInt96(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "orders_int96") { tableDir =>
      import graft.index.implicits._
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "INT96")
      try {
        s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate").cast("timestamp").as("o_ordertime"))
          .repartitionByRange(16, col("o_ordertime"))
          .write.mode("overwrite").parquet(tableDir)
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      s.index.create.mode("overwrite")
        .indexBy("o_ordertime", "o_orderkey").parquet(tableDir)
    }

  /** Z-ordered indexed lineitem (graft.ops.Layout.zorderBy on
    * (l_orderkey, l_suppkey)): bit-interleaved layout, so range
    * predicates on EITHER key prune files — single-key clustering can
    * only serve its first key; create-once. */
  private[graft] def indexedLineitemZorder(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "lineitem_zorder") { tableDir =>
      import graft.index.implicits._
      graft.ops.Layout.zorderBy(
          s.read.parquet(s"$dir/lineitem.parquet"), 16,
          Seq("l_orderkey", "l_suppkey"))
        .write.mode("overwrite").parquet(tableDir)
      s.index.create.mode("overwrite")
        .indexBy("l_orderkey", "l_suppkey").parquet(tableDir)
    }

  /** Bucketed lineitem + orders scratch tables (8 buckets on the order
    * key, sorted): data written once, bucket layout re-registered into
    * each fresh in-memory catalog from the files — so the co-located
    * zero-shuffle join is exercised by the oracle gate on every run. */
  private[graft] def bucketedJoinTables(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SparkEntry.synchronized {
      val sfName = new java.io.File(dir).getName
      val scratch = s"$scratchRoot/$sfName"
      val safe = sfName.replace('.', '_')
      val (liName, oName) =
        (s"graft_bucketed_lineitem_$safe", s"graft_bucketed_orders_$safe")
      val (liDir, oDir) = (s"$scratch/bucketed_lineitem", s"$scratch/bucketed_orders")
      val marker = new java.io.File(s"$scratch/bucketed_ready")
      val upToDate = marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == scratchVersion
      if (!upToDate) {
        marker.delete() // a killed rebuild must not masquerade as ready
        new java.io.File(scratch).mkdirs()
        graft.ops.Layout.writeBucketed(
          s.read.parquet(s"$dir/lineitem.parquet"), liName, liDir, 8, "l_orderkey")
        graft.ops.Layout.writeBucketed(
          s.read.parquet(s"$dir/orders.parquet"), oName, oDir, 8, "o_orderkey")
        java.nio.file.Files.write(marker.toPath, scratchVersion.getBytes)
      }
      (graft.ops.Layout.registerBucketed(s, liName, liDir, 8, "l_orderkey"),
        graft.ops.Layout.registerBucketed(s, oName, oDir, 8, "o_orderkey"))
    }

  /** Events table built by STREAMING ingest with per-batch index
    * maintenance (create on batch 0, incremental refresh on each later
    * batch) — the q_stream_ingest fixture; create-once. */
  private[graft] def streamIngestedEvents(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "events_ingested") { tableDir =>
      graft.streaming.Streaming.ingestIndexed(
        s, dir, tableDir, indexCols = Seq("user_id", "event_type"))
      ()
    }

  /** Create-once scratch artifact that is NOT an indexed table (plain
    * files); returns the artifact dir. */
  private[graft] def scratchPlain(s: SparkSession, dir: String, name: String)(
      build: String => Unit): String =
    SparkEntry.synchronized {
      val scratch = s"$scratchRoot/${new java.io.File(dir).getName}"
      val tableDir = s"$scratch/$name"
      val marker = new java.io.File(s"$scratch/${name}_ready")
      val upToDate = marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == scratchVersion
      if (!upToDate) {
        marker.delete() // a killed rebuild must not masquerade as ready
        deleteRecursively(new java.io.File(tableDir)) // clean rebuild, like scratchTable
        build(tableDir)
        java.nio.file.Files.write(marker.toPath, scratchVersion.getBytes)
      }
      tableDir
    }

  /** Materialized IVFADC codes table (partitioned by cell) for the
    * embeddings of `dir`; create-once. */
  private[graft] def ivfPqCodesDir(s: SparkSession, dir: String): String =
    scratchPlain(s, dir, "ivfpq_codes") { td =>
      graft.ann.Ann.buildIvfPqIndex(
        tbl(s, dir, "embeddings"), col("vec_id"), col("embedding"), td,
        dim = 64, cells = 16, m = 8, codebookK = 16)
    }

  /** IVFADC codes table grown INCREMENTALLY: built from the even-id half
    * ("already-ingested corpus"), odd-id half appended as a later batch —
    * must serve queries identically to [[ivfPqCodesDir]]'s one-shot
    * build; create-once. */
  private[graft] def ivfPqCodesIncrDir(s: SparkSession, dir: String): String =
    scratchPlain(s, dir, "ivfpq_codes_incr") { td =>
      val emb = tbl(s, dir, "embeddings")
      graft.ann.Ann.buildIvfPqIndex(
        emb.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"),
        td, dim = 64, cells = 16, m = 8, codebookK = 16)
      graft.ann.Ann.appendToIvfPqIndex(
        emb.filter(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"),
        td, dim = 64, cells = 16, m = 8, codebookK = 16)
    }

  /** Materialized full-text search index grown INCREMENTALLY (built from
    * the even-id half, odd-id half appended) — index-served search/BM25
    * must match from-scratch runs over the whole corpus; create-once. */
  private[graft] def searchIndexDir(s: SparkSession, dir: String): String =
    scratchPlain(s, dir, "search_index") { td =>
      val docs = tbl(s, dir, "documents")
      graft.text.SearchIndex.buildSearchIndex(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), td)
      graft.text.SearchIndex.appendToSearchIndex(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"), td)
    }

  /** Materialized MinHash LSH index over the EVEN-id half of documents
    * (the "already-ingested corpus"); create-once. The odd-id half plays
    * the incoming batch in `q_dedup_incremental`. */
  private[graft] def minhashIndexDir(s: SparkSession, dir: String): String =
    scratchPlain(s, dir, "minhash_index") { td =>
      graft.dedup.Dedup.buildMinhashIndex(
        tbl(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), td,
        numHashes = 64, bands = 16, shingleK = 3)
    }

  /** Materialized Hamming index over the even-id half's md5-SimHash
    * fingerprints (portable twin of [[minhashIndexDir]]); create-once. */
  private[graft] def editDistIndexDir(s: SparkSession, dir: String): String =
    scratchPlain(s, dir, "editdist_index") { td =>
      graft.dedup.Dedup.buildEditDistanceIndex(
        tbl(s, dir, "customer").filter(col("c_custkey") % 2 === 0),
        col("c_custkey"), col("c_name"), td, maxDist = 1)
    }

  private[graft] def winnowIndexDir(s: SparkSession, dir: String): String =
    scratchPlain(s, dir, "winnow_index") { td =>
      graft.text.TextFunctions.buildWinnowIndex(
        tbl(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), td, k = 12, w = 8)
    }

  private[graft] def simhashIndexDir(s: SparkSession, dir: String): String =
    scratchPlain(s, dir, "simhash_index") { td =>
      graft.dedup.Dedup.buildFingerprintIndex(
        tbl(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        col("doc_id"),
        graft.dedup.Dedup.simhash64(col("text"), algo = "md5"),
        td, maxDist = 3)
    }

  /** Indexed Hive-partitioned copy of orders (partitioned by o_year,
    * indexed on o_custkey); create-once per (sf, engine version). */
  private[graft] def indexedOrdersPart(s: SparkSession, dir: String): DataFrame =
    scratchTable(s, dir, "orders_part") { tableDir =>
      import graft.index.implicits._
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(tableDir)
      s.index.create.mode("overwrite").indexBy("o_custkey").parquet(tableDir)
    }
}
