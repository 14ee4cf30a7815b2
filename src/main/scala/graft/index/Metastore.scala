package graft.index

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Runtime configuration surface (reference IndexConf.scala:22-109). Read
  * from the session conf on each access so `spark.conf.set` works live;
  * per-call `option(...)` maps override the session (reference threads
  * manager options the same way, DataFrameIndexManager.scala:29-128). */
class IndexConf(spark: SparkSession, overrides: Map[String, String] = Map.empty) {
  private def get(key: String, default: String): String =
    overrides.getOrElse(key, spark.conf.getOption(key).getOrElse(default))

  def metastoreLocation: String = {
    val v = get(IndexConf.MetastoreLocation, "")
    if (v.nonEmpty) v else new Path(sys.props("user.dir"), "index_metastore").toString
  }
  def createIfNotExists: Boolean = get(IndexConf.CreateIfNotExists, "false").toBoolean
  def numPartitions: Int = get(IndexConf.NumPartitions, "0").toInt
  def filterEnabled: Boolean = get(IndexConf.FilterEnabled, "true").toBoolean
  def filterType: String = get(IndexConf.FilterType, Sketch.Bloom)
  def eagerLoading: Boolean = get(IndexConf.EagerLoading, "false").toBoolean
  /** File count at/above which listFiles pruning runs as a Spark job over
    * the files table instead of a driver-side fold. */
  def distributedPruningThreshold: Long =
    get(IndexConf.DistributedPruningThreshold, "100000").toLong
  /** Use the persisted (dir, mtime) manifest to re-list ONLY directories
    * whose mtime moved during a distributed refresh (rename-based
    * writers — every Spark/Hive/Hadoop committer — always touch the
    * parent dir's mtime on add/remove). "auto" (default) engages the
    * tier for NON-local roots only: remote stores pay real latency per
    * LIST page, which the per-dir probe avoids, while file:// listing
    * under the parallel-statx walk is already cheaper than the tier's
    * own read/probe/rewrite. "true"/"false" force. Disable for stores
    * whose writers rewrite file CONTENT in place without
    * creating/renaming entries: such a change leaves the dir mtime
    * untouched and would be missed. */
  def refreshDirManifest: String =
    get(IndexConf.RefreshDirManifest, "auto").toLowerCase
  /** Schemes whose directory mtimes are REAL (bumped by every child
    * add/remove) — the only stores where "auto" may engage the manifest
    * tier. The default is the HDFS family only, where rename-commit
    * bumping the parent dir's mtime is a documented POSIX-ish guarantee.
    * Object stores are deliberately absent (S3A/GCS directories are
    * synthetic — mtime 0 or creation-time — so a probe would report
    * "unchanged" forever and refresh would silently stop seeing new
    * files), and stores with real directories but UNVERIFIED
    * child-add→parent-mtime semantics (ABFS-HNS, Ozone) must be added
    * here explicitly by an operator who has verified their store. */
  def refreshDirManifestSchemes: Set[String] =
    get(IndexConf.RefreshDirManifestSchemes, "hdfs,webhdfs,httpfs,viewfs")
      .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
  /** Per-call escape hatch: ignore the stored dir manifest for THIS
    * refresh and walk the whole tree (the manifest is rebuilt from the
    * walk). Heals the tier's documented blind spot — an in-place content
    * rewrite that preserves the parent dir's mtime — without turning the
    * tier off permanently. SQL spelling:
    * `REFRESH INDEX ON ... OPTIONS ('spark.sql.index.refresh.fullWalk'='true')`. */
  def refreshFullWalk: Boolean =
    get(IndexConf.RefreshFullWalk, "false").toBoolean
  /** Dirs whose stored mtime is within this window of its capture time
    * re-list unconditionally (mtime granularity can hide a same-tick
    * change; FAT-era filesystems tick at 2 s). */
  def refreshDirMtimeSlackMs: Long =
    get(IndexConf.RefreshDirMtimeSlack, "2000").toLong
  /** Full-scan min/max fallback for indexed columns whose footers carry
    * no usable statistics (INT96 timestamps, non-round-tripping truncated
    * binary bounds). Costs one extra data scan over ONLY the affected
    * files at create/refresh; zero cost when footer stats are usable. */
  def minMaxFallback: Boolean = get(IndexConf.MinMaxFallback, "true").toBoolean
  /** Seconds a cached metadata entry stays valid before being re-read
    * from the `_SUCCESS`-gated store (reference expires after 12 h,
    * Metastore.scala:60-65 — an EXTERNAL writer's refresh becomes
    * visible to a long-lived session within this window). 0 disables
    * caching entirely. */
  def metastoreCacheTtlSeconds: Long =
    get(IndexConf.MetastoreCacheTtl, "43200").toLong
  /** Answer eligible unfiltered aggregates (count/min/max/distinct) over
    * indexed relations from index metadata alone — zero data files read
    * (see MetadataAggregateRule). Sound by construction; on by default. */
  def metadataOnlyAggregates: Boolean =
    get(IndexConf.MetadataOnlyAggregates, "true").toBoolean
  /** Re-point PLAIN parquet/orc reads at a committed index's FileIndex
    * (see AutoIndexSubstitutionRule). Off by default: enabling accepts
    * the index's appends-invisible staleness for plain reads too. */
  def autoIndexSubstitution: Boolean =
    get(IndexConf.AutoIndexSubstitution, "false").toBoolean
  /** Largest distinct-value set the metadata-only DISTINCT/count-distinct
    * path will materialize from dict/bitmap sketches before bailing to a
    * scan (driver holds the union once; executors hold per-slice sets). */
  def metadataDistinctMaxValues: Int =
    get(IndexConf.MetadataDistinctMaxValues, "100000").toInt
  /** Rewrite `ORDER BY col [DESC] LIMIT k` over an indexed relation into
    * the same sort+limit above an index-proven bound filter, so the scan
    * lists only files that can hold a top-k row (see TopKRewriteRule).
    * Sound by construction (degrades to the plain sort when no bound is
    * provable); on by default. */
  def topKRewrite: Boolean = get(IndexConf.TopKRewrite, "true").toBoolean
  /** Rewrite plain inner/semi equi-joins over an indexed relation into
    * the same join above an injected dim-key probe (IN-list under the
    * cap, min/max range + broadcast bloom past it), so the index prunes
    * fact FILES on a non-partition join key (see JoinPruneRule). Sound by
    * construction; the probe evaluates the dim once at optimize time, so
    * it only fires on selective-looking dims. */
  def joinPrune: Boolean = get(IndexConf.JoinPrune, "true").toBoolean
  /** Distinct-key cap for the join-prune IN variant (the probe collects
    * at most cap+1 keys; past it the bloom variant or the plain join). */
  def joinPruneMaxKeys: Int = get(IndexConf.JoinPruneMaxKeys, "10000").toInt
  /** Past the key cap, build a range + broadcast-bloom probe instead of
    * bailing — two more dim passes at optimize time, shuffle-volume ∝
    * join selectivity at execution. */
  def joinPruneBloom: Boolean = get(IndexConf.JoinPruneBloom, "true").toBoolean
  /** A dim with no Filter/Limit is probed only when its leaf scans are
    * under this many bytes (an unfiltered full-size dim holds every key —
    * probing it costs a scan and prunes nothing). */
  def joinPruneMaxDimBytes: Long =
    get(IndexConf.JoinPruneMaxDimBytes, (128L * 1024 * 1024).toString).toLong
  /** Refresh the source-dataspace index of a table as the final step of
    * every mutable-table maintenance op on it (keyed merge/delete,
    * compact, rebucket) — the opt-out of the appends-invisible staleness
    * contract for tables this engine itself mutates (see
    * graft.ops.IndexFreshness). Off by default. */
  def refreshAfterMaintenance: Boolean =
    get(IndexConf.RefreshAfterMaintenance, "false").toBoolean
}

object IndexConf {
  val MetastoreLocation = "spark.sql.index.metastore"
  val CreateIfNotExists = "spark.sql.index.createIfNotExists"
  val NumPartitions = "spark.sql.index.partitions"
  val FilterEnabled = "spark.sql.index.parquet.filter.enabled"
  val FilterType = "spark.sql.index.parquet.filter.type"
  val EagerLoading = "spark.sql.index.parquet.filter.eagerLoading"
  val DistributedPruningThreshold = "spark.sql.index.pruning.distributedThreshold"
  val RefreshDirManifest = "spark.sql.index.refresh.dirManifest"
  val RefreshDirManifestSchemes = "spark.sql.index.refresh.dirManifestSchemes"
  val RefreshFullWalk = "spark.sql.index.refresh.fullWalk"
  val RefreshDirMtimeSlack = "spark.sql.index.refresh.dirMtimeSlackMs"
  val MinMaxFallback = "spark.sql.index.minMaxFallback"
  val MetastoreCacheTtl = "spark.sql.index.metastore.cacheTtlSeconds"
  val MetadataOnlyAggregates = "spark.sql.index.metadataOnlyAggregates"
  val AutoIndexSubstitution = "spark.sql.index.autoSubstitution"
  val MetadataDistinctMaxValues = "spark.sql.index.metadataDistinctMaxValues"
  val TopKRewrite = "spark.sql.index.topKRewrite"
  val JoinPrune = "spark.sql.index.joinPrune"
  val JoinPruneMaxKeys = "spark.sql.index.joinPrune.maxKeys"
  val JoinPruneBloom = "spark.sql.index.joinPrune.bloom"
  val JoinPruneMaxDimBytes = "spark.sql.index.joinPrune.maxDimBytes"
  val RefreshAfterMaintenance = "spark.sql.index.refreshAfterMaintenance"

  def apply(spark: SparkSession): IndexConf = new IndexConf(spark)
  def apply(spark: SparkSession, overrides: Map[String, String]): IndexConf =
    new IndexConf(spark, overrides)
}

/** Filesystem metastore: one directory per (dataspace, table path) holding
  * `metadata.json`, the sketch parquet table, and a `_SUCCESS` commit
  * marker. Mirrors the reference's Metastore.scala:40-302 — same layout
  * idea (`{root}/{dataspace}/{scheme}/{path}`), same SaveMode matrix, same
  * `_SUCCESS`-gated loads — with a small synchronized LRU cache instead of
  * Guava.
  */
class Metastore(spark: SparkSession, conf: IndexConf) {

  val hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  def metastorePath: Path = {
    val p = new Path(conf.metastoreLocation)
    val fs = p.getFileSystem(hadoopConf)
    fs.makeQualified(p)
  }

  def fs: FileSystem = metastorePath.getFileSystem(hadoopConf)

  /** Index directory for a table path: {root}/{dataspace}/{scheme}/{path}. */
  def location(dataspace: String, tablePath: Path): Path = {
    val qualified = tablePath.getFileSystem(hadoopConf).makeQualified(tablePath)
    val uri = qualified.toUri
    val scheme = Option(uri.getScheme).getOrElse("file")
    val cleanPath = uri.getPath.stripPrefix("/").replace('/', '_')
    new Path(new Path(new Path(metastorePath, dataspace), scheme), cleanPath)
  }

  /** Index directory for a RESOLVED ROOT SET (multi-root / glob tables):
    * one metastore entry per distinct set. The directory name is the
    * first root's entry plus a digest of the full sorted set, so the
    * same roots always resolve to the same index and a different set
    * (even sharing the first root) never collides. Single-element sets
    * use the plain single-root location — unchanged layout. */
  def location(dataspace: String, roots: Seq[Path]): Path = {
    require(roots.nonEmpty, "at least one table root required")
    if (roots.size == 1) location(dataspace, roots.head)
    else {
      val primary = location(dataspace, roots.head)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(roots.map(_.toString).sorted.mkString("\u0000")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
      new Path(primary.getParent, s"${primary.getName}__multiroot_$digest")
    }
  }

  def exists(dataspace: String, roots: Seq[Path]): Boolean = {
    val dir = location(dataspace, roots)
    try fs.exists(new Path(dir, Metastore.SuccessFile)) catch { case _: Exception => false }
  }

  def exists(dataspace: String, tablePath: Path): Boolean = {
    val dir = location(dataspace, tablePath)
    try fs.exists(new Path(dir, Metastore.SuccessFile)) catch { case _: Exception => false }
  }

  /** SaveMode-aware create transaction (reference Metastore.scala:131-179):
    * Overwrite deletes and rebuilds; ErrorIfExists throws; Ignore no-ops;
    * Append is delegated to the body (Parquet support rejects it). Writes
    * `_SUCCESS` on success; cleans up on failure. */
  def create(dataspace: String, tablePath: Path, mode: SaveMode)(body: Path => Unit): Unit =
    create(dataspace, Seq(tablePath), mode)(body)

  def create(dataspace: String, roots: Seq[Path], mode: SaveMode)(body: Path => Unit): Unit = {
    val dir = location(dataspace, roots)
    val tablePath = roots.head
    Metastore.cacheInvalidate(dir.toString)
    val alreadyExists = exists(dataspace, roots)
    mode match {
      case SaveMode.Overwrite =>
        if (fs.exists(dir)) fs.delete(dir, true)
      case SaveMode.ErrorIfExists if alreadyExists =>
        throw new IllegalStateException(s"Index already exists for $tablePath at $dir")
      case SaveMode.Ignore if alreadyExists => return
      case SaveMode.Append =>
        throw new UnsupportedOperationException(
          "Append mode is not supported for Parquet index (reference ParquetMetastoreSupport.scala:104-107)")
      case _ =>
    }
    fs.mkdirs(dir)
    try {
      body(dir)
      // a body that commits as refresh does renames its own marker in
      val success = new Path(dir, Metastore.SuccessFile)
      if (!fs.exists(success)) fs.create(success, true).close()
    } catch {
      case e: Throwable =>
        // the body may have handed its index to the cache
        Metastore.cacheInvalidate(dir.toString)
        try fs.delete(dir, true) catch { case _: Exception => }
        throw e
    }
  }

  def delete(dataspace: String, tablePath: Path): Unit =
    delete(dataspace, Seq(tablePath))

  def delete(dataspace: String, roots: Seq[Path]): Unit = {
    val dir = location(dataspace, roots)
    Metastore.cacheInvalidate(dir.toString)
    try { fs.delete(dir, true); () } catch { case _: Exception => }
  }

  /** Load index metadata, `_SUCCESS`-gated, via the process-wide LRU
    * cache (reference caches the full catalog; we cache the metadata tree
    * and rebuild the cheap FileIndex wrapper per query). Entries expire
    * after the configured TTL (reference parity: 12 h,
    * Metastore.scala:60-65) so an EXTERNAL writer's refresh is picked up
    * by long-lived sessions without an explicit invalidate. */
  def load(dataspace: String, tablePath: Path): (Path, IndexMetadata) =
    load(dataspace, Seq(tablePath))

  def load(dataspace: String, roots: Seq[Path]): (Path, IndexMetadata) = {
    val dir = location(dataspace, roots)
    val meta = Metastore.cacheGet(dir.toString,
      ttlMillis = conf.metastoreCacheTtlSeconds * 1000L)(loadUncached(dir, roots.head))
    (dir, meta)
  }

  /** The committed metadata of the index in `dir`, read past the cache
    * and `_SUCCESS`-gated as [[load]] reads it cold: a refresh builds on
    * what is on disk under its lock, never on what this process cached. */
  private[index] def loadUncached(dir: Path, tablePath: Path): IndexMetadata = {
    if (!fs.exists(new Path(dir, Metastore.SuccessFile))) {
      throw new IllegalStateException(
        s"Index for $tablePath does not exist or is corrupt (no _SUCCESS in $dir). " +
          "Create it with spark.index.create first.")
    }
    val in = fs.open(new Path(dir, Metastore.MetadataFile))
    val bytes = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      bos.toByteArray
    } finally in.close()
    IndexMetadata.fromJsonString(new String(bytes, StandardCharsets.UTF_8))
  }

  /** Writes `meta` as the hidden `.metadata.json.tmp` of `dir`, which a
    * commit renames into place, and returns it as a cold [[load]] would
    * parse the file. */
  private[index] def stageMetadata(dir: Path, meta: IndexMetadata): IndexMetadata = {
    val json = IndexMetadata.toJsonString(meta)
    val out = fs.create(Metastore.staged(dir, Metastore.MetadataFile), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    IndexMetadata.fromJsonString(json)
  }
}

object Metastore {
  val SuccessFile = "_SUCCESS"
  val MetadataFile = "metadata.json"
  val SketchDir = "sketches"
  val FilesDir = "files"
  /** Directory-mtime manifest for incremental refresh listing. */
  val DirsDir = "dirs"

  /** The hidden name a commit file (`metadata.json`, `_SUCCESS`) is
    * written under before a commit renames it into `dir`. */
  def staged(dir: Path, name: String): Path = new Path(dir, s".$name.tmp")

  val Dataspace = "source"
  val CatalogDataspace = "catalog"

  private val MaxCached = 16
  // value = (metadata, loaded-at millis) so entries can TTL-expire
  private val cache = new mutable.LinkedHashMap[String, (IndexMetadata, Long)]()

  private def cacheGet(key: String, ttlMillis: Long)
      (loader: => IndexMetadata): IndexMetadata =
    cache.synchronized {
      val now = System.currentTimeMillis()
      cache.get(key) match {
        case Some((m, loadedAt)) if now - loadedAt < ttlMillis =>
          // refresh LRU position, keep the original load timestamp
          cache.remove(key); cache.put(key, (m, loadedAt)); m
        case stale =>
          scala.util.Try(loader) match {
            case scala.util.Success(m) =>
              cache.remove(key)
              if (cache.size >= MaxCached) cache.remove(cache.head._1)
              cache.put(key, (m, now))
              m
            case scala.util.Failure(e) =>
              // A TTL-expired entry that fails to reload usually means an
              // EXTERNAL writer's refresh is mid-mutation (`_SUCCESS` is
              // absent until it commits, which can take minutes at scale).
              // Serve the stale metadata instead of failing the reader; the
              // entry stays expired so every later call retries the reload
              // until the writer commits. Explicit invalidation (our own
              // create/delete/refresh) bypasses this by removing the entry,
              // and ttl = 0 means "no caching" — there stale is never
              // consulted and the failure propagates.
              stale match {
                case Some((m, _)) if ttlMillis > 0 => m
                case _ => throw e
              }
          }
      }
    }

  private[index] def cacheInvalidate(key: String): Unit =
    cache.synchronized { cache.remove(key); () }

  /** Installs `meta`, just committed to the index in `key`, as if a load
    * had read it now. */
  private[index] def cachePut(key: String, meta: IndexMetadata): Unit =
    cache.synchronized {
      cache.remove(key)
      if (cache.size >= MaxCached) cache.remove(cache.head._1)
      cache.put(key, (meta, System.currentTimeMillis()))
      ()
    }

  /** The cached metadata of the index in `key`, expired or not. */
  private[index] def cached(key: String): Option[IndexMetadata] =
    cache.synchronized(cache.get(key).map(_._1))

  def apply(spark: SparkSession): Metastore = new Metastore(spark, IndexConf(spark))
}
