package graft.index

import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Driver-side index metadata SUMMARY, persisted as versioned JSON at
  * `<indexDir>/metadata.json` (design delta vs the reference's Kryo blob —
  * SURVEY.md §7.1 #4): table path, schemas, partition values, counts.
  * Per-file entries and row-group statistics live in the sibling
  * `files` parquet table (written straight from the stats job's
  * executors — they never materialize on the driver at create), and
  * sketches in the `sketches` parquet table (see SketchStore). This keeps
  * metadata.json O(partitions), not O(files × blocks × columns).
  */
case class IndexMetadata(
    version: Int,
    tablePath: String,
    dataSchema: StructType,
    indexSchema: StructType,
    partitionSchema: StructType,
    sketchKind: Option[String],
    partitionValues: Seq[Seq[Option[String]]],
    fileCount: Long,
    totalBytes: Long,
    source: String = Sources.Parquet,
    tablePaths: Seq[String] = Nil) {

  def indexedColumns: Set[String] = indexSchema.fieldNames.toSet

  /** Every root this index covers: `tablePaths` when the index was
    * created over several roots (or a glob), else the single
    * `tablePath`. Single-root indexes keep `tablePaths` EMPTY so their
    * JSON (and version) is unchanged from pre-multi-root binaries. */
  def rootPathStrings: Seq[String] =
    if (tablePaths.nonEmpty) tablePaths else Seq(tablePath)
}

/** One data-file block location (host list for an offset range). */
case class BlockLoc(offset: Long, length: Long, hosts: Seq[String])

case class FileEntry(
    path: String,
    size: Long,
    modificationTime: Long,
    blocks: Seq[BlockStats],
    blockSize: Long = FileEntry.DefaultBlockSize,
    locations: Seq[BlockLoc] = Nil)

object FileEntry {
  val DefaultBlockSize: Long = 128L * 1024 * 1024
}

/** One row of the `files` parquet table: flat primitives + JSON-encoded
  * nested parts so both Spark jobs and parquet-hadoop Group reads handle
  * it without converters. */
case class FileStatsRow(
    partitionIdx: Int,
    path: String,
    size: Long,
    modificationTime: Long,
    blockSize: Long,
    locationsJson: String,
    schemaJson: String,
    blocksJson: String,
    rowCount: Long)

/** One indexed file as every metadata computation reads it: its
  * partition and parsed row-group stats and, where the listing columns
  * were read, its path and `entry`, the listing entry a kept file's
  * FileStatus is built from (both null otherwise). `listing` is
  * evaluated on the first read of `entry`. */
final class FileRow(
    val partitionIdx: Int, val blocks: Seq[BlockStats], val path: String,
    listing: => FileEntry) {
  lazy val entry: FileEntry = listing
}

object FileRow {
  /** A cached driver row over a row of the shared files-table cache: the
    * listing entry is parsed on first use, after which the row holds the
    * entry alone (scalac drops a field read only by a lazy initializer). */
  def apply(r: FileStatsRow): FileRow =
    new FileRow(r.partitionIdx, IndexMetadata.blocksFromJsonString(r.blocksJson), r.path,
      FileEntry(r.path, r.size, r.modificationTime, Nil, r.blockSize,
        IndexMetadata.locationsFromJsonString(r.locationsJson)))
}

object IndexMetadata {

  /** StructField-metadata marker for ELEMENT-DOMAIN index fields: the
    * table column is `array<elementType>`, the index field carries the
    * element type, and its stats/sketches describe element VALUES (so
    * only element-membership predicates — `array_contains(col, v)` — may
    * consult them; row-domain consumers like metadata-only aggregates,
    * top-k bounds and null reasoning must skip such fields). */
  val ArrayElementKey = "graft.arrayElement"

  def isArrayElement(f: StructField): Boolean =
    f.metadata.contains(ArrayElementKey) && f.metadata.getBoolean(ArrayElementKey)

  /** StructField-metadata marker for KEY-DOMAIN index fields: the table
    * column is `map<keyType, _>`, the index field carries the KEY type,
    * and its stats/sketches describe key VALUES — only key-membership
    * predicates (`map_contains_key(col, k)`, `col[k] = v` with a
    * non-null literal v) may consult them; same row-domain exclusions
    * as [[ArrayElementKey]]. */
  val MapKeyKey = "graft.mapKey"

  def isMapKey(f: StructField): Boolean =
    f.metadata.contains(MapKeyKey) && f.metadata.getBoolean(MapKeyKey)

  /** StructField-metadata key for ELEMENT-DOMAIN fields whose leaf sits
    * INSIDE an array of structs (`events.type` over
    * `events: array<struct<type,...>>`): the value is the dotted path of
    * the ARRAY column itself (`events`), so the stats builder knows
    * where the repeated level splits the physical leaf path
    * (`events.list.element.type` in parquet; LIST child struct in ORC).
    * Always set together with [[ArrayElementKey]] — the fold treats the
    * field as an ordinary element domain. */
  val ArrayPrefixKey = "graft.arrayPrefix"

  def arrayPrefixOf(f: StructField): Option[String] =
    if (f.metadata.contains(ArrayPrefixKey)) Some(f.metadata.getString(ArrayPrefixKey))
    else None

  /** StructField-metadata marker for VALUE-DOMAIN index fields of
    * `map<primitive, primitive>` columns: the index field is NAMED
    * `<mapCol>#value` ([[mapValueFieldName]]), carries the VALUE type,
    * and its stats/sketches describe entry VALUES — `m[k] = v` prunes by
    * value membership of v (the matching entry (k, v) has value v) IN
    * ADDITION to key membership of k; same row-domain exclusions as
    * [[ArrayElementKey]]. */
  val MapValueKey = "graft.mapValue"

  def isMapValue(f: StructField): Boolean =
    f.metadata.contains(MapValueKey) && f.metadata.getBoolean(MapValueKey)

  /** Reserved name suffix for map value-domain index fields. A '#' keeps
    * it out of the dotted-path grammar resolveLeaf parses, so it can
    * never alias a real nested leaf; index creation rejects tables whose
    * own columns collide with a generated name. */
  val MapValueSuffix = "#value"

  def mapValueFieldName(mapCol: String): String = mapCol + MapValueSuffix

  def mapValueBase(fieldName: String): String = fieldName.stripSuffix(MapValueSuffix)

  /** True for any field whose stats describe collection MEMBERS (array
    * elements / map keys / map values) instead of row values — every
    * row-domain consumer (metadata-only aggregates, top-k bounds, null
    * reasoning, the min/max full-scan fallback) must skip such fields. */
  def isElementDomain(f: StructField): Boolean =
    isArrayElement(f) || isMapKey(f) || isMapValue(f)

  /** Stats-domain code shipped to footer-reading executors: 0 = row
    * values, 1 = array elements (including struct leaves under ONE
    * repeated level — [[ArrayPrefixKey]] locates the split), 2 = map
    * keys, 3 = map values (decides which physical leaf the dotted path
    * binds to and suppresses per-row null counts for the collection
    * domains). */
  def domainOf(f: StructField): Int =
    if (isArrayElement(f)) 1
    else if (isMapKey(f)) 2
    else if (isMapValue(f)) 3
    else 0

  // v2: sketch table keyed by normalized file path + sorted by (file,
  // column) for pruned query-time reads.
  // v3: per-file stats moved out of metadata.json into the `files`
  // parquet table (written by the stats job's executors); metadata.json
  // is an O(partitions) summary. Older indexes must be rebuilt.
  // v4: collection-domain index fields (array ELEMENT / map KEY markers
  // [[ArrayElementKey]]/[[MapKeyKey]]): their stats describe members,
  // not rows. A pre-v4 binary would misread such a field as row-domain
  // (e.g. run min() over the raw map column in the stats fallback), so
  // the version gate must reject rather than misinterpret.
  // v5: array-of-struct leaves ([[ArrayPrefixKey]]) and map VALUE
  // domains ([[MapValueKey]]) — a v4 binary would bind the leaf path to
  // the wrong physical column / treat `m#value` as a row column, so
  // again: reject, don't misread.
  // v6: MULTI-ROOT tables (`tablePaths` carries several roots — a glob
  // or an explicit root list). A pre-v6 binary would refresh/list only
  // `tablePath` and silently drop the other roots' files, so the gate
  // must reject, not misread. Single-root indexes keep writing their
  // schema-implied version (3..5) and stay readable by older binaries.
  val CurrentVersion = 6

  /** Oldest metadata version this binary reads correctly. v3/v4 indexes
    * differ from v5 only by which field markers CAN appear, all of which
    * this binary understands — so scalar-only v3 indexes keep working
    * across the upgrade instead of forcing a rebuild. */
  val MinReadableVersion = 3

  /** The LOWEST version that still describes `indexSchema` — so an index
    * using no new-domain features stays readable by older binaries
    * (whose strict gates exist to reject only what they would MISread).
    * Multi-root indexes always write v6: an older binary would treat
    * them as single-root and silently lose roots. */
  def versionFor(indexSchema: StructType, multiRoot: Boolean = false): Int =
    if (multiRoot) 6
    else if (indexSchema.fields.exists(f => arrayPrefixOf(f).isDefined || isMapValue(f))) 5
    else if (indexSchema.fields.exists(f => isArrayElement(f) || isMapKey(f))) 4
    else 3

  /** Render a Catalyst-internal partition value as a string (via Cast to
    * string), parse back with [[castFromString]]. */
  def castToString(dt: DataType, v: Any): Option[String] =
    Option(v).map { x =>
      String.valueOf(Cast(Literal(x, dt), StringType, Some("UTC")).eval(null))
    }

  def castFromString(dt: DataType, s: Option[String]): Any =
    s.map { str =>
      Cast(Literal(UTF8String.fromString(str), StringType), dt, Some("UTC")).eval(null)
    }.orNull

  /** Parse + value-normalize a data file's Hive `k=v` partition path
    * segments relative to `root` (nulls for `__HIVE_DEFAULT_PARTITION__`;
    * each value round-tripped through its partition type's cast so `k=01`
    * and the metadata's "1" can't fork a duplicate partition). Shared by
    * the distributed refresh listing's executor-side parse (via the
    * [[graft.functions.ParsePartitionValues]] kernel) — a layout drift
    * (depth or column-name change) fails fast with a rebuild hint. */
  def parsePartitionPath(path: String, root: String,
      fieldNames: Seq[String], fieldTypes: Seq[DataType]): Array[String] = {
    val rel = path.stripPrefix(root).stripPrefix("/")
    val segs = rel.split('/').dropRight(1).toSeq
    if (fieldNames.isEmpty) Array.empty[String]
    else {
      require(segs.length == fieldNames.length,
        s"partition depth changed under $root at $path " +
          "(rebuild the index with create.mode(\"overwrite\"))")
      segs.zipWithIndex.map { case (seg, i) =>
        val eq = seg.indexOf('=')
        require(eq > 0, s"non-partition directory '$seg' under partitioned table $root")
        val kName = org.apache.spark.sql.graft.SparkInternals
          .unescapePathName(seg.substring(0, eq))
        require(kName.equalsIgnoreCase(fieldNames(i)),
          s"partition column changed ($kName vs ${fieldNames(i)}); " +
            "rebuild the index with create.mode(\"overwrite\")")
        val raw = org.apache.spark.sql.graft.SparkInternals
          .unescapePathName(seg.substring(eq + 1))
        val opt = if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)
        castToString(fieldTypes(i), castFromString(fieldTypes(i), opt)).orNull
      }.toArray
    }
  }

  // ---- JSON codec ------------------------------------------------------

  private def canonToJson(v: Any): JValue = v match {
    case l: Long => JObject("l" -> JLong(l))
    case s: String => JObject("s" -> JString(s))
  }

  private def canonFromJson(j: JValue): Any = j match {
    case JObject(fields) =>
      fields.head match {
        case ("l", JLong(l)) => l
        case ("l", JInt(i)) => i.toLong
        case ("s", JString(s)) => s
        case other => throw new IllegalArgumentException(s"bad canon json $other")
      }
    case other => throw new IllegalArgumentException(s"bad canon json $other")
  }

  private def statsToJson(st: ColumnStats): JValue = JObject(
    "min" -> st.min.map(canonToJson).getOrElse(JNothing),
    "max" -> st.max.map(canonToJson).getOrElse(JNothing),
    "nullCount" -> st.nullCount.map(JLong(_): JValue).getOrElse(JNothing))

  private def statsFromJson(j: JValue): ColumnStats = ColumnStats(
    min = (j \ "min").toOption.map(canonFromJson),
    max = (j \ "max").toOption.map(canonFromJson),
    nullCount = (j \ "nullCount").toOption.map {
      case JLong(l) => l
      case JInt(i) => i.toLong
      case other => throw new IllegalArgumentException(s"bad nullCount $other")
    })

  private def blockToJson(b: BlockStats): JValue = JObject(
    "rowCount" -> JLong(b.rowCount),
    "columns" -> JObject(b.columns.toList.map { case (k, v) => k -> statsToJson(v) }))

  private def blockFromJson(j: JValue): BlockStats = BlockStats(
    rowCount = (j \ "rowCount") match {
      case JLong(l) => l
      case JInt(i) => i.toLong
      case other => throw new IllegalArgumentException(s"bad rowCount $other")
    },
    columns = (j \ "columns") match {
      case JObject(fields) => fields.map { case (k, v) => k -> statsFromJson(v) }.toMap
      case _ => Map.empty
    })

  private def jlong(j: JValue): Long = j match {
    case JLong(l) => l
    case JInt(i) => i.toLong
    case other => throw new IllegalArgumentException(s"expected long, got $other")
  }

  /** Per-file block stats ↔ compact JSON (the `blocksJson` column of the
    * files table; parsed executor-side in the distributed prune). */
  def blocksToJsonString(blocks: Seq[BlockStats]): String =
    JsonMethods.compact(JsonMethods.render(JArray(blocks.toList.map(blockToJson))))

  def blocksFromJsonString(s: String): Seq[BlockStats] =
    JsonMethods.parse(s).asInstanceOf[JArray].arr.map(blockFromJson)

  def locationsToJsonString(locs: Seq[BlockLoc]): String =
    JsonMethods.compact(JsonMethods.render(JArray(locs.toList.map(l =>
      JArray(List(JLong(l.offset), JLong(l.length),
        JArray(l.hosts.toList.map(JString(_): JValue))))))))

  def locationsFromJsonString(s: String): Seq[BlockLoc] =
    JsonMethods.parse(s).asInstanceOf[JArray].arr.map {
      case JArray(List(off, len, JArray(hosts))) =>
        BlockLoc(jlong(off), jlong(len), hosts.map(_.asInstanceOf[JString].s))
      case other => throw new IllegalArgumentException(s"bad location json $other")
    }

  def toJsonString(m: IndexMetadata): String = {
    val j = JObject(
      "version" -> JInt(m.version),
      "tablePath" -> JString(m.tablePath),
      "dataSchema" -> JString(m.dataSchema.json),
      "indexSchema" -> JString(m.indexSchema.json),
      "partitionSchema" -> JString(m.partitionSchema.json),
      "sketchKind" -> m.sketchKind.map(JString(_): JValue).getOrElse(JNothing),
      "partitionValues" -> JArray(m.partitionValues.toList.map(p =>
        JArray(p.toList.map(_.map(JString(_): JValue).getOrElse(JNull))))),
      "fileCount" -> JLong(m.fileCount),
      "totalBytes" -> JLong(m.totalBytes),
      "source" -> JString(m.source),
      // only multi-root (v6) indexes carry the list — single-root JSON
      // stays byte-compatible with older readers
      "tablePaths" -> (if (m.tablePaths.size > 1)
        JArray(m.tablePaths.toList.map(JString(_): JValue)) else JNothing))
    JsonMethods.compact(JsonMethods.render(j))
  }

  def fromJsonString(s: String): IndexMetadata = {
    val j = JsonMethods.parse(s)
    val version = (j \ "version") match {
      case JInt(i) => i.toInt
      case JLong(l) => l.toInt
      case other => throw new IllegalArgumentException(s"bad version $other")
    }
    require(version >= MinReadableVersion && version <= CurrentVersion,
      s"unsupported index metadata version $version " +
        s"(this binary reads $MinReadableVersion..$CurrentVersion)")
    IndexMetadata(
      version = version,
      tablePath = (j \ "tablePath").asInstanceOf[JString].s,
      dataSchema = DataType.fromJson((j \ "dataSchema").asInstanceOf[JString].s).asInstanceOf[StructType],
      indexSchema = DataType.fromJson((j \ "indexSchema").asInstanceOf[JString].s).asInstanceOf[StructType],
      partitionSchema = DataType.fromJson((j \ "partitionSchema").asInstanceOf[JString].s).asInstanceOf[StructType],
      sketchKind = (j \ "sketchKind").toOption.collect { case JString(k) => k },
      partitionValues = (j \ "partitionValues").asInstanceOf[JArray].arr.map { p =>
        p.asInstanceOf[JArray].arr.map {
          case JNull => None
          case JString(v) => Some(v)
          case other => throw new IllegalArgumentException(s"bad partition value $other")
        }
      },
      fileCount = jlong(j \ "fileCount"),
      totalBytes = jlong(j \ "totalBytes"),
      // absent in pre-ORC metadata — those indexes are all parquet
      source = (j \ "source").toOption.collect { case JString(s) => s }
        .getOrElse(Sources.Parquet),
      // absent below v6 (single-root indexes)
      tablePaths = (j \ "tablePaths").toOption.collect {
        case JArray(ps) => ps.map(_.asInstanceOf[JString].s)
      }.getOrElse(Nil))
  }
}

/** Data-source formats the index engine can read. The reference ships a
  * single MetastoreSupport implementation (parquet) behind an extensible
  * trait (MetastoreSupport.scala); here the second format exercises that
  * axis for real. The index's OWN storage (files/sketch tables,
  * metadata.json) is parquet regardless — only the DATA files differ. */
object Sources {
  val Parquet = "parquet"
  val Orc = "orc"
  val All: Seq[String] = Seq(Parquet, Orc)

  def normalize(source: String): String = {
    val s = source.toLowerCase
    require(All.contains(s), s"unsupported index source format: $source " +
      s"(supported: ${All.mkString(", ")})")
    s
  }

  /** Multi-file read of data files in `source` format, with a
    * schema-merging inference job. */
  def read(spark: org.apache.spark.sql.SparkSession, source: String,
      paths: Seq[String]): org.apache.spark.sql.DataFrame =
    spark.read.format(normalize(source)).option("mergeSchema", "true").load(paths: _*)
}
