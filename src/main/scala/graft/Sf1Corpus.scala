package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a FULL 10× replica of an sf dir — every table, with
  * foreign keys kept consistent so join/aggregate work scales the way a
  * real 10× corpus would — for a whole-suite one-decade-up bench.
  * Construction is structure-preserving, not row duplication (per-replica
  * key shifts and text suffixes, applied to every table):
  *
  *   - `region`/`nation`: copied unchanged (fixed-size dimensions —
  *     real TPC-H keeps them constant across scale factors);
  *   - keyed tables shift every replica's keys by `i × (max key + 1)`
  *     of the REFERENCED table, so `lineitem→orders/part/supplier` and
  *     `orders→customer` joins match exactly within each replica and
  *     never across — per-key group sizes and join fan-outs are
  *     preserved, totals scale 10×;
  *   - `customer`/`supplier` names get a per-replica "_iii" suffix
  *     (pairwise distance 3 between replicas, so edit-distance-1
  *     structure stays intra-replica); `part` text columns are copied
  *     (value-domain repetition across replicas, like real catalogs);
  *   - `events`: event/user ids shift, timestamps copy — 10× event
  *     density over the same time range, sessions stay intra-user;
  *   - `documents`: every word of replicas 1-9 gets a replica suffix
  *     (intra-replica shingle/dup structure exact, cross-replica
  *     Jaccard 0); `embeddings`: vectors circularly rotated per replica
  *     (intra-replica cosines exact, cross-replica geometry scrambled).
  *
  * Create-once behind a versioned marker (bump [[Version]] when the
  * construction changes). ~1.7 GB on disk from sf0.1.
  */
object Sf1Corpus {

  private val Version = "sf1full.v1"
  private val Replicas = 10

  /** Builds (once) and returns the 10× corpus dir for `sfDir`. */
  def ensure(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val scratch = "/root/repo/target/graft_scratch/sf1full"
    val bigDir = s"$scratch/sf1full_data"
    val marker = new java.io.File(s"$scratch/sf1full_data_ready")
    val fresh = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == Version
    if (fresh) return bigDir

    marker.delete() // a torn build must not leave a vouching marker
    new java.io.File(bigDir).mkdirs()

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")
    def replicas(df: DataFrame)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Replicas).map(i => mk(df, i)).reduce(_.unionAll(_))
    def spanOf(df: DataFrame, c: String, what: String): Long = {
      val r = df.agg(max(col(c))).head
      require(!r.isNullAt(0), s"empty input: $what under $sfDir has no rows")
      r.getLong(0) + 1L
    }
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$bigDir/$name.parquet")
    /** Shift the named int64 key columns by i×span, suffix the named
      * name column (replicas 1+), copy everything else in order. */
    def scaled(df: DataFrame, i: Int, shifts: Map[String, Long],
        suffixed: Set[String]): DataFrame =
      df.select(df.columns.toSeq.map { c =>
        shifts.get(c) match {
          case Some(span) => (col(c) + lit(i * span)).as(c)
          case None if suffixed(c) && i > 0 =>
            concat(col(c), lit(s"_$i$i$i")).as(c)
          case None => col(c)
        }
      }: _*)

    // fixed dims: straight copies
    tbl("region").coalesce(1).write.mode("overwrite")
      .parquet(s"$bigDir/region.parquet")
    tbl("nation").coalesce(1).write.mode("overwrite")
      .parquet(s"$bigDir/nation.parquet")

    val cust = tbl("customer")
    val custSpan = spanOf(cust, "c_custkey", "customer")
    write(replicas(cust)(scaled(_, _, Map("c_custkey" -> custSpan),
      Set("c_name"))), "customer", 8)

    val supp = tbl("supplier")
    val suppSpan = spanOf(supp, "s_suppkey", "supplier")
    write(replicas(supp)(scaled(_, _, Map("s_suppkey" -> suppSpan),
      Set("s_name"))), "supplier", 8)

    val part = tbl("part")
    val partSpan = spanOf(part, "p_partkey", "part")
    write(replicas(part)(scaled(_, _, Map("p_partkey" -> partSpan),
      Set.empty)), "part", 8)

    val orders = tbl("orders")
    val orderSpan = spanOf(orders, "o_orderkey", "orders")
    write(replicas(orders)(scaled(_, _,
      Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan),
      Set.empty)), "orders", 24)

    write(replicas(tbl("lineitem"))(scaled(_, _,
      Map("l_orderkey" -> orderSpan, "l_partkey" -> partSpan,
        "l_suppkey" -> suppSpan),
      Set.empty)), "lineitem", 40)

    val events = tbl("events")
    val eventSpan = spanOf(events, "event_id", "events")
    val userSpan = spanOf(events, "user_id", "events")
    write(replicas(events)(scaled(_, _,
      Map("event_id" -> eventSpan, "user_id" -> userSpan),
      Set.empty)), "events", 24)

    val docs = tbl("documents")
    val docSpan = spanOf(docs, "doc_id", "documents")
    write(replicas(docs) { (d, i) =>
      val txt =
        if (i == 0) $"text"
        else array_join(
          transform(split($"text", " "), w => concat(w, lit(s"_$i"))), " ")
      d.select(($"doc_id" + lit(i * docSpan)).as("doc_id"), txt.as("text"),
        $"lang", $"source", length(txt).cast("long").as("n_chars"))
    }, "documents", 40)

    val emb = tbl("embeddings")
    val vecSpan = spanOf(emb, "vec_id", "embeddings")
    write(replicas(emb) { (e, i) =>
      val rot =
        if (i == 0) $"embedding"
        else concat(
          slice($"embedding", lit(i + 1), size($"embedding") - lit(i)),
          slice($"embedding", lit(1), lit(i)))
      e.select(($"vec_id" + lit(i * vecSpan)).as("vec_id"),
        rot.as("embedding"), $"label")
    }, "embeddings", 40)

    java.nio.file.Files.write(marker.toPath, Version.getBytes("UTF-8"))
    bigDir
  }
}
