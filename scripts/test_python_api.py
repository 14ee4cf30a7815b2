#!/usr/bin/env python3
"""Integration smoke test for the Python API (python/graft_index.py).

Runs with the driver-side pyspark against the packaged graft jar:
    python3 scripts/test_python_api.py
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "python"))

from pyspark.sql import SparkSession, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

JAR = os.path.join(os.path.dirname(__file__), "..",
                   "target", "scala-2.13", "parquetindexspark_2.13-0.1.0.jar")


def main():
    work = tempfile.mkdtemp(prefix="graft-py-")
    spark = (SparkSession.builder
             .master("local[4]")
             .appName("graft-python-api-test")
             .config("spark.driver.extraClassPath", os.path.abspath(JAR))
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.index.metastore", f"{work}/metastore")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from graft_index import QueryContext

    table = f"{work}/lineitem"
    (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
     .repartition(8, "l_orderkey").write.parquet(table))

    ctx = QueryContext(spark)
    ctx.index.create.mode("overwrite").indexBy("l_orderkey", "l_returnflag").parquet(table)
    assert ctx.index.exists.parquet(table), "index should exist"

    key = spark.read.parquet(table).agg({"l_orderkey": "min"}).collect()[0][0]
    indexed = ctx.index.parquet(table).filter(f"l_orderkey = {key}").collect()
    plain = spark.read.parquet(table).filter(f"l_orderkey = {key}").collect()
    assert sorted(map(str, indexed)) == sorted(map(str, plain)), "results differ"
    assert len(indexed) > 0

    # incremental refresh: append files, refresh, re-query
    (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
     .limit(100).repartition(2).write.mode("append").parquet(table))
    stats = ctx.index.refresh.parquet(table)
    assert stats == {"addedFiles": 2, "removedFiles": 0}, f"refresh stats: {stats}"
    indexed2 = ctx.index.parquet(table).filter(f"l_orderkey = {key}").collect()
    plain2 = spark.read.parquet(table).filter(f"l_orderkey = {key}").collect()
    assert sorted(map(str, indexed2)) == sorted(map(str, plain2)), "post-refresh differ"

    # multi-root: two sibling roots indexed as ONE set (list + glob)
    mr_a = f"{work}/mr/even"
    mr_b = f"{work}/mr/odd"
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.filter("l_orderkey % 2 = 0").repartition(2).write.parquet(mr_a)
    li.filter("l_orderkey % 2 = 1").repartition(2).write.parquet(mr_b)
    ctx.index.create.mode("overwrite").indexBy("l_orderkey").parquet(mr_a, mr_b)
    assert ctx.index.exists.parquet(mr_a, mr_b), "multi-root index should exist"
    assert ctx.index.exists.parquet(f"{work}/mr/*"), "glob should hit the same entry"
    assert not ctx.index.exists.parquet(mr_a), "single root is a different set"
    mr_rows = ctx.index.parquet(mr_a, mr_b).count()
    assert mr_rows == li.count(), (mr_rows, li.count())
    mr_stats = ctx.index.refresh.parquet(mr_a, mr_b)
    assert mr_stats == {"addedFiles": 0, "removedFiles": 0}, mr_stats
    ctx.index.delete.parquet(mr_a, mr_b)
    assert not ctx.index.exists.parquet(mr_a, mr_b), "multi-root delete failed"

    # ops surface: compact the small-file tail, refresh, re-query
    before = spark.read.parquet(table).count()
    cstats = ctx.ops.compact(table)
    assert cstats["compactedFiles"] == 10 and cstats["producedFiles"] >= 1, cstats
    rstats = ctx.index.refresh.parquet(table)
    assert rstats["removedFiles"] == 10, rstats
    assert spark.read.parquet(table).count() == before, "compaction lost rows"
    indexed3 = ctx.index.parquet(table).filter(f"l_orderkey = {key}").collect()
    assert sorted(map(str, indexed3)) == sorted(map(str, indexed2)), "post-compact differ"
    assert ctx.ops.vacuum(table) == 0

    # ---- index-backed pruning surface (ctx.prune) ----
    fact = ctx.index.parquet(table)
    plain_df = spark.read.parquet(table)
    want_top = sorted(
        (r.l_orderkey, r.l_linenumber) for r in plain_df
        .orderBy(plain_df.l_orderkey.desc(), plain_df.l_linenumber.desc())
        .limit(5).collect())
    pruned = ctx.prune.topk(fact, "l_orderkey", 5)
    got_top = sorted(
        (r.l_orderkey, r.l_linenumber) for r in pruned
        .orderBy(pruned.l_orderkey.desc(), pruned.l_linenumber.desc())
        .limit(5).collect())
    assert got_top == want_top, (got_top, want_top)
    dim = spark.createDataFrame([(key,)], ["k"])
    n_key = plain_df.filter(f"l_orderkey = {key}").count()
    assert ctx.prune.semi_join(
        ctx.index.parquet(table), dim, "l_orderkey", "k").count() == n_key
    assert ctx.prune.bloom_join(
        ctx.index.parquet(table), dim, "l_orderkey", "k").count() == n_key

    # each wrapper against the plain query, row for row
    def rows(df):
        return sorted(map(str, df.collect()))

    top_k = 5
    assert rows(ctx.prune.topk(fact, "l_orderkey", top_k, largest=False)
                .orderBy("l_orderkey", "l_linenumber").limit(top_k)) == \
        rows(plain_df.orderBy("l_orderkey", "l_linenumber").limit(top_k))
    parted = f"{work}/lineitem_by_flag"
    (spark.read.parquet(table).repartitionByRange(4, "l_returnflag", "l_orderkey")
     .write.partitionBy("l_returnflag").parquet(parted))
    ctx.index.create.mode("overwrite").indexBy("l_orderkey").parquet(parted)

    def per_group_top(df):
        w = Window.partitionBy("l_returnflag").orderBy(
            F.col("l_orderkey").desc(), "l_linenumber")
        return rows(df.withColumn("rn", F.row_number().over(w))
                    .filter(f"rn <= {top_k}")
                    .select("l_returnflag", "rn", "l_orderkey", "l_linenumber"))
    assert per_group_top(ctx.prune.topk_per_group(
        ctx.index.parquet(parted), "l_returnflag", "l_orderkey", top_k)) == \
        per_group_top(spark.read.parquet(parted))
    ctx.index.delete.parquet(parted)
    keys = spark.createDataFrame([(key,), (key + 1,), (key + 2,)], ["k"])
    want_join = rows(plain_df.join(keys, plain_df.l_orderkey == keys.k))
    assert rows(ctx.prune.semi_join(
        ctx.index.parquet(table), keys, "l_orderkey", "k")) == want_join
    assert rows(ctx.prune.bloom_join(
        ctx.index.parquet(table), keys, "l_orderkey", "k")) == want_join

    ctx.index.delete.parquet(table)
    assert not ctx.index.exists.parquet(table), "index should be gone"

    # ---- extended Canon domain through the Python surface: DOUBLE and
    # NESTED leaf columns index and prune like any other type ----
    fp_table = f"{work}/fp_table"
    (spark.range(0, 800)
        .select("id", (F.col("id") * 2.5).alias("price"),
                F.struct((F.col("id") % 40).alias("user_id")).alias("payload"))
        .repartition(4, "id").write.mode("overwrite").parquet(fp_table))
    ctx.index.create.mode("overwrite") \
        .indexBy("price", "payload.user_id").parquet(fp_table)
    got = sorted(r.id for r in ctx.index.parquet(fp_table)
                 .filter("price >= 100.0 AND price < 200.0 AND payload.user_id = 2")
                 .collect())
    want = sorted(r.id for r in spark.read.parquet(fp_table)
                  .filter("price >= 100.0 AND price < 200.0 AND payload.user_id = 2")
                  .collect())
    assert got == want and len(got) > 0, (got, want)
    ctx.index.delete.parquet(fp_table)

    # ---- pipeline surface (python/graft_pipeline.py) ----
    from graft_pipeline import Pipeline
    p = Pipeline(spark)
    docs = spark.createDataFrame(
        [(0, "spark window functions"), (1, "spark window functions"),
         (2, "unrelated words entirely"), (3, "window spark different")],
        ["doc_id", "text"])
    # exact dedup drops the verbatim twin (keeps the smaller id)
    kept = sorted(r.doc_id for r in p.dedup_exact(docs, "text", "doc_id").collect())
    assert kept == [0, 2, 3], kept
    # materialized search index: build even, append odd, conjunctive probe
    sidx = f"{work}/search_index"
    p.build_search_index(docs.filter("doc_id % 2 = 0"), "doc_id", "text", sidx)
    p.append_to_search_index(docs.filter("doc_id % 2 = 1"), "doc_id", "text", sidx)
    hits = sorted(r.doc_id for r in
                  p.search_all(spark, sidx, ["spark", "window"]).collect())
    assert hits == [0, 1, 3], hits
    scores = {r.doc_id: r.bm25 for r in
              p.bm25(spark, sidx, ["spark", "window"]).collect()}
    assert set(scores) == {0, 1, 3} and all(v > 0 for v in scores.values())
    # text signals are map-side columns
    sig = p.text_signals(docs).select("doc_id", "lang_pred", "gopher_pass")
    assert sig.count() == 4
    # integer-exact PageRank on the hand-computed 3-node cycle
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0)], ["src", "dst"])
    pr = {r.node: r.rank for r in
          p.page_rank(edges, "src", "dst", iters=1).collect()}
    assert pr == {0: 333333333, 1: 191666666, 2: 474999999}, pr
    # deterministic split: labels partition the ids
    sp = p.assign_split(docs, "doc_id", [("train", 0.8), ("test", 0.2)])
    assert sp.count() == 4 and set(
        r.split for r in sp.collect()) <= {"train", "test"}
    # trained selection models: DSIR weights rank the verbatim-target
    # docs above the off-target one; LR margins separate the classes
    target = docs.filter("doc_id = 0")
    w = {r.doc_id: r.logw_micro for r in
         p.dsir_weights(docs, target, "doc_id", "text", buckets=64).collect()}
    assert w[0] == w[1] and w[0] > w[2], w
    sel = sorted(r.doc_id for r in
                 p.dsir_select(docs, target, "doc_id", "text", k=2,
                               buckets=64).collect())
    assert sel == [0, 1], sel
    assert p.dsir_resample(docs, target, "doc_id", "text", k=2, salt="s1",
                           buckets=64).count() == 2
    kl = p.kl_divergence(docs, target, "doc_id", "text", buckets=64).collect()[0]
    assert kl.kl_num_micro > 0, kl
    m = {r.doc_id: r.margin_micro for r in
         p.logreg_score(docs, docs.filter("doc_id <= 1"),
                        docs.filter("doc_id >= 2"), "doc_id", "text",
                        buckets=256, iters=6, eta_milli=900).collect()}
    assert m[0] == m[1] and min(m[0], m[1]) > max(m[2], m[3]), m

    # URL canonicalization: two variants of one page normalize identically
    urls = spark.createDataFrame(
        [(1, "https://www.Ex.com/d?b=2&a=1#x"),
         (2, "HTTPS://ex.com:443/d/?a=1&b=2&utm_source=n")], ["id", "url"])
    n = {r.id: r.norm_url for r in p.normalize_url(urls, "url").collect()}
    assert n[1] == n[2] == "https://ex.com/d?a=1&b=2", n
    # edit-distance join: symmetric-delete blocking finds the typo pair
    names = spark.createDataFrame(
        [(1, "jonathan"), (2, "jonathon"), (3, "different")], ["id", "name"])
    ed = {(r.id_a, r.id_b): r.dist for r in
          p.edit_distance_pairs(names, "id", "name", max_dist=1).collect()}
    assert ed == {(1, 2): 1}, ed
    best = {r.id: (r.match, r.dist) for r in p.spell_correct(
        names.selectExpr("id", "substr(name, 2) AS q"),
        "id", "q", names.select("name"), "name", max_dist=1).collect()}
    assert best[1] == ("jonathan", 1) and best[2] == ("jonathon", 1), best
    # winnowing: a long shared run guarantees a match; index probe drops it
    run = "the quick brown fox jumps over the lazy dog again and again"
    wdocs = spark.createDataFrame(
        [(0, "intro " + run + " outro"),
         (2, "nothing in common here at all with anything"),
         (1, "other prefix " + run + " other suffix")], ["doc_id", "text"])
    wp = {(r.id_a, r.id_b) for r in
          p.winnow_pairs(wdocs, "doc_id", "text", min_shared=2).collect()}
    assert (0, 1) in wp and not any(2 in t for t in wp), wp
    widx = f"{work}/winnow_index"
    p.build_winnow_index(wdocs.filter("doc_id % 2 = 0"), "doc_id", "text", widx)
    assert p.dedup_against_winnow_index(
        wdocs.filter("doc_id = 1"), "doc_id", "text", widx,
        min_shared=2).count() == 0
    # blocklist gate: one AC pass flags the phrase carrier, gate drops it
    bl = p.blocklist_matches(wdocs, "doc_id", "text", ["lazy dog", "zzz"])
    blr = {r.doc_id: list(r.matched) for r in bl.collect()}
    assert blr == {0: ["lazy dog"], 1: ["lazy dog"]}, blr
    assert p.filter_blocked_phrases(
        wdocs, "text", ["lazy dog"]).count() == 1
    # streaming entity resolution: indexed variants catch the typo batch
    eidx = f"{work}/editdist_index"
    p.build_edit_distance_index(names.filter("id = 1"), "id", "name", eidx)
    em = p.match_against_edit_distance_index(
        names.filter("id = 2"), "id", "name", eidx).collect()
    assert len(em) == 1 and em[0].corpus_id == 1 and em[0].dist == 1, em
    assert p.dedup_against_edit_distance_index(
        names.filter("id = 2"), "id", "name", eidx).count() == 0
    # keyed table: upsert replaces + inserts, delete removes; stats exact
    kt = tempfile.mkdtemp() + "/kt"
    basedf = spark.createDataFrame(
        [(i, "v%d" % i) for i in range(20)], ["k", "v"])
    p.write_keyed_table(basedf, "k", kt, 4)
    touched, total, ups, carried = p.upsert_by_key(
        spark, kt, spark.createDataFrame(
            [(1, "NEW"), (50, "ins")], ["k", "v"]), "k", 4)
    assert total == 4 and ups == 2, (touched, total, ups, carried)
    got = {r.k: r.v for r in p.read_keyed_table(spark, kt).collect()}
    assert got[1] == "NEW" and got[50] == "ins" and len(got) == 21, got
    _, _, deleted, _ = p.delete_by_key(
        spark, kt, spark.createDataFrame([(50,), (999,)], ["k"]), "k", 4)
    assert deleted == 1
    assert p.read_keyed_table(spark, kt).count() == 20
    # layout migration: rebucket, then merge under the NEW count only
    p.rebucket_keyed_table(spark, kt, "k", 4, 8)
    try:
        p.upsert_by_key(spark, kt, spark.createDataFrame(
            [(2, "X")], ["k", "v"]), "k", 4)
        assert False, "old layout must be refused after rebucket"
    except Exception:
        pass
    p.upsert_by_key(spark, kt, spark.createDataFrame(
        [(2, "REB")], ["k", "v"]), "k", 8)
    got2 = {r.k: r.v for r in p.read_keyed_table(spark, kt).collect()}
    assert got2[2] == "REB" and got2[1] == "NEW" and len(got2) == 20, got2
    # containment decon from python: the quoting page drops
    quoted = spark.createDataFrame(
        [(1, " ".join("w%d" % i for i in range(40)) +
          " what is the capital of france answer paris today")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(9, "what is the capital of france answer paris today")],
        ["doc_id", "text"])
    assert p.decontaminate_containment(
        quoted, "doc_id", "text", bench, "doc_id", "text",
        shingle_k=3, threshold=0.6).count() == 0

    # SCD2 history: fold + incremental merge + as-of snapshot
    log = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (1, "2024-01-02 00:00:00", "a"),
         (1, "2024-01-03 00:00:00", "b"), (2, "2024-01-01 12:00:00", "x")],
        ["k", "t", "attr"]).selectExpr("k", "CAST(t AS TIMESTAMP) AS t", "attr")
    hist = p.scd2_from_change_log(log, "k", "t", ["attr"])
    assert hist.count() == 3, hist.collect()  # the 01-02 'a' collapses
    cur = {r.k: r.attr for r in hist.filter("is_current").collect()}
    assert cur == {1: "b", 2: "x"}, cur
    ht = tempfile.mkdtemp() + "/hist"
    p.scd2_write_history(log.filter("t < '2024-01-03'"), "k", "t",
                         ["attr"], ht, 4)
    touched, total, applied, _ = p.scd2_merge_changes(
        spark, ht, log.filter("t >= '2024-01-03'"), "k", "t", ["attr"], 4)
    assert total == 4 and applied == 1, (touched, total, applied)
    merged = p.scd2_read_history(spark, ht)
    assert merged.count() == 3
    asof = {r.k: r.attr for r in
            p.scd2_as_of(merged, "2024-01-02 06:00:00").collect()}
    assert asof == {1: "a", 2: "x"}, asof
    # hybrid retrieval: doc 0/1 lead both keyword and vector lists
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        ["doc_id", "embedding"])
    fused = p.hybrid_retrieve(docs, "doc_id", "text", embs, "doc_id",
                              "embedding", ["spark", "window"], [1.0, 0.0],
                              n_candidates=4, k=2)
    assert fused.collect()[0].id in (0, 1), fused.collect()
    # count-min sketch: exact in a wide grid, merge == one-shot
    toks = docs.selectExpr("explode(split(text, ' ')) AS term")
    cells = p.count_min_cells(toks, "term", depth=4, width=256)
    est = {r.item: r.est for r in p.cms_estimate_counts(
        cells, toks, "term", depth=4, width=256).collect()}
    assert est["spark"] == 3 and est["unrelated"] == 1, est
    hh = p.cms_heavy_hitters(toks, "term", min_count=3, depth=4, width=256)
    assert {r.item for r in hh.collect()} == {"spark", "window"}
    # scd2 lookup: facts pick the version valid at their instant
    facts = spark.createDataFrame(
        [(7, 1, "2024-01-02 12:00:00")], ["fid", "k", "ft"]) \
        .selectExpr("fid", "k", "CAST(ft AS TIMESTAMP) AS ft")
    lk = p.scd2_lookup_as_of(facts, "k", "ft", merged, "k", ["attr"])
    assert lk.collect()[0].state_attr == "a", lk.collect()
    # trigram index: cross-word substring served index-first
    tg = tempfile.mkdtemp() + "/trgm"
    p.trigram_append_segment(docs, "doc_id", "text", tg, "b0")
    tri = sorted(r.doc_id for r in p.trigram_search_substring(
        spark, tg, docs, "doc_id", "text", "park wind").collect())
    assert tri == [0, 1], tri
    # contrastive prep: negatives avoid positives, deterministic rank
    posdf = spark.createDataFrame([(0, 1), (1, 2)], ["q", "p"])
    negs = p.sample_negatives(posdf, "q", "p", corpus_size=50, k=3)
    rows = [(r.q_id, r.neg_id, r.rank) for r in negs.collect()]
    assert len(rows) == 6 and all(
        (q, n) not in {(0, 1), (1, 2)} for q, n, _ in rows), rows
    pairs = p.adjacent_chunk_pairs(docs, "doc_id", "text",
                                   chunk_tokens=2, stride=1)
    assert pairs.count() > 0 and pairs.columns == [
        "doc_id", "chunk_idx", "anchor", "positive"]
    # interval overlap join + entropy signal
    li = spark.createDataFrame([(1, 0, 100)], ["lid", "lo_a", "hi_a"])
    ri = spark.createDataFrame([(2, 50, 60), (3, 200, 300)],
                               ["rid", "lo_b", "hi_b"])
    ov = p.interval_overlap_join(li, "lo_a", "hi_a", ri, "lo_b", "hi_b",
                                 bucket_width=40)
    assert [r.rid for r in ov.collect()] == [2], ov.collect()
    ent = p.token_entropy(docs, "doc_id", "text")
    assert ent.filter("entropy_micro IS NOT NULL").count() == 4
    # expectations + exact outliers from python
    rep = {r.check: (r.violations, r.passed) for r in p.expect_check(
        docs, [("has_text", "length(text) > 0"),
               ("id_small", "doc_id < 2")]).collect()}
    assert rep["has_text"] == (0, True) and rep["id_small"] == (2, False), rep
    odf = spark.createDataFrame(
        [(i, "g", 100) for i in range(50)] + [(99, "g", 99999)],
        ["id", "g", "v"])
    out = p.z_score_outliers(odf, "g", "v", z=3)
    assert [r.id for r in out.collect()] == [99]
    # portable HLL: tiny-set estimate is near-exact (linear counting)
    distinct_est = p.hll_approx_distinct(toks, "term", p=10)
    true_distinct = toks.distinct().count()
    assert abs(distinct_est - true_distinct) <= max(2, 0.2 * true_distinct), \
        (distinct_est, true_distinct)
    # quarantine ingest: malformed payload routes with raw evidence
    pay = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, '{"k": bad')], ["id", "payload"])
    tagged = p.parse_json_tagged(pay, "payload", "k INT")
    routed = {r.id: (r.k, r.quarantined) for r in tagged.collect()}
    assert routed == {1: (5, False), 2: (None, True)}, routed
    # bounded-heap per-group top-k: (key desc, id asc) ranks
    tdf = spark.createDataFrame(
        [("a", 5, 1), ("a", 9, 2), ("a", 9, 3), ("b", 1, 4)],
        ["g", "k", "i"])
    tk = {(r.group, r.rank): (r.key, r.id)
          for r in p.top_k_by_group(tdf, "g", "k", "i", 2).collect()}
    assert tk == {("a", 1): (9, 2), ("a", 2): (9, 3), ("b", 1): (1, 4)}, tk
    # html -> text: markup strips, entities decode
    hdf = spark.createDataFrame(
        [(1, "<p>Fish &amp; chips</p><script>x<1</script>")], ["id", "html"])
    assert p.html_to_text(hdf, "html").collect()[0].clean_text == \
        "Fish & chips"
    # mini-batch kmeans: two planted clusters fold across two batches
    vdf = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.2, 0.0]), (3, [0.0, 1.2])],
        ["vec_id", "embedding"])
    st = p.kmeans_state_init(
        vdf.filter("vec_id < 2"), "vec_id", "embedding", 2)
    st = p.kmeans_state_update(
        st, vdf.filter("vec_id >= 2"), "vec_id", "embedding")
    rep = {(r.cluster, r.i): (r.n, r.c_milli)
           for r in p.kmeans_state_report(st).collect()}
    assert rep[(0, 1)] == (2, 1100.0) and rep[(1, 2)] == (2, 1100.0), rep

    # sequence packing: doc of 5 tokens splits across 4-token windows
    pdf = spark.createDataFrame(
        [("A", 1, 3), ("A", 2, 5)], ["src", "d", "n"])
    sl = {(r.seq_id, r.doc): (r.seq_off, r.doc_off, r.n_tokens, r.eod)
          for r in p.pack_sequences(pdf, "src", "d", "n", 4).collect()}
    assert sl == {(0, 1): (0, 0, 3, True), (0, 2): (3, 0, 1, False),
                  (1, 2): (0, 1, 4, True)}, sl
    # materialized sequences: content tiles the stream
    mdf = spark.createDataFrame(
        [("A", 1, ["x", "y", "z"]), ("A", 2, ["w"])], ["src", "d", "tk"])
    mat = {r.seq_id: r.tokens for r in p.materialize_sequences(
        mdf, "src", "d", "tk", 3).collect()}
    assert mat == {0: ["x", "y", "z"], 1: ["w"]}, mat
    # stride schedule: weight-2 source appears first and twice as often
    sdf = spark.createDataFrame(
        [("A", k) for k in range(4)] + [("B", k) for k in range(4)],
        ["shard", "seq_id"])
    sched = [r.shard for r in p.stride_schedule(
        sdf, "shard", "seq_id", {"A": 2.0, "B": 1.0})
        .orderBy("step").collect()]
    assert sched[:3] == ["A", "A", "B"], sched
    # funnel + retention from python
    from datetime import datetime
    edf = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "view"),
         (1, datetime(2024, 1, 2), "buy"),
         (2, datetime(2024, 1, 10), "view")],
        ["u", "t", "a"])
    fc = {r.step: r.n_users for r in p.funnel_counts(
        edf, "u", "t", "a", ["view", "buy"]).collect()}
    assert fc == {1: 2, 2: 1}, fc
    ret = {(r.cohort_period, r.period_offset): r.n_users
           for r in p.retention_cohorts(edf, "u", "t", 7).collect()}
    # both of user 1's events share a week -> one active (user, period)
    # row each; both users at offset 0 of their own cohorts
    assert sum(ret.values()) == 2 and \
        all(k[1] == 0 for k in ret), ret
    # gap-filled resample: silent buckets come back as zeros
    gf = p.gap_fill_counts(edf, "u", "t", "u", bucket_seconds=86400)
    # u1 spans 2 adjacent days, u2 one day -> 3 rows, none silent
    assert gf.count() == 3 and gf.filter("n_events = 0").count() == 0
    # data-derived stride schedule matches the dict variant
    wdf = spark.createDataFrame([("A", 2.0), ("B", 1.0)],
                                ["shard", "weight"])
    sched_by = [r.shard for r in p.stride_schedule_by(
        sdf, "shard", "seq_id", wdf).orderBy("step").collect()]
    assert sched_by == sched, (sched_by, sched)
    # data card: one grouped pass over the curation signals
    card = p.corpus_data_card(
        docs.selectExpr("concat('s', doc_id % 2) AS src", "text"),
        "src", "text").collect()
    assert len(card) == 2 and \
        all(r.n_docs >= 1 and r.avg_quality is not None for r in card)
    # incremental data card: two appends merge to the full corpus card
    cdir = f"{work}/card_seg"
    cdocs = docs.selectExpr("doc_id", "concat('s', doc_id % 2) AS src",
                            "text")
    n_total = cdocs.count()
    mid = n_total // 2
    p.append_data_card_segment(
        cdocs.filter(f"doc_id <= {mid}"), "src", "text", cdir, "b0")
    p.append_data_card_segment(
        cdocs.filter(f"doc_id > {mid}"), "src", "text", cdir, "b1")
    icard = p.read_data_card(spark, cdir).collect()
    assert sum(r.n_docs for r in icard) == n_total, icard
    # HLL segments: two appends read back as the merged sketch
    hdir = f"{work}/hll_seg"
    p.hll_append_registers_segment(toks.limit(20), "term", hdir, "b0", p=8)
    p.hll_append_registers_segment(toks, "term", hdir, "b1", p=8)
    merged = p.hll_read_registers(spark, hdir, p=8)
    one_shot = p.hll_registers(toks, "term", p=8)
    # any-subset ∪ full = full under register-wise max, whatever rows
    # limit() picked — merged must equal the one-shot sketch exactly
    sym_diff = merged.exceptAll(one_shot).count() \
        + one_shot.exceptAll(merged).count()
    assert sym_diff == 0, sym_diff
    assert p.hll_compact_registers_segments(spark, hdir, p=8) == 2

    print(f"PYTHON API OK: {len(indexed)} rows matched, "
          "lifecycle+refresh+compact+pipeline complete")
    spark.stop()


if __name__ == "__main__":
    main()
