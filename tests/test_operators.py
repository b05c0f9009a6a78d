"""Spark operator tests: dedup, similarity, linking, canonicalization,
text analysis, multimodal plumbing, lineage/resume."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_dedup_exact(spark):
    from csvweb_spark.operators.dedup import dedup_exact, dedup_exact_keep_first
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")],
        "doc_id int, text string")
    groups = {r.keeper: r.n_dups for r in dedup_exact(df).collect()}
    assert groups == {1: 3, 2: 1, 5: 1}
    kept = sorted(r.doc_id for r in dedup_exact_keep_first(df).collect())
    assert kept == [1, 2, 5]


def test_shingles_and_jaccard(spark):
    from csvweb_spark.operators.dedup import shingles
    df = spark.createDataFrame([("abcd",), ("ab",)], "t string")
    rows = df.select(shingles(F.col("t"), 3).alias("s")).collect()
    assert rows[0].s == ["abc", "bcd"]
    assert rows[1].s == []


def test_dedup_ngram_jaccard_finds_near_dups(spark):
    from csvweb_spark.operators.dedup import dedup_ngram_jaccard
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "s"),
         (2, "the quick brown fox jumped", "s"),
         (3, "completely different words here", "s"),
         (4, "the quick brown fox jumps", "t")],
        "doc_id int, text string, source string")
    pairs = {(r.id_a, r.id_b) for r in dedup_ngram_jaccard(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs
    assert (1, 4) not in pairs  # different block


def test_minhash_lsh_recovers_exact_pairs(spark, docs):
    """LSH(verified) pairs must be a subset of brute-force exact pairs, and
    catch planted near-duplicates."""
    from csvweb_spark.operators.dedup import dedup_minhash_lsh
    small = docs.filter(F.col("doc_id") < 60).select("doc_id", "text")
    # plant near-dups: copy of doc 0 with a tiny suffix change
    base = small.filter(F.col("doc_id") == 0).select(
        F.lit(9000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"))
    d = small.unionByName(base)
    got = dedup_minhash_lsh(d, threshold=0.7).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (0, 9000) in pairs
    for r in got:
        assert r.jaccard >= 0.7


def test_minhash_lsh_bucket_cap_bounds_megabucket(spark):
    """1000 identical docs (a pathological mega-bucket): the bucket-size cap
    must drop the bucket instead of attempting a ~10^6-pair self-join, and
    the drop must be reported, not silent. Exact duplicates are
    dedup_exact's job; LSH only owes bounded work."""
    from csvweb_spark.operators.dedup import dedup_minhash_lsh
    boiler = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page text repeated on every mirror "
              "of this site with no variation at all").alias("text"))
    pairs, dropped = dedup_minhash_lsh(boiler, threshold=0.5,
                                       max_bucket_size=64,
                                       return_dropped=True)
    drop_rows = dropped.collect()
    assert len(drop_rows) >= 1  # every band collapses to one mega-bucket
    assert all(r.bucket_size == 1000 for r in drop_rows)
    assert pairs.count() == 0  # bounded: no quadratic candidate explosion


def test_asof_join(spark):
    """Nearest-prior (inclusive) as-of join via union + carry-forward:
    equal timestamps match, earlier markers carry forward, no prior
    marker -> NULL, tolerance expires stale matches."""
    from csvweb_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 100, 5), (1, 200, 6), (1, 205, 7), (2, 50, 8)],
        "u long, t long, ev long").selectExpr(
        "u", "timestamp_seconds(t) AS t", "ev")
    right = spark.createDataFrame(
        [(1, 100, 71), (1, 201, 72), (3, 10, 73)],
        "u long, t long, m long").selectExpr(
        "u", "timestamp_seconds(t) AS t", "m")
    out = {r.ev: (r.m, r.asof_ts) for r in asof_join(
        left, right, "t", ["u"], ["m"]).collect()}
    assert out[5][0] == 71      # equal ts matches (inclusive)
    assert out[6][0] == 71      # 200 < 201: still the earlier marker
    assert out[7][0] == 72      # 205 >= 201
    assert out[8] == (None, None)  # user 2 has no markers
    # tolerance: the 105-second-old match for ev=6 expires at 60s
    tol = {r.ev: r.m for r in asof_join(
        left, right, "t", ["u"], ["m"], tolerance_seconds=60).collect()}
    assert tol[5] == 71 and tol[7] == 72 and tol[6] is None
    # row-atomic match: a NULL payload in the MATCHED right row stays NULL
    # (must not stitch the payload from an older row onto a newer match)
    right_n = spark.createDataFrame(
        [(1, 100, 71), (1, 201, None)],
        "u long, t long, m long").selectExpr(
        "u", "timestamp_seconds(t) AS t", "m")
    atom = {r.ev: (r.m, r.asof_ts) for r in asof_join(
        left, right_n, "t", ["u"], ["m"]).collect()}
    assert atom[7][0] is None           # matched the 201 row, m is NULL
    assert atom[7][1] is not None       # ...but the match itself exists
    assert atom[6][0] == 71             # 200 < 201: still the 100 row
    # duplicate right rows at the same (by, time): deterministic pick =
    # greatest (time, payload) struct, across repartitionings
    right_d = spark.createDataFrame(
        [(1, 100, 71), (1, 100, 99), (1, 100, 12)],
        "u long, t long, m long").selectExpr(
        "u", "timestamp_seconds(t) AS t", "m")
    for nparts in (1, 7):
        got = {r.ev: r.m for r in asof_join(
            left, right_d.repartition(nparts), "t", ["u"], ["m"]).collect()}
        assert got[5] == 99 and got[6] == 99 and got[7] == 99


def test_embedding_dedup_lsh_blocking(spark):
    """block_col=None now means LSH-bucket blocking, not a crossJoin
    (round-1 scale hazard): planted near-identical vectors must surface,
    found pairs must be a subset of the exact cross-join pairs, and no
    CartesianProduct/BroadcastNestedLoopJoin may appear in the plan."""
    from csvweb_spark.operators.dedup import dedup_embedding_cosine
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(200)
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    d = emb.unionByName(planted)
    lsh = dedup_embedding_cosine(d, block_col=None, threshold=0.995)
    exact = dedup_embedding_cosine(d, block_col=None, threshold=0.995,
                                   allow_cross_join=True)
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    assert lsh_pairs <= exact_pairs
    planted_pairs = {(i, i + 100000) for i in range(10)}
    assert planted_pairs <= exact_pairs
    # >=9 of the 10 identical planted pairs must survive LSH blocking
    assert len(planted_pairs & lsh_pairs) >= 9
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the candidate-pair dedup exchange carries BARE ids (round-3 VERDICT
    # minor: it used to ship both full vectors, ~12 KB/pair at 768-dim):
    # the dropDuplicates aggregate must group and output (id_a, id_b)
    # only, vectors re-joined after
    opt = lsh._jdf.queryExecution().optimizedPlan().toString()
    dedup_aggs = [ln for ln in opt.splitlines()
                  if "Aggregate [id_a" in ln]
    assert dedup_aggs, opt
    assert all("v_a" not in ln and "v_b" not in ln for ln in dedup_aggs), \
        dedup_aggs


def test_canonicalize_url(spark):
    """Crawl canonical-URL normalization: case, default ports, fragments,
    tracking params, query order; non-http passthrough."""
    from csvweb_spark.operators.urls import canonicalize_url
    cases = [
        ("HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#f",
         "http://example.com/a?a=1&b=2"),
        ("https://h.org:443/", "https://h.org/"),
        ("https://h.org:8443/x", "https://h.org:8443/x"),  # non-default port
        ("http://h.org", "http://h.org/"),                  # empty path
        ("http://h.org/p?gclid=1&fbclid=2", "http://h.org/p"),
        ("http://h.org/p?z=1&a=2", "http://h.org/p?a=2&z=1"),
        ("not a url at all", "not a url at all"),           # passthrough
        # valueless tracker params are still trackers
        ("http://h.org/p?fbclid&utm_source&a=1", "http://h.org/p?a=1"),
        # ...but non-tracker names that merely share a prefix survive
        ("http://h.org/p?fbclid2=x", "http://h.org/p?fbclid2=x"),
        # userinfo: kept verbatim (case-sensitive), split off before port
        # handling so ':80'-looking userinfo can't confuse stripping
        ("http://User:80@H.org:80/p", "http://User:80@h.org/p"),
        ("https://U:pw@H.org:443/", "https://U:pw@h.org/"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i int, url string")
    got = {r.i: r.c for r in df.select(
        "i", canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_canonicalize_url_idempotent(spark):
    """canonicalize_url is a canonical form: applying it twice equals
    applying it once (catches any normalization that re-perturbs its own
    output - a frontier that re-canonicalizes on every hop must not
    drift)."""
    from csvweb_spark.operators.urls import canonicalize_url
    urls = [
        "HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#f",
        "https://U:pw@H.org:443/p?z=1&fbclid&a=2",
        "http://h.org", "http://h.org/p?b&a&c=", "ftp://x/y",
        "not a url", "http://user:80@Host.org:8080/x?gclid=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonicalize_url(F.col("url")).alias("c"))
    twice = once.select(canonicalize_url(F.col("c")).alias("c"))
    assert [r.c for r in once.collect()] == [r.c for r in twice.collect()]


def test_interval_join(spark):
    """Containment join via time-bucket equi-join: inclusive bounds,
    intervals spanning multiple buckets lose no matches, key mismatch and
    out-of-range events excluded, overlapping intervals each match."""
    from csvweb_spark.operators.interval import interval_join
    ev = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 3600), (3, 1, 7300), (4, 1, 9000),
         (5, 2, 3600)],
        "event_id long, user_id long, t long").selectExpr(
        "event_id", "user_id", "timestamp_seconds(t) AS ts")
    iv = spark.createDataFrame(
        # w1 spans 3 hour-buckets; w2 overlaps w1; user 3 never matches
        [(10, 1, 50, 7300), (11, 1, 3600, 4000), (12, 3, 0, 999999)],
        "window_id long, user_id long, s long, e long").selectExpr(
        "window_id", "user_id", "timestamp_seconds(s) AS start_ts",
        "timestamp_seconds(e) AS end_ts")
    got = {(r.event_id, r.window_id) for r in interval_join(
        ev, iv, "ts", ["user_id"], bucket_minutes=60).collect()}
    assert got == {(1, 10), (2, 10), (3, 10),   # inclusive end at 7300
                   (2, 11)}                     # overlap: ev 2 in both
    # plan shape: hash equi-join, never a nested loop over the corpus
    plan = interval_join(ev, iv, "ts", ["user_id"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_repetition_stats(spark):
    """Gopher repetition signals: duplicate-word and top-bigram fractions
    in exact integer basis points."""
    from csvweb_spark.operators.text import repetition_stats
    docs = spark.createDataFrame(
        [(1, "a b a b a"),      # 5 words, 2 distinct; top bigram 'a b' x2 of 4
         (2, "all words differ here"),
         (3, "x")],             # single word: no bigrams
        "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.dup_word_bp, r.top_bigram_bp)
           for r in repetition_stats(docs).collect()}
    assert got[1] == (5, 6000, 5000)
    assert got[2] == (4, 0, 3333)   # every bigram unique: 1 of 3 -> 3333
    assert got[3] == (1, 0, 0)


def test_duplicate_spans(spark):
    """Span-level exact dedup: a passage copied between two docs at
    DIFFERENT offsets (so doc-level dedup misses it and strided windows
    would misalign) must surface with stride=1 -- the suffix-array
    guarantee: any shared run >= window tokens matches."""
    from csvweb_spark.operators.dedup import duplicate_spans
    passage = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, "intro one two three " + passage + " outro alpha"),
        (2, "different lead-in words over here " + passage + " and more"),
        (3, " ".join(f"u{i}" for i in range(60))),   # unique text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_spans(df, window=16, stride=1).collect()
    assert len(out) >= 40 - 16 + 1  # every shared 16-window, any alignment
    for r in out:
        assert r.n_docs == 2 and r.first_doc == 1
    # strided variant still catches PREFIX-aligned copies at 1/8 the cost
    pre = spark.createDataFrame(
        [(1, passage + " tail a"), (2, passage + " other end b")],
        "doc_id long, text string")
    assert duplicate_spans(pre, window=16, stride=8).count() >= 1
    # no false positives: doc 3 shares nothing
    solo = duplicate_spans(df.filter("doc_id = 3"), window=16, stride=1)
    assert solo.count() == 0


def test_simhash_hamming_pairs(spark):
    from csvweb_spark.operators.dedup import dedup_simhash, simhash
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        "doc_id int, text string")
    h = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert h[1] != 0 and h[1] != h[3]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup_simhash(df, max_hamming=16,
                                    allow_narrow_blocks=True).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_simhash_width_guard_and_bucket_cap(spark):
    from csvweb_spark.operators.dedup import dedup_simhash
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")],
        "doc_id int, text string")
    # narrow blocks (width 5 < floor 8) raise unless opted in
    with pytest.raises(ValueError, match="min_block_width"):
        dedup_simhash(df, max_hamming=10)
    # 1k near-identical docs: identical text -> identical simhash -> one
    # mega-bucket per block. The cap drops those buckets BEFORE the
    # self-join (bounded candidates) and audits them via return_dropped.
    big = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated on every page").alias("text"))
    pairs, dropped = dedup_simhash(big, max_hamming=3, max_bucket_size=64,
                                   return_dropped=True)
    assert pairs.count() == 0  # every bucket blew the cap -> audited, not run
    drop_rows = dropped.collect()
    assert len(drop_rows) == 4  # one mega-bucket per block
    assert all(r.bucket_size == 1000 for r in drop_rows)
    # with a cap that admits the buckets, pairs flow normally
    small = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string")
    assert dedup_simhash(small, max_hamming=3, max_bucket_size=64).count() == 1


def test_embedding_cosine_dedup(spark, embeddings):
    from csvweb_spark.operators.dedup import dedup_embedding_cosine
    # plant an exact duplicate vector with a new id
    dup = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(99999).alias("vec_id"), F.col("embedding"), F.col("label"))
    d = embeddings.unionByName(dup)
    pairs = {(r.id_a, r.id_b): r.cos
             for r in dedup_embedding_cosine(d, threshold=0.9999).collect()}
    assert pairs.get((0, 99999)) == pytest.approx(1.0)


def test_ann_topk_bruteforce_and_lsh(spark, embeddings):
    from csvweb_spark.operators.similarity import ann_topk_bruteforce, ann_topk_lsh
    queries = embeddings.filter(F.col("vec_id") < 3)
    exact = ann_topk_bruteforce(embeddings, queries, k=5)
    rows = exact.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos4))
    assert set(by_q) == {0, 1, 2}
    for q, lst in by_q.items():
        lst.sort()
        assert [r for r, _, _ in lst] == [1, 2, 3, 4, 5]
        sims = [c for _, _, c in lst]
        assert sims == sorted(sims, reverse=True)
    # LSH: candidates are a subset; top-1 recall is high on 64-dim clusters
    approx = ann_topk_lsh(embeddings, queries, k=5, dim=64, bits=6, tables=6)
    top1_exact = {(r.query_id, r.neighbor_id) for r in rows if r.rank == 1}
    top1_approx = {(r.query_id, r.neighbor_id)
                   for r in approx.collect() if r.rank == 1}
    assert len(top1_exact & top1_approx) >= 2  # >=2/3 recall@1


def test_schema_inference_end_to_end(spark):
    """infer_table elects column types from the cells and the resulting
    Table spec drives the SAME compiled conversion - typed literals come
    out of a schema-less pages group."""
    from csvweb_spark.operators.infer import (cells_from_rows,
                                              infer_column_types,
                                              infer_table)
    from csvweb_spark.operators.triples import (convert_table_group_spark,
                                                extract_rows)
    text1 = ("id,when,score,ok,note\n"
             "1,2024-01-02,3.5,true,hello there\n"
             "2,2024-02-03,4,false,2nd row\n")
    text2 = ("id,when,score,ok,note\n"
             "3,2024-03-04,.5,true,\n")  # empty note: type-neutral
    pages = spark.createDataFrame(
        [("http://p/1.csv", text1), ("http://p/2.csv", text2)],
        "url string, text string")
    t = infer_table(pages, "http://ex.org/t.csv")
    types = {c.name: c.datatype.base for c in t.columns}
    assert types == {"id": "integer", "when": "date", "score": "decimal",
                     "ok": "boolean", "note": "string"}
    out = convert_table_group_spark(pages, t, scope_by_url=False)
    dts = {r.pred.rsplit("#", 1)[1]: r.obj_datatype
           for r in out.collect()}
    assert dts["id"].endswith("#integer") and dts["when"].endswith("#date")
    assert dts["score"].endswith("#decimal") and dts["ok"].endswith("#boolean")
    assert dts["note"].endswith("#string")
    # a mixed column degrades to string; an all-empty column is string
    mixed = spark.createDataFrame(
        [("http://p/3.csv", "a,b\n1,\nx,\n")], "url string, text string")
    tm = infer_table(mixed, "http://ex.org/m.csv")
    ttypes = {c.name: c.datatype.base for c in tm.columns}
    assert ttypes == {"a": "string", "b": "string"}
    cells = cells_from_rows(
        extract_rows(mixed, tm), ["a", "b"])
    inf = {r.col_name: (r.inferred, r.n_values)
           for r in infer_column_types(cells).collect()}
    assert inf["b"] == ("string", 0)


def test_khop_and_degree(spark):
    from csvweb_spark.operators.graph import degree_stats, khop_neighbors
    # path 1-2-3-4-5 plus hub 10 connected to 1,2,3 (and a self loop)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 1), (10, 2), (10, 3),
         (7, 7)],
        "src long, dst long")
    deg = {r.node: r.degree for r in degree_stats(edges).collect()}
    assert deg[10] == 3 and deg[2] == 3 and deg[5] == 1
    assert 7 not in deg  # self loop dropped
    seeds = spark.createDataFrame([(5,)], "node long")
    got = {r.node: r.hops for r in
           khop_neighbors(edges, seeds, k=2).collect()}
    assert got == {5: 0, 4: 1, 3: 2}
    # undirected: hops follow min distance even against edge direction,
    # and the hub shortcut wins over the long path
    got3 = {r.node: r.hops for r in
            khop_neighbors(edges, spark.createDataFrame(
                [(10,)], "node long"), k=2).collect()}
    assert got3[1] == 1 and got3[2] == 1 and got3[3] == 1
    assert got3[4] == 2 and 5 not in got3
    # non-broadcast path agrees
    nb = {r.node: r.hops for r in
          khop_neighbors(edges, seeds, k=2,
                         broadcast_frontier=False).collect()}
    assert nb == got


def test_blend_by_token_budget(spark, docs):
    from csvweb_spark.operators.sampling import blend_by_token_budget
    d = (docs.withColumn("stratum", (F.col("doc_id") % 2).cast("string"))
         .withColumn("n_tokens", F.size(F.split("text", " ")).cast("long")))
    total1 = d.filter("stratum = '1'").agg(
        F.sum("n_tokens")).collect()[0][0]
    budget = int(total1) // 3
    out = blend_by_token_budget(d, {"1": budget}, stratum_col="stratum")
    rows = out.collect()
    assert all(r.stratum == "1" for r in rows)  # stratum '0': budget 0
    kept = sum(r.n_tokens for r in rows)
    assert 0 < kept < total1  # down-sampled toward the budget
    assert abs(kept - budget) / total1 < 0.15  # ~1/3 of tokens kept
    # a budget above the total keeps the whole stratum
    full = blend_by_token_budget(d, {"1": int(total1) * 2},
                                 stratum_col="stratum")
    assert full.count() == d.filter("stratum = '1'").count()


def test_blend_null_stratum_honored(spark, docs):
    """A NULL stratum's computed rate must be applied, not silently
    dropped (round-3 ADVICE: rates[None] was ignored because the CASE
    chain skipped None keys)."""
    from csvweb_spark.operators.sampling import (blend_by_token_budget,
                                                 stratified_hash_sample)
    d = (docs.withColumn(
            "stratum",
            F.when(F.col("doc_id") % 2 == 0, F.lit("even")))  # odd -> NULL
         .withColumn("n_tokens", F.size(F.split("text", " ")).cast("long")))
    total_null = int(d.filter("stratum IS NULL")
                     .agg(F.sum("n_tokens")).collect()[0][0])
    # give the NULL stratum its full total: every NULL row must survive
    out = blend_by_token_budget(d, {None: total_null * 2, "even": 0},
                                stratum_col="stratum")
    assert out.count() == d.filter("stratum IS NULL").count()
    assert all(r.stratum is None for r in out.collect())
    # and an explicit None rate in stratified_hash_sample behaves the same
    half = stratified_hash_sample(d, {None: 5000}, stratum_col="stratum",
                                  default_bp=0)
    n_null = d.filter("stratum IS NULL").count()
    assert 0 < half.count() < n_null


def test_dedup_exact_incremental(spark):
    from csvweb_spark.operators.dedup import (dedup_exact,
                                              dedup_exact_incremental)
    corpus = spark.createDataFrame(
        [(1, "already seen text"), (2, "other committed text")],
        "doc_id long, text string")
    seen = dedup_exact(corpus).select("digest")
    batch = spark.createDataFrame(
        [(10, "already seen text"),      # dup of committed corpus
         (11, "brand new text"),
         (12, "brand new text"),         # in-batch dup: keeper only
         (13, "another new one")],
        "doc_id long, text string")
    out = sorted(r.doc_id for r in
                 dedup_exact_incremental(batch, seen).collect())
    assert out == [11, 13]


def test_contamination_cross_corpus(spark):
    from csvweb_spark.operators.dedup import contamination
    passage = " ".join(f"tok{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, "lead in words " + passage + " trailing text"),
         (2, "completely unrelated material with many distinct words"),
         (3, passage)],
        "doc_id long, text string")
    probes = spark.createDataFrame(
        [(100, passage), (200, "never appearing eval question here ok")],
        "probe_id long, text string")
    hits = {(r.doc_id, r.probe_id): r.n_spans
            for r in contamination(docs, probes, window=16).collect()}
    assert (1, 100) in hits and (3, 100) in hits
    assert all(p != 200 for _, p in hits)  # clean probe never matches
    assert (2, 100) not in hits
    # stride > 1 on the corpus still catches prefix-aligned copies
    strided = {(r.doc_id, r.probe_id) for r in
               contamination(docs, probes, window=16, stride=4).collect()}
    assert (3, 100) in strided


def test_pii_redaction(spark):
    from csvweb_spark.operators.text import redact_pii
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-1.org and 192.168.0.1 or call +1 (555) 123-4567"),
         (2, "no pii in this one"),
         (3, "two mails x@y.io z@w.co")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert "[PII:email]" in out[1].clean_text
    assert "[PII:ipv4]" in out[1].clean_text
    assert "[PII:phone]" in out[1].clean_text
    assert "a.b+c@ex-1.org" not in out[1].clean_text
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 0, 0)
    assert out[2].clean_text == "no pii in this one"
    assert out[3].n_email == 2


def test_token_document_frequencies(spark):
    from csvweb_spark.operators.text import token_document_frequencies
    df = spark.createDataFrame(
        [(1, "the cat the cat runs"), (2, "the dog"), (3, "")],
        "doc_id long, text string")
    rows = {r.token: (r.df, r.tf)
            for r in token_document_frequencies(df).collect()}
    assert rows["the"] == (2, 3)   # in 2 docs, 3 occurrences
    assert rows["cat"] == (1, 2)
    assert rows["dog"] == (1, 1)
    assert "" not in rows          # blank doc contributes nothing


def test_c4_line_cleaning(spark):
    from csvweb_spark.operators.text import clean_documents_c4
    df = spark.createDataFrame(
        [(1, "A proper first sentence.\ntiny.\nno terminal punct here\n"
             "Does this survive?\nYes it does!\n\nshort one."),
         (2, ""), (3, "nothing ends right\nno\n")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in clean_documents_c4(df).collect()}
    assert out[1].clean_text == \
        "A proper first sentence.\nDoes this survive?\nYes it does!"
    assert out[1].n_lines == 7 and out[1].n_lines_kept == 3
    assert out[2].clean_text == "" and out[2].n_lines_kept == 0
    assert out[3].clean_text == "" and out[3].n_lines_kept == 0
    # trailing whitespace before the terminal punct check is tolerated
    ws = spark.createDataFrame([(4, "ends with punct then spaces.   ")],
                               "doc_id long, text string")
    assert clean_documents_c4(ws).collect()[0].n_lines_kept == 1


def test_host_profile_and_cap(spark, docs):
    from csvweb_spark.operators.urls import cap_per_host, host_profile
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("http://User@H"), F.col("doc_id") % 3,
                 F.lit(".Example.org/p/"), F.col("doc_id")).alias("url"))
    prof = {r.host: r for r in host_profile(pages).collect()}
    assert set(prof) == {f"h{i}.example.org" for i in range(3)}  # userinfo
    assert sum(r.n_pages for r in prof.values()) == docs.count()
    capped = cap_per_host(pages, k=7)
    by_host = {}
    for r in capped.collect():
        by_host.setdefault(r.doc_id % 3, set()).add(r.doc_id)
    assert all(len(v) == 7 for v in by_host.values())
    # deterministic across partitionings
    again = {r.doc_id for r in cap_per_host(pages.repartition(11), k=7)
             .collect()}
    assert again == {r.doc_id for r in capped.collect()}
    # explicit default ports cannot dodge the cap: :80 variants group
    # with the bare host (review fix)
    from csvweb_spark.operators.urls import host_of
    pv = spark.createDataFrame(
        [("http://h.org/a",), ("http://h.org:80/b",),
         ("https://h.org:443/c",), ("https://h.org:8443/d",)],
        "url string")
    hosts = [r.h for r in pv.select(host_of(F.col("url")).alias("h"))
             .collect()]
    assert hosts == ["h.org", "h.org", "h.org", "h.org:8443"]


def test_deterministic_sampling(spark, docs):
    """Hash sampling must be a pure row property: identical selection
    across partitionings, ~rate accuracy, per-stratum rates honored,
    exact-k uniform per stratum, and the prefilter lossless when sized."""
    from csvweb_spark.operators.sampling import (
        hash_sample, stratified_hash_sample, stratified_sample_topk)
    ids = lambda df: sorted(r.doc_id for r in df.select("doc_id").collect())
    s1 = ids(hash_sample(docs, 2000))
    s2 = ids(hash_sample(docs.repartition(13), 2000))
    assert s1 == s2 and s1  # partitioning-independent
    n = docs.count()
    assert 0.1 < len(s1) / n < 0.3  # ~20% on 500 docs
    assert ids(hash_sample(docs, 10_000)) == ids(docs)  # rate 1.0 = all
    assert ids(hash_sample(docs, 0)) == []
    # different seed -> different (deterministic) subset
    assert ids(hash_sample(docs, 2000, seed=7)) != s1
    # stratified rates: stratum '0' ~10%, '1' ~50%, default ~1%
    strat = docs.withColumn("stratum", (F.col("doc_id") % 3).cast("string"))
    out = stratified_hash_sample(strat, {"0": 1000, "1": 5000},
                                 stratum_col="stratum", default_bp=100)
    by = {r.stratum: r.n for r in out.groupBy("stratum")
          .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by.get("1", 0) > by.get("0", 0) >= by.get("2", 0)
    # exact-k per stratum, uniform by hash rank
    topk = stratified_sample_topk(docs, k=5, stratum_col="source")
    sizes = {r.source: r.n for r in topk.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    full_sizes = {r.source: r.n for r in docs.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, tot in full_sizes.items():
        assert sizes.get(src, 0) == min(5, tot)
    # prefilter keeps the result identical when sized to the strata
    pre = stratified_sample_topk(docs, k=5, stratum_col="source",
                                 prefilter_bp=5000)
    assert sorted(map(tuple, pre.collect())) == \
        sorted(map(tuple, topk.collect()))


def test_weighted_sampling_matches_python_replay(spark):
    """sample_weighted_topk's selected SET is a pure row property: it
    equals an independent pure-Python replay of the priority rule
    ((h+1) div w ascending, ties by key), is partition-invariant, and
    never includes weight<=0 rows."""
    import hashlib

    from csvweb_spark.operators.sampling import sample_weighted_topk
    rows = [(i, f"s{i % 2}", (i * 37) % 100 - 5) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string, w long")

    def replay(k):
        picked = []
        for g in ("s0", "s1"):
            pri = []
            for i, s, w in rows:
                if s != g or w <= 0:
                    continue
                h = int(hashlib.md5(f"42:{i}".encode())
                        .hexdigest()[:15], 16)
                pri.append(((h + 1) // w, i))
            picked += [i for _, i in sorted(pri)[:k]]
        return sorted(picked)

    got = sample_weighted_topk(df, k=7, weight_col="w",
                               stratum_col="stratum")
    ids = sorted(r.doc_id for r in got.collect())
    assert ids == replay(7)
    got2 = sample_weighted_topk(df.repartition(13), k=7, weight_col="w",
                                stratum_col="stratum")
    assert sorted(r.doc_id for r in got2.collect()) == ids
    ws = {i: w for i, _, w in rows}
    assert all(ws[i] > 0 for i in ids)
    # output keeps the input columns, no ranking internals
    assert got.columns == ["doc_id", "stratum", "w"]


def test_weighted_sampling_prefers_heavy_rows(spark):
    """Inclusion tracks weight: a population where half the keys carry
    100x the weight should dominate the sample (deterministic fixed
    outcome under the md5 family, not a statistical flake)."""
    from csvweb_spark.operators.sampling import sample_weighted_topk
    rows = [(i, 1000 if i % 2 == 0 else 10) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = sample_weighted_topk(df, k=40, weight_col="w")
    heavy = sum(1 for r in got.collect() if r.doc_id % 2 == 0)
    assert got.count() == 40 and heavy >= 35
    # global mode (no stratum) still exactly k
    assert sample_weighted_topk(df, k=500, weight_col="w").count() == 400


def test_stratified_topk_window_group_limit(spark):
    """Mega-stratum scale shape (round-3 VERDICT minor): the top-k window
    must compile with Catalyst's PARTIAL WindowGroupLimit below the
    stratum exchange, so each map task forwards <= k rows per stratum
    instead of shipping the whole stratum to one reducer - and the pruned
    result must still be the exact global top-k by hash."""
    import hashlib

    from csvweb_spark.operators.sampling import (MERSENNE31,
                                                 stratified_sample_topk)

    # one mega stratum + one tiny one (a constant-literal stratum would
    # let Catalyst collapse the window to TakeOrderedAndProject entirely)
    df = (spark.range(100_000)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") < 10, F.lit("tiny"))
                   .otherwise(F.lit("mega")).alias("source"))
          .repartition(8))
    out = stratified_sample_topk(df, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    partials = [ln for ln in lines
                if "WindowGroupLimit" in ln and "Partial" in ln]
    finals = [ln for ln in lines
              if "WindowGroupLimit" in ln and "Final" in ln]
    assert partials, f"map-side window prune missing:\n{plan}"
    assert finals
    # the Partial prune sits BELOW the exchange (map side): in the
    # top-down plan text it must appear after the Exchange line
    exch_ix = next(i for i, ln in enumerate(lines) if "Exchange" in ln)
    part_ix = next(i for i, ln in enumerate(lines) if ln in partials)
    assert part_ix > exch_ix, plan

    # exactness: the kept rows are the 5 smallest sampling hashes
    def h(key):
        return int(hashlib.md5(f"42:{key}".encode()).hexdigest()[:8],
                   16) % MERSENNE31

    mega = sorted((i for i in range(100_000) if i >= 10),
                  key=lambda i: (h(i), i))[:5]
    tiny = sorted(range(10), key=lambda i: (h(i), i))[:5]
    got = sorted(r.doc_id for r in out.collect())
    assert got == sorted(mega + tiny)


def test_hyperplane_sketches_udf_matches_jvm(spark, embeddings):
    """The batched numpy sketcher must be bit-identical to the pure-JVM
    expression per table - including the degenerate rows (null vector /
    dim mismatch -> bucket 0), which keep the DuckDB oracle replayable."""
    from csvweb_spark.operators.similarity import (
        _det_planes, hyperplane_sketch, hyperplane_sketches)
    planes = [_det_planes(64, 6, t) for t in range(3)]
    base = embeddings.limit(100).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    weird = spark.createDataFrame(
        [(100001, None), (100002, [0.5, -0.5])],
        "vec_id long, v array<double>")
    d = base.unionByName(weird)
    jvm = d.select(
        "vec_id", *[hyperplane_sketch(F.col("v"), p).alias(f"t{t}")
                    for t, p in enumerate(planes)])
    udf = d.select("vec_id", hyperplane_sketches(F.col("v"), planes)
                   .alias("bkts"))
    jm = {r.vec_id: (r.t0, r.t1, r.t2) for r in jvm.collect()}
    um = {r.vec_id: tuple(r.bkts) for r in udf.collect()}
    assert jm == um
    assert um[100001] == (0, 0, 0) and um[100002] == (0, 0, 0)


def test_link_exact_and_contains(spark, docs):
    from csvweb_spark.operators.linking import link_contains, link_exact
    aliases = spark.createDataFrame(
        [("Spark", 1, "http://e/1"), ("window", 2, "http://e/2"),
         ("nosuchword", 3, "http://e/3")],
        "alias string, entity_id long, entity_uri string")
    mentions = spark.createDataFrame(
        [(1, "spark"), (2, "  WINDOW "), (3, "nothing")],
        "mention_id int, mention string")
    hits = {(r.mention_id, r.entity_id) for r in
            link_exact(mentions, aliases).collect()}
    assert hits == {(1, 1), (2, 2)}
    linked = link_contains(docs.limit(50), aliases)
    got = linked.groupBy("entity_id").count().collect()
    ids = {r.entity_id for r in got}
    assert 3 not in ids and len(ids) >= 1


def test_dedup_containment_directed(spark):
    """Asymmetric quote detection: the quote is fully contained in the
    quoting page (10000 bp, emitted) while the page is NOT contained in
    the quote (below threshold, not emitted) - the directedness IS the
    semantics. Hand-computed: doc 1 has 4 word-3-grams, all present in
    doc 2 (10 tokens -> 8 grams): 1-in-2 = 10000 bp, 2-in-1 = 4/8 =
    5000 bp."""
    from csvweb_spark.operators.dedup import dedup_containment
    quote = "the quick brown fox jumps over"          # 6 tokens, 4 grams
    page = quote + " the lazy sleeping dog"           # 10 tokens, 8 grams
    df = spark.createDataFrame(
        [(1, quote, "s"), (2, page, "s"), (3, "unrelated words here", "s"),
         (4, quote, "other-block")],
        "doc_id long, text string, source string")
    got = {(r.inner_id, r.outer_id, r.containment_bp) for r in
           dedup_containment(df, threshold=0.8).collect()}
    # only the quote-in-page direction; doc 4 is block-separated
    assert got == {(1, 2, 10000)}
    low = {(r.inner_id, r.outer_id, r.containment_bp) for r in
           dedup_containment(df, threshold=0.5).collect()}
    assert (2, 1, 5000) in low and (1, 2, 10000) in low
    # char unit: containment of a substring-heavy pair
    ch = {(r.inner_id, r.outer_id) for r in dedup_containment(
        df, threshold=0.99, unit="char", n=3).collect()}
    assert (1, 2) in ch
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup_containment(df, unit="sentence")


def test_link_editdist_single_typo(spark):
    """Delete-1 blocking + levenshtein verify: deletion, insertion and
    substitution typos all relink at distance <= 1 (the three ed=1
    cases the SymSpell neighborhood must cover); unrelated strings and
    ed=2 forms do not; the exact form links at distance 0."""
    from csvweb_spark.operators.linking import link_editdist
    aliases = spark.createDataFrame(
        [("Germany",), ("France",), ("United States",)], "alias string")
    mentions = spark.createDataFrame(
        [(1, "germani"),        # substitution -> ed 1
         (2, "grmany"),         # deletion -> ed 1
         (3, "germanyy"),       # insertion -> ed 1
         (4, "germany"),        # exact -> ed 0
         (5, "germnai"),        # ed 2: blocked or rejected
         (6, "zzz")],           # unrelated
        "mention_id long, mention string")
    got = {(r.mention_id, r.alias, r.edit_dist) for r in
           link_editdist(mentions, aliases).collect()}
    assert got == {(1, "Germany", 1), (2, "Germany", 1),
                   (3, "Germany", 1), (4, "Germany", 0)}
    # max_dist != 1 must refuse (delete-1 blocking is only lossless
    # for ed<=1) rather than silently under-recall
    import pytest as _pytest
    with _pytest.raises(AssertionError):
        link_editdist(mentions, aliases, max_dist=2)


def test_link_contains_prefilter_matches_bnlj(spark, docs):
    """The inverted-index pre-filter must be lossless vs the nested-loop
    reference plan, including multi-token aliases and rarest-token mode."""
    from csvweb_spark.operators.linking import link_contains
    aliases = spark.createDataFrame(
        [("Spark", 1, "http://e/1"), ("the spark", 2, "http://e/2"),
         ("window", 3, "http://e/3"), ("nosuchword", 4, "http://e/4"),
         ("", 5, "http://e/5")],  # zero-token alias: matches nothing
        "alias string, entity_id long, entity_uri string")
    d = docs.limit(80)
    want = sorted(map(tuple, link_contains(
        d, aliases.filter("alias <> ''"), prefilter=False).collect()))
    got = sorted(map(tuple, link_contains(d, aliases).collect()))
    assert got == want
    # rarest-token mode with explicit corpus DFs: same result
    toks = d.select(F.explode(F.array_distinct(F.split(
        F.lower("text"), r"[^a-z0-9]+"))).alias("token"))
    token_df = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    got_df = sorted(map(tuple, link_contains(
        d, aliases, token_df=token_df).collect()))
    assert got_df == want


def test_link_contains_scales_to_10k_aliases(spark, docs):
    """10^4-alias dictionary: the pre-filter keeps the plan an equi-join
    (candidates ~ doc tokens), and planted aliases still link."""
    from csvweb_spark.operators.linking import link_contains
    synth = spark.range(10_000).select(
        F.concat(F.lit("synthalias"), "id").alias("alias"),
        F.col("id").alias("entity_id"),
        F.concat(F.lit("http://e/"), "id").alias("entity_uri"))
    real = spark.createDataFrame(
        [("Spark", 20000, "http://e/s"), ("window", 20001, "http://e/w")],
        "alias string, entity_id long, entity_uri string")
    out = link_contains(docs.limit(50), synth.unionByName(real))
    ids = {r.entity_id for r in out.collect()}
    assert ids and ids <= {20000, 20001}


def test_link_fuzzy_minhash(spark):
    from csvweb_spark.operators.linking import link_fuzzy_minhash
    aliases = spark.createDataFrame(
        [("barack obama",), ("new york city",), ("quantum computing",)],
        "alias string")
    mentions = spark.createDataFrame(
        [(1, "obama barack"), (2, "york new city"), (3, "zebra crossing")],
        "mention_id int, mention string")
    got = link_fuzzy_minhash(mentions, aliases, max_distance=0.4)
    pairs = {(r.mention_id, r.alias) for r in got.collect()}
    assert (1, "barack obama") in pairs
    assert (2, "new york city") in pairs
    assert all(m != 3 for m, _ in pairs)


def test_pagerank_integer_semantics(spark):
    """Integer-scaled PageRank: hub of a star outranks leaves, ranks are
    exact bigints (partitioning-invariant), iterations=0 returns the
    uniform init, and dangling mass is dropped as documented."""
    from csvweb_spark.operators.graph import pagerank
    star = spark.createDataFrame([(i, 0) for i in range(1, 21)],
                                 "src long, dst long")
    r = {x.node: x.rank for x in pagerank(star, iterations=3).collect()}
    assert len(r) == 21
    assert r[0] > r[1] and len({r[i] for i in range(1, 21)}) == 1
    # leaves have no in-edges: rank = base = 150000 every round
    assert r[1] == 150_000
    # exactness/invariance: same bigints under a different partitioning
    r2 = {x.node: x.rank
          for x in pagerank(star.repartition(7), iterations=3).collect()}
    assert r == r2
    r0 = {x.node: x.rank for x in pagerank(star, iterations=0).collect()}
    assert set(r0.values()) == {1_000_000}


def test_connected_components_chain_hub_and_isolated(spark):
    from csvweb_spark.operators.canonicalize import (
        component_stats, connected_components)
    # chain 0-1-2-...-9; hub 100 connected to 101..140; pair 200-201
    edges = [(i, i + 1) for i in range(9)]
    edges += [(100, x) for x in range(101, 141)]
    edges += [(200, 201)]
    df = spark.createDataFrame(edges, "src long, dst long")
    labels = {r.node: r.component
              for r in connected_components(df).collect()}
    assert all(labels[i] == 0 for i in range(10))
    assert all(labels[x] == 100 for x in [100, *range(101, 141)])
    assert labels[200] == labels[201] == 200
    sizes = {r.component: r.size
             for r in component_stats(
                 connected_components(df)).collect()}
    assert sizes == {0: 10, 100: 41, 200: 2}


def test_connected_components_megahub(spark):
    """>=10^5-degree hub star: the salted two-phase min bounds per-task
    fan-in (no single task receives all hub edges); labeling stays exact
    and the star rounds compile without a Window node."""
    from csvweb_spark.operators.canonicalize import (
        _large_star, connected_components)
    hub = spark.range(1, 100_001).select(
        F.lit(500_000).cast("long").alias("src"),
        (F.col("id") + 1_000_000).cast("long").alias("dst"))
    plan = _large_star(
        hub.selectExpr("greatest(src,dst) u", "least(src,dst) v")
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    labels = connected_components(hub)
    agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("c"),
        F.min("component").alias("m")).collect()[0]
    assert (agg.n, agg.c, agg.m) == (100_001, 1, 500_000)


def test_choose_n_salts_adaptive(spark):
    """Skew-adaptive salting: a uniform graph picks 1 salt (zero salting
    overhead), a hub star picks enough salts that no (key, salt) partial
    group exceeds ~2x the target bucket, and adaptive CC labeling stays
    exact."""
    from csvweb_spark.operators.canonicalize import (
        _salted_min, choose_n_salts, connected_components)

    # uniform: a 500-edge path - max degree 2, far under any bucket
    path = spark.createDataFrame([(i, i + 1) for i in range(500)],
                                 "src long, dst long")
    assert choose_n_salts(path, target_bucket=256) == 1

    # star: hub 0 with degree 4000 -> ceil(4000/256) = 16 salts
    star = spark.range(1, 4001).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst"))
    n = choose_n_salts(star, target_bucket=256)
    assert n == 16

    # the salted partial-min groups are bounded: the hub's 4000 edges
    # spread over 16 salts, so no (key, salt) group should exceed ~2x
    # the uniform share (vs 4000 in one group unsalted)
    bidir = star.selectExpr("src a", "dst b").unionByName(
        star.selectExpr("dst a", "src b"))
    salted, _ = _salted_min(bidir, "a", "b", n_salts=n)
    biggest = (salted.groupBy("a", "_salt").count()
               .agg(F.max("count")).collect()[0][0])
    assert biggest <= 2 * (4000 // n)

    # adaptive end-to-end: same labels as the static default
    lab = {r.node: r.component
           for r in connected_components(star, n_salts=None).collect()}
    assert set(lab.values()) == {0} and len(lab) == 4001

    # adaptive on a hub-FREE input whose star rounds grow a root degree
    # (review fix: salts are re-measured per round, not once on input)
    lab2 = {r.node: r.component
            for r in connected_components(path.filter("src < 300"),
                                          n_salts=None).collect()}
    assert set(lab2.values()) == {0} and len(lab2) == 301


def test_connected_components_long_chain_converges(spark):
    """O(log n) convergence: a 200-node chain must finish within max_iter."""
    from csvweb_spark.operators.canonicalize import connected_components
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "src long, dst long")
    labels = connected_components(df, max_iter=12)
    comps = labels.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0].component == 0


def test_text_profile_and_quality(spark, docs):
    from csvweb_spark.operators.text import quality_features, text_profile
    prof = text_profile(docs.limit(20)).collect()
    assert all(r.n_tokens_ws > 0 for r in prof)
    assert all(len(r.fingerprint) == 32 for r in prof)
    q = quality_features(docs.limit(20)).collect()
    assert all(0 <= r.quality_score_bp <= 10000 for r in q)


def test_detect_language_markers(spark):
    from csvweb_spark.operators.text import detect_language
    df = spark.createDataFrame(
        [("the cat and the dog is here",),
         ("der hund und das nicht ist",),
         ("le chat et les oiseaux des une",),
         ("xyzzy plugh",)], "t string")
    langs = [r.l for r in df.select(detect_language(F.col("t")).alias("l")).collect()]
    assert langs == ["en", "de", "fr", "und"]


# Held-out mixed-language fixtures for the n-gram profile model: real
# sentences AUTHORED for this test (disjoint from any profile-derivation
# text), 4 per language over the 7 supported languages.
LANG_FIXTURES = {
    "en": ["The weather was beautiful and we decided to walk along the"
           " river to the old bridge.",
           "She is reading an interesting book about the history of"
           " science and technology.",
           "Most of the students finished their homework before the end"
           " of the lesson.",
           "He wanted to know if the train would arrive on time at the"
           " central station."],
    "de": ["Der schnelle braune Fuchs springt über den faulen Hund im"
           " großen Garten.",
           "Ich möchte wissen, ob der Zug pünktlich am Hauptbahnhof"
           " ankommen wird.",
           "Die Kinder spielen nicht gerne im Regen, aber sie lieben den"
           " Schnee im Winter.",
           "Nach dem Unterricht gingen die Studenten zusammen in die"
           " alte Bibliothek."],
    "fr": ["Le temps était magnifique et nous avons décidé de marcher le"
           " long de la rivière.",
           "Elle lit un livre intéressant sur l'histoire des sciences et"
           " des techniques.",
           "La plupart des étudiants ont terminé leurs devoirs avant la"
           " fin de la leçon.",
           "Il voulait savoir si le train arriverait à l'heure à la gare"
           " centrale."],
    "es": ["El tiempo era hermoso y decidimos caminar por la orilla del"
           " río hasta el puente viejo.",
           "Ella está leyendo un libro interesante sobre la historia de"
           " la ciencia.",
           "La mayoría de los estudiantes terminaron sus deberes antes"
           " del final de la lección.",
           "Él quería saber si el tren llegaría a tiempo a la estación"
           " central."],
    "it": ["Il tempo era bellissimo e abbiamo deciso di camminare lungo"
           " il fiume fino al vecchio ponte.",
           "Lei sta leggendo un libro interessante sulla storia della"
           " scienza e della tecnologia.",
           "La maggior parte degli studenti ha finito i compiti prima"
           " della fine della lezione.",
           "Voleva sapere se il treno sarebbe arrivato in orario alla"
           " stazione centrale."],
    "pt": ["O tempo estava lindo e decidimos caminhar ao longo do rio"
           " até a ponte velha.",
           "Ela está lendo um livro interessante sobre a história da"
           " ciência e da tecnologia.",
           "A maioria dos estudantes terminou os deveres antes do final"
           " da lição.",
           "Ele queria saber se o trem chegaria a tempo à estação"
           " central."],
    "zh": ["今天天气很好，我们决定沿着河边散步到老桥那里。",
           "她正在读一本关于科学技术历史的有趣的书。",
           "大多数学生在课程结束之前完成了他们的作业。",
           "他想知道火车是否会准时到达中央车站。"],
}


def test_detect_language_ngram_beats_marker_baseline(spark):
    """r4 VERDICT item #8: the Cavnar-Trenkle-style profile model must
    beat the marker-word heuristic on held-out fixtures. Deterministic:
    the profile model classifies all 28 correctly; the 4-language
    marker baseline manages at most half (it cannot even name it/pt/zh)."""
    from csvweb_spark.operators.text import (detect_language,
                                             detect_language_ngram)
    rows = [(lang, s) for lang, sents in LANG_FIXTURES.items()
            for s in sents]
    df = spark.createDataFrame(rows, "expected string, t string")
    got = df.select(
        "expected",
        detect_language_ngram(F.col("t")).alias("ngram"),
        detect_language(F.col("t")).alias("marker")).collect()
    n = len(got)
    ngram_ok = sum(r.ngram == r.expected for r in got)
    marker_ok = sum(r.marker == r.expected for r in got)
    assert n == 28
    assert ngram_ok == 28, [
        (r.expected, r.ngram) for r in got if r.ngram != r.expected]
    assert marker_ok <= n // 2
    assert ngram_ok > marker_ok


def test_detect_language_ngram_edge_cases(spark):
    from csvweb_spark.operators.text import detect_language_ngram
    df = spark.createDataFrame(
        [("",), ("12345 !!!",), ("xyzzy plugh",)], "t string")
    langs = [r.l for r in df.select(
        detect_language_ngram(F.col("t")).alias("l")).collect()]
    assert langs == ["und", "und", "und"]


def test_multimodal_plumbing(spark):
    from csvweb_spark.operators.multimodal import binary_stats, image_metadata
    pages = spark.createDataFrame(
        [("u1", bytearray(b"\xff\xd8\xffrest-of-jpeg")),
         ("u2", bytearray(b"\x89PNG\r\n\x1a\nrest-of-png")),
         ("u3", None)],
        "url string, html binary")
    meta = {r.url: r for r in image_metadata(pages).collect()}
    assert set(meta) == {"u1", "u2"}
    assert meta["u1"].format == "jpeg" and meta["u2"].format == "png"
    assert len(meta["u1"].feature) == 8
    norm = sum(v * v for v in meta["u1"].feature)
    assert norm == pytest.approx(1.0, abs=1e-3)
    stats = {r.url: r.n_bytes for r in binary_stats(pages).collect()}
    assert stats["u1"] == 15


def _png_bytes(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\0" * 4)


def _jpeg_bytes(w, h):
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\0" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x03" + b"\0" * 9)
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _gif_bytes(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"


def test_resize_and_frame_sample_plumbing(spark):
    """Resize + frame-sample mapInPandas plumbing: real header dims,
    exact output payload sizes (w*h*3 RGB bytes from the import-gated
    resampler fake), deterministic across runs, fan-out capped, and
    undecodable/None blobs dropped without breaking Arrow batches."""
    from csvweb_spark.operators.multimodal import (resize_images,
                                                   sample_media_frames)
    pages = spark.createDataFrame(
        [("p1", bytearray(_png_bytes(640, 480))),
         ("p2", bytearray(_jpeg_bytes(100, 200))),
         ("p3", bytearray(b"not an image at all")),
         ("p4", None)],
        "url string, html binary")

    rs = {r.url: r for r in resize_images(pages, 32, 24).collect()}
    assert set(rs) == {"p1", "p2"}  # p3 undecodable, p4 null -> dropped
    assert (rs["p1"].src_width, rs["p1"].src_height) == (640, 480)
    assert (rs["p2"].format, rs["p2"].src_height) == ("jpeg", 200)
    for r in rs.values():
        assert (r.width, r.height) == (32, 24)
        assert len(bytes(r.resized)) == 32 * 24 * 3
    rs2 = {r.url: bytes(r.resized)
           for r in resize_images(pages, 32, 24).collect()}
    assert {u: bytes(r.resized) for u, r in rs.items()} == rs2  # determinism

    frames = sample_media_frames(pages, every_n=10, max_frames=4).collect()
    by_url: dict = {}
    for r in frames:
        by_url.setdefault(r.url, []).append(r)
    # every non-null blob yields frames (the fake demuxer sniffs nothing)
    assert set(by_url) == {"p1", "p2", "p3"}
    for url, rows in by_url.items():
        assert 1 <= len(rows) <= 4  # fan-out capped at max_frames
        assert sorted(r.frame_ix for r in rows) == \
            [10 * i for i in range(len(rows))]
        assert all(len(bytes(r.frame)) == 64 for r in rows)


def test_image_header_parser_never_crashes_fuzz():
    """Pure-python fuzz: arbitrary byte soup must never raise - a crawl's
    binary column is adversarial by definition."""
    import random

    from csvweb_spark.operators.multimodal import (_decode_image_stub,
                                                   parse_image_header)
    rng = random.Random(42)
    seeds = [b"", b"\xff", b"\xff\xd8\xff", b"\x89PNG\r\n\x1a\n",
             b"GIF89a", _png_bytes(1, 1)[:-5], _jpeg_bytes(9, 9)[:-3],
             _gif_bytes(2, 2)[:7]]
    for i in range(300):
        base = seeds[i % len(seeds)]
        blob = base + bytes(rng.randrange(256)
                            for _ in range(rng.randrange(0, 64)))
        got = parse_image_header(blob)
        assert got is None or (len(got) == 3 and got[1] >= 0 and
                               got[2] >= 0)
        fmt, w, h = _decode_image_stub(blob)
        assert isinstance(fmt, str) and w > 0 and h > 0


def test_image_header_codecs_real_dims(spark):
    """PNG/JPEG/GIF dimensions come from REAL header parsing (IHDR / SOFn /
    logical screen descriptor), not the digest fake; unknown formats and
    truncated headers still fall back to the declared stub."""
    from csvweb_spark.operators.multimodal import (image_metadata,
                                                   parse_image_header)
    assert parse_image_header(_png_bytes(640, 480)) == ("png", 640, 480)
    assert parse_image_header(_jpeg_bytes(800, 600)) == ("jpeg", 800, 600)
    assert parse_image_header(_gif_bytes(320, 200)) == ("gif", 320, 200)
    assert parse_image_header(b"plain text") is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\ntrunc") is None  # no IHDR
    assert parse_image_header(b"\xff\xd8\xff\xda\x00\x02") is None  # no SOF
    pages = spark.createDataFrame(
        [("png", bytearray(_png_bytes(640, 480))),
         ("jpg", bytearray(_jpeg_bytes(800, 600))),
         ("gif", bytearray(_gif_bytes(320, 200))),
         ("other", bytearray(b"not an image"))],
        "url string, html binary")
    meta = {r.url: r for r in image_metadata(pages).collect()}
    assert (meta["png"].format, meta["png"].width, meta["png"].height) == \
        ("png", 640, 480)
    assert (meta["jpg"].format, meta["jpg"].width, meta["jpg"].height) == \
        ("jpeg", 800, 600)
    assert (meta["gif"].format, meta["gif"].width, meta["gif"].height) == \
        ("gif", 320, 200)
    assert meta["other"].format == "unknown"  # digest-fake fallback


def test_lineage_write_and_resume(spark, tmp_path, docs):
    from csvweb_spark.plans.lineage import (
        committed_partitions, resume_filter, write_partitioned,
        write_resumable)
    out = str(tmp_path / "triples_out")
    df = docs.limit(40).select(
        F.concat(F.lit("http://p/"), F.col("doc_id")).alias("url"), "text")
    from csvweb_spark.plans.lineage import with_part_key
    keyed = with_part_key(df, n_buckets=8)
    first_run = keyed.filter(F.col("part_key") < 4)
    m1 = write_partitioned(first_run, out, n_buckets=8)
    assert 0 < m1["total_rows"] < 40
    done = committed_partitions(out)
    assert done == {p["part_key"] for p in m1["partitions"]}
    # resume: only uncommitted buckets remain
    remaining = resume_filter(df, out, n_buckets=8)
    assert remaining.count() == 40 - m1["total_rows"]
    m2 = write_resumable(df, out, n_buckets=8)
    total = spark.read.parquet(os.path.join(out, "data")).count()
    assert total == 40  # all buckets now present (committed ones kept)
    assert committed_partitions(out) > done


def test_lineage_covered_buckets_complete_the_table(spark, tmp_path,
                                                    jobs_in_group):
    """write_resumable commits every bucket it was responsible for, the
    ones its input left empty included: the re-run over the complete
    table commits nothing and runs no Spark job."""
    from csvweb_spark.plans.lineage import pending_buckets, write_resumable
    out = str(tmp_path / "covered")
    df = spark.createDataFrame([(f"http://p/{i}", "t") for i in range(3)],
                               "url string, text string")
    m1 = write_resumable(df, out, n_buckets=8)
    assert m1["total_rows"] == 3
    assert len(m1["partitions"]) < 8  # some buckets got no rows
    assert m1["covered"] == list(range(8))
    assert pending_buckets(out, 8) == set()
    m2, jobs = jobs_in_group("covered-rerun", write_resumable, df, out,
                             "url", 8)
    assert jobs == []
    assert m2["partitions"] == [] and m2["total_rows"] == 0
    assert len(os.listdir(os.path.join(out, "_manifests"))) == 1
    # the bucket count stays part of the table's identity
    with pytest.raises(ValueError, match="n_buckets"):
        write_resumable(df, out, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        pending_buckets(out, 4)


def test_lineage_bare_write_covers_only_written(spark, tmp_path, docs):
    """A bare write_partitioned of a filtered input commits only the
    partitions it wrote; the filtered-out buckets stay pending."""
    from csvweb_spark.plans.lineage import (
        pending_buckets, read_snapshot, with_part_key, write_partitioned,
        write_resumable)
    out = str(tmp_path / "bare")
    df = docs.limit(40).select(
        F.concat(F.lit("http://p/"), F.col("doc_id")).alias("url"), "text")
    keyed = with_part_key(df, n_buckets=8)
    m1 = write_partitioned(keyed.filter(F.col("part_key") < 4), out,
                           n_buckets=8)
    written = {p["part_key"] for p in m1["partitions"]}
    assert m1["covered"] == []
    assert pending_buckets(out, 8) == set(range(8)) - written
    assert pending_buckets(out, 8) >= {4, 5, 6, 7}
    m2 = write_resumable(df, out, n_buckets=8)
    assert m1["total_rows"] + m2["total_rows"] == 40
    assert read_snapshot(spark, out).count() == 40
    assert pending_buckets(out, 8) == set()


def test_lineage_protocol_over_hadoop_fs(spark, tmp_path, docs):
    """The SAME commit protocol through the Hadoop FileSystem adapter: a
    file:// scheme routes every metadata op (manifest write/list/read,
    footer stats, partition diff) through the JVM-side Hadoop FS - the
    code path hdfs:///s3a:// tables take on a real cluster."""
    from csvweb_spark.plans.fs import HadoopFS, fs_for
    from csvweb_spark.plans.lineage import (
        committed_partitions, read_snapshot, snapshots, with_part_key,
        write_partitioned, write_resumable)
    out = "file://" + str(tmp_path / "hfs_out")
    assert isinstance(fs_for(out, spark), HadoopFS)
    df = docs.limit(40).select(
        F.concat(F.lit("http://p/"), F.col("doc_id")).alias("url"), "text")
    keyed = with_part_key(df, n_buckets=8)
    m1 = write_partitioned(keyed.filter(F.col("part_key") < 4), out,
                           n_buckets=8, run_id="r1")
    assert 0 < m1["total_rows"] < 40
    # footer stats came through the FSDataInputStream adapter
    assert all(p["rows"] > 0 and p["min_url"] is not None
               for p in m1["partitions"])
    assert committed_partitions(out) == \
        {p["part_key"] for p in m1["partitions"]}
    m2 = write_resumable(df, out, n_buckets=8)
    assert m1["total_rows"] + m2["total_rows"] == 40
    assert [m["run_id"] for m in snapshots(out)][0] == "r1"
    assert read_snapshot(spark, out).count() == 40
    assert read_snapshot(spark, out, as_of_run="r1").count() == \
        m1["total_rows"]


def test_snapshot_time_travel(spark, tmp_path, docs):
    """Snapshot-isolated reads over the lineage manifests (the
    parquet+manifest analogue of Iceberg VERSION AS OF): uncommitted data
    is invisible, `as_of_run` pins an earlier snapshot, the latest
    snapshot sees everything, and the snapshot log orders commits."""
    from csvweb_spark.plans.lineage import (
        read_snapshot, snapshots, with_part_key, write_partitioned)
    out = str(tmp_path / "tt_out")
    df = docs.limit(40).select(
        F.concat(F.lit("http://p/"), F.col("doc_id")).alias("url"), "text")
    keyed = with_part_key(df, n_buckets=8)
    m1 = write_partitioned(keyed.filter(F.col("part_key") < 4), out,
                           n_buckets=8, run_id="r1")
    m2 = write_partitioned(keyed.filter(F.col("part_key") >= 4), out,
                           n_buckets=8, run_id="r2")
    log = snapshots(out)
    assert [m["run_id"] for m in log] == ["r1", "r2"]
    assert read_snapshot(spark, out).count() == 40
    assert read_snapshot(spark, out, as_of_run="r1").count() == m1["total_rows"]
    assert read_snapshot(spark, out, as_of_run="r2").count() == 40
    assert m1["total_rows"] + m2["total_rows"] == 40
    # crashed writer: data on disk but no manifest -> invisible to readers
    extra = spark.createDataFrame(
        [("http://p/extra", "t", 99)], "url string, text string, part_key int")
    extra.write.mode("append").partitionBy("part_key").parquet(
        os.path.join(out, "data"))
    assert read_snapshot(spark, out).count() == 40
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_snapshot(spark, out, as_of_run="nope")


def test_manifest_commits_exactly_the_written_partitions(spark, tmp_path, docs):
    """Round-2 review fix: the manifest must cover exactly what THIS run
    wrote (file-set diff) - a torn dir from a crashed writer is not
    adopted, and a re-written already-committed partition is re-committed
    with fresh stats."""
    from csvweb_spark.plans.lineage import (
        read_snapshot, with_part_key, write_partitioned)
    out = str(tmp_path / "mout")
    df = docs.limit(40).select(
        F.concat(F.lit("http://p/"), F.col("doc_id")).alias("url"), "text")
    keyed = with_part_key(df, n_buckets=8)
    m1 = write_partitioned(keyed.filter(F.col("part_key") < 4), out,
                           n_buckets=8, run_id="r1")
    p1 = {p["part_key"] for p in m1["partitions"]}
    assert p1 == {r.part_key for r in keyed.filter(F.col("part_key") < 4)
                  .select("part_key").distinct().collect()}
    # crashed-writer dir (data, no manifest): the next commit of OTHER
    # partitions must not adopt it, and readers must not see it
    torn = spark.createDataFrame(
        [("http://p/torn", "t", 99)], "url string, text string, part_key int")
    torn.write.mode("append").partitionBy("part_key").parquet(
        os.path.join(out, "data"))
    m2 = write_partitioned(
        keyed.filter((F.col("part_key") >= 4) & (F.col("part_key") < 6)),
        out, n_buckets=8, run_id="r2")
    assert 99 not in {p["part_key"] for p in m2["partitions"]}
    assert read_snapshot(spark, out).filter("part_key = 99").count() == 0
    # re-write of a committed partition: committed again, latest stats win
    target = sorted(p1)[0]
    m3 = write_partitioned(keyed.filter(F.col("part_key") == target), out,
                           n_buckets=8, run_id="r3")
    assert {p["part_key"] for p in m3["partitions"]} == {target}


def test_write_partitioned_single_materialization(spark, tmp_path):
    """The lineage write must compute its input exactly once: manifest
    stats come from the written parquet footers, not a second pass
    (round-1 defect: a stats groupBy.collect() recomputed the whole
    pipeline before the write -- 2x the job at 100 TB)."""
    import pandas as pd

    from csvweb_spark.plans.lineage import write_partitioned

    acc = spark.sparkContext.accumulator(0)

    def gen(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    base = spark.range(100).select(
        F.concat(F.lit("http://u/"), F.col("id")).alias("url"), "id")
    df = base.mapInPandas(gen, "url string, id long")
    m = write_partitioned(df, str(tmp_path / "out"), n_buckets=4)
    assert m["total_rows"] == 100
    assert acc.value == 100  # each input row flowed through exactly once
    assert sum(p["rows"] for p in m["partitions"]) == 100
    for p in m["partitions"]:
        assert p["n_files"] >= 1
        assert p["min_url"].startswith("http://u/")
        assert p["min_url"] <= p["max_url"]


def test_ann_topk_ivf(spark, embeddings):
    """IVF: k-means cells + n_probe probing must recover most exact top-1
    neighbors on the clustered embedding corpus; candidate sets shrink to
    ~n_probe/n_cells of the corpus per query."""
    from csvweb_spark.operators.similarity import (ann_topk_bruteforce,
                                                   ann_topk_ivf)
    queries = embeddings.filter(F.col("vec_id") < 3)
    exact = ann_topk_bruteforce(embeddings, queries, k=5).collect()
    approx = ann_topk_ivf(embeddings, queries, k=5,
                          n_cells=8, n_probe=3).collect()
    assert {r.query_id for r in approx} == {0, 1, 2}
    for q in (0, 1, 2):
        ranks = sorted(r.rank for r in approx if r.query_id == q)
        assert ranks == [1, 2, 3, 4, 5]
    top1_exact = {(r.query_id, r.neighbor_id) for r in exact if r.rank == 1}
    top1_approx = {(r.query_id, r.neighbor_id) for r in approx if r.rank == 1}
    assert len(top1_exact & top1_approx) >= 2  # >=2/3 recall@1


def test_gopher_quality_signals(spark):
    """Hand-computed Gopher quality signals on crafted docs (rule
    thresholds exercised one by one; min_words lowered so short
    fixtures can pass the word-count rule)."""
    from csvweb_spark.operators.text import gopher_quality
    docs = [
        # 0: clean prose - passes every rule at min_words=10
        (0, "The cat sat on the mat and that was fine to see "
            "with a dog of great size be having fun."),
        # 1: all-bullet lines -> bullet_line_bp = 10000 (fails <= 9000)
        (1, "- the first item of the list and that\n"
            "- the second item of the list to be\n"
            "- the third item with more of that"),
        # 2: hash spam -> hash_word_bp over 1000
        (2, "# # # # # the and of to that with be have more words"),
        # 3: numeric only -> alpha_word_bp = 0, n_stop_words = 0
        (3, "1 2 3 4 5 6 7 8 9 10 11 12"),
        # 4: empty
        (4, ""),
        # 5: ellipsis-ended lines -> ellipsis_line_bp = 5000 (fails)
        (5, "the cat sat and that was it...\n"
            "a dog of size to be with have fun"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in
           gopher_quality(df, min_words=10, max_words=100).collect()}

    r0 = out[0]
    assert r0.n_words == 21 and r0.n_lines == 1
    assert r0.alpha_word_bp == 10000 and r0.n_stop_words >= 6
    assert r0.bullet_line_bp == 0 and r0.keep is True

    r1 = out[1]
    assert r1.n_lines == 3 and r1.bullet_line_bp == 10000
    assert r1.keep is False

    r2 = out[2]
    assert r2.n_words == 15
    # 5 hashes / 15 words = 3333 bp > 1000
    assert r2.hash_word_bp == 3333 and r2.keep is False

    r3 = out[3]
    assert r3.alpha_word_bp == 0 and r3.n_stop_words == 0
    assert r3.keep is False

    r4 = out[4]
    assert r4.n_words == 0 and r4.n_lines == 1
    assert r4.mean_word_len_x100 == 0 and r4.keep is False

    r5 = out[5]
    assert r5.n_lines == 2 and r5.ellipsis_line_bp == 5000
    assert r5.keep is False


def test_gopher_quality_mean_word_len(spark):
    from csvweb_spark.operators.text import gopher_quality
    # 4 words, lengths 2+2+2+10 = 16 -> floor(1600/4) = 400
    df = spark.createDataFrame(
        [(0, "ab cd ef abcdefghij")], "doc_id long, text string")
    r = gopher_quality(df, min_words=1).collect()[0]
    assert r.mean_word_len_x100 == 400
    # stop-word rule fails (0 stop words) -> keep False
    assert r.n_stop_words == 0 and r.keep is False


def test_tfidf_topk(spark):
    """Hand-computed TF-IDF surrogate: 'zebra' appears only in doc 0
    (df=1) so it must outrank the ubiquitous 'the' (df=3) there; ties
    break on term asc."""
    from csvweb_spark.operators.text import tfidf_topk
    df = spark.createDataFrame([
        (0, "the zebra the zebra zebra"),
        (1, "the cat the cat the"),
        (2, "the dog"),
    ], "doc_id long, text string")
    out = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    d0 = sorted(by_doc[0], key=lambda r: r.rnk)
    # zebra: tf=3, df=1 -> 3_000_000; the: tf=2, df=3 -> 666_666
    assert (d0[0].term, d0[0].tf, d0[0].df_t, d0[0].tfidf_ppm) == \
        ("zebra", 3, 1, 3_000_000)
    assert (d0[1].term, d0[1].tfidf_ppm) == ("the", 666_666)
    d1 = sorted(by_doc[1], key=lambda r: r.rnk)
    # cat: tf=2, df=1 -> 2_000_000 beats the: tf=3, df=3 -> 1_000_000
    assert d1[0].term == "cat" and d1[1].term == "the"
    # every doc capped at k
    assert all(len(v) <= 2 for v in by_doc.values())


def test_tfidf_topk_tie_break_and_empty(spark):
    from csvweb_spark.operators.text import tfidf_topk
    df = spark.createDataFrame(
        [(0, "bb aa"), (1, "")], "doc_id long, text string")
    out = tfidf_topk(df, k=1).collect()
    # aa and bb tie at the same score -> term asc wins; empty doc: no rows
    assert len(out) == 1 and out[0].term == "aa" and out[0].doc_id == 0


def test_tfidf_topk_cache_registry(spark):
    """cache_registry mode: tf computed once (persisted), handle
    returned for caller release; results identical to stateless mode."""
    from csvweb_spark.operators.text import tfidf_topk
    df = spark.createDataFrame([
        (0, "the zebra the zebra zebra"),
        (1, "the cat the cat the"),
    ], "doc_id long, text string")
    reg = []
    out = tfidf_topk(df, k=2, cache_registry=reg).collect()
    assert len(reg) == 1 and reg[0].is_cached
    base = tfidf_topk(df, k=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, base))
    for h in reg:
        h.unpersist()
    assert not reg[0].is_cached


def test_tfidf_topk_plan_window_group_limit(spark):
    """Scale-shape pin for tfidf_topk: the per-document top-k must
    compile with a PARTIAL WindowGroupLimit (map-side <= k rows per doc
    before the doc exchange), and the shared tokenizer explode must not
    introduce a per-row Python stage.

    The input is round-robin repartitioned to model a parquet scan with
    unknown partitioning — a bare spark.range reports
    RangePartitioning(id), so doc_id rows are already co-located and
    Spark correctly plans ZERO exchanges with a Final-only
    WindowGroupLimit (the even better plan, covered by the second
    assertion block)."""
    from csvweb_spark.operators.text import tfidf_topk
    base = (spark.range(2000)
            .select(F.col("id").alias("doc_id"),
                    F.concat(F.lit("the quick term"),
                             (F.col("id") % 50).cast("string"),
                             F.lit(" and more of that text"))
                    .alias("text")))
    out = tfidf_topk(base.repartition(4), k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # doc_id-pre-clustered input (range partitioning): no exchange at
    # all between the tf aggregate and the window — Spark proves
    # co-location and the top-k runs shuffle-free.
    pre = tfidf_topk(base, k=3)
    pre_plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in pre_plan
    assert "hashpartitioning(doc_id" not in pre_plan, pre_plan


# ------------------------------------------------ interval coalescing

def test_coalesce_intervals_islands_and_gap(spark):
    from csvweb_spark.operators.interval import coalesce_intervals
    rows = [
        # key a: [1,5] + [3,8] overlap; [8,9] touches; [20,22] is an
        # island; [21,30] overlaps it; a COVERED interval [2,4] merges
        ("a", 1, 5), ("a", 3, 8), ("a", 2, 4), ("a", 8, 9),
        ("a", 20, 22), ("a", 21, 30),
        ("b", 1, 2), ("b", 4, 5),
    ]
    df = spark.createDataFrame(rows, "k string, start long, end long")
    got = {(r.k, r.start, r.end, r.n_merged) for r in
           coalesce_intervals(df, ["k"]).collect()}
    assert got == {("a", 1, 9, 4), ("a", 20, 30, 2),
                   ("b", 1, 2, 1), ("b", 4, 5, 1)}
    # max_gap=2 bridges b's gap of 2 (4 - 2 <= 2)
    gap = {(r.k, r.start, r.end) for r in
           coalesce_intervals(df, ["k"], max_gap=2).collect()
           if r.k == "b"}
    assert gap == {("b", 1, 5)}


def test_coalesce_intervals_timestamps_and_plan(spark):
    import datetime as dt
    from pyspark.sql import functions as F
    from csvweb_spark.operators.interval import coalesce_intervals
    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    df = spark.createDataFrame(
        [("u", t(0), t(10)), ("u", t(10), t(20)), ("u", t(40), t(50))],
        "k string, start timestamp, end timestamp")
    out = coalesce_intervals(df, ["k"],
                             max_gap=F.expr("INTERVAL 5 SECOND"))
    got = {(r.start.second, r.end.second) for r in out.collect()}
    assert got == {(0, 20), (40, 50)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one key shuffle, two window passes, no self-join / explode
    assert plan.count("Exchange hashpartitioning") <= 2  # window + agg
    assert "Generate" not in plan and "Join" not in plan


def test_dedup_clusters_election(spark):
    from csvweb_spark.operators.dedup import dedup_clusters
    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        [(1, base), (2, base + "tail"), (3, base + "tail two"),
         (10, "a completely different document about spark plans "
              "and shuffle boundaries in distributed execution")],
        "doc_id long, text string")
    out = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
           for r in dedup_clusters(docs, threshold=0.5).collect()}
    # 1-2-3 cluster under min-id election; 10 is a singleton
    assert out[1] == (1, 3, True)
    assert out[2] == (1, 3, False)
    assert out[3] == (1, 3, False)
    assert out[10] == (10, 1, True)
    # keep-canonical filter yields one survivor per cluster
    assert sum(1 for v in out.values() if v[2]) == 2


# --------------------------------------------------- coherence disambiguation


def test_disambiguate_by_coherence(spark):
    from csvweb_spark.operators.linking import disambiguate_by_coherence
    cand = spark.createDataFrame(
        [  # doc 1: ambiguous 'paris' {10, 11}; context texas=20 (unamb)
           (1, "paris", 10), (1, "paris", 11), (1, "texas", 20),
           # doc 2: same mention, context france=30 -> other reading
           (2, "paris", 10), (2, "paris", 11), (2, "france", 30),
           # doc 3: no context -> zero support, min id wins
           (3, "paris", 10), (3, "paris", 11),
           # doc 4: tie (both supported) -> min id
           (4, "paris", 10), (4, "paris", 11), (4, "texas", 20),
           (4, "france", 30)],
        "doc_id long, mention string, entity_id long")
    edges = spark.createDataFrame(
        [(20, 11), (30, 10)], "src long, dst long")
    out = {(r.doc_id, r.mention): (r.entity_id, r.support, r.n_candidates)
           for r in disambiguate_by_coherence(cand, edges).collect()}
    assert out[(1, "paris")] == (11, 1, 2)
    assert out[(2, "paris")] == (10, 1, 2)
    assert out[(3, "paris")] == (10, 0, 2)
    assert out[(4, "paris")] == (10, 1, 2)     # tie at 1 -> min id
    # unambiguous mentions resolve to themselves with their own support
    assert out[(1, "texas")] == (20, 0, 1)


# --------------------------------------------------- validity intervals


def test_validity_intervals_scd2(spark):
    from csvweb_spark.operators.interval import validity_intervals
    rows = [  # key s: a,a,b,a ; duplicate assertion at t2; key t: one run
        ("s", 1, "a"), ("s", 2, "a"), ("s", 2, "a"), ("s", 3, "b"),
        ("s", 5, "a"), ("t", 4, "x")]
    df = spark.createDataFrame(rows, "subj string, ts long, obj string")
    out = validity_intervals(df, ["subj"], ts_col="ts",
                             val_cols=("obj",))
    got = {(r.subj, r.valid_from): (r.obj, r.valid_to, r.n_assertions)
           for r in out.collect()}
    assert got == {("s", 1): ("a", 3, 2),
                   ("s", 3): ("b", 5, 1),
                   ("s", 5): ("a", None, 1),
                   ("t", 4): ("x", None, 1)}


# --------------------------------------------------------- kmeans / semdedup


def test_kmeans_lloyd_matches_python_replay(spark):
    import hashlib
    from csvweb_spark.operators.similarity import kmeans_lloyd
    pts = {1: [0.0, 0.1], 2: [0.1, 0.0], 3: [0.05, 0.05],
           4: [1.0, 1.0], 5: [0.9, 1.1], 6: [-1.0, -1.0], 7: [-0.9, -1.1]}
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()],
        "vec_id long, embedding array<double>")
    k, iters, S = 3, 2, 1_000_000
    a, c = kmeans_lloyd(df, k=k, iterations=iters)
    got_assign = {r.vec_id: (r.cell, r.dist) for r in a.collect()}
    got_cents = {r.cell: list(r.cv) for r in c.collect()}

    # python replay with identical integer rules
    import math
    qp = {i: [math.floor(x * S) for x in v] for i, v in pts.items()}
    order = sorted(qp, key=lambda i: (hashlib.md5(str(i).encode())
                                      .hexdigest(), i))
    cents = {ci: qp[i][:] for ci, i in enumerate(order[:k])}
    def assign():
        out = {}
        for i, v in qp.items():
            best = min((sum((x - y) ** 2 for x, y in zip(v, cents[ci])),
                        ci) for ci in cents)
            out[i] = best
        return out
    def tdiv(a, b):  # truncating integer division (Spark div semantics)
        return int(a / b) if b else 0
    for _ in range(iters):
        asg = assign()
        byc = {}
        for i, (_, ci) in asg.items():
            byc.setdefault(ci, []).append(qp[i])
        for ci in cents:
            if ci in byc:
                m = byc[ci]
                cents[ci] = [tdiv(sum(col), len(m))
                             for col in zip(*m)]
    asg = assign()
    assert got_cents == cents
    assert got_assign == {i: (ci, d) for i, (d, ci) in asg.items()}
    assert {ci for ci, _ in got_assign.values()} <= set(range(k))


# ----------------------------------------------------------- corpus split


def test_split_corpus_deterministic_and_growth_stable(spark):
    import pytest
    from csvweb_spark.operators.sampling import split_corpus
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = split_corpus(df, {"train": 8000, "val": 1000, "test": 1000})
    rows = {r.doc_id: r.split for r in out.collect()}
    from collections import Counter
    c = Counter(rows.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.75 < c["train"] / 2000 < 0.85           # ~80%
    # growth stability: a smaller corpus assigns the SAME splits
    sub = split_corpus(df.filter("doc_id < 500"),
                       {"train": 8000, "val": 1000, "test": 1000})
    assert all(rows[r.doc_id] == r.split for r in sub.collect())
    with pytest.raises(AssertionError, match="10000"):
        split_corpus(df, {"train": 9000, "val": 500})


def test_assign_to_centroids_matches_training_assignment(spark):
    from csvweb_spark.operators.similarity import (assign_to_centroids,
                                                   kmeans_lloyd)
    pts = [(i, [float(i % 3), float((i * 7) % 5) / 5]) for i in range(12)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    a, c = kmeans_lloyd(df, k=3, iterations=2)
    re = assign_to_centroids(df, c)
    want = {(r.vec_id, r.cell, r.dist) for r in a.collect()}
    got = {(r.vec_id, r.cell, r.dist) for r in re.collect()}
    assert got == want
