"""Structured Streaming parity: the streaming conversion must emit exactly
the batch pipeline's triples, and windowed stats must aggregate with
watermarks."""

import pytest
from pyspark.sql import functions as F

from csvweb_spark.csvw.model import Column, Table


def _table():
    t = Table(url="http://ex.org/t.csv")
    t.columns = [
        Column(name="k", about_url="http://ex.org/k/{k}"),
        Column(name="v", property_url="http://ex.org/def/v"),
    ]
    return t


@pytest.fixture()
def pages_dir(spark, tmp_path):
    rows = []
    for i in range(30):
        text = "k,v\n" + "".join(f"{i}-{j},val{j}\n" for j in range(5))
        rows.append((f"http://p/{i}.csv", f"2026-01-01 00:{i:02d}:00",
                     None, text, "en"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    path = str(tmp_path / "pages")
    df.repartition(3).write.parquet(path)
    return path


def test_stream_matches_batch(spark, pages_dir, tmp_path):
    from csvweb_spark.operators.triples import convert_table_group_spark
    from csvweb_spark.streaming.pipeline import stream_triples

    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    q = stream_triples(spark, pages_dir, out, ckpt, _table())
    q.awaitTermination(180)
    streamed = spark.read.parquet(out)
    batch = convert_table_group_spark(
        spark.read.parquet(pages_dir), _table())
    s = {tuple(r) for r in streamed.select("subj", "pred", "obj").collect()}
    b = {tuple(r) for r in batch.select("subj", "pred", "obj").collect()}
    assert s == b
    assert len(s) == 30 * 5 * 2


def test_stream_resume_is_incremental(spark, pages_dir, tmp_path):
    """Restarting with the same checkpoint must not duplicate output."""
    from csvweb_spark.streaming.pipeline import stream_triples
    out = str(tmp_path / "triples2")
    ckpt = str(tmp_path / "ckpt2")
    q = stream_triples(spark, pages_dir, out, ckpt, _table())
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()
    q2 = stream_triples(spark, pages_dir, out, ckpt, _table())
    q2.awaitTermination(180)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == 300


def test_windowed_stats_with_watermark(spark, pages_dir):
    from csvweb_spark.streaming.pipeline import stream_page_stats
    agg = stream_page_stats(spark, pages_dir, window="10 minutes",
                            watermark="5 minutes")
    q = (agg.writeStream.format("memory").queryName("page_stats")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from page_stats").collect()
    total = sum(r.n_pages for r in rows)
    assert total == 30
    assert len({r.win for r in rows}) == 3  # 30 pages over 3 10-min windows


def test_streaming_kg_pipeline_crash_resume(spark, pages_dir, tmp_path):
    """The FULL KG pipeline under incremental arrival, crashed mid-batch
    and resumed: a foreachBatch run dies AFTER committing batch 1's
    triples but BEFORE its entities; the restarted query must re-deliver
    batch 1, skip its committed triple buckets (lineage resume), finish
    entities/errors, and drain the rest -- with no duplicate and no lost
    partitions anywhere."""
    from csvweb_spark.operators.triples import convert_table_group_spark
    from csvweb_spark.streaming.pipeline import (read_streamed_graph,
                                                 stream_knowledge_graph)

    aliases = spark.createDataFrame(
        [("val1", 1, "http://kb/e1"), ("value one", 1, "http://kb/e1b"),
         ("val2", 2, "http://kb/e2")],
        "alias string, entity_id long, entity_uri string")
    out = str(tmp_path / "kg_stream")
    ckpt = str(tmp_path / "kg_ckpt")

    def crash_mid_batch1(batch_id, point):
        if batch_id == 1 and point == "mid":
            raise RuntimeError("injected executor loss")

    q = stream_knowledge_graph(spark, pages_dir, out, ckpt, _table(),
                               aliases, max_files_per_trigger=1,
                               batch_hook=crash_mid_batch1)
    try:
        q.awaitTermination(300)
    except Exception as e:  # some versions raise, some store the exception
        assert "injected executor loss" in str(e)
    exc = q.exception()
    assert exc is not None and "injected executor loss" in str(exc)
    # crash state: batch 0 complete; batch 1 has committed triples only
    mid_triples = read_streamed_graph(spark, out, "triples")
    assert mid_triples is not None
    n_mid = mid_triples.count()
    assert 0 < n_mid  # batch 0 (+ batch 1's committed buckets) visible
    ents_mid = read_streamed_graph(spark, out, "entities")
    assert ents_mid is not None  # batch 0 committed its entities

    # restart from the same checkpoint, no fault injection
    q2 = stream_knowledge_graph(spark, pages_dir, out, ckpt, _table(),
                                aliases, max_files_per_trigger=1)
    q2.awaitTermination(300)

    final = read_streamed_graph(spark, out, "triples")
    batch = convert_table_group_spark(
        spark.read.parquet(pages_dir), _table(), scope_by_url=True)
    want = batch.count()
    assert final.count() == want  # nothing lost, nothing duplicated
    # exactly-once per page: every page contributes its 10 triples once
    # ((subj,pred,obj) itself de-dups falsely here: canonicalization
    # legitimately collapses subjects across rows)
    per_url = {r.url: r.n for r in
               final.groupBy("url").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
    assert len(per_url) == 30 and set(per_url.values()) == {10}
    # linking + canonicalization actually ran: both alias uris of entity 1
    # landed in one component (same canonical uri)
    ents = read_streamed_graph(spark, out, "entities")
    canon = {r.uri: r.canonical_uri for r in ents.collect()}
    assert canon.get("http://kb/e1") is not None
    assert canon.get("http://kb/e1") == canon.get("http://kb/e1b")


def test_stateful_host_stats_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state (page totals + url Bloom filter) must
    persist across micro-batches; re-crawled urls don't bump distinct."""
    from csvweb_spark.streaming.pipeline import stream_host_stats

    path = str(tmp_path / "pages_batches")
    mk = lambda rows: spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string").coalesce(1)
    # batch 1: 4 urls on host a, 2 on host b
    mk([(f"http://a.example/{i}", None, None, "x", "en") for i in range(4)]
       + [(f"http://b.example/{i}", None, None, "x", "en") for i in range(2)]
       ).write.mode("append").parquet(path)
    # batch 2: host a re-crawls 2 urls + 1 new; host b 1 new
    mk([("http://a.example/0", None, None, "x", "en"),
        ("http://a.example/1", None, None, "x", "en"),
        ("http://a.example/9", None, None, "x", "en"),
        ("http://b.example/9", None, None, "x", "en"),
        ]).write.mode("append").parquet(path)

    agg = stream_host_stats(spark, path, max_files_per_trigger=1)
    q = (agg.writeStream.format("memory").queryName("host_stats")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("select * from host_stats").collect()
    # one output row per (host, micro-batch); batch order is not guaranteed,
    # so assert on order-independent facts: the cumulative row (max pages)
    # and the per-host sums
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    assert len(by_host["a.example"]) == 2  # two micro-batches reached a
    a = max(by_host["a.example"], key=lambda r: r.total_pages)
    b = max(by_host["b.example"], key=lambda r: r.total_pages)
    assert a.total_pages == 7 and b.total_pages == 3
    # state persisted across micro-batches: re-crawled urls were found in
    # the Bloom filter carried in state, so distinct-url count < page count
    assert a.total_urls_approx == 5
    assert b.total_urls_approx == 3
    assert sum(r.batch_new_urls for r in by_host["a.example"]) == 5
    assert sum(r.batch_pages for r in by_host["a.example"]) == 7


def test_stream_near_dedup_across_batches(spark, tmp_path):
    """MinHash-band state across micro-batches: a near-duplicate arriving
    in batch N+1 of a doc committed in batch N is dropped (as are exact
    cross-batch and in-batch dups), fresh docs survive - and a crash
    between the docs commit and the state commit resumes clean (no
    duplicated, no lost docs)."""
    from csvweb_spark.streaming.pipeline import (read_streamed_documents,
                                                 stream_deduped_documents)

    in_dir = str(tmp_path / "docs_in")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    text_a = " ".join(f"alpha{i}" for i in range(50))
    text_b = " ".join(f"beta{i}" for i in range(40))
    text_c = " ".join(f"gamma{i}" for i in range(45))
    near_a = text_a.replace("alpha25", "changed")  # 1 of 50 tokens

    spark.createDataFrame([(1, text_a), (2, text_b)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    # a zero-row file: its own micro-batch, which commits nothing but
    # still completes with 'done'
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"doc_id": pa.array([], pa.int64()),
                             "text": pa.array([], pa.string())}),
                   os.path.join(in_dir, "empty.parquet"))
    points = {}

    def record(batch_id, point):
        points.setdefault(batch_id, []).append(point)

    q = stream_deduped_documents(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1,
                                 batch_hook=record)
    q.awaitTermination(180)
    assert {r.doc_id for r in
            read_streamed_documents(spark, out).collect()} == {1, 2}
    assert sorted(points.values()) == [["start", "done"],
                                       ["start", "mid", "done"]]

    # batch 2: exact dup of A, near-dup of A, fresh C, in-batch dup of C
    spark.createDataFrame(
        [(3, text_a), (4, near_a), (5, text_c), (6, text_c)],
        "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)

    def crash_mid(batch_id, point):
        record(batch_id, point)
        if point == "mid":
            raise RuntimeError("injected crash before state commit")

    q2 = stream_deduped_documents(spark, in_dir, out, ckpt,
                                  batch_hook=crash_mid)
    try:
        q2.awaitTermination(180)
    except Exception as e:
        assert "injected crash" in str(e)
    assert q2.exception() is not None

    # restart, no fault: the crashed batch is re-delivered and completes
    q3 = stream_deduped_documents(spark, in_dir, out, ckpt,
                                  batch_hook=record)
    q3.awaitTermination(180)
    assert points[2] == ["start", "mid", "start", "mid", "done"]
    rows = read_streamed_documents(spark, out).collect()
    got = sorted(r.doc_id for r in rows)
    # 3 (exact cross-batch dup), 4 (near cross-batch dup) and 6 (in-batch
    # dup of 5) dropped; nothing duplicated by the crash/redelivery
    assert got == [1, 2, 5]


def test_stream_entity_components_merges_across_batches(spark, tmp_path):
    """Identity edges arriving over three micro-batches: per-batch
    incremental CC state must converge to full-graph CC, including a
    cross-batch merge that relabels an old component, with untouched
    components left alone (their delta rows stay in the old batch)."""
    from csvweb_spark.operators.canonicalize import connected_components
    from csvweb_spark.streaming.pipeline import (
        read_entity_components, stream_entity_components)

    import os

    edges_dir = str(tmp_path / "edges")
    out = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")
    batches = [
        [(1, 2), (5, 6), (10, 11)],        # three pair components
        [(2, 5), (20, 21)],                # merge {1,2}+{5,6}; new pair
        [(21, 22)],                        # extend {20,21}
    ]
    all_edges = [e for b in batches for e in b]
    # one file per micro-batch, ONE query + checkpoint lineage (the
    # operator's contract: batch ids must not restart over live state)
    os.makedirs(edges_dir)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "src long, dst long") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{edges_dir}/_stage{i}")
        part = [f for f in os.listdir(f"{edges_dir}/_stage{i}")
                if f.endswith(".parquet")][0]
        os.rename(f"{edges_dir}/_stage{i}/{part}",
                  f"{edges_dir}/batch{i}.parquet")
    q = stream_entity_components(spark, edges_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q.awaitTermination(180)
    got = {r.node: r.component for r in
           read_entity_components(spark, out).collect()}
    full = {r.node: r.component for r in connected_components(
        spark.createDataFrame(all_edges, "src long, dst long")).collect()}
    assert got == full
    assert got[6] == 1 and got[22] == 20 and got[10] == 10


def test_stream_entity_components_crash_resume(spark, tmp_path):
    """A crash after the state commit but before the checkpoint advances
    redelivers the batch: the overwrite of its own partition dir is
    byte-identical (batch content and prior state are fixed), so the
    final labeling is unaffected."""
    from csvweb_spark.streaming.pipeline import (
        read_entity_components, stream_entity_components)

    edges_dir = str(tmp_path / "edges")
    out = str(tmp_path / "labels")
    spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long") \
        .coalesce(1).write.parquet(edges_dir)

    class Crash(Exception):
        pass

    def crash_after_commit(batch_id, point):
        if point == "done":
            raise Crash("injected")

    q = stream_entity_components(spark, edges_dir, out,
                                 str(tmp_path / "ckpt1"),
                                 batch_hook=crash_after_commit)
    try:
        q.awaitTermination(180)
    except Exception:
        pass
    assert not q.isActive or q.exception() is not None
    # resume from the SAME checkpoint (a fresh one is now refused by
    # the _owner stamp - round-5 review): the crashed batch's ack never
    # landed, so it REDELIVERS; its own-dir overwrite is byte-identical
    # and the state must end up identical, not doubled
    q2 = stream_entity_components(spark, edges_dir, out,
                                  str(tmp_path / "ckpt1"))
    q2.awaitTermination(180)
    got = {r.node: r.component for r in
           read_entity_components(spark, out).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_compact_entity_components(spark, tmp_path):
    """Compaction folds the deltas into one partition with identical
    latest-batch-wins reads, and is a no-op at one partition."""
    import os

    from csvweb_spark.streaming.pipeline import (
        compact_entity_components, read_entity_components,
        stream_entity_components)

    edges_dir = str(tmp_path / "edges")
    out = str(tmp_path / "labels")
    os.makedirs(edges_dir)
    for i, rows in enumerate([[(1, 2), (5, 6)], [(2, 5)]]):
        spark.createDataFrame(rows, "src long, dst long") \
            .coalesce(1).write.parquet(f"{tmp_path}/_s{i}")
        part = [f for f in os.listdir(f"{tmp_path}/_s{i}")
                if f.endswith(".parquet")][0]
        os.rename(f"{tmp_path}/_s{i}/{part}", f"{edges_dir}/b{i}.parquet")
    q = stream_entity_components(spark, edges_dir, out,
                                 str(tmp_path / "ckpt"),
                                 max_files_per_trigger=1)
    q.awaitTermination(180)
    before = {r.node: r.component for r in
              read_entity_components(spark, out).collect()}
    assert before == {1: 1, 2: 1, 5: 1, 6: 1}
    state_root = os.path.join(out, "_state", "labels")
    assert len([d for d in os.listdir(state_root)
                if d.startswith("batch=")]) == 2
    new_id = compact_entity_components(spark, out)
    assert new_id == 2
    # one consolidated partition + the batch-id offset marker (+2 per
    # compaction: the retry-collision guard, see _compact_state)
    assert sorted(d for d in os.listdir(state_root)
                  if d != "_owner") == ["_epoch_2", "batch=2"]
    after = {r.node: r.component for r in
             read_entity_components(spark, out).collect()}
    assert after == before
    # second compaction is a no-op returning the live partition id
    assert compact_entity_components(spark, out) == 2


def test_compact_then_stream_resume_preserves_state(spark, tmp_path):
    """REGRESSION (round-4 review): the consolidated partition id
    (max+1) is exactly the id Spark's checkpoint hands the NEXT
    micro-batch after a resume - without the offset file the resumed
    batch would exclude the consolidated dir as 'its own crashed
    attempt', read empty committed state and then overwrite it,
    silently destroying every committed label."""
    import os

    from csvweb_spark.streaming.pipeline import (
        compact_entity_components, read_entity_components,
        stream_entity_components)

    edges_dir = str(tmp_path / "edges")
    out = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(edges_dir)

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, "src long, dst long") \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{edges_dir}/{name}.parquet")

    add_batch_file("b0", [(1, 2), (5, 6)])
    add_batch_file("b1", [(2, 5)])
    q = stream_entity_components(spark, edges_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q.awaitTermination(180)
    assert compact_entity_components(spark, out) == 2

    # new edges arrive; the stream resumes from the SAME checkpoint -
    # its next micro-batch id (2) collides with the consolidated dir id
    add_batch_file("b2", [(10, 11)])
    q2 = stream_entity_components(spark, edges_dir, out, ckpt,
                                  max_files_per_trigger=1)
    q2.awaitTermination(180)
    got = {r.node: r.component for r in
           read_entity_components(spark, out).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1, 10: 10, 11: 10}
    state_root = os.path.join(out, "_state", "labels")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    # consolidated snapshot intact; new batch landed at 2+offset(2)=4
    assert dirs == ["batch=2", "batch=4"]


def test_read_entity_components_skips_torn_batch_dir(spark, tmp_path):
    """A crashed batch's partial dir (no _SUCCESS marker) must be
    invisible to consumers - the visible state stays 'as of the
    previous batch' instead of serving torn, half-relabeled rows."""
    import os
    import shutil

    from csvweb_spark.streaming.pipeline import (
        read_entity_components, stream_entity_components)

    edges_dir = str(tmp_path / "edges")
    out = str(tmp_path / "labels")
    spark.createDataFrame([(1, 2)], "src long, dst long") \
        .coalesce(1).write.parquet(edges_dir)
    q = stream_entity_components(spark, edges_dir, out,
                                 str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    state_root = os.path.join(out, "_state", "labels")
    # forge a torn higher batch: part-files copied, _SUCCESS removed
    src = os.path.join(state_root, "batch=0")
    torn = os.path.join(state_root, "batch=7")
    shutil.copytree(src, torn)
    os.remove(os.path.join(torn, "_SUCCESS"))
    got = {r.node: r.component for r in
           read_entity_components(spark, out).collect()}
    assert got == {1: 1, 2: 1}
    input_files = read_entity_components(spark, out).inputFiles()
    assert all("batch=7" not in f for f in input_files)


def test_stream_latest_assertions_merges_late_data(spark, tmp_path):
    """The temporal-KG head state: per-key TS-argmax across micro-batch
    deltas. Late data (batch 2 carries an OLDER ts for a key updated in
    batch 1) must lose to the newer assertion - the merge is ts-argmax,
    not latest-batch-wins - and compaction + stream resume must
    preserve the state (shared offset protocol)."""
    import os
    from datetime import datetime

    from csvweb_spark.streaming.pipeline import (
        compact_latest_assertions, read_latest_assertions,
        stream_latest_assertions)

    edges_dir = str(tmp_path / "in")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(edges_dir)
    schema = "subj string, pred string, obj string, ts timestamp"

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{edges_dir}/{name}.parquet")

    t = lambda d: datetime(2024, 1, d)
    add_batch_file("b0", [("s1", "p", "v1", t(1)), ("s2", "p", "w1", t(2)),
                          ("s1", "p", "v2", t(5))])  # in-batch supersede
    add_batch_file("b1", [("s1", "p", "OLD", t(3)),   # late: loses to v2
                          ("s2", "p", "w2", t(9))])   # newer: wins
    q = stream_latest_assertions(spark, edges_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q.awaitTermination(180)
    got = {(r.subj, r.pred): (r.obj, r.ts) for r in
           read_latest_assertions(spark, out).collect()}
    assert got == {("s1", "p"): ("v2", t(5)), ("s2", "p"): ("w2", t(9))}

    # compact, then resume with new data from the SAME checkpoint: the
    # consolidated dir must survive the next micro-batch (offset file)
    cid = compact_latest_assertions(spark, out)
    add_batch_file("b2", [("s3", "p", "x1", t(4)),
                          ("s1", "p", "v3", t(20))])
    q2 = stream_latest_assertions(spark, edges_dir, out, ckpt,
                                  max_files_per_trigger=1)
    q2.awaitTermination(180)
    got2 = {(r.subj, r.pred): r.obj for r in
            read_latest_assertions(spark, out).collect()}
    assert got2 == {("s1", "p"): "v3", ("s2", "p"): "w2",
                    ("s3", "p"): "x1"}
    state_root = os.path.join(out, "_state", "latest")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    assert f"batch={cid}" in dirs and len(dirs) == 2


def test_retry_after_compaction_preserves_snapshot(spark, tmp_path):
    """REGRESSION (round-4 review): a micro-batch that crashed AFTER
    its state write but BEFORE the checkpoint commit is retried after
    compaction. With a +1 offset bump the retry's dir id would land
    exactly on the consolidated snapshot and exclude-and-overwrite it;
    the +2 bump puts the retry strictly after the snapshot."""
    import os

    from csvweb_spark.streaming.pipeline import (
        compact_entity_components, read_entity_components,
        stream_entity_components)

    edges_dir = str(tmp_path / "edges")
    out = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(edges_dir)

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, "src long, dst long") \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{edges_dir}/{name}.parquet")

    add_batch_file("b0", [(1, 2)])
    add_batch_file("b1", [(5, 6)])

    class Crash(Exception):
        pass

    def crash_after_batch1_commit(batch_id, point):
        if batch_id == 1 and point == "done":
            raise Crash("injected")

    q = stream_entity_components(spark, edges_dir, out, ckpt,
                                 max_files_per_trigger=1,
                                 batch_hook=crash_after_batch1_commit)
    try:
        q.awaitTermination(180)
    except Exception:
        pass
    # batch 1's dir is written but its checkpoint offset is not
    # committed; compact NOW (stream stopped)
    cid = compact_entity_components(spark, out)
    assert cid == 2
    # resume: Spark retries batch 1, whose delta is already inside the
    # snapshot - the folded-replay rule SKIPS its commit (round-5
    # review: for additive families a re-written delta would double-
    # count; for latest-wins labels it would just be a redundant dir),
    # and the snapshot survives with full state
    q2 = stream_entity_components(spark, edges_dir, out, ckpt,
                                  max_files_per_trigger=1)
    q2.awaitTermination(180)
    got = {r.node: r.component for r in
           read_entity_components(spark, out).collect()}
    assert got == {1: 1, 2: 1, 5: 5, 6: 5}
    state_root = os.path.join(out, "_state", "labels")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    assert dirs == ["batch=2"]


def test_double_compaction_offset_monotonic(spark, tmp_path):
    """REGRESSION (round-4 review): each compaction must ADVANCE the
    offset (a new _epoch_<n> marker, never an in-place rewrite - the
    Hadoop adapter's atomic write is first-commit-wins, so a rewritten
    single file would silently keep the old offset on hdfs/s3a)."""
    import os

    from csvweb_spark.plans.fs import fs_for
    from csvweb_spark.streaming.pipeline import (
        _compact_offset, compact_entity_components,
        read_entity_components, stream_entity_components)

    edges_dir = str(tmp_path / "edges")
    out = str(tmp_path / "labels")
    os.makedirs(edges_dir)

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, "src long, dst long") \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{edges_dir}/{name}.parquet")

    add_batch_file("b0", [(1, 2)])
    add_batch_file("b1", [(5, 6)])
    q = stream_entity_components(spark, edges_dir, out,
                                 str(tmp_path / "ckpt"),
                                 max_files_per_trigger=1)
    q.awaitTermination(180)
    assert compact_entity_components(spark, out) == 2
    fs = fs_for(out, spark)
    root = os.path.join(out, "_state", "labels")
    assert _compact_offset(fs, root) == 2
    # genuinely NEW deltas arrive on the SAME checkpoint lineage (the
    # _owner stamp rejects a different checkpoint against this state
    # dir - round-5 review closed that silent batch-id-aliasing hole),
    # landing at batch ids 2/3 -> dirs 4/5 above the snapshot; then
    # compact AGAIN: offset must reach 4
    add_batch_file("b2", [(7, 8)])
    add_batch_file("b3", [(9, 10)])
    q2 = stream_entity_components(spark, edges_dir, out,
                                  str(tmp_path / "ckpt"),
                                  max_files_per_trigger=1)
    q2.awaitTermination(180)
    assert compact_entity_components(spark, out) > 2
    assert _compact_offset(fs, root) == 4
    got = {r.node: r.component for r in
           read_entity_components(spark, out).collect()}
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 7: 7, 8: 7, 9: 9, 10: 9}


def test_compact_dedup_state(spark, tmp_path):
    """Round-4 VERDICT #5: the MinHash band/signature dirs fold under
    the shared _compact_state protocol. After compaction the stream
    still drops cross-batch near-dups (state content is preserved) and
    post-compaction batches write past the snapshot id."""
    import os

    from csvweb_spark.streaming.pipeline import (compact_dedup_state,
                                                 read_streamed_documents,
                                                 stream_deduped_documents)

    in_dir = str(tmp_path / "docs_in")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    text_a = " ".join(f"alpha{i}" for i in range(50))
    text_b = " ".join(f"beta{i}" for i in range(40))
    near_a = text_a.replace("alpha25", "changed")

    spark.createDataFrame([(1, text_a)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame([(2, text_b)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_deduped_documents(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q.awaitTermination(180)
    for fam in ("bands", "sigs"):
        assert len([d for d in os.listdir(os.path.join(out, "_state", fam))
                    if d.startswith("batch=")]) == 2
    bands_id, sigs_id = compact_dedup_state(spark, out)
    assert (bands_id, sigs_id) == (2, 2)
    for fam in ("bands", "sigs"):
        assert sorted(f for f in os.listdir(os.path.join(out, "_state",
                                                         fam))
                      if f != "_owner") == ["_epoch_2", "batch=2"]
    # batch 3 (stream batch id 2 -> dir id 4): near-dup of the COMPACTED
    # doc 1 must still be dropped, fresh doc survives
    spark.createDataFrame([(3, near_a), (4, "fresh " * 30)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_deduped_documents(spark, in_dir, out, ckpt,
                                  max_files_per_trigger=1)
    q2.awaitTermination(180)
    got = sorted(r.doc_id for r in
                 read_streamed_documents(spark, out).collect())
    assert got == [1, 2, 4]
    for fam in ("bands", "sigs"):
        dirs = sorted(d for d in
                      os.listdir(os.path.join(out, "_state", fam))
                      if d.startswith("batch="))
        assert dirs == ["batch=2", "batch=4"]


def test_compact_dedup_state_crash_between_folds(spark, tmp_path):
    """A crash between the bands fold and the sigs fold leaves the two
    families at different offsets - reads stay correct, the stream
    keeps deduping, and the next compact_dedup_state finishes the
    job (the crash-between-compaction-steps case the label state
    already covers)."""
    import os

    from csvweb_spark.streaming.pipeline import (
        DEDUP_BANDS_SUBDIR, _compact_state, _read_union_state,
        compact_dedup_state, read_streamed_documents,
        stream_deduped_documents)

    in_dir = str(tmp_path / "docs_in")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    text_a = " ".join(f"alpha{i}" for i in range(50))
    text_b = " ".join(f"beta{i}" for i in range(40))
    near_a = text_a.replace("alpha7", "changed")

    spark.createDataFrame([(1, text_a)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame([(2, text_b)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_deduped_documents(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q.awaitTermination(180)
    # "crash" after the first fold: only the bands family is compacted
    assert _compact_state(
        spark, out, DEDUP_BANDS_SUBDIR,
        lambda s, o: _read_union_state(s, o, DEDUP_BANDS_SUBDIR)) == 2
    # stream keeps working against mixed state (bands snapshot at
    # offset 2, sigs deltas at offset 0)
    spark.createDataFrame([(3, near_a), (4, "fresh " * 30)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_deduped_documents(spark, in_dir, out, ckpt,
                                  max_files_per_trigger=1)
    q2.awaitTermination(180)
    got = sorted(r.doc_id for r in
                 read_streamed_documents(spark, out).collect())
    assert got == [1, 2, 4]
    # the retried compaction completes the sigs fold
    bands_id, sigs_id = compact_dedup_state(spark, out)
    assert sigs_id > 0
    sigs_dirs = [d for d in os.listdir(os.path.join(out, "_state", "sigs"))
                 if d.startswith("batch=")]
    assert len(sigs_dirs) == 1


def test_stream_line_dedup_and_compaction(spark, tmp_path):
    """Cross-batch line dedup state: a line committed in batch N is
    stripped from batch N+1 docs; compaction folds the digest dirs;
    a crash between the docs commit and the digest commit resumes
    clean."""
    import os

    from csvweb_spark.streaming.pipeline import (
        compact_line_digest_state, read_line_digest_state,
        read_streamed_documents, stream_line_deduped_documents)

    in_dir = str(tmp_path / "docs_in")
    out = str(tmp_path / "ld_out")
    ckpt = str(tmp_path / "ld_ckpt")
    spark.createDataFrame(
        [(1, "common\nunique1"), (2, "common\nunique2")],
        "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(3, "common\nunique1\nfresh3")], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_line_deduped_documents(spark, in_dir, out, ckpt,
                                      max_files_per_trigger=1)
    q.awaitTermination(180)
    texts = {r.doc_id: r.text for r in
             read_streamed_documents(spark, out).collect()}
    # corpus-first: doc 1 keeps both lines, doc 2 loses "common",
    # doc 3 (later batch) loses both committed lines
    assert texts == {1: "common\nunique1", 2: "unique2", 3: "fresh3"}
    n_digests = read_line_digest_state(spark, out).count()
    assert n_digests == 4  # common, unique1, unique2, fresh3
    assert compact_line_digest_state(spark, out) == 2
    root = os.path.join(out, "_state", "lines")
    assert sorted(d for d in os.listdir(root)
                  if d != "_owner") == ["_epoch_2", "batch=2"]
    assert read_line_digest_state(spark, out).count() == n_digests
    # batch 3 after compaction, with a crash between docs and digest
    # commit: redelivery rewrites both deterministically
    spark.createDataFrame(
        [(4, "fresh3\nnew4")], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)

    def crash_mid(batch_id, point):
        if point == "mid":
            raise RuntimeError("injected crash before digest commit")

    q2 = stream_line_deduped_documents(spark, in_dir, out, ckpt,
                                       max_files_per_trigger=1,
                                       batch_hook=crash_mid)
    try:
        q2.awaitTermination(180)
    except Exception as e:
        assert "injected crash" in str(e)
    q3 = stream_line_deduped_documents(spark, in_dir, out, ckpt,
                                       max_files_per_trigger=1)
    q3.awaitTermination(180)
    texts = {r.doc_id: r.text for r in
             read_streamed_documents(spark, out).collect()}
    assert texts[4] == "new4"  # "fresh3" stripped against the snapshot
    assert read_line_digest_state(spark, out).count() == 5
    dirs = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert dirs == ["batch=2", "batch=4"]  # snapshot + offset-mapped delta


def test_stream_web_graph_additive_merge_and_compaction(spark, tmp_path):
    """Cumulative web link graph from streamed HTML pages: per-batch
    host-edge deltas sum-merge (additive, order-independent), and
    compaction + resume from the same checkpoint preserves the counts
    (shared offset protocol)."""
    import os
    from datetime import datetime

    from csvweb_spark.streaming.pipeline import (
        compact_host_graph, read_host_graph, stream_web_graph)

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")

    def page(url, *hrefs):
        body = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        return (url, datetime(2026, 1, 1),
                f"<html><body>{body}</body></html>".encode(), None, "en")

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{pages_dir}/{name}.parquet")

    add_batch_file("b0", [
        page("http://a.x/1", "http://b.x/p", "http://c.x/p"),
        page("http://a.x/2", "http://b.x/q"),
    ])
    add_batch_file("b1", [
        page("http://a.x/3", "http://b.x/p", "/self"),
        page("http://d.x/1", "http://b.x/p"),
    ])
    q = stream_web_graph(spark, pages_dir, out, ckpt,
                         max_files_per_trigger=1)
    q.awaitTermination(180)
    got = {(r.src_host, r.dst_host): r.n_links
           for r in read_host_graph(spark, out).collect()}
    assert got == {("a.x", "b.x"): 3, ("a.x", "c.x"): 1,
                   ("a.x", "a.x"): 1, ("d.x", "b.x"): 1}

    # compact, then resume with new pages: counts keep accumulating
    cid = compact_host_graph(spark, out)
    add_batch_file("b2", [page("http://a.x/4", "http://c.x/p")])
    q2 = stream_web_graph(spark, pages_dir, out, ckpt,
                          max_files_per_trigger=1)
    q2.awaitTermination(180)
    got2 = {(r.src_host, r.dst_host): r.n_links
            for r in read_host_graph(spark, out).collect()}
    assert got2[("a.x", "c.x")] == 2 and got2[("a.x", "b.x")] == 3
    state_root = os.path.join(out, "_state", "host_edges")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    assert f"batch={cid}" in dirs and len(dirs) == 2


def test_streaming_crawl_state_feeds_recrawl(spark, tmp_path):
    """Composition: the crawl's fetch log streams through the
    latest-assertion state (key=url, ts=warc_ts - ts-argmax is exactly
    'latest crawl per url'), and the committed state feeds
    sitemaps.recrawl_candidates unchanged - the recrawl frontier is a
    read over streaming state, no new machinery."""
    import os
    from datetime import datetime

    from csvweb_spark.sources.sitemaps import (recrawl_candidates,
                                               sitemap_entries)
    from csvweb_spark.streaming.pipeline import (
        read_latest_assertions, stream_latest_assertions)

    fetch_dir = str(tmp_path / "fetch")
    out = str(tmp_path / "crawlstate")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(fetch_dir)
    schema = "url string, http_status int, warc_ts timestamp"

    def add(name, rows):
        stage = f"{tmp_path}/_s_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{fetch_dir}/{name}.parquet")

    t = lambda d: datetime(2026, 1, d)
    add("b0", [("u:stale", 200, t(5)), ("u:fresh", 200, t(1))])
    add("b1", [("u:fresh", 200, t(12))])  # refetched later
    q = stream_latest_assertions(
        spark, fetch_dir, out, ckpt, schema=schema,
        key_cols=("url",), val_cols=("http_status",),
        ts_col="warc_ts", max_files_per_trigger=1)
    q.awaitTermination(180)

    state = read_latest_assertions(
        spark, out, key_cols=("url",), val_cols=("http_status",),
        ts_col="warc_ts")
    body = ("<urlset>"
            "<url><loc>u:stale</loc><lastmod>2026-01-10</lastmod></url>"
            "<url><loc>u:fresh</loc><lastmod>2026-01-10</lastmod></url>"
            "<url><loc>u:new</loc><lastmod>2026-01-10</lastmod></url>"
            "</urlset>")
    entries = sitemap_entries(spark.createDataFrame(
        [("s", body)], "url string, body string"))
    got = {r["url"]: r["status"] for r in recrawl_candidates(
        entries, state.select("url", "warc_ts")).collect()}
    assert got == {"u:stale": "stale", "u:fresh": "fresh",
                   "u:new": "new"}


def test_stream_warc_ingest_supersede_compact_resume(spark, tmp_path):
    """Landing WARC segments stream into the pages state: per-url
    warc_ts-argmax (a re-crawl in a LATER batch supersedes; an OLDER
    late-arriving snapshot loses), response filtering inherited from
    warc_pages, and compaction + resume under the shared offset
    protocol."""
    import os

    from csvweb_spark.streaming.pipeline import (compact_warc_pages,
                                                 read_warc_pages,
                                                 stream_warc_ingest)

    seg_dir = str(tmp_path / "segs")
    out = str(tmp_path / "pages_state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(seg_dir)

    def record(url, date, body, status=b"200 OK",
               ctype=b"text/html"):
        http = (b"HTTP/1.1 " + status + b"\r\nContent-Type: " + ctype +
                b"\r\n\r\n" + body)
        hdr = (f"WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Date: {date}\r\nWARC-Target-URI: {url}\r\n"
               f"Content-Length: {len(http)}\r\n").encode()
        return hdr + b"\r\n" + http + b"\r\n\r\n"

    with open(f"{seg_dir}/seg0.warc", "wb") as f:
        f.write(record("http://a.org/p", "2026-01-01T00:00:00Z",
                       b"<html>v1</html>")
                + record("http://a.org/skip", "2026-01-01T00:00:00Z",
                         b"\x89PNG", ctype=b"image/png"))
    with open(f"{seg_dir}/seg1.warc", "wb") as f:
        f.write(record("http://a.org/p", "2026-01-05T00:00:00Z",
                       b"<html>v2</html>")
                + record("http://a.org/q", "2026-01-02T00:00:00Z",
                         b"<html>q</html>"))
    q = stream_warc_ingest(spark, seg_dir, out, ckpt,
                           max_files_per_trigger=1)
    q.awaitTermination(180)
    got = {r["url"]: bytes(r["html"])
           for r in read_warc_pages(spark, out).collect()}
    assert got == {"http://a.org/p": b"<html>v2</html>",
                   "http://a.org/q": b"<html>q</html>"}

    cid = compact_warc_pages(spark, out)
    # a LATE batch carrying an OLDER snapshot must lose to the state
    with open(f"{seg_dir}/seg2.warc", "wb") as f:
        f.write(record("http://a.org/p", "2026-01-03T00:00:00Z",
                       b"<html>LATE-OLD</html>")
                + record("http://a.org/r", "2026-01-09T00:00:00Z",
                         b"<html>r</html>"))
    q2 = stream_warc_ingest(spark, seg_dir, out, ckpt,
                            max_files_per_trigger=1)
    q2.awaitTermination(180)
    got2 = {r["url"]: bytes(r["html"])
            for r in read_warc_pages(spark, out).collect()}
    assert got2["http://a.org/p"] == b"<html>v2</html>"
    assert got2["http://a.org/r"] == b"<html>r</html>"
    state_root = os.path.join(out, "_state", "warc_pages")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    assert f"batch={cid}" in dirs and len(dirs) == 2


def test_streaming_shacl_gate_clean_and_quarantine(spark, pages_dir,
                                                   tmp_path):
    """Round-5 SHACL publish gate on the streaming KG: a conformant
    shape commits triples per batch with empty violation reports; a
    violating shape under quarantine_on_violation withholds EVERY
    batch's triples and commits only the reports."""
    from csvweb_spark.streaming.pipeline import (read_streamed_graph,
                                                 stream_knowledge_graph)
    aliases = spark.createDataFrame(
        [("val1", 1, "http://kb/e1")],
        "alias string, entity_id long, entity_uri string")
    V = "http://ex.org/def/v"

    clean_shape = [{"shape": "s", "target_subjects_of": V,
                    "properties": [{"path": V, "min_count": 1,
                                    "max_count": 1}]}]
    out1, ck1 = str(tmp_path / "kg1"), str(tmp_path / "ck1")
    points1, points2 = {}, {}
    q = stream_knowledge_graph(
        spark, pages_dir, out1, ck1, _table(), aliases,
        max_files_per_trigger=1, shapes=clean_shape,
        batch_hook=lambda b, p: points1.setdefault(b, []).append(p))
    q.awaitTermination(300)
    assert sorted(points1) == [0, 1, 2]
    assert all(p == ["start", "mid", "done"] for p in points1.values())
    assert read_streamed_graph(spark, out1, "triples").count() > 0
    viol = read_streamed_graph(spark, out1, "violations")
    assert viol is None or viol.count() == 0

    bad_shape = [{"shape": "s", "target_subjects_of": V,
                  "properties": [{"path": V, "pattern": "^zz"}]}]
    out2, ck2 = str(tmp_path / "kg2"), str(tmp_path / "ck2")
    q2 = stream_knowledge_graph(
        spark, pages_dir, out2, ck2, _table(), aliases,
        max_files_per_trigger=1, shapes=bad_shape,
        quarantine_on_violation=True,
        batch_hook=lambda b, p: points2.setdefault(b, []).append(p))
    q2.awaitTermination(300)
    # quarantined batches complete without reaching 'mid'
    assert sorted(points2) == [0, 1, 2]
    assert all(p == ["start", "done"] for p in points2.values())
    assert read_streamed_graph(spark, out2, "triples") is None
    reports = read_streamed_graph(spark, out2, "violations")
    assert reports.count() > 0
    assert {r.constraint for r in reports.collect()} == {"pattern"}


def test_stream_warc_ingest_maintains_cdx(spark, tmp_path):
    """maintain_cdx=True: every micro-batch commits its CDX delta -
    the index keeps ALL response records (incl non-html the page
    state filters), and each row's (segment, offset, length) span
    slices back to exactly its record."""
    import os

    from csvweb_spark.sources.warc import parse_warc_bytes
    from csvweb_spark.streaming.pipeline import (read_warc_cdx,
                                                 stream_warc_ingest)

    seg_dir = str(tmp_path / "segs")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    os.makedirs(seg_dir)

    def record(url, date, body, ctype=b"text/html"):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype +
                b"\r\n\r\n" + body)
        hdr = (f"WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Date: {date}\r\nWARC-Target-URI: {url}\r\n"
               f"Content-Length: {len(http)}\r\n").encode()
        return hdr + b"\r\n" + http + b"\r\n\r\n"

    with open(f"{seg_dir}/s0.warc", "wb") as f:
        f.write(record("http://a.org/p", "2026-01-01T00:00:00Z",
                       b"<html>v1</html>")
                + record("http://a.org/img", "2026-01-01T00:00:01Z",
                         b"\x89PNG", ctype=b"image/png"))
    with open(f"{seg_dir}/s1.warc", "wb") as f:
        f.write(record("http://b.org/q", "2026-01-02T00:00:00Z",
                       b"<html>q</html>"))
    q = stream_warc_ingest(spark, seg_dir, out, ckpt,
                           max_files_per_trigger=1, maintain_cdx=True)
    q.awaitTermination(180)
    idx = read_warc_cdx(spark, out)
    rows = idx.collect()
    # all three responses indexed, incl the png the page state drops
    assert {r.url for r in rows} == {"http://a.org/p",
                                     "http://a.org/img",
                                     "http://b.org/q"}
    assert {r.mime for r in rows} == {"text/html", "image/png"}
    for r in rows:  # spans ranged-fetch back to exactly their record
        with open(r.segment_id.replace("file:", ""), "rb") as f:
            f.seek(r.offset)
            rec = f.read(r.length)
        assert parse_warc_bytes("probe", rec)[0][3] == r.url


def test_stream_table_fingerprint_matches_batch_recompute(spark, tmp_path):
    """Streaming ingest verification: per-batch fingerprint deltas
    sum-merge to EXACTLY sketches.table_fingerprint of the union of
    the ingested rows (mergeability = column addition), and
    compaction + resume preserves the checksum."""
    import os
    from datetime import datetime

    from csvweb_spark.operators.sketches import table_fingerprint
    from csvweb_spark.streaming.pipeline import (
        compact_table_fingerprint, read_table_fingerprint,
        stream_table_fingerprint)

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")

    def row(u, t):
        return (u, datetime(2026, 1, 1), None, t, "en")

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{pages_dir}/{name}.parquet")

    b0 = [row("http://a/1", "t one"), row("http://a/2", None)]
    b1 = [row("http://a/3", "t three"), row("http://a/1", "t one")]
    add_batch_file("b0", b0)
    add_batch_file("b1", b1)
    q = stream_table_fingerprint(spark, pages_dir, out, ckpt,
                                 cols=("url", "text"), n_buckets=8,
                                 max_files_per_trigger=1)
    q.awaitTermination(180)

    def fp_dict(df):
        return {r.bucket: (r.n_rows, str(r.hash_sum))
                for r in df.collect()}

    got = fp_dict(read_table_fingerprint(spark, out))
    want = fp_dict(table_fingerprint(
        spark.createDataFrame(b0 + b1, schema), ["url", "text"],
        n_buckets=8))
    assert got == want                  # duplicate url/1 counted twice

    cid = compact_table_fingerprint(spark, out)
    add_batch_file("b2", [row("http://a/4", "t four")])
    q2 = stream_table_fingerprint(spark, pages_dir, out, ckpt,
                                  cols=("url", "text"), n_buckets=8,
                                  max_files_per_trigger=1)
    q2.awaitTermination(180)
    got2 = fp_dict(read_table_fingerprint(spark, out))
    want2 = fp_dict(table_fingerprint(
        spark.createDataFrame(b0 + b1 + [row("http://a/4", "t four")],
                              schema), ["url", "text"], n_buckets=8))
    assert got2 == want2
    state_root = os.path.join(out, "_state", "fingerprint")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    assert f"batch={cid}" in dirs and len(dirs) == 2


def test_stream_inverted_index_matches_batch_build(spark, tmp_path):
    """Streaming BM25 index maintenance: per-batch posting deltas union
    to EXACTLY the batch build over the ingested corpus (append-only
    keys), BM25 retrieval over the streamed index equals retrieval over
    the batch index, and compaction + resume keep accumulating."""
    import os

    from csvweb_spark.operators.retrieval import (bm25_topk_terms,
                                                  build_inverted_index)
    from csvweb_spark.streaming.pipeline import (compact_inverted_index,
                                                 read_inverted_index,
                                                 stream_inverted_index)

    docs_dir = str(tmp_path / "docs")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)
    schema = "doc_id long, text string"

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{docs_dir}/{name}.parquet")

    b0 = [(1, "apple banana apple"), (2, "banana cherry")]
    b1 = [(3, "apple fig"), (4, "")]
    add_batch_file("b0", b0)
    add_batch_file("b1", b1)
    q = stream_inverted_index(spark, docs_dir, out, ckpt,
                              max_files_per_trigger=1)
    q.awaitTermination(180)

    streamed = read_inverted_index(spark, out)
    batch = build_inverted_index(
        spark.createDataFrame(b0 + b1, schema))
    assert sorted(map(tuple, streamed.collect())) == \
        sorted(map(tuple, batch.collect()))

    # retrieval over the streamed index == retrieval over a batch build
    qterms = spark.createDataFrame([(1, "apple"), (1, "banana")],
                                   "query_id long, term string")
    a = sorted(map(tuple, bm25_topk_terms(streamed, qterms, k=10)
                   .select("query_id", "key", "score_ppm").collect()))
    b = sorted(map(tuple, bm25_topk_terms(batch, qterms, k=10)
                   .select("query_id", "key", "score_ppm").collect()))
    assert a == b and len(a) == 3

    # compact, resume with a new batch: union keeps accumulating
    cid = compact_inverted_index(spark, out)
    add_batch_file("b2", [(5, "banana banana")])
    q2 = stream_inverted_index(spark, docs_dir, out, ckpt,
                               max_files_per_trigger=1)
    q2.awaitTermination(180)
    final = read_inverted_index(spark, out)
    full = build_inverted_index(
        spark.createDataFrame(b0 + b1 + [(5, "banana banana")], schema))
    assert sorted(map(tuple, final.collect())) == \
        sorted(map(tuple, full.collect()))
    state_root = os.path.join(out, "_state", "postings")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    assert f"batch={cid}" in dirs and len(dirs) == 2


def test_stream_corpus_sketches_match_batch_builds(spark, tmp_path):
    """Streaming sketch maintenance: CM counter deltas sum-merge to
    EXACTLY cm_build over every ingested token and HLL register deltas
    max-merge to EXACTLY hll_sketch over the same bag; compaction +
    resume preserve both."""
    import os
    from datetime import datetime

    import pyspark.sql.functions as F

    from csvweb_spark.operators.sketches import cm_build, hll_sketch
    from csvweb_spark.operators.text import whitespace_tokens
    from csvweb_spark.streaming.pipeline import (
        compact_token_counters, compact_vocab_registers,
        read_token_counters, read_vocab_registers,
        stream_corpus_sketches)

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")

    def row(u, t):
        return (u, datetime(2026, 1, 1), None, t, "en")

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{pages_dir}/{name}.parquet")

    def toks_of(rows):
        return spark.createDataFrame(rows, schema).select(
            F.explode(whitespace_tokens(F.col("text"))).alias("token"))

    b0 = [row("http://a/1", "alpha beta alpha"), row("http://a/2", None)]
    b1 = [row("http://a/3", "beta gamma"), row("http://a/4", "alpha")]
    add_batch_file("b0", b0)
    add_batch_file("b1", b1)
    q = stream_corpus_sketches(spark, pages_dir, out, ckpt,
                               d=3, w=64, p=6, max_files_per_trigger=1)
    q.awaitTermination(180)

    def cm_dict(df):
        return {(r.row_ix, r.col_ix): r.cnt for r in df.collect()}

    def hll_dict(df):
        return {r.reg_ix: r.rho for r in df.collect()}

    assert cm_dict(read_token_counters(spark, out)) \
        == cm_dict(cm_build(toks_of(b0 + b1), "token", d=3, w=64))
    assert hll_dict(read_vocab_registers(spark, out)) \
        == hll_dict(hll_sketch(toks_of(b0 + b1), "token", [], p=6))

    cid_cm = compact_token_counters(spark, out)
    cid_h = compact_vocab_registers(spark, out)
    b2 = [row("http://a/5", "delta alpha")]
    add_batch_file("b2", b2)
    q2 = stream_corpus_sketches(spark, pages_dir, out, ckpt,
                                d=3, w=64, p=6, max_files_per_trigger=1)
    q2.awaitTermination(180)
    assert cm_dict(read_token_counters(spark, out)) \
        == cm_dict(cm_build(toks_of(b0 + b1 + b2), "token", d=3, w=64))
    assert hll_dict(read_vocab_registers(spark, out)) \
        == hll_dict(hll_sketch(toks_of(b0 + b1 + b2), "token", [], p=6))
    for sub, cid in (("cm_tokens", cid_cm), ("hll_vocab", cid_h)):
        root = os.path.join(out, "_state", sub)
        dirs = sorted(d for d in os.listdir(root) if d.startswith("batch="))
        assert f"batch={cid}" in dirs and len(dirs) == 2


def test_stream_corpus_sketches_crash_between_commits(spark, tmp_path):
    """A crash AFTER the CM delta commits but BEFORE the HLL delta does
    is repaired by checkpoint replay: the batch re-runs under the same
    id, both dirs end up committed exactly once (idempotent
    overwrite), and both reads equal the batch builds."""
    import os
    from datetime import datetime

    import pyspark.sql.functions as F

    from csvweb_spark.operators.sketches import cm_build, hll_sketch
    from csvweb_spark.operators.text import whitespace_tokens
    from csvweb_spark.streaming.pipeline import (
        read_token_counters, read_vocab_registers, stream_corpus_sketches)

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    rows = [("http://a/1", datetime(2026, 1, 1), None, "x y x z", "en")]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(pages_dir)

    boom = {"armed": True}

    def hook(batch_id, status):
        if status == "cm_committed" and boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash between sketch commits")

    q = stream_corpus_sketches(spark, pages_dir, out, ckpt,
                               d=3, w=64, p=6, batch_hook=hook)
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the injected crash surfaces as a query failure
    assert read_vocab_registers(spark, out) is None  # torn: HLL missing
    q2 = stream_corpus_sketches(spark, pages_dir, out, ckpt,
                                d=3, w=64, p=6)
    q2.awaitTermination(180)
    toks = spark.createDataFrame(rows, schema).select(
        F.explode(whitespace_tokens(F.col("text"))).alias("token"))
    assert {(r.row_ix, r.col_ix): r.cnt
            for r in read_token_counters(spark, out).collect()} \
        == {(r.row_ix, r.col_ix): r.cnt
            for r in cm_build(toks, "token", d=3, w=64).collect()}
    assert {r.reg_ix: r.rho
            for r in read_vocab_registers(spark, out).collect()} \
        == {r.reg_ix: r.rho
            for r in hll_sketch(toks, "token", [], p=6).collect()}
    for sub in ("cm_tokens", "hll_vocab"):
        root = os.path.join(out, "_state", sub)
        dirs = [d for d in os.listdir(root) if d.startswith("batch=")]
        assert dirs == ["batch=0"]


def test_additive_replay_after_compaction_does_not_double_count(
        spark, tmp_path):
    """ROUND-5 REVIEW: a micro-batch that committed its ADDITIVE delta
    (web-graph edge counts) but crashed before the checkpoint ack,
    with compaction running before the restart, must NOT re-commit on
    replay - the snapshot already folded its mass, and a re-written
    delta at the post-compaction offset would be a new dir whose
    counts the sum-merge read doubles."""
    import os

    from csvweb_spark.streaming.pipeline import (compact_host_graph,
                                                 read_host_graph,
                                                 stream_web_graph)

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")

    def page(u, href):
        from datetime import datetime
        return (u, datetime(2026, 1, 1),
                f'<a href="{href}">x</a>'.encode(), None, "en")

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{pages_dir}/{name}.parquet")

    add_batch_file("b0", [page("http://a.org/1", "http://b.org/x")])
    add_batch_file("b1", [page("http://a.org/2", "http://b.org/y")])

    def crash_after_batch1_commit(batch_id, point):
        if batch_id == 1 and point == "done":
            raise RuntimeError("injected crash before checkpoint ack")

    q = stream_web_graph(spark, pages_dir, out, ckpt,
                         max_files_per_trigger=1,
                         batch_hook=crash_after_batch1_commit)
    try:
        q.awaitTermination(180)
    except Exception:
        pass
    # both deltas committed (batch 1's ack is what crashed); compact
    compact_host_graph(spark, out)
    edges = {(r.src_host, r.dst_host): r.n_links
             for r in read_host_graph(spark, out).collect()}
    assert edges == {("a.org", "b.org"): 2}
    # restart: Spark replays batch 1 -> the folded-replay rule skips
    # its commit; the count must STAY 2, not become 3
    q2 = stream_web_graph(spark, pages_dir, out, ckpt,
                          max_files_per_trigger=1)
    q2.awaitTermination(180)
    edges2 = {(r.src_host, r.dst_host): r.n_links
              for r in read_host_graph(spark, out).collect()}
    assert edges2 == {("a.org", "b.org"): 2}


def test_state_dir_owner_enforced_and_repeated_compaction_folds(
        spark, tmp_path):
    """ROUND-5 REVIEW, two regressions in one run: (1) a DIFFERENT
    checkpoint pointed at an owned state dir fails loudly instead of
    silently skipping aliased batch ids; (2) repeated compactions with
    interleaved new batches keep folding (a consumed older marker must
    not be resurrected as 'pending' - the verified livelock)."""
    import os

    from csvweb_spark.streaming.pipeline import (compact_host_graph,
                                                 read_host_graph,
                                                 stream_web_graph)

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")

    def page(u, href):
        from datetime import datetime
        return (u, datetime(2026, 1, 1),
                f'<a href="{href}">x</a>'.encode(), None, "en")

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{pages_dir}/{name}.parquet")

    def run(ck):
        q = stream_web_graph(spark, pages_dir, out, ck,
                             max_files_per_trigger=1)
        q.awaitTermination(180)

    def edges():
        return {(r.src_host, r.dst_host): r.n_links
                for r in read_host_graph(spark, out).collect()}

    add_batch_file("b0", [page("http://a.org/1", "http://b.org/x")])
    add_batch_file("b1", [page("http://a.org/2", "http://b.org/y")])
    run(ckpt)
    compact_host_graph(spark, out)                      # epoch 1
    add_batch_file("b2", [page("http://a.org/3", "http://b.org/z")])
    run(ckpt)
    compact_host_graph(spark, out)                      # epoch 2
    add_batch_file("b3", [page("http://a.org/4", "http://c.org/w")])
    run(ckpt)
    # epoch 3: before the fix, epoch 1's consumed marker read as
    # 'pending' here and this call stopped folding forever
    compact_host_graph(spark, out)
    assert edges() == {("a.org", "b.org"): 3, ("a.org", "c.org"): 1}
    root = os.path.join(out, "_state", "host_edges")
    dirs = [d for d in os.listdir(root) if d.startswith("batch=")]
    assert len(dirs) == 1  # everything folded into ONE snapshot
    # a different checkpoint against the same state dir: loud refusal
    add_batch_file("b4", [page("http://a.org/5", "http://c.org/v")])
    q = stream_web_graph(spark, pages_dir, out, str(tmp_path / "ckpt2"),
                         max_files_per_trigger=1)
    try:
        q.awaitTermination(180)
        raised = False
    except Exception as e:
        raised = "owned by checkpoint" in str(e)
    assert raised
    assert edges() == {("a.org", "b.org"): 3, ("a.org", "c.org"): 1}


def test_compact_state_rejects_low_explicit_batch_id(spark, tmp_path):
    """ROUND-5 REVIEW: an explicit compaction batch_id at or below the
    fold ceiling would have been deleted together with the inputs -
    now a loud ValueError."""
    import os

    import pytest as _pytest

    from csvweb_spark.streaming.pipeline import (compact_host_graph,
                                                 stream_web_graph)

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "state")
    os.makedirs(pages_dir)
    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    from datetime import datetime
    rows = [("http://a.org/1", datetime(2026, 1, 1),
             b'<a href="http://b.org/x">x</a>', None, "en"),
            ("http://a.org/2", datetime(2026, 1, 1),
             b'<a href="http://b.org/y">y</a>', None, "en")]
    for i, r in enumerate(rows):
        stage = f"{tmp_path}/_stage_{i}"
        spark.createDataFrame([r], schema).coalesce(1) \
            .write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{pages_dir}/b{i}.parquet")
    q = stream_web_graph(spark, pages_dir, out, str(tmp_path / "ckpt"),
                         max_files_per_trigger=1)
    q.awaitTermination(180)
    with _pytest.raises(ValueError, match="must exceed every folded"):
        compact_host_graph(spark, out, batch_id=1)


def test_stream_fused_assertions_dedup_and_compaction(spark, tmp_path):
    """Fusion state folds by SET UNION: a source repeating an assertion
    in a LATER micro-batch must gain no extra weight (the cross-batch
    half of the RDF-set vote rule a naive additive support state gets
    wrong); compaction + resume preserve the election, and the streamed
    view equals the batch fuse_triples over the ingested corpus."""
    import os

    from csvweb_spark.operators.fusion import fuse_triples
    from csvweb_spark.streaming.pipeline import (
        compact_fused_assertions, read_assertion_set,
        read_fused_assertions, stream_fused_assertions)

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    schema = "subj string, pred string, obj string, source string"

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{in_dir}/{name}.parquet")

    weights = spark.createDataFrame(
        [("x", 5), ("y", 1), ("z", 10)], "source string, weight long")
    b0 = [("s1", "p", "A", "x"), ("s1", "p", "A", "y")]
    b1 = [("s1", "p", "A", "x"),   # cross-batch duplicate: no extra weight
          ("s1", "p", "B", "z"),   # weight 10: flips the election
          ("s2", "p", "C", "y")]
    add_batch_file("b0", b0)
    add_batch_file("b1", b1)
    q = stream_fused_assertions(spark, in_dir, out, ckpt,
                                max_files_per_trigger=1)
    q.awaitTermination(180)
    got = {(r.subj, r.pred): (r.obj, r.support, r.total_support) for r in
           read_fused_assertions(spark, out, weights).collect()}
    # support(A) = 5 + 1 (x dedup'd across batches), support(B) = 10
    assert got == {("s1", "p"): ("B", 10, 16), ("s2", "p"): ("C", 1, 1)}
    # streamed view == batch build over the same corpus
    batch = {(r.subj, r.pred): (r.obj, r.support, r.total_support) for r in
             fuse_triples(spark.createDataFrame(b0 + b1, schema),
                          weights).collect()}
    assert got == batch

    # compact, resume with new data from the SAME checkpoint
    cid = compact_fused_assertions(spark, out)
    assert read_assertion_set(spark, out).count() == 4
    add_batch_file("b2", [("s1", "p", "A", "z")])  # A: 5+1+10 beats B's 10
    q2 = stream_fused_assertions(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q2.awaitTermination(180)
    got2 = {(r.subj, r.pred): (r.obj, r.support) for r in
            read_fused_assertions(spark, out, weights).collect()}
    assert got2 == {("s1", "p"): ("A", 16), ("s2", "p"): ("C", 1)}
    state_root = os.path.join(out, "_state", "assertions")
    dirs = sorted(d for d in os.listdir(state_root)
                  if d.startswith("batch="))
    assert f"batch={cid}" in dirs and len(dirs) == 2


def test_fused_assertions_crash_retry_after_compaction(spark, tmp_path):
    """The fusion state inherits the folded-replay rule: a micro-batch
    that wrote its delta but crashed before its checkpoint commit is
    retried AFTER a compaction folded it - the replay must skip its
    commit (set union would make a re-written dir harmless for VALUES
    but the dir-id collision with the snapshot would not be), and the
    election survives with full state."""
    import os

    from csvweb_spark.streaming.pipeline import (
        compact_fused_assertions, read_fused_assertions,
        stream_fused_assertions)

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    schema = "subj string, pred string, obj string, source string"

    def add_batch_file(name, rows):
        stage = f"{tmp_path}/_stage_{name}"
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{in_dir}/{name}.parquet")

    add_batch_file("b0", [("s", "p", "A", "x"), ("s", "p", "A", "y")])
    add_batch_file("b1", [("s", "p", "B", "z")])

    class Crash(Exception):
        pass

    def crash_after_batch1_commit(batch_id, point):
        if batch_id == 1 and point == "done":
            raise Crash("injected")

    q = stream_fused_assertions(spark, in_dir, out, ckpt,
                                max_files_per_trigger=1,
                                batch_hook=crash_after_batch1_commit)
    try:
        q.awaitTermination(180)
    except Exception:
        pass
    cid = compact_fused_assertions(spark, out)
    assert cid == 2
    q2 = stream_fused_assertions(spark, in_dir, out, ckpt,
                                 max_files_per_trigger=1)
    q2.awaitTermination(180)
    got = {(r.subj, r.pred): (r.obj, r.support, r.n_objects) for r in
           read_fused_assertions(spark, out).collect()}
    # unweighted: A has 2 distinct sources, B has 1 -> A wins, both seen
    assert got == {("s", "p"): ("A", 2, 2)}
