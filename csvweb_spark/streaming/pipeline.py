"""Structured Streaming front-end for the CSVW pipeline.

The reference 'streams' only in the single-threaded iterator sense
(Rdf/Converter.cs:326); here the same conversion and the state built on
it run incrementally over unbounded file sources. `available_now=True`
drains the backlog and stops - the batch-parity mode used by tests;
pass False for continuous tailing.

Sink streams, where Spark or the caller owns the sink:

* `stream_triples` - the SAME compiled conversion plan as the batch path
  (narrow mapInPandas + JVM expressions work unchanged under
  micro-batching) into a checkpointed parquet sink, exactly-once per
  micro-batch.
* `stream_page_stats` (watermarked sliding windows over warc_ts) and
  `stream_host_stats` (applyInPandasWithState) return the streaming
  DataFrame.

Batch-dir streams - every other `stream_*` - commit each micro-batch
under `batch=<id>` directories. A matching `read_*` merges the committed
dirs (ts-argmax, sum, max, set union or plain union) and a `compact_*`
folds them into one snapshot (`_compact_state`). One protocol, stated
here once, makes them crash-safe and resumable:

* Own-dir overwrite. A micro-batch writes only its own `batch=<id>`
  dirs, with mode('overwrite'), from inputs fixed for that id: its
  files, plus state committed by other dir ids. The checkpoint never
  re-delivers a completed batch and re-delivers a crashed one with the
  same id and data, so a retry rewrites the same bytes. Readers skip
  dirs without Spark's `_SUCCESS` marker (`_batch_dirs`), so a torn dir
  stays invisible until the retry rewrites it.
* Compaction offsets. A state dir id is batch id + the offset of the
  newest `_epoch_<n>` marker (`_compact_offset`), so no post-restart
  micro-batch can land on, exclude and overwrite a compaction snapshot.
* Folded-replay skip. A batch that committed, crashed before the
  checkpoint acknowledged it, and was then folded by a compaction is
  replayed without committing (`_delta_dir` returns None): re-written at
  the new offset, its delta would be counted twice.
* `_owner` stamp. Batch ids are per checkpoint, so the first commit
  stamps the checkpoint path into the state dir's `_owner` file and a
  stream from any other checkpoint fails on its first batch
  (`_claim_owner`).
* Hook points. `batch_hook(batch_id, point)` is the crash-injection
  seam (leave None in production): 'start' fires before any work, 'done'
  after every batch that completes - empty and skipped ones included.
  Some operators fire 'mid' between two of their commits (each says
  where); `stream_corpus_sketches` fires 'cm_committed' or 'cm_skipped'.

`_start` owns the micro-batch loop and the hooks, `_commit_delta` the
skip plus the overwrite, and `_delta_stream` the whole body of the
stateless operators, which write only their own per-batch delta.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..csvw.convert import MODE_MINIMAL
from ..csvw.model import Table
from ..operators.triples import compile_triples, extract_rows
from ..plans.fs import fs_for
from ..sources.pages import PAGES_SCHEMA

# ts-argmax reads elect over all time: snapshot_asof at +inf
_END_OF_TIME = "9999-12-31 23:59:59"


def _read_stream(spark: SparkSession, input_dir: str, schema,
                 max_files: Optional[int], fmt: str = "parquet") -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.load(input_dir)


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: Optional[int] = None) -> DataFrame:
    return _read_stream(spark, input_dir, PAGES_SCHEMA, max_files_per_trigger)


def _start(stream: DataFrame, checkpoint_dir: str, available_now: bool,
           batch_hook, process):
    """Run `process(batch_df, batch_id, hook)` on every micro-batch and
    start the query. 'start' fires before `process`, 'done' after it
    returns; `hook` is never None, so bodies fire their intermediate
    points unconditionally."""
    hook = batch_hook or (lambda _batch_id, _point: None)

    def run(batch_df, batch_id):
        hook(batch_id, "start")
        process(batch_df, batch_id, hook)
        hook(batch_id, "done")

    writer = (stream.writeStream.foreachBatch(run)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _commit_delta(fs, root: str, batch_id: int, delta: DataFrame) -> bool:
    """Overwrite the batch's own dir under `root` with `delta`; False
    (nothing written) on a folded replay."""
    dest = _delta_dir(fs, root, batch_id)
    if dest is None:
        return False
    delta.write.mode("overwrite").parquet(dest[1])
    return True


def _delta_stream(spark: SparkSession, stream: DataFrame, output_dir: str,
                  subdir: str, checkpoint_dir: str, available_now: bool,
                  batch_hook, delta_fn):
    """A stateless batch-dir operator: each micro-batch commits only
    `delta_fn(batch_df)` under output_dir/subdir - no committed-state
    read, no join. An empty delta commits nothing."""
    fs = fs_for(output_dir, spark)
    root = fs.join(output_dir, subdir)

    def process(batch_df, batch_id, _hook):
        _claim_owner(fs, root, checkpoint_dir)
        delta = delta_fn(batch_df)
        if delta.take(1):
            _commit_delta(fs, root, batch_id, delta)

    return _start(stream, checkpoint_dir, available_now, batch_hook, process)


def stream_triples(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, table: Table,
                   mode: str = MODE_MINIMAL, available_now: bool = True):
    """Start the streaming conversion; returns the StreamingQuery."""
    pages = read_pages_stream(spark, input_dir)
    rows = extract_rows(pages, table)
    triples = compile_triples(rows, table, table.columns, mode=mode,
                              scope_by_url=True)
    writer = (triples.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_knowledge_graph(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           table: Table, aliases: DataFrame,
                           mode: str = MODE_MINIMAL, n_buckets: int = 8,
                           max_files_per_trigger: Optional[int] = None,
                           available_now: bool = True,
                           batch_hook=None,
                           shapes: Optional[list] = None,
                           quarantine_on_violation: bool = False):
    """The FULL KG pipeline (extract -> convert -> link -> CC ->
    materialize-with-lineage) under incremental arrival: every
    micro-batch runs pipeline.kg_canonical_triples + write_resumable.

    Exactly-once layering (the point of this composition):
    * BATCH level - the streaming checkpoint (module docstring).
    * PARTITION level, within a re-delivered batch - the lineage commit
      protocol: outputs land under output_dir/batch=<id>/{triples,
      entities,errors}, so a retry's write_resumable skips the buckets
      the crashed attempt already committed and completes the rest - no
      duplicate partitions, no lost ones. A table the crashed attempt
      completed is skipped from its manifests alone: the retry still
      rebuilds the batch's graph (connected components included), but
      an already-complete triples write runs no job. (Batch-scoped
      directories are what makes lineage resume correct here: bucket
      keys REPEAT across micro-batches, so committing them in one shared
      table would make later batches invisible.)

    'mid' fires between the triples commit and the entities commit.

    `shapes` (round 5): SHACL publish gate - every micro-batch's
    canonical triples are validated (operators/shacl.py) and the
    violation report lands under batch=<id>/violations BEFORE the
    triples commit. With `quarantine_on_violation` a violating batch
    commits ONLY its report (triples/entities withheld for curation) -
    validation is deterministic over the batch, so a crash-replayed
    batch reaches the same verdict and the resume protocol is
    unaffected. Returns the StreamingQuery."""
    from ..pipeline import kg_canonical_triples
    from ..plans.lineage import write_resumable

    fs = fs_for(output_dir, spark)
    small = max(n_buckets // 4, 1)

    def process(batch_df, batch_id, hook):
        canonical, entity_map, _obs, errors = kg_canonical_triples(
            batch_df, table, aliases, mode=mode)
        bdir = fs.join(output_dir, f"batch={batch_id}")
        if shapes is not None:
            from ..operators.shacl import validate_shapes
            report = validate_shapes(
                canonical.select("subj", "pred", "obj"), shapes) \
                .localCheckpoint(eager=True)
            n_viol = report.count()
            write_resumable(report.withColumn("url", F.col("focus")),
                            fs.join(bdir, "violations"), n_buckets=small)
            if quarantine_on_violation and n_viol > 0:
                return
        write_resumable(canonical, fs.join(bdir, "triples"),
                        n_buckets=n_buckets)
        hook(batch_id, "mid")
        write_resumable(entity_map.withColumn("url", F.col("uri")),
                        fs.join(bdir, "entities"), n_buckets=small)
        write_resumable(errors, fs.join(bdir, "errors"), n_buckets=small)

    return _start(read_pages_stream(spark, input_dir, max_files_per_trigger),
                  checkpoint_dir, available_now, batch_hook, process)


def stream_deduped_documents(spark: SparkSession, input_dir: str,
                             output_dir: str, checkpoint_dir: str,
                             schema: str = "doc_id long, text string",
                             text_col: str = "text",
                             key_col: str = "doc_id",
                             threshold: float = 0.8,
                             num_hashes: int = 64, bands: int = 16,
                             seed: int = 42,
                             max_bucket_size: Optional[int] = 64,
                             max_files_per_trigger: Optional[int] = None,
                             available_now: bool = True,
                             batch_hook=None):
    """Incremental near-duplicate removal across micro-batches (round-3
    VERDICT item: dedup_exact_incremental existed; this is its MinHash
    sibling) - the streaming counterpart of dedup_minhash_lsh, with the
    committed corpus represented by a persistent BAND-BUCKET + SIGNATURE
    state table instead of the corpus text:

      per batch:
      1. in-batch near-dedup: band-bucket candidate pairs among the
         batch's docs, verified by minhash-signature agreement
         (sig_agreement_at_least: >= ceil(threshold * num_hashes) equal
         components - the unbiased Jaccard estimator, integer-thresholded); the larger key of each
         verified pair is dropped;
      2. cross-batch: the survivors' band buckets are joined against the
         COMMITTED band table (all prior batches); candidates are
         verified against the committed signatures the same way; a doc
         near-duplicating anything already committed is dropped. State is
         ~(bands + num_hashes) longs per committed doc - no text is ever
         retained or re-read, which is what makes the state viable at
         10^12 docs;
      3. survivors land in docs/batch=<id>/, their bands + signatures in
         _state/{bands,sigs}/batch=<dir id>/, which
         `compact_dedup_state` folds (round-4 VERDICT item #5).

    The state read excludes the batch's own dir ids, so a retry is
    never self-matched (batch-dir protocol, module docstring). 'mid'
    fires between the docs commit and the state commit. Returns the
    StreamingQuery."""
    import math

    from ..operators.dedup import (lsh_band_buckets, minhash_signatures,
                                   sig_agreement_at_least)

    min_equal = int(math.ceil(threshold * num_hashes))
    fs = fs_for(output_dir, spark)
    band_root = fs.join(output_dir, DEDUP_BANDS_SUBDIR)
    sig_root = fs.join(output_dir, DEDUP_SIGS_SUBDIR)

    def _capped(bandt):
        """Drop band entries in over-cap buckets (the dedup_minhash_lsh
        skew guard: the bucket joins are quadratic INSIDE a bucket, so a
        boilerplate flood must not become one runaway task - review fix:
        the caps were missing here)."""
        if max_bucket_size is None:
            return bandt
        sizes = bandt.groupBy("band", "bucket").agg(
            F.count(key_col).alias("_n"))
        ok = sizes.filter(F.col("_n") <= max_bucket_size) \
                  .select("band", "bucket")
        return bandt.join(ok, ["band", "bucket"])

    def process(batch_df, batch_id, hook):
        caches = []

        def _cached(df):
            out = df.persist()
            caches.append(out)
            return out

        # try/finally: a crashed batch (including the injected test
        # crash) must not leak persisted frames across redeliveries
        # (review fix)
        try:
            docs = _cached(batch_df.select(key_col, text_col))
            if docs.count() == 0:
                return
            _claim_owner(fs, band_root, checkpoint_dir)
            _claim_owner(fs, sig_root, checkpoint_dir)
            band_dest = _delta_dir(fs, band_root, batch_id)
            sig_dest = _delta_dir(fs, sig_root, batch_id)
            if band_dest is None or sig_dest is None:
                # folded replay: this batch's state is already inside a
                # compaction snapshot (docs committed first, so the
                # docs dir exists too). Recomputing would dedup the
                # batch against its OWN folded bands and drop every
                # document as a cross-batch duplicate. If only the
                # bands family was folded (crash between the two state
                # commits + a bands-only compaction), the sigs rows
                # stay missing - future candidates against them verify
                # as misses (quality, never correctness); compact both
                # families together, as compact_dedup_state does.
                return
            sigs = _cached(minhash_signatures(docs, text_col, key_col,
                                              num_hashes=num_hashes,
                                              seed=seed))
            bandt = _cached(lsh_band_buckets(sigs, key_col, bands,
                                             num_hashes // bands))
            joinable = _capped(bandt)

            # 1. in-batch: bucket-join candidates, signature-verified
            a = joinable.select(F.col(key_col).alias("id_a"),
                                "band", "bucket")
            b = joinable.select(F.col(key_col).alias("id_b"),
                                "band", "bucket")
            pairs = (a.join(b, ["band", "bucket"])
                     .filter(F.col("id_a") < F.col("id_b"))
                     .select("id_a", "id_b").distinct())
            sa = sigs.select(F.col(key_col).alias("id_a"),
                             F.col("signature").alias("_sa"))
            sb = sigs.select(F.col(key_col).alias("id_b"),
                             F.col("signature").alias("_sb"))
            dup_in = (pairs.join(sa, "id_a").join(sb, "id_b")
                      .filter(sig_agreement_at_least(
                          F.col("_sa"), F.col("_sb"), min_equal))
                      .select(F.col("id_b").alias(key_col)).distinct())
            alive = docs.join(dup_in, key_col, "left_anti")

            # 2. cross-batch: candidates against the committed band
            # table, verified against the committed signatures; both
            # sides' over-cap buckets are excluded from candidate
            # generation (boilerplate belongs to the exact pre-pass)
            prev_bands = _read_union_state(spark, output_dir,
                                           DEDUP_BANDS_SUBDIR,
                                           exclude=band_dest[0])
            prev_sigs = _read_union_state(spark, output_dir,
                                          DEDUP_SIGS_SUBDIR,
                                          exclude=sig_dest[0])
            if prev_bands is not None and prev_sigs is not None:
                cand = (joinable
                        .join(alive.select(key_col), key_col, "left_semi")
                        .join(_capped(prev_bands).select(
                            F.col(key_col).alias("_old"), "band", "bucket"),
                            ["band", "bucket"])
                        .select(key_col, "_old").distinct())
                dup_cross = (cand
                             .join(sigs, key_col)
                             .join(prev_sigs.select(
                                 F.col(key_col).alias("_old"),
                                 F.col("signature").alias("_olds")), "_old")
                             .filter(sig_agreement_at_least(
                                 F.col("signature"), F.col("_olds"),
                                 min_equal))
                             .select(key_col).distinct())
                alive = alive.join(dup_cross, key_col, "left_anti")
            alive = _cached(alive)

            # 3. commit survivors, then their state (crash between the
            # two -> redelivery rewrites both deterministically)
            alive.write.mode("overwrite").parquet(
                fs.join(output_dir, f"docs/batch={batch_id}"))
            hook(batch_id, "mid")
            keys = alive.select(key_col)
            bandt.join(keys, key_col, "left_semi").write.mode("overwrite") \
                .parquet(band_dest[1])
            sigs.join(keys, key_col, "left_semi").write.mode("overwrite") \
                .parquet(sig_dest[1])
        finally:
            for c in caches:
                c.unpersist()

    return _start(_read_stream(spark, input_dir, schema,
                               max_files_per_trigger),
                  checkpoint_dir, available_now, batch_hook, process)


def read_streamed_documents(spark: SparkSession,
                            output_dir: str) -> Optional[DataFrame]:
    """Union of every committed batch's surviving documents (None when
    nothing is committed yet); torn dirs stay invisible."""
    return _read_union_state(spark, output_dir, "docs")


def read_streamed_graph(spark: SparkSession, output_dir: str,
                        table: str = "triples") -> Optional[DataFrame]:
    """Union of the committed snapshots of every batch directory written
    by stream_knowledge_graph (None when nothing is committed yet).
    Uncommitted partitions of a crashed batch stay invisible, exactly as
    in the batch read path."""
    from ..plans.lineage import read_snapshot, snapshots

    fs = fs_for(output_dir, spark)
    if not fs.isdir(output_dir):
        return None
    out = None
    for d in sorted(fs.listdir(output_dir)):
        if not d.startswith("batch="):
            continue
        tdir = fs.join(output_dir, d, table)
        if not any(m.get("partitions") for m in snapshots(tdir)):
            continue
        df = read_snapshot(spark, tdir)
        out = df if out is None else out.unionByName(df)
    return out


OUTPUT_HOST_STATS = ("host string, batch_pages long, total_pages long, "
                     "batch_new_urls long, total_urls_approx long")
_STATE_HOST_STATS = "total_pages long, total_urls long, bloom binary"
_BLOOM_BITS = 1 << 19  # 64 KiB per host; FP ~1% at ~3.6e4 urls (k=3)


def _host_stats_update(key, pdf_iter, state):
    """applyInPandasWithState update: cumulative per-host page count +
    approximate distinct-url count via a Bloom filter held IN state (a
    fixed 64 KiB binary - exact sets would grow without bound; at
    10^12-page scale this is the only state shape that survives)."""
    import hashlib

    import numpy as np
    import pandas as pd

    if state.exists:
        total_pages, total_urls, bloom_bytes = state.get
        bloom = np.frombuffer(bloom_bytes, dtype=np.uint8).copy()
    else:
        total_pages, total_urls = 0, 0
        bloom = np.zeros(_BLOOM_BITS // 8, dtype=np.uint8)

    batch_pages, batch_new = 0, 0
    for pdf in pdf_iter:
        batch_pages += len(pdf)
        for u in pdf["url"]:
            h = int.from_bytes(
                hashlib.blake2b(str(u).encode(), digest_size=8).digest(),
                "big")
            probes = [(h >> (21 * i)) % _BLOOM_BITS for i in range(3)]
            if any(not (bloom[p >> 3] >> (p & 7)) & 1 for p in probes):
                batch_new += 1
                for p in probes:
                    bloom[p >> 3] |= 1 << (p & 7)
    total_pages += batch_pages
    total_urls += batch_new
    state.update((total_pages, total_urls, bloom.tobytes()))
    yield pd.DataFrame([{
        "host": key[0], "batch_pages": batch_pages,
        "total_pages": total_pages, "batch_new_urls": batch_new,
        "total_urls_approx": total_urls,
    }])


def stream_host_stats(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-host
    cumulative crawl statistics that persist across micro-batches - the
    'custom stateful operator' pattern the batch pipeline cannot express.
    Returns the update-mode streaming DataFrame (caller picks the sink)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    keyed = pages.withColumn("host", F.expr("parse_url(url, 'HOST')"))
    return (keyed.groupBy("host").applyInPandasWithState(
        _host_stats_update, OUTPUT_HOST_STATS, _STATE_HOST_STATS,
        "update", GroupStateTimeout.NoTimeout))


def stream_page_stats(spark: SparkSession, input_dir: str,
                      window: str = "1 hour", slide: Optional[str] = None,
                      watermark: str = "10 minutes") -> DataFrame:
    """Watermarked windowed page counts by lang - returns the streaming
    DataFrame (caller picks the sink; tests use a memory sink)."""
    pages = read_pages_stream(spark, input_dir)
    w = (F.window("warc_ts", window, slide) if slide
         else F.window("warc_ts", window))
    return (pages
            .withWatermark("warc_ts", watermark)
            .groupBy(w.alias("win"), "lang")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(F.length("text")).alias("n_chars")))


LABEL_STATE_SUBDIR = "_state/labels"

# Torn-read protection requires Spark's _SUCCESS job-commit marker. On
# committers configured with mapreduce.fileoutputcommitter.
# marksuccessfuljobs=false (common advice for S3A), set this to False:
# reads then trust every batch= dir and torn-dir protection degrades to
# the stream's own exclude-own-id retry discipline (round-4 review).
REQUIRE_COMMIT_MARKER = True


def _batch_dirs(fs, root: str, committed_only: bool = True,
                apply_fold_exclusion: bool = True):
    """(batch_id, absolute_path) for every `batch=<id>` partition dir
    under `root`, ascending by id - the ONE place the partition layout
    is parsed. With `committed_only` (the default read path), dirs
    without Spark's _SUCCESS marker are skipped (unless
    REQUIRE_COMMIT_MARKER is off): a crashed batch's torn part-files
    must never reach a consumer - the owning stream's retry overwrites
    the dir, and until then the visible state is simply 'as of the
    previous batch', which is consistent.

    `apply_fold_exclusion` (default, read path): once a compaction's
    SNAPSHOT dir is committed, every committed input dir at id <=
    its folded_max is hidden - so in the crash window between the
    snapshot commit and the input removals, additive (sum-merged)
    reads do not count the folded mass twice (review fix; the
    exclusion is a no-op after the removals land). Compaction
    internals list raw."""
    if not fs.isdir(root):
        return []
    out = []
    for d in fs.listdir(root):
        if not d.startswith("batch="):
            continue
        path = fs.join(root, d)
        if committed_only and REQUIRE_COMMIT_MARKER \
                and not fs.exists(fs.join(path, "_SUCCESS")):
            continue
        out.append((int(d.split("=", 1)[1]), path))
    out = sorted(out)
    if committed_only and apply_fold_exclusion and out:
        ids = {b for b, _ in out}
        for m in _epoch_markers(fs, root):
            if ("snapshot" in m and "folded_max" in m
                    and m["snapshot"] in ids):
                out = [(b, p) for b, p in out if b > m["folded_max"]]
    return out


def _epoch_markers(fs, root: str) -> list:
    """Parsed `_epoch_<n>` compaction markers under `root`, ascending
    by offset. Legacy markers (pre-review protocol) parse to just
    their offset and never trigger skip/exclusion logic."""
    if not fs.isdir(root):
        return []
    out = []
    for f in fs.listdir(root):
        if not f.startswith("_epoch_"):
            continue
        # markers are written atomically (write_text_atomic) and are
        # load-bearing for exactly-once: an unreadable one must FAIL
        # the read, not silently disable fold-exclusion / replay-skip
        # (round-5 review - a swallowed error here re-opens the very
        # double-count this protocol closes)
        meta = dict(fs.read_json(fs.join(root, f)))
        meta["offset"] = int(f.rsplit("_", 1)[1])
        out.append(meta)
    return sorted(out, key=lambda m: m["offset"])


def _compact_offset(fs, root: str) -> int:
    """Stream-batch-id -> dir-id offset. Spark's checkpoint numbers
    micro-batches monotonically with no knowledge of compaction, so a
    consolidated dir written at `max+1` would collide with a
    post-restart micro-batch's dir id - the batch would exclude the
    consolidated dir as 'its own crashed attempt' and then overwrite
    it, destroying the committed state. Each compaction therefore
    advances this offset BEFORE the old deltas are removed, and the
    stream maps batch_id -> dir id batch_id + offset.

    The offset is the MAX over `_epoch_<n>` marker files - a new
    compaction creates a NEW marker instead of rewriting one file,
    because HadoopFS.write_text_atomic is first-commit-wins (an
    in-place rewrite would silently keep the old offset on hdfs/s3a
    and re-open the collision; round-4 review). Markers are a few
    bytes each, one per compaction, and are never read by Spark
    (underscore-prefixed). Retries are still exactly-once: compaction
    must not run concurrently with the stream, so the offset a retry
    reads is the offset its first attempt read."""
    if not fs.isdir(root):
        return 0
    offs = [int(f.rsplit("_", 1)[1]) for f in fs.listdir(root)
            if f.startswith("_epoch_")]
    return max(offs, default=0)


def _delta_dir(fs, root: str, batch_id: int):
    """(dir id, path) of a micro-batch's state-delta dir under `root`,
    or None when the delta is ALREADY inside a compaction snapshot and
    the commit must be skipped: the batch committed its dir, crashed
    before the checkpoint acknowledged it, and compaction ran before
    the restart. For additive (sum-merged) families a re-written delta
    at the post-compaction offset is a NEW dir whose mass would be
    counted twice (review fix; latest-wins/union families were merely
    redundant). Checked against EVERY epoch marker: the batch's
    write-time offset equals the prev_offset of the first compaction
    after the write, so batch_id + prev_offset <= folded_max
    identifies it even across chained compactions; a LIVE batch id B'
    can never match (every marker's folded_max <= max-dir-id at its
    compaction < B' + its prev_offset). Markers from before this
    protocol version lack the fields and never match. One marker
    listing serves both the skip test and the offset (review fix: two
    separate scans doubled object-store round trips per batch)."""
    markers = _epoch_markers(fs, root)
    if any("prev_offset" in m and "folded_max" in m
           and batch_id + m["prev_offset"] <= m["folded_max"]
           for m in markers):
        return None
    dir_id = batch_id + max((m["offset"] for m in markers), default=0)
    return dir_id, fs.join(root, f"batch={dir_id}")


def _claim_owner(fs, root: str, checkpoint_dir: str) -> None:
    """Enforce the one-checkpoint-lineage-owns-one-state-dir contract
    the folded-replay skip depends on: batch ids are per-checkpoint, so
    a FRESH checkpoint pointed at an existing state dir would alias its
    early batch ids onto folded ones and the skip would silently drop
    genuinely new data (round-5 review; the pre-skip protocol corrupted
    such runs with duplicates/overwrites instead - both are contract
    violations, this makes them LOUD). The first commit stamps the
    checkpoint path into `_owner` with a CREATE-EXCLUSIVE write (round
    6, r5 ADVICE: the old exists-check-then-atomic-write was
    TOCTOU-racy on LocalFS, where os.replace is last-write-wins - two
    streams started simultaneously against a fresh state dir could
    both claim it). write_text_exclusive guarantees exactly one
    concurrent creator wins; every claimant reads the marker BACK and
    must match it, so a losing racer fails loudly on its first
    batch. A marker that does not parse is a claim that died between
    the create and the write (see LocalFS.write_text_exclusive) or is
    still being written: that fails too, naming the file."""
    import json as _json
    import os as _os

    fs.makedirs(root)
    marker = fs.join(root, "_owner")
    if not fs.exists(marker):
        fs.write_text_exclusive(
            marker, _json.dumps({"checkpoint": checkpoint_dir}),
            fs.join(root, f"._tmp_owner_{_os.getpid()}"))
    try:
        owner = fs.read_json(marker).get("checkpoint")
    except ValueError as e:
        raise RuntimeError(
            f"ownership marker {marker!r} is empty or partial: a claim "
            f"died while writing it, or one is still writing it. If no "
            f"other stream runs against {root!r}, delete the marker and "
            f"restart.") from e
    if owner != checkpoint_dir:
        raise RuntimeError(
            f"state dir {root!r} is owned by checkpoint "
            f"{owner!r}, but this stream runs from "
            f"{checkpoint_dir!r}. One checkpoint lineage owns one "
            f"state dir (batch ids are per-checkpoint): reuse the "
            f"original checkpoint, or start a fresh state dir.")


def read_entity_components(spark: SparkSession, output_dir: str,
                           exclude_batch: Optional[int] = None) -> DataFrame:
    """The committed (node, component) state of a stream_entity_components
    run: per-batch label DELTAS live under partition dirs
    `_state/labels/batch=<id>/`, and a node's current label is its row
    from the HIGHEST batch that touched it (incremental_components
    relabels whole touched components, so latest-batch-wins per node is
    exact). Consumers call this too - it is the canonical read path.

    Read cost grows with relabel churn, not history size (each batch
    stores only its touched components); compact by rewriting the
    argmax result as a fresh batch dir and deleting its inputs when the
    delta count overtakes the live node count."""
    fs = fs_for(output_dir, spark)
    root = fs.join(output_dir, LABEL_STATE_SUBDIR)
    dirs = [(b, p) for b, p in _batch_dirs(fs, root)
            if exclude_batch is None or b != exclude_batch]
    if not dirs:
        return spark.createDataFrame([], "node long, component long")
    df = (spark.read.option("basePath", root)
          .parquet(*[p for _, p in dirs]))
    return (df.groupBy("node")
            .agg(F.max_by("component", "batch").alias("component")))


def stream_entity_components(spark: SparkSession, input_dir: str,
                             output_dir: str, checkpoint_dir: str,
                             schema: str = "src long, dst long",
                             max_files_per_trigger: Optional[int] = None,
                             available_now: bool = True,
                             batch_hook=None):
    """Cross-batch entity canonicalization state: identity edges (sameAs
    assertions / accepted link candidates) arrive incrementally, and the
    committed (node, component) labeling is maintained by
    `incremental_components` - per-batch CC cost is bounded by the BATCH
    graph (old components enter contracted to one node), never by
    history, which is what makes continuous canonicalization viable on
    a 10^12-page crawl.

    Per batch:
    1. read the committed labels (latest-batch-wins over prior deltas,
       `read_entity_components`, the batch's own dir id excluded);
    2. delta = incremental_components(batch_edges, committed) - every
       member of a touched component, relabeled where merges happened;
    3. overwrite the delta to `_state/labels/batch=<dir id>/`.

    Batch-dir protocol and hook points: module docstring. Returns the
    StreamingQuery."""
    fs = fs_for(output_dir, spark)
    root = fs.join(output_dir, LABEL_STATE_SUBDIR)

    def process(batch_df, batch_id, _hook):
        from ..operators.canonicalize import incremental_components
        edges = batch_df.persist()
        try:
            if edges.count() == 0:
                return
            _claim_owner(fs, root, checkpoint_dir)
            dest = _delta_dir(fs, root, batch_id)
            if dest is None:
                # folded replay: this batch's labels are already inside
                # the compaction snapshot (recomputing against it would
                # merge the batch's edges into themselves - a no-op
                # delta not worth a new dir)
                return
            committed = read_entity_components(
                spark, output_dir, exclude_batch=dest[0])
            delta = incremental_components(edges, committed) \
                .select(F.col("node").cast("long").alias("node"),
                        F.col("component").cast("long").alias("component"))
            delta.write.mode("overwrite").parquet(dest[1])
        finally:
            edges.unpersist()

    return _start(_read_stream(spark, input_dir, schema,
                               max_files_per_trigger),
                  checkpoint_dir, available_now, batch_hook, process)


def compact_entity_components(spark: SparkSession, output_dir: str,
                              batch_id: Optional[int] = None) -> int:
    """Fold every label delta into one consolidated partition and drop
    the inputs - run when the delta row count overtakes the live node
    count (read cost is delta-bound, see read_entity_components).

    Crash-safe ordering (each step leaves a correct visible state):
    1. the consolidated argmax is written as a regular batch partition
       at id = max existing + 1 (or `batch_id` - the caller then owns
       collision avoidance). A crash here: old deltas still present,
       latest-batch-wins over (old + consolidated) = consolidated; and
       if the resumed stream's next micro-batch lands on the same id,
       it overwrites only the (redundant) snapshot and reads the still-
       present old deltas - correct either way.
    2. the batch-id offset file is bumped atomically (_compact_offset),
       moving every FUTURE micro-batch's dir id past the consolidated
       snapshot so the stream can never exclude-and-overwrite it.
    3. only then are the old delta dirs removed (including torn dirs
       from crashed batches - their ids stay burned via the max scan
       in step 1, which counts uncommitted dirs too).

    Returns the consolidated partition's batch id. Must not run
    concurrently with the owning stream (stop the query or run it from
    the stream's own foreachBatch cadence) - retry exactly-once-ness
    relies on the offset being stable within a batch attempt."""
    return _compact_state(spark, output_dir, LABEL_STATE_SUBDIR,
                          read_entity_components, batch_id)


def _compact_state(spark: SparkSession, output_dir: str, subdir: str,
                   read_fn, batch_id: Optional[int] = None) -> int:
    """The generic crash-safe fold shared by every batch-dir state
    family, MARKER-FIRST (review fix: the old snapshot-first order was
    only idempotent for latest-wins folds - for additive families a
    crash between the snapshot write and the input removals, or a
    retry of a crashed compaction, counted the folded mass twice).
    The stream must not run concurrently, and a crashed compaction
    should be re-run to completion before the stream restarts.

    Order and the per-step crash argument:
      1. The marker `_epoch_<old_offset+2>` commits atomically
         (first-commit-wins) with {prev_offset, folded_max: M,
         snapshot: S}. Crash before it: no trace. From the marker on,
         a checkpoint REPLAY of a batch whose dir id <= M skips its
         commit (_delta_dir) - correct in both futures: the
         fold (resumed or original) includes that committed dir
         exactly once. The offset advances by TWO so post-restart
         batches land strictly after S.
      2. The snapshot is written at S = max(all dir ids) + 1 (> M, no
         collision; overwrite-idempotent on retry, and a retry
         re-derives M, S from the marker). Until S commits, readers
         see the original deltas - the marker alone hides nothing.
      3. Once S is committed, _batch_dirs hides every committed dir
         with id <= M, so reads are exactly-once even before the
         removals land.
      4. Inputs <= M are removed; leftovers were already invisible
         (step 3) and a re-run just finishes the removal. Torn dirs
         are never folded or removed: a torn dir's batch id maps
         strictly above M (ids are monotone within an offset epoch),
         so the replay-skip can never suppress unfolded data."""
    import json

    fs = fs_for(output_dir, spark)
    root = fs.join(output_dir, subdir)
    raw = _batch_dirs(fs, root, apply_fold_exclusion=False)
    raw_ids = {b for b, _ in raw}
    markers = [m for m in _epoch_markers(fs, root)
               if "snapshot" in m and "folded_max" in m]
    # ONLY the newest marker can legitimately be mid-flight: an older
    # marker's snapshot was an INPUT of the next compaction and gets
    # removed by it - treating such a consumed marker as 'pending'
    # would resurrect a garbage dir at its old snapshot id and never
    # fold live deltas again (round-5 review: verified livelock)
    newest = markers[-1] if markers else None
    if newest is not None and newest["snapshot"] not in raw_ids:
        # resume a compaction that crashed before its snapshot commit
        new_id, fold_max = newest["snapshot"], newest["folded_max"]
    else:
        leftover = [(b, p) for b, p in raw
                    if newest is not None
                    and b <= newest["folded_max"]]
        if leftover:  # resume step 4 only: finish the removals
            for _b, p in leftover:
                fs.rmtree(p)
            return newest["snapshot"]
        if len(raw) <= 1:
            return raw[0][0] if raw else -1
        all_dirs = _batch_dirs(fs, root, committed_only=False,
                               apply_fold_exclusion=False)
        fold_max = max(raw_ids)
        new_id = (max(b for b, _ in all_dirs) + 1
                  if batch_id is None else batch_id)
        if new_id <= fold_max:
            # a caller-chosen snapshot id at or below the fold ceiling
            # would be deleted by the removal pass together with the
            # inputs (round-5 review: verified total state loss)
            raise ValueError(
                f"batch_id={new_id} must exceed every folded input id "
                f"(max committed is {fold_max})")
        old_offset = _compact_offset(fs, root)
        fs.write_text_atomic(
            fs.join(root, f"_epoch_{old_offset + 2}"),
            json.dumps({"offset": old_offset + 2,
                        "prev_offset": old_offset,
                        "folded_max": fold_max, "snapshot": new_id}),
            fs.join(root, "._tmp_epoch"))
    state = read_fn(spark, output_dir)
    if state is None:  # defensive: committed>=2 implies readable state
        return -1
    state = state.persist()
    state.count()
    try:
        state.write.mode("overwrite").parquet(
            fs.join(root, f"batch={new_id}"))
    finally:
        state.unpersist()
    for b, path in _batch_dirs(fs, root, apply_fold_exclusion=False):
        if b <= fold_max and b != new_id:  # never the fresh snapshot
            fs.rmtree(path)
    return new_id


DEDUP_BANDS_SUBDIR = "_state/bands"
DEDUP_SIGS_SUBDIR = "_state/sigs"
LINE_STATE_SUBDIR = "_state/lines"


def _read_union_state(spark: SparkSession, output_dir: str, subdir: str,
                      merge=None,
                      exclude: Optional[int] = None) -> Optional[DataFrame]:
    """Committed state of a batch-dir family: the union of every
    committed dir under output_dir/subdir (dir id `exclude` left out),
    passed through `merge` when the family needs one (argmax, sum, max
    or distinct); append-only families (MinHash bands / signatures,
    line digests, postings) read the plain union. None before the
    first commit."""
    fs = fs_for(output_dir, spark)
    dirs = [p for b, p in _batch_dirs(fs, fs.join(output_dir, subdir))
            if b != exclude]
    if not dirs:
        return None
    df = spark.read.parquet(*dirs)
    return df if merge is None else merge(df)


def compact_dedup_state(spark: SparkSession,
                        output_dir: str) -> tuple[int, int]:
    """Fold the MinHash band and signature batch dirs of a
    stream_deduped_documents run each into one consolidated partition
    (round-4 VERDICT item #5: these dirs grew monotonically while the
    label/latest families already compacted). Union state is
    order-free, so each family folds independently under the shared
    crash-safe `_compact_state` protocol (snapshot -> offset marker ->
    remove inputs); a crash between the two folds leaves one family
    compacted and the other not - both still read correctly, and the
    next run finishes the job. Returns (bands_id, sigs_id); -1 for a
    family with <= 1 partition (no-op). Must not run concurrently with
    the owning stream (same contract as compact_entity_components)."""
    bands_id = _compact_state(
        spark, output_dir, DEDUP_BANDS_SUBDIR,
        lambda s, o: _read_union_state(s, o, DEDUP_BANDS_SUBDIR))
    sigs_id = _compact_state(
        spark, output_dir, DEDUP_SIGS_SUBDIR,
        lambda s, o: _read_union_state(s, o, DEDUP_SIGS_SUBDIR))
    return bands_id, sigs_id


def read_line_digest_state(spark: SparkSession,
                           output_dir: str) -> Optional[DataFrame]:
    """The committed line-digest table (1 column `line_dg`) of a
    stream_line_deduped_documents run."""
    return _read_union_state(spark, output_dir, LINE_STATE_SUBDIR)


def compact_line_digest_state(spark: SparkSession, output_dir: str) -> int:
    """Fold the line-digest batch dirs into one snapshot - the
    line-level sibling of compact_dedup_state, same protocol and
    no-concurrent-stream contract."""
    return _compact_state(spark, output_dir, LINE_STATE_SUBDIR,
                          read_line_digest_state)


def stream_line_deduped_documents(spark: SparkSession, input_dir: str,
                                  output_dir: str, checkpoint_dir: str,
                                  schema: str = "doc_id long, text string",
                                  text_col: str = "text",
                                  key_col: str = "doc_id",
                                  min_line_chars: int = 1,
                                  max_files_per_trigger: Optional[int] = None,
                                  available_now: bool = True,
                                  batch_hook=None):
    """Cross-batch LINE-level dedup (the RefinedWeb curation rule as a
    stream): every micro-batch strips lines whose md5 digest the
    committed corpus already contains, dedups lines within the batch
    corpus-first (`dedup.dedup_lines_incremental`), writes the rebuilt
    documents to docs/batch=<id>/ and the batch's NEW digests to
    _state/lines/batch=<dir id>/. Committed state is 16-byte digests
    only - text is never retained or re-read, so the state is viable at
    10^12 docs.

    The digest read excludes the batch's own dir id (batch-dir
    protocol, module docstring); compact_line_digest_state folds
    history. 'mid' fires between the docs commit and the digest commit.
    Returns the StreamingQuery."""
    from ..operators.dedup import dedup_lines_incremental

    fs = fs_for(output_dir, spark)
    root = fs.join(output_dir, LINE_STATE_SUBDIR)

    def process(batch_df, batch_id, hook):
        docs = batch_df.select(key_col, text_col).persist()
        try:
            if docs.count() == 0:
                return
            _claim_owner(fs, root, checkpoint_dir)
            dest = _delta_dir(fs, root, batch_id)
            if dest is None:
                # folded replay: the state commit happened (and was
                # folded), so the docs commit that PRECEDES it in this
                # function also happened - recomputing here would dedup
                # the batch against its own folded digests; skip both
                return
            seen = _read_union_state(spark, output_dir, LINE_STATE_SUBDIR,
                                     exclude=dest[0])
            if seen is None:
                seen = spark.createDataFrame([], "line_dg string")
            out, new_digests = dedup_lines_incremental(
                docs, seen, text_col=text_col, key_col=key_col,
                min_line_chars=min_line_chars)
            out.write.mode("overwrite").parquet(
                fs.join(output_dir, f"docs/batch={batch_id}"))
            hook(batch_id, "mid")
            new_digests.write.mode("overwrite").parquet(dest[1])
        finally:
            docs.unpersist()

    return _start(_read_stream(spark, input_dir, schema,
                               max_files_per_trigger),
                  checkpoint_dir, available_now, batch_hook, process)


LATEST_STATE_SUBDIR = "_state/latest"


def read_latest_assertions(spark: SparkSession, output_dir: str,
                           key_cols: tuple = ("subj", "pred"),
                           val_cols: tuple = ("obj",),
                           ts_col: str = "ts") -> Optional[DataFrame]:
    """The CURRENT graph maintained by stream_latest_assertions: per
    key, the values of the globally latest-timestamped assertion across
    every committed batch delta. Unlike the CC label state this is a
    TS-argmax, not latest-batch-wins - per-key max(struct(ts, vals)) is
    associative and commutative, so batch order, redelivery order and
    late data cannot change the result. None before the first commit."""
    from ..operators.asof import snapshot_asof

    return _read_union_state(
        spark, output_dir, LATEST_STATE_SUBDIR,
        lambda df: snapshot_asof(df, _END_OF_TIME, ts_col=ts_col,
                                 key_cols=key_cols, val_cols=val_cols))


def stream_latest_assertions(spark: SparkSession, input_dir: str,
                             output_dir: str, checkpoint_dir: str,
                             schema: str = ("subj string, pred string, "
                                            "obj string, ts timestamp"),
                             key_cols: tuple = ("subj", "pred"),
                             val_cols: tuple = ("obj",),
                             ts_col: str = "ts",
                             max_files_per_trigger: Optional[int] = None,
                             available_now: bool = True,
                             batch_hook=None):
    """Continuously-maintained temporal-KG head state: assertions
    (subj, pred, obj, ts) arrive as a stream (the crawl re-asserting
    keys along warc_ts), and `read_latest_assertions` serves the
    current graph at any time.

    Stateless per batch (`_delta_stream`): each micro-batch writes only
    ITS OWN per-key struct-max delta (a map-side-combinable aggregate
    over the batch, bounded by batch size). The read side argmax-merges
    the deltas, and because ts-argmax is associative the merge is exact
    under any batch ordering, late data included;
    compact_latest_assertions folds them.

    Scale: state is one row per key ASSERTED IN THE WINDOW per delta,
    and compaction bounds the read fan-in; the 10^12-key full graph
    only ever materializes at read time, distributed."""
    from ..operators.asof import snapshot_asof

    return _delta_stream(
        spark, _read_stream(spark, input_dir, schema, max_files_per_trigger),
        output_dir, LATEST_STATE_SUBDIR, checkpoint_dir, available_now,
        batch_hook,
        lambda df: snapshot_asof(df, _END_OF_TIME, ts_col=ts_col,
                                 key_cols=key_cols, val_cols=val_cols))


def compact_latest_assertions(spark: SparkSession, output_dir: str,
                              key_cols: tuple = ("subj", "pred"),
                              val_cols: tuple = ("obj",),
                              ts_col: str = "ts",
                              batch_id: Optional[int] = None) -> int:
    """Fold the latest-assertion deltas into one partition (crash-safe
    protocol of _compact_state; run when delta count overtakes the live
    key count)."""
    def read_fn(s, out):
        return read_latest_assertions(s, out, key_cols=key_cols,
                                      val_cols=val_cols, ts_col=ts_col)
    return _compact_state(spark, output_dir, LATEST_STATE_SUBDIR,
                          read_fn, batch_id)


WEBGRAPH_STATE_SUBDIR = "_state/host_edges"


def read_host_graph(spark: SparkSession,
                    output_dir: str) -> Optional[DataFrame]:
    """The cumulative host-level link graph maintained by
    stream_web_graph: per (src_host, dst_host), the SUM of per-batch
    link counts across every committed delta. Count-sum is associative
    and commutative, so batch order and redelivery cannot change the
    merged graph (the additive sibling of the ts-argmax merge in
    read_latest_assertions). None before the first commit."""
    return _read_union_state(
        spark, output_dir, WEBGRAPH_STATE_SUBDIR,
        lambda df: df.groupBy("src_host", "dst_host")
        .agg(F.sum("n_links").cast("long").alias("n_links")))


def stream_web_graph(spark: SparkSession, input_dir: str,
                     output_dir: str, checkpoint_dir: str,
                     drop_self: bool = False,
                     max_files_per_trigger: Optional[int] = None,
                     available_now: bool = True,
                     batch_hook=None):
    """Continuously-maintained web link graph: HTML pages arrive as a
    stream, each micro-batch extracts its anchors (sources/weblinks.py,
    pure JVM) and writes ONLY its own (src_host, dst_host, n_links)
    delta - stateless per batch (`_delta_stream`). The read side
    sum-merges (exact under any ordering because counts are additive);
    `compact_host_graph` folds the deltas.

    Scale: a delta is bounded by the batch's distinct host pairs (the
    map-side-combinable groupBy absorbs per-page fan-out); the full
    10^10-edge host graph only materializes distributed at read time,
    and compaction bounds the read fan-in."""
    from ..sources.weblinks import extract_links, host_edges

    return _delta_stream(
        spark, read_pages_stream(spark, input_dir, max_files_per_trigger),
        output_dir, WEBGRAPH_STATE_SUBDIR, checkpoint_dir, available_now,
        batch_hook,
        lambda df: host_edges(extract_links(df), drop_self=drop_self))


def compact_host_graph(spark: SparkSession, output_dir: str,
                       batch_id: Optional[int] = None) -> int:
    """Fold the host-edge deltas into one consolidated partition
    (crash-safe protocol of _compact_state)."""
    return _compact_state(spark, output_dir, WEBGRAPH_STATE_SUBDIR,
                          read_host_graph, batch_id)


FINGERPRINT_STATE_SUBDIR = "_state/fingerprint"


def read_table_fingerprint(spark: SparkSession,
                           output_dir: str) -> Optional[DataFrame]:
    """The cumulative content fingerprint maintained by
    stream_table_fingerprint: per hash bucket, the SUM of per-batch
    (n_rows, hash_sum) - both columns additive, so the merge is exact
    under any batch order/redelivery pattern, and the merged value
    EQUALS sketches.table_fingerprint of the union of every ingested
    batch (mergeability is literal column addition - the batch
    operator's contract). None before the first commit."""
    return _read_union_state(
        spark, output_dir, FINGERPRINT_STATE_SUBDIR,
        lambda df: df.groupBy("bucket")
        .agg(F.sum("n_rows").cast("long").alias("n_rows"),
             F.sum("hash_sum").cast("decimal(38,0)").alias("hash_sum")))


def stream_table_fingerprint(spark: SparkSession, input_dir: str,
                             output_dir: str, checkpoint_dir: str,
                             cols: tuple = ("url", "text"),
                             n_buckets: int = 64,
                             max_files_per_trigger: Optional[int] = None,
                             available_now: bool = True,
                             batch_hook=None):
    """Continuously-maintained table content checksum: each micro-batch
    commits ONLY its own 64-row fingerprint delta (stateless per batch,
    `_delta_stream`) - so at any point the streaming ingest can be
    VERIFIED against a batch recompute by comparing n_buckets rows
    instead of re-reading the corpus: the end-to-end exactly-once
    receipt for the whole landing pipeline (a lost or duplicated batch
    shows up as a bucket mismatch). compact_table_fingerprint folds
    the deltas."""
    from ..operators.sketches import table_fingerprint

    return _delta_stream(
        spark, read_pages_stream(spark, input_dir, max_files_per_trigger),
        output_dir, FINGERPRINT_STATE_SUBDIR, checkpoint_dir, available_now,
        batch_hook,
        lambda df: table_fingerprint(df, list(cols), n_buckets=n_buckets))


def compact_table_fingerprint(spark: SparkSession, output_dir: str,
                              batch_id: Optional[int] = None) -> int:
    """Fold the fingerprint deltas into one consolidated partition
    (crash-safe protocol of _compact_state)."""
    return _compact_state(spark, output_dir, FINGERPRINT_STATE_SUBDIR,
                          read_table_fingerprint, batch_id)


CM_STATE_SUBDIR = "_state/cm_tokens"
HLL_STATE_SUBDIR = "_state/hll_vocab"


def read_token_counters(spark: SparkSession,
                        output_dir: str) -> Optional[DataFrame]:
    """The cumulative Count-Min token-frequency sketch maintained by
    stream_corpus_sketches: per (row_ix, col_ix), the SUM of committed
    per-batch counter deltas - CM counters are additive over bag
    union, so the merge EQUALS cm_build of every ingested token
    (`cm_merge`'s contract, proven in the batch tests), under any
    batch order or redelivery pattern. None before the first commit."""
    return _read_union_state(
        spark, output_dir, CM_STATE_SUBDIR,
        lambda df: df.groupBy("row_ix", "col_ix")
        .agg(F.sum("cnt").cast("long").alias("cnt")))


def read_vocab_registers(spark: SparkSession,
                         output_dir: str) -> Optional[DataFrame]:
    """The cumulative HyperLogLog vocabulary registers maintained by
    stream_corpus_sketches: per reg_ix, the MAX over committed
    per-batch register deltas - registers max-merge, so the fold
    EQUALS hll_sketch of the union of every ingested token
    (`hll_merge`'s contract), duplicate-insensitively. None before
    the first commit."""
    return _read_union_state(
        spark, output_dir, HLL_STATE_SUBDIR,
        lambda df: df.groupBy("reg_ix").agg(F.max("rho").alias("rho")))


def stream_corpus_sketches(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           d: int = 4, w: int = 1024, p: int = 8,
                           max_files_per_trigger: Optional[int] = None,
                           available_now: bool = True,
                           batch_hook=None):
    """Continuously-maintained corpus sketches: each micro-batch
    commits ONLY its own Count-Min token-counter delta (<= d*w rows)
    and HLL vocabulary-register delta (<= 2^p rows) - stateless per
    batch (no committed-state read, no join: the stream_web_graph
    additive shape, legal because CM merges by addition and HLL by
    max). So live token-frequency estimates and vocabulary-size
    estimates are available at ANY point of a 10^12-document ingest
    for the cost of reading a few thousand counter rows - the
    monitoring half of the curation pipeline (drift, vocabulary
    explosion, heavy-hitter emergence) without ever re-scanning the
    landed corpus.

    Both deltas commit under one batch id; a crash between the two
    writes is repaired by the checkpoint's batch replay (same dir ids,
    idempotent overwrite). Between the two commits the hook fires
    'cm_committed', or 'cm_skipped' when a folded replay skipped the
    CM write. Compaction folds each family separately."""
    from ..operators.sketches import cm_build, hll_sketch
    from ..operators.text import whitespace_tokens

    fs = fs_for(output_dir, spark)
    cm_root = fs.join(output_dir, CM_STATE_SUBDIR)
    hll_root = fs.join(output_dir, HLL_STATE_SUBDIR)

    def process(batch_df, batch_id, hook):
        # persist the tokenized batch: it feeds BOTH sketch builds and
        # the emptiness probe (review fix: un-persisted, the batch was
        # scanned + tokenized three times per trigger)
        toks = batch_df.select(
            F.explode(whitespace_tokens(F.col("text"))).alias("token")
        ).persist()
        try:
            _claim_owner(fs, cm_root, checkpoint_dir)
            _claim_owner(fs, hll_root, checkpoint_dir)
            if not toks.take(1):  # cheap: tokenization is cached, no
                # point running the full d-way aggregate just to learn
                # the batch is empty (review fix)
                return
            # per-family folded-replay skips (independent: a crash
            # between the two commits can leave one family folded and
            # the other pending)
            cm_done = _commit_delta(fs, cm_root, batch_id,
                                    cm_build(toks, "token", d=d, w=w))
            hook(batch_id, "cm_committed" if cm_done else "cm_skipped")
            _commit_delta(fs, hll_root, batch_id,
                          hll_sketch(toks, "token", [], p=p))
        finally:
            toks.unpersist()

    return _start(read_pages_stream(spark, input_dir, max_files_per_trigger),
                  checkpoint_dir, available_now, batch_hook, process)


def compact_token_counters(spark: SparkSession, output_dir: str,
                           batch_id: Optional[int] = None) -> int:
    """Fold the CM counter deltas into one consolidated partition
    (crash-safe protocol of _compact_state)."""
    return _compact_state(spark, output_dir, CM_STATE_SUBDIR,
                          read_token_counters, batch_id)


def compact_vocab_registers(spark: SparkSession, output_dir: str,
                            batch_id: Optional[int] = None) -> int:
    """Fold the HLL register deltas into one consolidated partition
    (crash-safe protocol of _compact_state)."""
    return _compact_state(spark, output_dir, HLL_STATE_SUBDIR,
                          read_vocab_registers, batch_id)


WARC_PAGES_SUBDIR = "_state/warc_pages"
WARC_CDX_SUBDIR = "_state/warc_cdx"
_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def read_warc_cdx(spark: SparkSession,
                  output_dir: str) -> Optional[DataFrame]:
    """The cumulative CDX index maintained by stream_warc_ingest
    (maintain_cdx=True): union of committed per-batch index deltas -
    append-only by construction (a segment file is indexed exactly
    once; revisit supersede is a READ policy on pages, the index keeps
    every archived record like Common Crawl's). None before the first
    commit."""
    return _read_union_state(spark, output_dir, WARC_CDX_SUBDIR)


def read_warc_pages(spark: SparkSession,
                    output_dir: str) -> Optional[DataFrame]:
    """The cumulative pages table maintained by stream_warc_ingest:
    per url, the LATEST-warc_ts page across every committed delta
    (ts-argmax merge, exact under any batch ordering and redelivery -
    a recrawled url supersedes its older snapshot the same way
    read_latest_assertions elects heads). None before the first
    commit."""
    from ..operators.asof import snapshot_asof

    return _read_union_state(
        spark, output_dir, WARC_PAGES_SUBDIR,
        lambda df: snapshot_asof(df, _END_OF_TIME, ts_col="warc_ts",
                                 key_cols=("url",), val_cols=("html",)))


def stream_warc_ingest(spark: SparkSession, input_dir: str,
                       output_dir: str, checkpoint_dir: str,
                       content_type_prefix: str = "text/html",
                       max_files_per_trigger: Optional[int] = None,
                       available_now: bool = True,
                       batch_hook=None,
                       maintain_cdx: bool = False):
    """Continuously-maintained pages table from landing WARC segments:
    segment files arrive in `input_dir` (Spark's binaryFile streaming
    source - one row per file, exactly the per-~1GB-blob partition
    unit the batch walk wants), each micro-batch runs the
    Content-Length byte walk (sources/warc.py) on ITS OWN files and
    writes only its (url, warc_ts, html) delta - stateless per batch.
    `read_warc_pages` merges deltas by warc_ts-argmax per url, so
    re-crawled pages supersede exactly as in the batch table.

    Scale: a delta is bounded by the batch's record count; the full
    page corpus only materializes distributed at read time, and
    `compact_warc_pages` folds the dirs when their count overtakes
    the live url count."""
    from ..sources.warc import warc_pages

    fs = fs_for(output_dir, spark)
    root = fs.join(output_dir, WARC_PAGES_SUBDIR)
    cdx_root = fs.join(output_dir, WARC_CDX_SUBDIR)

    def process(batch_df, batch_id, _hook):
        _claim_owner(fs, root, checkpoint_dir)
        segs = batch_df.select(F.col("path").alias("segment_id"),
                               F.col("content").alias("blob"))
        if maintain_cdx:
            # index EVERY response record of this batch's segments
            # (the index keeps non-html archives the page state
            # filters out), written first so a crash between the two
            # writes retries both overwrites harmlessly
            from ..sources.cdx import cdx_index
            _claim_owner(fs, cdx_root, checkpoint_dir)
            _commit_delta(fs, cdx_root, batch_id, cdx_index(segs))
        delta = warc_pages(segs, content_type_prefix=content_type_prefix)
        if delta.take(1):
            _commit_delta(fs, root, batch_id, delta)

    return _start(_read_stream(spark, input_dir, _BINARY_FILE_SCHEMA,
                               max_files_per_trigger, fmt="binaryFile"),
                  checkpoint_dir, available_now, batch_hook, process)


def compact_warc_pages(spark: SparkSession, output_dir: str,
                       batch_id: Optional[int] = None) -> int:
    """Fold the page deltas into one consolidated partition
    (crash-safe protocol of _compact_state)."""
    return _compact_state(spark, output_dir, WARC_PAGES_SUBDIR,
                          read_warc_pages, batch_id)


POSTINGS_STATE_SUBDIR = "_state/postings"


def read_inverted_index(spark: SparkSession,
                        output_dir: str) -> Optional[DataFrame]:
    """The cumulative inverted index maintained by
    stream_inverted_index: the UNION of every committed posting delta
    (term, key, tf, dl).  Document keys are append-only by contract
    (each doc lands once - the landing pipeline's exactly-once
    guarantee upstream), so the union IS retrieval.build_inverted_index
    of the ingested corpus - no merge aggregation needed; feed it
    straight into retrieval.bm25_topk_terms (document frequencies and
    corpus stats recompute from the postings at query time, so idf and
    dl normalization always reflect the whole corpus so far).  None
    before the first commit."""
    return _read_union_state(spark, output_dir, POSTINGS_STATE_SUBDIR)


def stream_inverted_index(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str,
                          schema: str = "doc_id long, text string",
                          text_col: str = "text", key_col: str = "doc_id",
                          max_files_per_trigger: Optional[int] = None,
                          available_now: bool = True,
                          batch_hook=None):
    """Continuously-maintained BM25 index: documents arrive as a
    stream, each micro-batch writes ONLY its own posting delta
    (retrieval.build_inverted_index over the batch - one scan, text
    never shuffles) to _state/postings/batch=<dir id>/.  Stateless per
    batch (`_delta_stream`), because postings of disjoint doc sets
    compose by plain union; `compact_inverted_index` folds the dirs
    when their count overtakes the read fan-in budget.

    Scale: a delta is bounded by the batch's distinct (doc, term)
    pairs; the full trillion-posting index only materializes
    distributed at read time.  Re-crawled/revised documents are OUT of
    this operator's contract (append-only keys) - route revisions
    through stream_latest_assertions-style supersede upstream and
    rebuild their postings, or tombstone at query time."""
    from ..operators.retrieval import build_inverted_index

    return _delta_stream(
        spark, _read_stream(spark, input_dir, schema, max_files_per_trigger),
        output_dir, POSTINGS_STATE_SUBDIR, checkpoint_dir, available_now,
        batch_hook,
        lambda df: build_inverted_index(df.select(key_col, text_col),
                                        text_col, key_col))


def compact_inverted_index(spark: SparkSession, output_dir: str,
                           batch_id: Optional[int] = None) -> int:
    """Fold the posting deltas into one consolidated partition
    (crash-safe protocol of _compact_state)."""
    return _compact_state(spark, output_dir, POSTINGS_STATE_SUBDIR,
                          read_inverted_index, batch_id)


FUSION_STATE_SUBDIR = "_state/assertions"


def read_assertion_set(spark: SparkSession,
                       output_dir: str) -> Optional[DataFrame]:
    """The cumulative DISTINCT (subj, pred, obj, source) assertion set
    maintained by stream_fused_assertions: set union of the committed
    per-batch deltas. Union + distinct is associative, commutative and
    idempotent, so batch ordering, redelivery AND cross-batch duplicate
    assertions (the same page re-crawled, the same source echoed into
    two micro-batches) cannot change the set - exactly the property the
    fusion vote needs, since a source repeating itself must gain no
    extra weight. None before the first commit."""
    return _read_union_state(spark, output_dir, FUSION_STATE_SUBDIR,
                             lambda df: df.distinct())


def read_fused_assertions(spark: SparkSession, output_dir: str,
                          source_weights: Optional[DataFrame] = None,
                          default_weight: int = 1) -> Optional[DataFrame]:
    """The CURRENT fused view over everything ingested so far: the
    ordinary `fuse_triples` election over the maintained assertion set
    (election at read time, like read_latest_assertions re-runs the
    argmax; the election is a pure function of the set, so the streamed
    view provably equals the batch build over the ingested corpus)."""
    from ..operators.fusion import fuse_triples

    asserted = read_assertion_set(spark, output_dir)
    if asserted is None:
        return None
    return fuse_triples(asserted, source_weights,
                        default_weight=default_weight)


def stream_fused_assertions(spark: SparkSession, input_dir: str,
                            output_dir: str, checkpoint_dir: str,
                            schema: str = ("subj string, pred string, "
                                           "obj string, source string"),
                            max_files_per_trigger: Optional[int] = None,
                            available_now: bool = True,
                            batch_hook=None):
    """Continuously-maintained knowledge-fusion state: conflicting
    (subj, pred, obj, source) assertions arrive as a stream (the crawl
    re-extracting the same facts from thousands of sources) and
    `read_fused_assertions` serves the weighted-vote election at any
    time.

    Stateless per batch (`_delta_stream`), the set-union member of the
    batch-dir state family (stream_web_graph folds by +,
    stream_corpus_sketches by +/max, stream_latest_assertions by
    ts-argmax - this one folds by set union): each micro-batch writes
    only its own WITHIN-BATCH DISTINCT assertion delta. Cross-batch
    duplicates are absorbed on the read side (distinct is idempotent),
    so the merged state is exactly the RDF set of every assertion ever
    ingested and the election over it equals the batch `fuse_triples`
    over the same corpus - duplicates across batches gain no weight,
    which a naive additive support-sum state would get WRONG.
    compact_fused_assertions folds (union + distinct).

    Scale: each delta is bounded by the batch's distinct assertions;
    compaction bounds read fan-in and re-dedups across batches. The
    batch twin for committed stores is
    `operators.fusion.fuse_triples_incremental` (touched-group
    re-election); this stream is the landing path that FEEDS such a
    store."""
    cols = [c.split()[0] for c in schema.split(",")]
    return _delta_stream(
        spark, _read_stream(spark, input_dir, schema, max_files_per_trigger),
        output_dir, FUSION_STATE_SUBDIR, checkpoint_dir, available_now,
        batch_hook, lambda df: df.select(*cols).distinct())


def compact_fused_assertions(spark: SparkSession, output_dir: str,
                             batch_id: Optional[int] = None) -> int:
    """Fold the assertion-set deltas into one deduplicated snapshot
    (crash-safe marker-first protocol of _compact_state; set union is
    idempotent, so even the latest-wins replay order is safe here)."""
    return _compact_state(spark, output_dir, FUSION_STATE_SUBDIR,
                          read_assertion_set, batch_id)
