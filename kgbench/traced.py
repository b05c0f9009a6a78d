"""The traced pass: per-layer metrics from spans around each layer.

One untraced build gives the overhead baseline. Then every layer entry
point is wrapped (spans.Tracer.wrap) and the run repeats, each under one
unit id: a build, a resume, a query, and a two-file stream drain with an
injected crash and restart, where each micro-batch is its own unit. Spans are written to
.kgbench/spans-<workload>-seed<seed>.jsonl.
"""

from __future__ import annotations

import importlib
import os
import statistics

from pyspark.sql import functions as F

import spans

# (module, attribute, span name, forces its DataFrame output)
ENTRY_POINTS = [
    ("csvweb_spark.operators.triples", "convert_table_group_spark_with_errors",
     "triples", True),
    ("csvweb_spark.pipeline", "link_triple_objects", "linking", True),
    ("csvweb_spark.pipeline", "connected_components", "canonicalize.cc",
     True),
    ("csvweb_spark.pipeline", "canonicalize_triples", "canonicalize.rewrite",
     True),
    # build_knowledge_graph uses pipeline's imported name; the stream body
    # imports it from lineage at call time
    ("csvweb_spark.pipeline", "write_resumable", "lineage.write", False),
    ("csvweb_spark.plans.lineage", "write_resumable", "lineage.write", False),
    ("csvweb_spark.plans.lineage", "read_snapshot", "lineage.read", True),
    ("csvweb_spark.operators.entail", "rdfs_closure", "entail", True),
    ("csvweb_spark.operators.sparql", "sparql_select", "sparql", True),
]

UNITS = {
    "triples.busy_s": "s", "triples.plan_s": "s", "triples.rows_out": "count",
    "triples.jobs": "count",
    "spark.driver_only_s": "s", "spark.jobs": "count",
    "linking.busy_s": "s", "linking.mentions_in": "count",
    "linking.edges_out": "count", "linking.yield": "1",
    "canonicalize.cc_busy_s": "s", "canonicalize.cc_jobs": "count",
    "canonicalize.edges_in": "count", "canonicalize.components": "count",
    "canonicalize.rewrite_busy_s": "s",
    "lineage.write_busy_s": "s", "lineage.bytes_written": "B",
    "lineage.buckets_written": "count", "lineage.buckets_skipped": "count",
    "lineage.read_s": "s",
    "entail.closure_busy_s": "s", "entail.closure_jobs": "count",
    "entail.rows_out": "count",
    "sparql.busy_s": "s", "sparql.rows_out": "count",
    "streaming.batches": "count", "streaming.engine_s": "s",
    "streaming.batch_p50_s": "s", "streaming.resume_s": "s",
    "streaming.read_s": "s", "streaming.batch_dirs_read": "count",
    "trace.overhead": "1",
}


def _probe(name: str):
    """Counts recorded after the span closes, as their own probe jobs."""
    def rows(_a, _k, result, c):
        c["rows_out"] = result.count()

    def linking(args, _k, result, c):
        c["mentions_in"] = args[0].filter(
            F.col("obj_kind") == "literal").count()
        c["edges_out"] = result.count()

    def cc(args, _k, result, c):
        c["edges_in"] = args[0].count()
        c["components"] = result.select("component").distinct().count()

    def write(args, kwargs, manifest, c):
        from csvweb_spark.plans.lineage import committed_partitions
        out = args[1] if len(args) > 1 else kwargs["output_dir"]
        parts = [p["part_key"] for p in manifest["partitions"]]
        c["buckets_written"] = len(parts)
        c["buckets_skipped"] = len(committed_partitions(out)) - len(parts)
        c["bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d in (os.path.join(out, "data", f"part_key={p}")
                      for p in parts)
            for f in os.listdir(d) if f.endswith(".parquet"))

    return {"triples": lambda a, k, r, c: rows(a, k, r[0], c),
            "linking": linking, "canonicalize.cc": cc,
            "lineage.write": write, "entail": rows,
            "sparql": rows}.get(name)


def install(tracer: spans.Tracer) -> None:
    for mod, attr, name, forces in ENTRY_POINTS:
        probe = _probe(name)
        tracer.wrap(importlib.import_module(mod), attr, name,
                    spans.force_frames if forces else spans.no_force,
                    _probed(tracer, probe) if probe else None)


def _probed(tracer: spans.Tracer, probe):
    """Run a probe inside its own span so its jobs and time are charged to
    neither the layer nor its parent."""
    def run(*a):
        with tracer.span("trace.probe"):
            probe(*a)
    return run


def layer_metrics(tracer: spans.Tracer, base_build_s: float,
                  stream: dict) -> dict:
    recorded = tracer.spans

    def pick(unit, name):
        return [s for s in recorded if s.unit == unit and s.name == name]

    def busy(unit, name):
        return sum(tracer.self_time(s) for s in pick(unit, name))

    def total(unit, name, key):
        return sum(s.counts.get(key, 0) for s in pick(unit, name))

    def jobs(unit, name):
        return sum(s.jobs for s in pick(unit, name))

    (build,) = pick("build", "build")
    build_s = build.end - build.start
    mentions = total("build", "linking", "mentions_in")
    edges = total("build", "linking", "edges_out")
    progress = stream["progress"]
    trig = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
    engine = [(p.durationMs["triggerExecution"]
               - p.durationMs.get("addBatch", 0)) / 1000.0
              for p in progress]
    return {
        "triples.busy_s": busy("build", "triples"),
        "triples.plan_s": total("build", "triples", "plan_s"),
        "triples.rows_out": total("build", "triples", "rows_out"),
        "triples.jobs": jobs("build", "triples"),
        "spark.driver_only_s": tracer.driver_only_s(build.start, build.end),
        "spark.jobs": sum(s.jobs for s in recorded if s.unit == "build"
                          and s.name != "trace.probe"),
        "linking.busy_s": busy("build", "linking"),
        "linking.mentions_in": mentions,
        "linking.edges_out": edges,
        "linking.yield": edges / mentions if mentions else 0.0,
        "canonicalize.cc_busy_s": busy("build", "canonicalize.cc"),
        "canonicalize.cc_jobs": jobs("build", "canonicalize.cc"),
        "canonicalize.edges_in": total("build", "canonicalize.cc",
                                       "edges_in"),
        "canonicalize.components": total("build", "canonicalize.cc",
                                         "components"),
        "canonicalize.rewrite_busy_s": busy("build", "canonicalize.rewrite"),
        "lineage.write_busy_s": busy("build", "lineage.write"),
        "lineage.bytes_written": total("build", "lineage.write",
                                       "bytes_written"),
        "lineage.buckets_written": total("build", "lineage.write",
                                         "buckets_written"),
        "lineage.buckets_skipped": total("resume", "lineage.write",
                                         "buckets_skipped"),
        "lineage.read_s": busy("query", "lineage.read"),
        "entail.closure_busy_s": busy("query", "entail"),
        "entail.closure_jobs": jobs("query", "entail"),
        "entail.rows_out": total("query", "entail", "rows_out"),
        "sparql.busy_s": busy("query", "sparql"),
        "sparql.rows_out": total("query", "sparql", "rows_out"),
        "streaming.batches": len(progress),
        "streaming.engine_s": statistics.median(engine) if engine else 0.0,
        "streaming.batch_p50_s": statistics.median(trig) if trig else 0.0,
        "streaming.resume_s": stream.get("resume_s") or 0.0,
        "streaming.read_s": stream.get("read_s") or 0.0,
        "streaming.batch_dirs_read": len(pick("stream", "lineage.read")),
        "trace.overhead": build_s / base_build_s if base_build_s else 0.0,
    }


def _in_unit(tracer: spans.Tracer, unit: str, fn, *args, **kwargs):
    tracer.unit = unit
    with tracer.span(unit):
        return fn(*args, **kwargs)


def run_traced(wl, args, work, inp, run, state, stop_spark):
    spark, pages_df, aliases_df, _wall, _cpu = wl.setup(
        work, wl.cores(), inp, run)
    tracer = spans.Tracer(spark)
    out = os.path.join(work, "out-traced")
    base_s = stream = None
    try:
        base_s, _ = run.op("untraced build", wl.build, spark, pages_df,
                           inp.table, aliases_df,
                           os.path.join(work, "base-out"),
                           verify=wl.verify_build(inp))
        install(tracer)
        tracer.start_sampler()
        _in_unit(tracer, "build", run.op, "traced build", wl.build, spark,
                 pages_df, inp.table, aliases_df, out,
                 verify=wl.verify_build(inp))
        _in_unit(tracer, "resume", run.op, "traced resume", wl.build, spark,
                 pages_df, inp.table, aliases_df, out,
                 verify=wl.verify_build(inp, resumed=True))
        _in_unit(tracer, "query", run.op, "traced query", wl.query, spark,
                 os.path.join(out, "triples"), inp.query,
                 verify=wl.verify_query(inp))
        def batch_unit(batch_id):
            tracer.unit = ("stream" if batch_id is None
                           else f"stream/batch={batch_id}")

        _, stream = _in_unit(tracer, "stream", run.op, "stream drain",
                             wl.stream_drain, spark, work, inp, aliases_df,
                             run, batch_unit)
    finally:
        tracer.stop_sampler()
        tracer.uninstall()
    try:
        wl.verify_graph(spark, inp, out, run)
        if stream:
            wl.verify_stream(spark, stream, run)
    finally:
        stop_spark(spark)
    os.makedirs(state, exist_ok=True)
    tracer.write(os.path.join(
        state, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    return (layer_metrics(tracer, base_s or 0.0,
                          stream or {"progress": []}), UNITS)
