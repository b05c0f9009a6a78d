"""The benchmark's workloads, phases and metrics.

A run has two phases, both in one Spark session with a fixed config:

1. set-up    session start plus one untimed warm-up build and query over a
             small slice of the input (`setup_s`);
2. rounds    a fixed number of rounds (`measure`), each of
             - build: `pipeline.build_knowledge_graph` into a fresh output
               directory (`docs_per_cpu_s` from the median build);
             - resume: the same build again over that output, which is now
               fully committed (`resume_cpu_s`, median);
             - query: read the committed graph back, RDFS-entail it and run
               the workload's SPARQL GROUP BY aggregate,
               `queries_per_round` times (`query_cpu_s`, median).

Every operation is timed in wall seconds and in CPU seconds of the
session's processes (`hoststats.tree_cpu_s`); the metrics use CPU seconds.

Every operation's output is checked against `check.py`'s Spark-free
expectation; a raise or a mismatch counts as a failed operation.

With tracing on, the run instead makes one untraced build (the overhead
baseline), then wraps the layers (`spans.py`) and repeats build, resume,
query and a short crash-and-restart stream drain under spans
(`traced.py`).
"""

from __future__ import annotations

import datetime as _dt
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import hoststats

N_BUCKETS = 4
SHUFFLE_PARTITIONS = 4
INPUT_FILES = 4
DRIVER_MEMORY = "4g"
# The heap is committed and touched up front and the young generation is
# fixed: G1 otherwise grows the heap and sizes the young generation from
# pause times, which follow host load, and the JVM's peak resident set moved
# by up to 28% between identical runs. Peak memory then varies with what
# lives outside the heap (metaspace, code cache, Arrow and Python workers).
HEAP_OPTS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Xmn1g"
# C1 only: with the full tiered JIT, the C2 compiler threads kept
# recompiling Spark for many builds, at 1.5-2 cores, and how far they had got
# by a given build differed from run to run. C1 reaches steady code within
# the warm-up; the code cache must hold all of it. The compiler threads are
# a fixed set so that their CPU can be told apart from the program's
# (hoststats.tree_cpu_s).
JIT_OPTS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m "
            "-XX:-UseDynamicNumberOfCompilerThreads")


def cores() -> int:
    """Spark task slots: half the host's cores. The driver JVM's own
    threads (planning, JIT, GC) and the Python driver need the other half;
    with a slot per core they compete with the tasks, and a stage waits for
    whichever task lands on a core another tenant has taken."""
    return max(1, (os.cpu_count() or 1) // 2)

DEF_NS = "http://pages.example.org/def/"
CLASS_NS = "http://kb.example.org/class/"

QUERY_TEXT_BY_LANG = (
    "SELECT ?lang (COUNT(?t) AS ?n) WHERE { "
    f"?s <{DEF_NS}lang> ?lang . ?s <{DEF_NS}text> ?t }} GROUP BY ?lang")
QUERY_INSTANCES_BY_CLASS = (
    "SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c } GROUP BY ?c")


def docs_table():
    from csvweb_spark.csvw.model import Column, Datatype, Table
    about = "http://pages.example.org/doc/{doc_id}"
    integer = {"doc_id", "n_chars"}
    return Table(url="http://pages.example.org/docs.csv", columns=[
        Column(name=n, about_url=about, property_url=DEF_NS + n,
               datatype=Datatype(base="integer") if n in integer else None)
        for n in gen.DOCS_COLUMNS])


def chain_table():
    from csvweb_spark.csvw.model import Column, Datatype, Table
    about = "http://pages.example.org/row/{row_id}"
    cls = CLASS_NS + "{cls}"
    return Table(url="http://pages.example.org/chain.csv", columns=[
        Column(name="row_id", about_url=about, property_url=DEF_NS + "row",
               datatype=Datatype(base="integer")),
        Column(name="a", about_url=about, property_url=DEF_NS + "mentions"),
        Column(name="b", about_url=about, property_url=DEF_NS + "mentions"),
        Column(name="cls", about_url=about, property_url=check.RDF_TYPE,
               value_url=cls),
        Column(name="sup", about_url=cls, property_url=check.RDFS_SUBCLASS,
               value_url=CLASS_NS + "{sup}"),
    ])


# -- workloads ---------------------------------------------------------------


@dataclass
class Inputs:
    """One workload's generated inputs and their expected answers."""
    pages: pa.Table                 # the timed builds' input
    warm_pages: pa.Table            # the warm-up build's input
    aliases: pa.Table
    table: object
    query: str
    expected_query: dict = field(default_factory=dict)
    expected_graph: tuple = (0, 0)  # (rows, hash) of committed triples
    docs: int = 0
    queries_per_round: int = 1
    round_s: float = 20.0           # nominal round length, 4-core host


def _page_texts(pages: pa.Table) -> dict:
    return dict(zip(pages.column("url").to_pylist(),
                    pages.column("text").to_pylist()))


def _alias_rows(aliases: pa.Table) -> list[tuple]:
    return list(zip(*(aliases.column(c).to_pylist()
                      for c in ("alias", "entity_id", "entity_uri"))))


def _expect(inp: Inputs, answer) -> Inputs:
    graph = check.canonical_triples(_page_texts(inp.pages), inp.table,
                                    _alias_rows(inp.aliases))
    inp.expected_graph = check.multiset_hash(graph)
    inp.expected_query = dict(answer(check.rdfs_entailed(graph)))
    return inp


def kg_batch_inputs(seed: int) -> Inputs:
    n_docs, n_hubs = 4_000, 20
    inp = Inputs(pages=gen.docs_pages(seed, n_docs, n_hubs),
                 warm_pages=gen.docs_pages(seed + 1, 100, n_hubs),
                 aliases=gen.docs_aliases(n_hubs), table=docs_table(),
                 query=QUERY_TEXT_BY_LANG, docs=n_docs,
                 queries_per_round=5)
    return _expect(inp, lambda g: check.count_text_by_lang(
        g, DEF_NS + "lang", DEF_NS + "text"))


def kg_chain_inputs(seed: int) -> Inputs:
    shape = dict(chain_len=64, n_classes=512, tax_depth=16)
    n_rows = 1_500
    pages, aliases = gen.chain_inputs(seed, n_rows, **shape)
    # short chains and a shallow taxonomy: the warm-up runs every code path
    # of a build in a few fixpoint rounds
    warm, _ = gen.chain_inputs(seed + 1, 200, chain_len=8, n_classes=64,
                               tax_depth=4)
    inp = Inputs(pages=pages, warm_pages=warm, aliases=aliases,
                 table=chain_table(), query=QUERY_INSTANCES_BY_CLASS,
                 docs=n_rows, queries_per_round=2)
    return _expect(inp, check.count_by_class)


WORKLOADS = {"kg_batch": kg_batch_inputs, "kg_chain": kg_chain_inputs}


# -- Spark plumbing ----------------------------------------------------------


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("kgbench")
             .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                     + HEAP_OPTS + " " + JIT_OPTS)
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_pages(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def read_pages(spark, path: str):
    from csvweb_spark.sources.pages import PAGES_SCHEMA
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def build(spark, pages_df, table, aliases_df, out_dir: str) -> dict:
    from csvweb_spark import pipeline
    return pipeline.build_knowledge_graph(spark, pages_df, table, aliases_df,
                                          out_dir, n_buckets=N_BUCKETS)


def query(spark, triples_dir: str, text: str) -> dict:
    """Committed triples -> RDFS entailment -> SPARQL aggregate, collected
    as {group key: count}. Layer entry points are looked up at call time,
    so a traced run sees its wrappers."""
    from csvweb_spark.operators import entail, sparql
    from csvweb_spark.plans import lineage
    g = lineage.read_snapshot(spark, triples_dir)
    rows = sparql.sparql_select(entail.rdfs_closure(g), text).collect()
    return {r[0]: int(r[1]) for r in rows}


def committed_graph(spark, triples_dir: str) -> tuple[int, int]:
    from csvweb_spark.plans import lineage
    df = lineage.read_snapshot(spark, triples_dir)
    t = df.select(*check.TRIPLE_COLUMNS).toArrow()
    return check.multiset_hash(zip(*(t.column(c).to_pylist()
                                     for c in check.TRIPLE_COLUMNS)))


# -- the run -----------------------------------------------------------------


class Run:
    """Counts operations and failures, and holds the run's samples."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        # (program, JIT) CPU seconds so far; set with the session
        self.cpu = lambda: (0.0, 0.0)
        self.last_cpu = (0.0, 0.0)  # of the last operation

    def op(self, name: str, fn, *args, verify=None):
        """Run one operation; returns (seconds, result) or (None, None)
        when it raised, and leaves its CPU seconds in `last_cpu`.
        `verify(result)` returns mismatch lines."""
        self.attempted += 1
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            result = fn(*args)
        except Exception:
            self.failed += 1
            print(f"[kgbench] {name} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None, None
        dt = time.perf_counter() - t0
        self.last_cpu = tuple(b - a for a, b in zip(c0, self.cpu()))
        problems = verify(result) if verify else []
        if problems:
            self.failed += 1
            for p in problems:
                print(f"[kgbench] {name} incorrect: {p}", file=sys.stderr)
        return dt, result

    def add(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def timed(self, metric: str, name: str, fn, *args, verify=None):
        """op() that records its wall, CPU and JIT CPU seconds as
        `metric`, `metric`_cpu and `metric`_jit samples."""
        dt, result = self.op(name, fn, *args, verify=verify)
        if dt is not None:
            self.add(metric, dt)
            self.add(metric + "_cpu", self.last_cpu[0])
            self.add(metric + "_jit", self.last_cpu[1])
        return result


def verify_build(inp: Inputs, resumed: bool = False):
    want = 0 if resumed else inp.expected_graph[0]

    def verify(manifests):
        return check.compare("committed triple rows", want,
                             manifests["triples"]["total_rows"])
    return verify


def verify_query(inp: Inputs):
    return lambda got: check.compare("query answer", inp.expected_query, got)


def setup(work: str, cores: int, inp: Inputs, run: Run):
    """Session start plus the warm-up; returns (spark, pages, aliases,
    wall seconds, (CPU, JIT CPU) seconds) and points `run.cpu` at the
    session's processes.

    The warm-up builds the warm-up slice and queries it, so every code path
    the rounds time has run before them."""
    write_pages(inp.pages, os.path.join(work, "pages"), INPUT_FILES)
    write_pages(inp.warm_pages, os.path.join(work, "warm"), INPUT_FILES)
    pq.write_table(inp.aliases, os.path.join(work, "aliases.parquet"))
    c0 = hoststats.tree_cpu_s(None)
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    from pyspark import SparkContext
    jvm = SparkContext._gateway.proc.pid
    run.cpu = lambda: hoststats.tree_cpu_s(jvm)
    aliases_df = spark.read.parquet(os.path.join(work, "aliases.parquet"))
    warm_df = read_pages(spark, os.path.join(work, "warm"))
    # the warm-up's output is not checked: its answer is not the timed one
    warm_out = os.path.join(work, "warm-out")
    build(spark, warm_df, inp.table, aliases_df, warm_out)
    query(spark, os.path.join(warm_out, "triples"), inp.query)
    setup_s = time.perf_counter() - t0
    setup_cpu = tuple(b - a for a, b in zip(c0, run.cpu()))
    return spark, read_pages(spark, os.path.join(work, "pages")), \
        aliases_df, setup_s, setup_cpu


def measure(spark, work, inp, pages_df, aliases_df, run: Run,
            rounds: int) -> str:
    """`rounds` rounds of build, resume and queries; returns the last
    build's output directory.

    Each round builds into a fresh output directory, re-runs the build
    over that now fully committed output, and queries it. Interleaving
    spreads every metric's samples over the whole run, so a burst of host
    load moves one sample of each rather than every sample of one."""
    for i in range(rounds):
        out = os.path.join(work, f"out-{i}")
        run.timed("build", f"build {i}", build, spark, pages_df, inp.table,
                  aliases_df, out, verify=verify_build(inp))
        run.timed("resume", f"resume {i}", build, spark, pages_df,
                  inp.table, aliases_df, out,
                  verify=verify_build(inp, resumed=True))
        tdir = os.path.join(out, "triples")
        for q in range(inp.queries_per_round):
            run.timed("query", f"query {i}.{q}", query, spark, tdir,
                      inp.query, verify=verify_query(inp))
    return out


def verify_graph(spark, inp, out: str, run: Run) -> None:
    """Full (rows, hash) comparison of one build's committed triples."""
    run.op("graph check", committed_graph, spark,
           os.path.join(out, "triples"),
           verify=lambda got: check.compare("committed graph",
                                            inp.expected_graph, got))


# -- streaming drain (traced runs) -------------------------------------------


STREAM_FILES = 2
STREAM_PAGES_PER_FILE = 20
CRASH_BATCH = 1


class InjectedCrash(RuntimeError):
    pass


def _progress_end(p) -> float:
    """Wall-clock end of a micro-batch from its progress record."""
    ts = _dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=_dt.timezone.utc).timestamp()
    return start + p.durationMs["triggerExecution"] / 1000.0


def stream_drain(spark, work: str, inp: Inputs, aliases_df, run: Run,
                 on_batch=None) -> dict:
    """Drain STREAM_FILES files of the workload's pages through
    `stream_knowledge_graph`, one file per micro-batch, crash batch
    CRASH_BATCH between its triples and entities commits, restart, and
    read every batch directory back. `on_batch(batch_id)` is called as each
    micro-batch starts. Returns the drain's progress records, timings and
    each file's expected graph."""
    from csvweb_spark.streaming import pipeline as streaming

    in_dir = os.path.join(work, "stream-in")
    out = os.path.join(work, "stream-out")
    ckpt = os.path.join(work, "stream-ckpt")
    files = gen.write_stream_files(inp.pages, in_dir, STREAM_FILES,
                                   STREAM_PAGES_PER_FILE)
    crashed = []

    def hook(batch_id, point):
        if point == "start" and on_batch is not None:
            on_batch(batch_id)
        if batch_id == CRASH_BATCH and point == "mid" and not crashed:
            crashed.append(batch_id)
            raise InjectedCrash("injected crash at 'mid'")

    def drain():
        q = streaming.stream_knowledge_graph(
            spark, in_dir, out, ckpt, inp.table, aliases_df,
            n_buckets=N_BUCKETS, max_files_per_trigger=1, batch_hook=hook)
        try:
            q.awaitTermination()
        except Exception:
            if "injected crash" not in str(q.exception()):
                raise
        return list(q.recentProgress)

    # the stream canonicalises per micro-batch, so each file on its own
    aliases = _alias_rows(inp.aliases)
    res = {"out": out, "resume_s": None, "want": [
        check.multiset_hash(check.canonical_triples(
            _page_texts(t), inp.table, aliases)) for t in files]}
    progress = drain()
    t_restart = time.time()
    _, after = run.op("stream restart", drain)
    res["progress"] = progress + (after or [])
    for p in after or []:
        if p.batchId == CRASH_BATCH:
            res["resume_s"] = _progress_end(p) - t_restart
    if on_batch is not None:
        on_batch(None)
    res["read_s"], _ = run.op(
        "stream read",
        lambda: streaming.read_streamed_graph(spark, out).count(),
        verify=lambda n: check.compare(
            "streamed rows", sum(w[0] for w in res["want"]), n))
    return res


def verify_stream(spark, res: dict, run: Run) -> None:
    """Each batch directory holds exactly its own file's graph."""
    for b, want in enumerate(res["want"]):
        run.op(f"stream batch {b} check", committed_graph, spark,
               os.path.join(res["out"], f"batch={b}", "triples"),
               verify=lambda got, want=want: check.compare(
                   "batch graph", want, got))


def peak_rss_mb() -> dict:
    """Peak resident MB of the driver JVM and of the processes below it
    (the Python worker daemon and its workers)."""
    from pyspark import SparkContext
    return hoststats.tree_hwm_mb(SparkContext._gateway.proc.pid)
