"""KG-construction benchmark: one run of one workload.

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. `--seconds` sets how many measured rounds
the run makes: one per workload round length (about 20 s on a 4-core host),
at least one. The run imports `csvweb_spark` from the
repository this file sits in, generates its inputs from the seed, and prints
every metric by name with its unit, then one JSON line with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics; `--trace 1` reports the per-layer metrics of a traced pass and
writes its spans to .kgbench/. See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Timings are CPU seconds of the session's processes (the Python driver,
# the JVM without its JIT compiler threads, and the Python workers); wall
# times are printed beside them. See README.md, "Why CPU seconds".
END_TO_END_UNITS = {"docs_per_cpu_s": "1/cpu_s", "resume_cpu_s": "cpu_s",
                    "query_cpu_s": "cpu_s", "peak_rss_mb": "MB",
                    "setup_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    # executors' Python workers import csvweb_spark: they inherit this
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait for every process it
    started (the JVM and its Python workers) to end."""
    import hoststats
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    tree = hoststats.descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    left = hoststats.wait_gone(tree, timeout=30)
    for pid in left:
        os.kill(pid, 9)
    hoststats.wait_gone(left, timeout=10)


def _summary(values: list[float], unit: str) -> str:
    if not values:
        return "no samples"
    return (f"{len(values)} samples, median "
            f"{statistics.median(values):.4f}, min {min(values):.4f}, "
            f"max {max(values):.4f} {unit}: "
            + " ".join(f"{v:.3f}" for v in values))


def run_untraced(wl, args, work, inp, run) -> dict:
    import hoststats
    t0 = time.perf_counter()
    spark, pages_df, aliases_df, setup_s, setup_cpu = wl.setup(
        work, wl.cores(), inp, run)
    rounds = max(1, round(args.seconds / inp.round_s))
    try:
        cpu0 = hoststats.cpu_times()
        out = wl.measure(spark, work, inp, pages_df, aliases_df, run, rounds)
        cpu = hoststats.cpu_context(cpu0, hoststats.cpu_times())
        wl.verify_graph(spark, inp, out, run)
        rss = wl.peak_rss_mb()
    finally:
        _stop_spark(spark)
    s = run.samples
    print(f"[kgbench] {args.workload} seed {args.seed}: "
          f"{inp.docs} docs per build, {rounds} rounds; host during "
          f"rounds: {cpu}; peak rss MB: {rss}; set-up {setup_s:.2f} s wall, "
          f"{setup_cpu[0]:.2f} s CPU + {setup_cpu[1]:.2f} s JIT; "
          f"session {time.perf_counter() - t0:.1f} s")
    for name in ("build", "resume", "query"):
        for kind, what in (("", "wall"), ("_cpu", "CPU"), ("_jit", "JIT")):
            print(f"[kgbench]   {name} {what}: "
                  f"{_summary(s.get(name + kind, []), 's')}")
    med = lambda k: statistics.median(s[k]) if s.get(k) else 0.0
    if s.get("build"):
        print(f"[kgbench] docs per wall second: "
              f"{inp.docs / med('build'):.1f}")
    return {
        "docs_per_cpu_s": (inp.docs / med("build_cpu")
                           if s.get("build_cpu") else 0.0),
        "resume_cpu_s": med("resume_cpu"),
        "query_cpu_s": med("query_cpu"),
        "peak_rss_mb": rss["top"] + rss["below"],
        "setup_s": setup_cpu[0],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "csvweb_spark")):
        print(f"kgbench: no csvweb_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".kgbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    _prepare_env(work)
    sys.path.insert(0, HERE)
    try:
        import workloads as wl
        if args.workload not in wl.WORKLOADS:
            print(f"kgbench: unknown workload {args.workload!r}; choose "
                  f"from {sorted(wl.WORKLOADS)}", file=sys.stderr)
            return 2
        inp = wl.WORKLOADS[args.workload](args.seed)
        run = wl.Run()
        if args.trace:
            import traced
            metrics, units = traced.run_traced(wl, args, work, inp, run,
                                               state, _stop_spark)
        else:
            metrics = run_untraced(wl, args, work, inp, run)
            units = END_TO_END_UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, value in metrics.items():
        print(f"[kgbench] {name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
