"""Linkage benchmark driver.

    python3 linkbench/run.py --workload link_alias --seed 1 --seconds 1 --trace 0

Starts a ``local[nproc]`` session, generates the workload's inputs from the
seed, then runs checked passes in a closed loop until ``--seconds`` have
passed (at least one). There is no warm-up pass: the first pass pays the
plan compilation and JIT warm-up a fresh process pays. It prints each metric
by name with its unit, then, as its last line, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` adds a traced pass that calls each layer
separately with the Spark event log on, and reports the per-layer metrics
instead.

All scratch data lives under ``.linkbench_work/`` next to this directory and
is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "run_s": "s",
    "setup_s": "s",
    "f1": "ratio",
    "peak_rss_mb": "MB",
}

LAYERS = (
    "normalize",
    "blocking",
    "calibrate",
    "scoring",
    "network",
    "pipeline",
    "resolve",
    "history",
    "corpus.clean",
    "corpus.dedup_passages",
    "corpus.minhash",
)
_BASE_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "skew": "ratio",
    "rows_out": "count",
}
EXTRA_LAYER_METRICS = {
    "blocking.pairs_out": "count",
    "blocking.completeness": "ratio",
    "blocking.reduction": "ratio",
    "scoring.kept_frac": "ratio",
    "network.dir_pairs": "count",
    "pipeline.other_s": "s",
    "history.files": "count",
    "history.mb": "MB",
    "cache.stored_mb": "MB",
    "trace.overhead_s": "s",
}
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in _BASE_UNITS.items()},
    **EXTRA_LAYER_METRICS,
}
# printed by name, but kept out of the catalog: only score_bulk, which
# BENCHMARK.json does not list, reports it
UNLISTED = {"scoring.scale_eff": "ratio"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _shutdown() -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _report(metrics: dict[str, float], units: dict[str, str]) -> dict:
    """Print every metric; return the JSON entries of the ones in ``units``."""
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units.get(name) or UNLISTED[name]}")
    return {name: {"value": metrics[name], "unit": units[name]} for name in units}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    # fail before any set-up when the package under test is absent
    import linkorgs_software_spark  # noqa: F401

    from linkbench import host
    from linkbench.trace import Tracer, fold_event_log
    from linkbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".linkbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    cores = host.host_cores()
    attempted = failed = 0
    passes = []

    def checked(p):
        nonlocal attempted, failed
        units = len(p.batch_s) if p else 1
        attempted += units
        if p is None or not p.ok:
            failed += units
            if p is not None:
                print(f"check failed: {p.problem}", file=sys.stderr)

    try:
        t0 = time.perf_counter()
        spark = host.start_session(work, cores)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        inputs = os.path.join(work, "inputs")
        wl.generate(spark, args.seed, inputs)
        wl.open(inputs, args.seed)
        gen_s = time.perf_counter() - t0
        setup_s = session_s + gen_s
        print(f"setup: session {session_s:.3f} s, inputs {gen_s:.3f} s")

        deadline = time.perf_counter() + args.seconds
        while True:
            try:
                p = wl.run(spark)
            except Exception:
                traceback.print_exc()
                p = None
            checked(p)
            if p is not None:
                passes.append(p)
            if time.perf_counter() >= deadline:
                break
        if not passes:
            raise RuntimeError("no pass completed")
        run_s = statistics.median(p.wall_s for p in passes)
        print("passes: " + ", ".join(f"{p.wall_s:.3f}" for p in passes) + " s")
        e2e = {
            "run_s": run_s,
            "setup_s": setup_s,
            "f1": statistics.median(p.f1 for p in passes),
            "peak_rss_mb": host.peak_rss_mb(spark),
        }
        print(f"canary_s = {host.canary_s(spark, cores):.4f} s (host contention diagnostic)")

        if args.trace:
            # untraced passes just before and after the traced one are its
            # baseline: their mean cancels the warming of the JVM between them
            before = wl.run(spark)
            log_dir = os.path.join(work, "eventlog")
            tracer = Tracer(spark)
            with host.event_log(spark, log_dir):
                traced = wl.trace(spark, tracer, cores=cores)
            after = wl.run(spark)
            for p in (before, after):
                checked(p)
            attempted += 1
            if not traced.ok:
                failed += 1
                print(f"check failed: {traced.problem}", file=sys.stderr)
            layer = {k: 0.0 for k in EXTRA_LAYER_METRICS}
            layer.update(tracer.metrics(LAYERS, fold_event_log(log_dir)))
            layer.update(traced.metrics)
            layer["cache.stored_mb"] = host.stored_mb(spark)
            layer["trace.overhead_s"] = traced.wall_s - (before.wall_s + after.wall_s) / 2
            print(
                f"traced pass {traced.wall_s:.3f} s; untraced before {before.wall_s:.3f} s,"
                f" after {after.wall_s:.3f} s"
            )
            metrics = _report(layer, PER_LAYER)
        else:
            metrics = _report(e2e, END_TO_END)
        if wl.name == "score_bulk":
            print(f"pairs_per_s = {wl.n_pairs / run_s:.6g} 1/s")
        if len(passes[0].batch_s) > 1:
            print(f"batch_s = {statistics.median(b for p in passes for b in p.batch_s):.6g} s")
        print(f"failed_frac = {failed / attempted:.6g} ratio")
    finally:
        if "pyspark" in sys.modules:
            _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
