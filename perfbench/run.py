"""The engine's benchmark.

    python3 perfbench/run.py --workload {query_mix,catalog_api,lake_ingest}
        --seed N --seconds S --trace {0,1}

Each run starts its own Spark session (``local[nproc]``, the engine's
defaults plus bench.py's scan-split setting) in a fresh run directory
under ``.perfbench_run/``, generates its inputs from ``--seed``, sets
up (session start, fixture, warm-up: ``setup_s``), runs the work
``--seconds`` sizes at the workload's nominal rate, checks every
output, and prints one
JSON line as the last line of stdout.  With ``--trace 0`` the metrics
are the end-to-end metrics; with ``--trace 1`` they are the per-layer
metrics of ``trace.py``, measured on units that alternate untraced and
traced (ABBA), so the run also reports the tracing overhead.
perfbench/README.md maps every metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("query_mix", "catalog_api", "lake_ingest")
E2E_UNITS = {
    "setup_s": "s", "read_p50_ms": "ms", "write_p50_ms": "ms", "geomean_ms": "ms",
}


def _workload(name: str, spark, run_dir: str, seed: int, tracer):
    if name == "query_mix":
        from perfbench.query_mix import QueryMix as cls
    elif name == "catalog_api":
        from perfbench.catalog_api import CatalogApi as cls
    else:
        from perfbench.lake_ingest import LakeIngest as cls
    return cls(spark, run_dir, seed, tracer)


def _measure_abba(w, tracer, units: int) -> None:
    """Units of each kind in the order traced, untraced, untraced,
    traced, ... so every kind, even one with a single unit, is traced
    and a drift over the run cancels out of the overhead estimate."""
    seen: dict[str, int] = {}
    for _ in range(units):
        kind = w.next_kind()
        tracer.set_active(seen.get(kind, 0) % 4 in (0, 3))
        seen[kind] = seen.get(kind, 0) + 1
        w.measure(1)
    tracer.set_active(False)


def _run(args, run_dir: str) -> dict:
    harness.prepare_env(run_dir)
    from perfbench.trace import Tracer, layer_names

    sampler = harness.RssSampler() if args.trace else contextlib.nullcontext()
    with sampler as rss:
        t0 = time.perf_counter()
        spark = harness.start_spark(run_dir, event_log=bool(args.trace))
        try:
            t_session = time.perf_counter() - t0
            tracer = Tracer(spark)
            w = _workload(args.workload, spark, run_dir, args.seed, tracer)
            t0 = time.perf_counter()
            w.setup_fixture()
            t_fixture = time.perf_counter() - t0
            t0 = time.perf_counter()
            w.warm_up()
            t_warm = time.perf_counter() - t0
            setup_s = t_session + t_fixture + t_warm
            n_units = w.plan(args.seconds, 2 if args.trace else 1)
            t0 = time.perf_counter()
            if args.trace:
                tracer.listen()
                _measure_abba(w, tracer, n_units)
            else:
                w.measure(n_units)
            t_measure = time.perf_counter() - t0
            t0 = time.perf_counter()
            w.check()
            t_check = time.perf_counter() - t0
            if args.trace:
                extras = w.layer_extras()
                unreported = tracer.unlisten()
                if unreported:
                    w.fail(f"{unreported} traced stream drain(s) never "
                           "reported progress to the listener")
        finally:
            t0 = time.perf_counter()
            harness.stop_spark(spark)
            t_stop = time.perf_counter() - t0
    print(
        f"perfbench: session {t_session:.1f} s, fixture {t_fixture:.1f} s, "
        f"warm-up {t_warm:.1f} s, "
        f"{n_units} units {t_measure:.1f} s, check {t_check:.1f} s, "
        f"stop {t_stop:.1f} s",
        file=sys.stderr,
    )
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        metrics = {**tracer.per_layer(w, logs[0] if logs else None), **extras,
                   "process.peak_rss_mb": rss.peak_mb}
        units = dict(layer_names())
    else:
        metrics = {"setup_s": setup_s, **w.metrics()}
        units = E2E_UNITS
    for msg in w.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    return {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="The engine's benchmark.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"perfbench: package {harness.PACKAGE} not found next to "
              "perfbench/; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    run_dir = harness.make_run_dir(args.workload, args.seed)
    try:
        result = _run(args, run_dir)
    finally:
        os.chdir(harness.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        harness.wait_children_gone(30.0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
