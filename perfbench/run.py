"""Benchmark of the extraction engine: one workload, one seed, one result.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout; the engine is imported from there
and Spark runs on ``local[<usable cores>]`` in this process. The last line
on stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` measures the end-to-end metrics; ``--trace 1``
makes a separate traced run that times each layer through its own action,
writes the spans to ``.perfbench_traces/`` and reports the per-layer metrics.
Workloads and metrics are listed in BENCHMARK.json and described, with the
layer-to-metric map, in perfbench/METRICS.md.

Scratch data lives in ``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import engine  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")
MIN_PASSES = 3  # timed passes per run at least


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.2f} s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_engine():
    """The engine must come from this checkout's sources."""
    sys.path.insert(0, ROOT)
    import py_image_toolkit_spark

    where = os.path.dirname(os.path.abspath(py_image_toolkit_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"py_image_toolkit_spark found at {where}, not in {ROOT}")


def measure(spark, wl, seconds: float, setup_s: float) -> dict:
    """The workload's untimed warm passes, then its timed passes; every pass
    is checked. Pass walls still fall after the warm passes, so both counts
    are fixed before the first pass, from ``seconds`` and the workload's
    nominal pass wall: a faster host times the same passes, not later ones."""
    wl.ready(spark)
    attempted = failed = 0
    walls: list[float] = []
    n_timed = max(MIN_PASSES, round(seconds / wl.pass_s))
    for k in range(wl.warm_passes + n_timed):
        t0 = time.perf_counter()
        wl.run(spark)
        wall = time.perf_counter() - t0
        if k >= wl.warm_passes:
            walls.append(wall)
        a, f = wl.check_run()
        attempted += a
        failed += f
    log(f"{len(walls)} timed passes after {wl.warm_passes} warm ones, s = {[round(w, 3) for w in walls]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": {"value": wl.docs_per_pass() / statistics.median(walls), "unit": "docs/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "ok_share": {"value": 1 - failed / attempted, "unit": "share"},
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import_engine()
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.chdir(WORK)  # relative paths Spark or DuckDB may create land here
    engine.prepare_environment(ROOT, WORK)
    spark = None
    try:
        t0 = time.perf_counter()
        if args.trace:
            wls = tracing.workloads_for(args.workload, WORK, args.seed)
        else:
            wls = [workloads.WORKLOADS[args.workload](WORK, args.seed)]
        for wl in wls:
            wl.prepare()
        gen_s = time.perf_counter() - t0
        log(f"inputs generated in {gen_s:.2f} s")

        spark = engine.build(f"perfbench-{args.workload}", WORK)
        session_s = time.perf_counter() - T_START - gen_s
        for wl in wls:
            wl.warm(spark, "0")
        setup_s = time.perf_counter() - T_START - gen_s
        log(f"session {session_s:.2f} s, set-up {setup_s:.2f} s")

        if args.trace:
            result = tracing.traced_run(spark, wls, session_s, TRACES, args)
        else:
            result = measure(spark, wls[0], args.seconds, setup_s)
    finally:
        engine.shutdown(spark)
        os.chdir(ROOT)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
