"""Hermetic benchmark of the prose-spark KG pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_unseen --seed 1 --seconds 24 --trace 0

It generates seeded pages (``perfbench/pages.py``), starts one
``local[2]`` Spark session, drives the pipeline through its public
functions as one closed-loop client (``perfbench/workloads.py``), checks
the outputs, and prints one JSON object as the last line of standard
output: ``{"correct", "attempted", "failed", "metrics"}``. A readable
table, with the failure ratio, goes to standard error. ``--seconds``
sizes the timed phase in units of nominal duration, so every run of a
workload does the same work.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics (see ``report_layers``). Every file the run writes
lives in a temporary directory under ``.bench_build/`` of the checkout,
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "docs_per_s": "1/s",
    "graph_build_s": "s",
    "increment_p50_s": "s",
    "worker_rss_mb": "MB",
}


def prepare_environment(tmp: Path) -> None:
    """Keep every file of the run, Spark's and the JVM's included, inside
    ``tmp``, and bound the driver's memory."""
    for sub in ("local", "tmp", "warehouse"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": str(tmp / "local"),
        "TMPDIR": str(tmp / "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH"))
            if p),
    })
    tempfile.tempdir = str(tmp / "tmp")
    sys.path[:0] = [str(ROOT), str(HERE)]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(setup: float, units, rss_mb: float) -> dict:
    """Medians over the timed units. ``graph_build_s`` is the crawl's one
    graph build, or the median incremental canonicalization of a fold;
    ``increment_p50_s`` is the median wall time of a unit of work: an
    increment fold, or on the crawls one ``run_kg_job`` batch;
    ``docs_per_s`` is pages over that wall time."""
    work = [u for u in units if u.kind in ("extract", "fold")]
    return {
        "setup_s": setup,
        "docs_per_s": median(u.pages / u.seconds for u in work),
        "graph_build_s": median(u.graph_s for u in units if u.graph_s),
        "increment_p50_s": median(u.seconds for u in work),
        "worker_rss_mb": rss_mb,
    }


def run_untraced(bench, seconds: float) -> tuple[dict, int]:
    from workloads import worker_peak_rss_mb

    setup = bench.set_up()
    units = bench.timed_phase(seconds)
    rss = worker_peak_rss_mb()
    bench.check()
    bench.stop_session()
    return end_to_end(setup, units, rss), len(units)


def run_traced(bench, seconds: float) -> dict:
    """One session with the Spark event log on: set-up, the timed phase
    with untraced and traced units alternating, one extra traced unit so
    that every layer runs at least once, then the kernel replay."""
    from layers import report_layers
    from tracing import EventLog, Tracer, kernel_replay
    from workloads import N_CORES, WARMUP_PAGES

    log_dir = bench.tmp / "eventlog"
    setup = bench.set_up(event_log=log_dir)
    tracer = Tracer(bench.spark)
    units = bench.timed_phase(seconds, tracer)
    if bench.workload == "kg_increments":
        extra = bench.run_unit(bench.rebuild_base, tracer)
    else:
        # one increment folded into the crawl's graph
        bench.out = units[-1].info["out"]
        extra = bench.run_unit(bench.fold, tracer)

    sample = [p.text for p in sample_pages(bench)]
    warm_texts = [p.text for p in bench.src.pages("warmup", 0, WARMUP_PAGES)]
    kernel = kernel_replay(warm_texts, sample)
    bench.check()
    bench.stop_session()
    return report_layers(
        workload=bench.workload, n_cores=N_CORES, ops=bench.ops,
        session_start_s=bench.cold_start_s, setup_s=setup, units=units,
        extra=extra, tracer=tracer, log=EventLog(log_dir), kernel=kernel,
        pages=bench.timed_pages)


def sample_pages(bench, n: int = 80):
    pages = list(bench.timed_pages)
    random.Random(f"replay:{bench.seed}").shuffle(pages)
    return pages[:n]


def print_table(workload: str, metrics: dict, units: dict, ops) -> None:
    print(f"perfbench {workload}: attempted={ops.attempted} "
          f"failed={ops.failed} fail_ratio="
          f"{ops.failed / max(ops.attempted, 1):.4f} ratio", file=sys.stderr)
    for name, value in metrics.items():
        print(f"  {name:40s} {value:14.4f} {units.get(name, '')}",
              file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_unseen", "crawl_boilerplate",
                             "kg_increments"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "prose_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a prose-spark checkout "
              "(prose_spark/ not found)", file=sys.stderr)
        return 2

    # a SIGTERM unwinds like an error, so the cleanup below runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from workloads import Bench, become_subreaper, stop_descendants

    become_subreaper()
    build = ROOT / ".bench_build"
    made_build = not build.exists()
    build.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="perfbench-", dir=build))
    bench = None
    stopped = False
    try:
        prepare_environment(tmp)
        bench = Bench(args.workload, args.seed, tmp)
        if args.trace:
            metrics, units = run_traced(bench, args.seconds)
        else:
            metrics, n_units = run_untraced(bench, args.seconds)
            units = dict(END_TO_END)
            print(f"  ({n_units} timed units)", file=sys.stderr)
    finally:
        try:
            if bench is not None:
                bench.stop_session()
        finally:
            stopped = stop_descendants()
            shutil.rmtree(tmp, ignore_errors=True)
            if made_build:
                try:
                    build.rmdir()  # unless another run is using it
                except OSError:
                    pass

    if not stopped:
        return 1  # a process left running could serve later runs
    print_table(args.workload, metrics, units, bench.ops)
    ops = bench.ops
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
