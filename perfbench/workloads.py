"""Set-up, units of work and correctness checks of the workloads.

One closed-loop client submits a unit and waits for it to finish before
it submits the next:

- crawls: a unit is one batch of ``BATCH_PAGES`` fresh pages through
  ``run_kg_job`` into a fresh output directory. After the loop, the
  batches' triples are gathered into one table and its graph is built
  once: ``update_canonical_tables`` (batch) -> ``entity_degrees`` +
  ``pagerank``, each written to parquet. (Building it after every batch
  would multiply a run's length: the graph build is mostly Spark's
  per-job cost, not work that grows with the batch.);
- ``kg_increments``: a unit is one increment of ``INCREMENT_PAGES`` pages
  folded into the accumulated graph: ``annotate_and_extract_triples``
  (written as a new partition of the triples table) ->
  ``update_canonical_tables`` (incremental: subject/object mentions ->
  ``merge_canonicalize`` into the previous table -> canonical-triples
  projection).

Every pipeline function is looked up on its module at call time, so the
tracer's wrappers see the calls.
"""

from __future__ import annotations

import os
import random
import shutil
import signal
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pages import Page, PageSource

# local[2]: each mapInPandas task keeps about two threads busy (the JVM
# Arrow feeder and the Python worker), so two task slots fill four cores
N_CORES = 2
N_BUCKETS = 4
BATCH_PAGES = 40  # five batches and their graph keep a run near a minute
WARMUP_PAGES = 8
BASE_PAGES = 30
INCREMENT_PAGES = 50
SAMPLE_PAGES = 12  # timed pages re-annotated in process
# nominal seconds of a unit; they turn --seconds into a number of units
BATCH_S = 2.4  # one crawl batch
GRAPH_S = 12.0  # a crawl's graph build
FOLD_S = 12.0  # one increment fold
INCREMENT_BUCKET0 = 1000  # triples partitions of increments: 1000, 1001, ...


@dataclass
class Ops:
    """Attempted and failed operations: units of work and correctness
    checks."""

    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: correctness check failed: {what}",
                  file=sys.stderr)


@dataclass
class Unit:
    kind: str  # "extract" (a crawl batch), "graph" (a crawl's graph), "fold"
    pages: int
    start: float  # wall clock (time.time)
    end: float
    extract_s: float = 0.0
    graph_s: float = 0.0
    traced: bool = False
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def become_subreaper() -> None:
    """Adopt the orphans among this process's descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that ``stop_descendants`` can wait for
    every one of them: Spark's launcher leaves processes whose parent has
    gone."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        print("perfbench: cannot adopt orphaned processes: "
              f"{os.strerror(ctypes.get_errno())}", file=sys.stderr)


def descendants() -> dict[int, str]:
    """pid -> state of every descendant of this process (the Spark JVM,
    its Python worker daemon and the daemon's workers), zombies too."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        children.setdefault(int(fields[1]), []).append((int(d), fields[0]))
    found, todo = {}, list(children.get(os.getpid(), []))
    while todo:
        pid, state = todo.pop()
        found[pid] = state
        todo.extend(children.get(pid, []))
    return found


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_descendants(grace_s: float = 20.0) -> bool:
    """Stop every process this one started and wait until each has ended
    and been reaped: SIGTERM, then SIGKILL to what is left after
    ``grace_s``. The JVM of a stopped session outlives
    ``SparkSession.stop``, and would outlive this process too. False if
    some are still running."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        for pid, state in descendants().items():
            if state != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            _reap()
            if not descendants():
                return True
            time.sleep(0.05)
    print(f"perfbench: processes still running: {descendants()}",
          file=sys.stderr)
    return False


def worker_peak_rss_mb() -> float:
    """Highest VmHWM of the Python workers among this process's
    descendants."""
    peak = 0
    for pid in descendants():
        try:
            if b"pyspark.daemon" not in Path(f"/proc/{pid}/cmdline").read_bytes():
                continue
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


class Bench:
    """One workload run: sessions, inputs, units and checks."""

    def __init__(self, workload: str, seed: int, tmp: Path):
        self.workload = workload
        self.seed = seed
        self.tmp = tmp
        self.src = PageSource(workload, seed)
        self.ops = Ops()
        self.spark = None
        self.tracer = None  # the Tracer while a traced unit runs
        self.cold_start_s = None  # first session start of the process
        self.n_dirs = 0
        self.n_inc = 0
        self.out = tmp / "graph"  # kg_increments' accumulated graph
        self.timed_pages: list[Page] = []
        self.page_dir: dict[str, str] = {}  # timed url -> output dir

    # -- sessions and inputs -------------------------------------------

    def start_session(self, event_log: Path | None = None) -> float:
        from prose_spark.session import get_spark

        t0 = time.perf_counter()
        conf = {
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
            "spark.local.dir": str(self.tmp / "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", cores=N_CORES, extra_conf=conf)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _bookkeeping(self, fn, *args):
        return self.tracer.bookkeeping(fn, *args) if self.tracer else fn(*args)

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def new_dir(self, kind: str) -> Path:
        self.n_dirs += 1
        return self.tmp / kind / str(self.n_dirs)

    def stage(self, pages: list[Page], start: int) -> str:
        """Write pages as the parquet file the program scans (in this
        process, so staging submits no Spark job)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.new_dir("in")
        path.mkdir(parents=True)
        rows = [p.row(start + i) for i, p in enumerate(pages)]
        cols = list(zip(*rows))
        table = pa.table({
            "url": pa.array(cols[0], pa.string()),
            "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols[2], pa.binary()),
            "text": pa.array(cols[3], pa.string()),
            "lang": pa.array(cols[4], pa.string()),
        })
        pq.write_table(table, path / "part-00000.parquet")
        return str(path)

    # -- set-up ---------------------------------------------------------

    def restart(self, event_log: Path | None = None) -> None:
        """A fresh session: new Python workers, models not yet loaded."""
        self.stop_session()
        start_s = self.start_session(event_log)
        if self.cold_start_s is None:
            self.cold_start_s = start_s

    def warm_job(self, pages: str, out: Path) -> None:
        """One KG job over ``pages`` (disjoint from the timed ones), in
        which every Python worker loads its models."""
        from prose_spark.sources import checkpoints as ck

        shutil.rmtree(out, ignore_errors=True)
        ck.run_kg_job(self.spark, self.spark.read.parquet(pages), str(out),
                      n_buckets=N_BUCKETS)

    def set_up(self, event_log: Path | None = None) -> float:
        """Everything before the timed phase: a fresh session and its
        warm-up job, one KG job over pages disjoint from the timed ones in
        which every Python worker loads its models. On kg_increments that
        job is the base crawl, and set-up ends with the canonical tables
        the folds start from."""
        from prose_spark.sources import checkpoints as ck

        if self.workload == "kg_increments":
            pages, out = self.src.pages("base", 0, BASE_PAGES), self.out
        else:
            pages, out = self.src.pages("warmup", 0, WARMUP_PAGES), self.tmp / "warm"
        self.warm = self.stage(pages, 0)
        t0 = time.perf_counter()
        self.restart(event_log)
        self.warm_job(self.warm, out)
        if self.workload == "kg_increments":
            ck.update_canonical_tables(self.spark, str(self.out))
        return time.perf_counter() - t0

    # -- units ----------------------------------------------------------

    def _next_pages(self, n: int) -> tuple[list[Page], int]:
        start = len(self.timed_pages)
        pages = self.src.pages("timed", start, n)
        self.timed_pages.extend(pages)
        return pages, start

    def crawl_batch(self) -> Unit:
        from prose_spark.sources import checkpoints as ck

        pages, start = self._next_pages(BATCH_PAGES)
        path = self.stage(pages, start)
        out = self.new_dir("out")
        t0 = time.time()
        ck.run_kg_job(self.spark, self.spark.read.parquet(path), str(out),
                      n_buckets=N_BUCKETS)
        t1 = time.time()
        for p in pages:
            self.page_dir[p.url] = str(out)
        return Unit("extract", len(pages), t0, t1, extract_s=t1 - t0,
                    info={"out": out})

    def gather(self, units: list[Unit]) -> Path:
        """One triples table of the batches' outputs: batch ``k``'s bucket
        ``b`` becomes bucket ``k * N_BUCKETS + b`` (file copies, no Spark
        job)."""
        out = self.new_dir("graph")
        batches = [u.info["out"] for u in units if u.kind == "extract"]
        for k, batch in enumerate(batches):
            for part in sorted((batch / "triples").glob("bucket=*")):
                b = int(part.name.split("=", 1)[1])
                shutil.copytree(
                    part, out / "triples" / f"bucket={k * N_BUCKETS + b}")
        return out

    def crawl_graph(self, out: Path) -> Unit:
        """The batch graph of the triples table in ``out``."""
        from pyspark.sql import functions as F

        from prose_spark.operators import graph
        from prose_spark.sources import checkpoints as ck

        t0 = time.time()
        stats = ck.update_canonical_tables(self.spark, str(out))
        tri = self.spark.read.parquet(str(out / "triples_canonical"))
        with self._span("graph.degrees"):
            graph.entity_degrees(tri, "subj_id", "obj_id").write.parquet(
                str(out / "entity_degrees"))
        with self._span("graph.pagerank"):
            edges = tri.select(
                F.col("subj_id").cast("string").alias("src"),
                F.col("obj_id").cast("string").alias("dst")).distinct()
            graph.pagerank(edges, iterations=5).write.parquet(
                str(out / "entity_pagerank"))
        t1 = time.time()
        self._check_canonical_count(out, stats)
        return Unit("graph", 0, t0, t1, graph_s=t1 - t0,
                    info={"stats": stats, "out": out})

    def rebuild_base(self) -> Unit:
        """kg_increments' base crawl again, into a fresh directory, and
        its batch graph: the layers the folds do not reach, for the
        traced run."""
        out = self.new_dir("warm")
        self.warm_job(self.warm, out)
        return self.crawl_graph(out)

    def fold(self) -> Unit:
        """Fold one increment into the accumulated graph."""
        from prose_spark.operators import triples as tr
        from prose_spark.sources import checkpoints as ck

        pages, start = self._next_pages(INCREMENT_PAGES)
        path = self.stage(pages, start)
        bucket = INCREMENT_BUCKET0 + self.n_inc
        self.n_inc += 1
        canon = self.out / "entities_canonical"
        prev = self.tmp / "prev_canonical"
        if self.tracer is not None:
            shutil.rmtree(prev, ignore_errors=True)
            shutil.copytree(canon, prev)
        t0 = time.time()
        with self._span("increment.extract"):
            tr.annotate_and_extract_triples(
                self.spark.read.parquet(path).select("url", "text"),
                key_cols=("url",),
            ).write.parquet(str(self.out / "triples" / f"bucket={bucket}"))
        t1 = time.time()
        stats = ck.update_canonical_tables(
            self.spark, str(self.out), new_buckets={bucket}, incremental=True)
        t2 = time.time()
        for p in pages:
            self.page_dir[p.url] = str(self.out)
        unit = Unit("fold", len(pages), t0, t2, extract_s=t1 - t0,
                    graph_s=t2 - t1, info={"stats": stats})
        if self.tracer is not None:
            # canonical rows the fold added or changed
            new = self.spark.read.parquet(str(canon))
            old = self.spark.read.parquet(str(prev))
            unit.info["touched_forms"] = self._bookkeeping(
                new.exceptAll(old).count)
        self._check_canonical_count(self.out, stats)
        return unit

    def timed_phase(self, seconds: float, tracer=None) -> list[Unit]:
        """Closed loop: the next unit starts when the previous one ended.
        The number of units comes from ``seconds`` and the nominal unit
        times, not from the clock, so every run does the same work
        whatever the host's speed: at least two crawl batches and then
        the graph of all of them, or at least two increment folds.

        With a ``tracer``, units alternate untraced and traced (spans
        installed), starting and ending untraced, so each traced unit sits
        between two untraced ones in the same session; a crawl's graph
        build is traced."""
        if self.workload == "kg_increments":
            step, n = self.fold, max(2, round(seconds / FOLD_S))
        else:
            step = self.crawl_batch
            n = max(2, round((seconds - GRAPH_S) / BATCH_S))
        if tracer is not None:
            n += 1 - n % 2
        units: list[Unit] = []
        try:
            for i in range(n):
                units.append(self.run_unit(step, tracer if i % 2 else None))
            if self.workload != "kg_increments":
                out = self.gather(units)
                units.append(self.run_unit(
                    lambda: self.crawl_graph(out), tracer))
        except Exception:  # a failed unit is counted and ends the loop
            traceback.print_exc()
            self.ops.failed += 1
        return units

    def run_unit(self, step, tracer=None) -> Unit:
        """One unit of work, with the pipeline's spans installed when a
        ``tracer`` is given."""
        self.ops.attempted += 1
        if tracer is not None:
            tracer.install()
            self.tracer = tracer
        try:
            unit = step()
        finally:
            if tracer is not None:
                self.tracer = None
                tracer.uninstall()
                tracer.settle()
        unit.traced = tracer is not None
        print(f"perfbench: {unit.kind}{' (traced)' if unit.traced else ''}: "
              f"{unit.seconds:.3f} s", file=sys.stderr)
        return unit

    # -- correctness ----------------------------------------------------

    def _check_canonical_count(self, out: Path, stats: dict) -> None:
        from prose_spark.sources import checkpoints as ck

        n = self._bookkeeping(ck.read_triples(self.spark, str(out)).count)
        self.ops.check(stats["n_canon_triples"] == n,
                       f"canonical triples != triples in {out}")

    def check_sample(self) -> None:
        """Spark's triples equal the in-process kernel's on a seeded
        sample of the timed pages."""
        from pyspark.sql import functions as F

        from prose_spark.operators.annotate import annotate_document
        from prose_spark.operators.triples import extract_triples_doc
        from prose_spark.schemas import TRIPLE_TYPE

        cols = ["url"] + [f.name for f in TRIPLE_TYPE.fields]
        pages = random.Random(f"sample:{self.seed}").sample(
            self.timed_pages, min(SAMPLE_PAGES, len(self.timed_pages)))
        got: dict[str, list] = {p.url: [] for p in pages}
        by_dir: dict[str, list[str]] = {}
        for p in pages:  # a crawl's graph holds copies of its batches
            by_dir.setdefault(self.page_dir[p.url], []).append(p.url)
        for out, urls in sorted(by_dir.items()):
            for r in (self.spark.read.parquet(f"{out}/triples")
                      .filter(F.col("url").isin(urls)).select(*cols)
                      .collect()):
                got[r["url"]].append(tuple(r))
        for p in pages:
            want = [tuple([p.url] + [t[c] for c in cols[1:]])
                    for t in extract_triples_doc(annotate_document(p.text)[1])]
            self.ops.check(
                sorted(got[p.url], key=repr) == sorted(want, key=repr),
                f"triples of {p.url} differ from the in-process kernel")

    def check_merge(self) -> None:
        """After the last increment the merged canonical table equals a
        batch canonicalization over the union of all mentions."""
        from pyspark.sql import functions as F

        from prose_spark.operators.canonicalize import canonicalize_mentions

        tri = self.spark.read.parquet(str(self.out / "triples"))
        mentions = tri.select(F.col("subj").alias("text")).unionAll(
            tri.select(F.col("obj").alias("text")))
        cols = ["entity_id", "canonical_text", "norm", "n_mentions"]
        batch = canonicalize_mentions(mentions).select(*cols).collect()
        merged = self.spark.read.parquet(
            str(self.out / "entities_canonical")).select(*cols).collect()
        self.ops.check(sorted(map(tuple, batch)) == sorted(map(tuple, merged)),
                       "merged canonical table != batch over all mentions")

    def check(self) -> None:
        checks = [self.check_sample]
        if self.workload == "kg_increments":
            checks.append(self.check_merge)
        for check in checks:
            try:
                check()
            except Exception:  # a check that cannot run counts as failed
                traceback.print_exc()
                self.ops.check(False, f"{check.__name__} raised")
