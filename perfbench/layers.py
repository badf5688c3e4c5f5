"""Per-layer metrics of a traced run, named after the program's modules.

Spark-side figures come from the traced units of the run's one session,
in which every layer runs at least once on each workload: the event log's
jobs are attributed to the span during which they were submitted, and
carry the innermost span's name in the ``perfbench.span`` local property.
Untraced units alternate with the traced ones in the same session; they
give the tracing overhead and the untraced throughput.

- ``stage.python.*``, ``arrow.*`` and ``spark.*`` are per timed unit of
  work (a crawl batch or an increment fold);
- ``checkpoints.*``, ``canonicalize.*``, ``merge.*`` and ``graph.*`` are
  per call of that layer (a batch canonicalization, an incremental one, a
  ``run_kg_job``, a PageRank);
- ``trace.*`` are totals over the traced timed units.

Kernel figures come from the single-process replay over a sample of the
timed pages and are totals over that sample.
"""

from __future__ import annotations

import statistics
import sys
from collections import defaultdict

from tracing import EventLog, python_stage

EXTRACT_SPANS = {"checkpoints.sink", "increment.extract"}

UNITS = {  # metric -> unit, in the order printed
    "session.start_s": "s",
    "nlp.model_load_s": "s",
    "nlp.segment_s": "s",
    "nlp.tokenize_s": "s",
    "nlp.tag_s": "s",
    "nlp.ner_classify_s": "s",
    "nlp.ner_chunk_s": "s",
    "triples.extract_s": "s",
    "annotate.self_s": "s",
    "kernel.docs": "count",
    "kernel.sentences": "count",
    "kernel.tokens": "count",
    "kernel.entities": "count",
    "kernel.triples": "count",
    "kernel.docs_per_s_1core": "1/s",
    "kernel.share_of_wall": "ratio",
    "nlp.tagger.memo_new_per_ktok": "1/ktok",
    "nlp.ner.memo_new_per_ktok": "1/ktok",
    "nlp.segmenter.memo_new_per_ktok": "1/ktok",
    "nlp.tagger.memo_entries": "count",
    "nlp.ner.memo_entries": "count",
    "nlp.segmenter.memo_entries": "count",
    "stage.python.executor_run_s": "s",
    "stage.python.tasks": "count",
    "stage.python.task_skew": "ratio",
    "arrow.bytes_to_python": "B",
    "arrow.bytes_from_python": "B",
    "arrow.boundary_s": "s",
    "framework_efficiency": "ratio",
    "checkpoints.run_kg_job_s": "s",
    "checkpoints.jobs": "count",
    "checkpoints.write_bytes": "B",
    "checkpoints.post_write_s": "s",
    "canonicalize.batch_s": "s",
    "canonicalize.forms": "count",
    "canonicalize.candidate_pairs": "count",
    "canonicalize.jobs": "count",
    "canonicalize.shuffle_bytes": "B",
    "merge.jobs_per_increment": "count",
    "merge.stages_per_increment": "count",
    "merge.shuffle_bytes_per_increment": "B",
    "merge.touched_forms": "count",
    "merge.spread_compute_input_s": "s",
    "graph.degrees_s": "s",
    "graph.pagerank_s": "s",
    "graph.pagerank_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.job_gap_s": "s",
    "workload.repeat_share": "ratio",
    "workload.setup_s": "s",
    "fail_ratio": "ratio",
    "trace.units": "count",
    "trace.e2e_wall_s": "s",
    "trace.layer_self_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_ratio": "ratio",
}


def self_times(spans) -> dict[str, float]:
    """Span self time by name: its duration minus its direct children's."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        children = sum(c.seconds for c in spans
                       if c.depth == s.depth + 1 and c.start >= s.start
                       and c.end <= s.end)
        out[s.name] += s.seconds - children
    return out


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def report_layers(*, workload, n_cores, ops, session_start_s, setup_s,
                  units, extra, tracer, log: EventLog, kernel,
                  pages) -> tuple[dict, dict]:
    from pages import repeat_share

    m = dict(kernel)
    m["session.start_s"] = session_start_s
    m["workload.setup_s"] = setup_s
    rate_1core = kernel["kernel.docs_per_s_1core"]

    traced = [u for u in units if u.traced]
    work = [u for u in traced if u.kind in ("extract", "fold")]
    base = [u for u in units if not u.traced and u.kind in ("extract", "fold")]

    # per traced timed unit of work: a crawl batch or an increment fold
    acc = defaultdict(float)
    for u in work:
        jobs = log.jobs_in(u.start, u.end)
        py = python_stage(log, [j for j in jobs if j.span in EXTRACT_SPANS])
        acc["stage.python.executor_run_s"] += py["executor_run_s"]
        acc["stage.python.tasks"] += py["tasks"]
        acc["stage.python.task_skew"] += py["skew"]
        acc["arrow.bytes_to_python"] += py["to_python"]
        acc["arrow.bytes_from_python"] += py["from_python"]
        acc["arrow.boundary_s"] += py["executor_run_s"] - u.pages / rate_1core
        acc["spark.jobs"] += len(jobs)
        acc["spark.stages"] += len(log.run_stages(jobs))
        acc["spark.job_gap_s"] += u.seconds - log.busy_seconds(
            jobs, u.start, u.end)
    m.update({k: v / max(len(work), 1) for k, v in acc.items()})

    # per call of a layer anywhere in the traced session
    def jobs(span):
        return log.jobs_in(span.start, span.end)

    def shuffle(span):
        return sum(s.shuffle_write for s in log.run_stages(jobs(span)))

    def inside(span, name):
        return [c for c in tracer.within(span.start, span.end)
                if c.name == name]

    runs = tracer.calls("checkpoints.run_kg_job")
    m["checkpoints.run_kg_job_s"] = _mean(s.seconds for s in runs)
    m["checkpoints.jobs"] = _mean(len(jobs(s)) for s in runs)
    m["checkpoints.write_bytes"] = _mean(
        sum(st.output_bytes for st in log.run_stages(
            [j for j in jobs(s) if j.span == "checkpoints.sink"]))
        for s in runs)
    m["checkpoints.post_write_s"] = _mean(
        s.end - max((c.end for c in inside(s, "checkpoints.sink")),
                    default=s.end)
        for s in runs)

    batch = tracer.calls("canonicalize.update", path="batch")
    m["canonicalize.batch_s"] = _mean(s.seconds for s in batch)
    m["canonicalize.forms"] = _mean(s.info["n_forms"] for s in batch)
    m["canonicalize.candidate_pairs"] = _mean(
        sum(c.info["pairs"] for c in inside(s, "canonicalize.lsh"))
        for s in batch)
    m["canonicalize.jobs"] = _mean(len(jobs(s)) for s in batch)
    m["canonicalize.shuffle_bytes"] = _mean(shuffle(s) for s in batch)

    merges = tracer.calls("canonicalize.update", path="incremental")
    m["merge.jobs_per_increment"] = _mean(len(jobs(s)) for s in merges)
    m["merge.stages_per_increment"] = _mean(
        len(log.run_stages(jobs(s))) for s in merges)
    m["merge.shuffle_bytes_per_increment"] = _mean(shuffle(s) for s in merges)
    m["merge.touched_forms"] = _mean(
        u.info["touched_forms"] for u in traced + [extra]
        if u.kind == "fold")
    m["merge.spread_compute_input_s"] = _mean(
        s.seconds for s in tracer.calls("annotate.spread_compute_input"))

    for name in ("graph.degrees", "graph.pagerank"):
        m[name + "_s"] = _mean(s.seconds for s in tracer.calls(name))
    m["graph.pagerank_jobs"] = _mean(
        len(jobs(s)) for s in tracer.calls("graph.pagerank"))

    # the timed traced phase as a whole
    selfs: dict[str, float] = defaultdict(float)
    m["trace.e2e_wall_s"] = m["trace.layer_self_s"] = 0.0
    for u in traced:
        spans = tracer.within(u.start, u.end)
        for name, sec in self_times(spans).items():
            selfs[name] += sec
        m["trace.e2e_wall_s"] += u.seconds
        m["trace.layer_self_s"] += sum(s.seconds for s in spans if s.depth == 0)
    m["trace.units"] = len(traced)
    m["trace.unattributed_s"] = m["trace.e2e_wall_s"] - m["trace.layer_self_s"]
    # each traced unit against the mean of the untraced units on either
    # side of it, which cancels the session's warming trend
    seq = [u for u in units if u.kind in ("extract", "fold")]
    m["trace.overhead_ratio"] = _median(
        u.seconds / _mean(v.seconds for v in seq[i - 1:i + 2:2]) - 1.0
        for i, u in enumerate(seq) if u.traced and 0 < i < len(seq) - 1)

    docs_per_s = _median(u.pages / u.extract_s for u in base)
    m["framework_efficiency"] = docs_per_s / (n_cores * rate_1core)
    m["kernel.share_of_wall"] = (
        sum(u.pages for u in work) / rate_1core
        / (n_cores * m["trace.e2e_wall_s"]) if m["trace.e2e_wall_s"] else 0.0)
    m["workload.repeat_share"] = repeat_share(pages)
    m["fail_ratio"] = ops.failed / max(ops.attempted, 1)

    print(f"perfbench {workload}: span self time over the traced timed phase "
          f"({len(traced)} traced units, {len(base)} untraced)",
          file=sys.stderr)
    for name, sec in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  span {name:36s} {sec:10.4f} s", file=sys.stderr)
    return {k: m[k] for k in UNITS}, dict(UNITS)
