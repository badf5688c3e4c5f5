"""Tracing for the KG-pipeline benchmark, installed from outside the
program: nothing in ``prose_spark`` is edited.

- ``Tracer`` wraps public functions of the pipeline's modules. Each call
  becomes a span (name, start, end, depth) kept in memory, and for the
  length of the call the Spark local property ``perfbench.span`` names the
  innermost span, so every Spark job in the event log carries the layer
  that submitted it.
- ``EventLog`` reads the Spark event log of one session (JSON lines,
  written to a local directory) into jobs, stages and task metrics.
- ``kernel_replay`` runs the fused NLP kernel in this process over a page
  sample, with timers around each stage's public call and memo sizes read
  before and after.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"
BOOKKEEPING = "perfbench.bookkeeping"  # jobs the benchmark itself submits


@dataclass
class Span:
    name: str
    start: float
    end: float
    depth: int
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the pipeline's public functions."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        # (span, info key, action): counts taken after the traced unit
        self._deferred: list[tuple[Span, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(name, time.time(), 0.0, len(self._stack))
        self._stack.append(name)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._restore_property()
            self.spans.append(sp)

    def _restore_property(self) -> None:
        self.sc.setLocalProperty(
            SPAN_PROPERTY, self._stack[-1] if self._stack else None)

    def wrap(self, module: str, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` with a spanned call. ``after(tracer,
        span, result, args, kwargs)`` may record counts on the span and
        returns the result the caller gets."""
        mod = importlib.import_module(module)
        original = getattr(mod, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                result = original(*args, **kwargs)
                if after is not None:
                    result = after(self, sp, result, args, kwargs)
            return result

        setattr(mod, attr, spanned)
        self._patched.append((mod, attr, original))

    def bookkeeping(self, fn, *args):
        """Run a benchmark-side Spark action tagged as not the program's."""
        self.sc.setLocalProperty(SPAN_PROPERTY, BOOKKEEPING)
        try:
            return fn(*args)
        finally:
            self._restore_property()

    def defer(self, span: Span, key: str, action) -> None:
        """Run ``action`` (a Spark action) at the next ``settle`` and
        store its result as ``span.info[key]``."""
        self._deferred.append((span, key, action))

    def settle(self) -> None:
        """Run the deferred actions as bookkeeping, between units, so
        they add neither jobs nor time to the program's spans."""
        for span, key, action in self._deferred:
            span.info[key] = self.bookkeeping(action)
        self._deferred.clear()

    def install(self) -> None:
        install_pipeline_spans(self)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def within(self, start: float, end: float) -> list[Span]:
        return [s for s in self.spans if s.start >= start and s.end <= end]

    def calls(self, name: str, **info) -> list[Span]:
        """Spans of ``name`` whose info matches ``info``."""
        return [s for s in self.spans if s.name == name
                and all(s.info.get(k) == v for k, v in info.items())]


def install_pipeline_spans(tracer: Tracer) -> None:
    """The layer boundaries the benchmark times: the sink write inside
    ``run_kg_job``, the compute-input spread, canonicalization and its
    blocking and clustering steps."""

    def count_pairs(tr, sp, pairs, args, kwargs):
        # the caller gets the frame untouched; the verified candidates
        # are counted after the unit, by re-running the band join over
        # the caller's (checkpointed, so still readable) inputs
        tr.defer(sp, "pairs", pairs.count)
        return pairs

    def record_stats(tr, sp, stats, args, kwargs):
        sp.info.update(path=stats["path"], n_forms=stats["n_forms"])
        return stats

    ck = "prose_spark.sources.checkpoints"
    ann = "prose_spark.operators.annotate"
    can = "prose_spark.operators.canonicalize"
    tracer.wrap(ck, "run_kg_job", "checkpoints.run_kg_job")
    tracer.wrap(ck, "write_triples_sink", "checkpoints.sink")
    tracer.wrap(ck, "update_canonical_tables", "canonicalize.update",
                after=record_stats)
    tracer.wrap(ann, "spread_compute_input", "annotate.spread_compute_input")
    tracer.wrap(can, "canonicalize_mentions", "canonicalize.mentions")
    tracer.wrap(can, "merge_canonicalize", "canonicalize.merge")
    tracer.wrap(can, "lsh_candidate_pairs", "canonicalize.lsh",
                after=count_pairs)
    tracer.wrap(can, "connected_components", "canonicalize.cc")


# -- event log ----------------------------------------------------------

@dataclass
class Job:
    id: int
    span: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class Stage:
    id: int
    tasks: list[float] = field(default_factory=list)  # run seconds
    shuffle_write: int = 0
    output_bytes: int = 0
    to_python: int = 0
    from_python: int = 0


class EventLog:
    """Jobs, stages and task metrics of one Spark application."""

    def __init__(self, directory: Path):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.submitted: set[int] = set()
        files = sorted(Path(directory).rglob("events_*"),
                       key=lambda p: int(p.name.split("_")[1]))
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get(SPAN_PROPERTY),
                e["Submission Time"] / 1e3, float("inf"), e["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            self.submitted.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            m = e.get("Task Metrics") or {}
            st.tasks.append(m.get("Executor Run Time", 0) / 1e3)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                if acc.get("Name") == "data sent to Python workers":
                    st.to_python += int(acc.get("Update", 0))
                elif acc.get("Name") == "data returned from Python workers":
                    st.from_python += int(acc.get("Update", 0))

    def jobs_in(self, start: float, end: float) -> list[Job]:
        """The program's jobs submitted in [start, end]."""
        return [j for j in self.jobs.values()
                if start <= j.start <= end and j.span != BOOKKEEPING]

    def run_stages(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stages if s in self.submitted}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    @staticmethod
    def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
        """Wall time in [start, end] covered by at least one running job."""
        spans = sorted((max(j.start, start), min(j.end, end)) for j in jobs)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def python_stage(log: EventLog, jobs: list[Job]) -> dict:
    """The fused kernel's Python stage(s) among ``jobs``: the stages that
    sent rows to Python workers."""
    stages = [s for s in log.run_stages(jobs) if s.to_python]
    tasks = [t for s in stages for t in s.tasks]
    return {
        "executor_run_s": sum(tasks),
        "tasks": len(tasks),
        "skew": (max(tasks) / statistics.median(tasks)
                 if tasks and statistics.median(tasks) > 0 else 0.0),
        "to_python": sum(s.to_python for s in stages),
        "from_python": sum(s.from_python for s in stages),
    }


# -- kernel replay ------------------------------------------------------

KERNEL_TIMERS = ("nlp.segment_s", "nlp.tokenize_s", "nlp.tag_s",
                 "nlp.ner_classify_s", "nlp.ner_chunk_s")


def _memo_entries() -> dict[str, int]:
    """Entries in the NLP kernels' worker-lifetime memos. Absent memos
    count as empty, so the metric survives a memo being removed."""
    from prose_spark.nlp import ner, segmenter, tagger

    t = tagger.default_tagger()
    n = ner.default_ner()

    def size(obj, *names):
        return sum(len(getattr(obj, name, None) or {}) for name in names)

    return {
        "tagger": size(t, "_memo", "_morph_cache", "_word_fast"),
        "ner": size(n, "_static_memo", "_hist_memo") + size(ner, "_SHAPE_MEMO"),
        "segmenter": size(segmenter, "_TYPE_MEMO", "_INITIAL_MEMO", "_MP_MEMO"),
    }


def kernel_replay(warmup_texts: list[str], texts: list[str]) -> dict:
    """Single-process replay of the fused kernel. Loads the models (the
    first calls in this process are timed as model load), runs
    ``warmup_texts`` untimed, then times each stage's public call over
    ``texts``."""
    from prose_spark.nlp import ner, segmenter, tagger, tokenizer
    from prose_spark.operators.annotate import annotate_document
    from prose_spark.operators.triples import extract_triples_doc

    load = {}
    for name, fn in (("segmenter", segmenter.default_segmenter),
                     ("tagger", tagger.default_tagger),
                     ("ner", ner.default_ner)):
        t0 = time.perf_counter()
        fn()
        load[name] = time.perf_counter() - t0
    for text in warmup_texts:
        extract_triples_doc(annotate_document(text)[1])

    clock = dict.fromkeys(KERNEL_TIMERS, 0.0)

    def timed(fn, key):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                clock[key] += time.perf_counter() - t0
        return call

    # the model singletons' methods are shadowed on the instance, the
    # module functions annotate_document imports at call time are replaced
    on_instance = [(segmenter.default_segmenter(), "segment", "nlp.segment_s"),
                   (tagger.default_tagger(), "tag", "nlp.tag_s"),
                   (ner.default_ner(), "classify", "nlp.ner_classify_s")]
    on_module = [(tokenizer, "tokenize_with_offsets", "nlp.tokenize_s"),
                 (ner, "chunk", "nlp.ner_chunk_s")]
    originals = [getattr(mod, attr) for mod, attr, _ in on_module]
    before = _memo_entries()
    counts = dict.fromkeys(("docs", "sentences", "tokens", "entities",
                            "triples"), 0)
    annotate_s = extract_s = 0.0
    try:
        for obj, attr, key in on_instance + on_module:
            setattr(obj, attr, timed(getattr(obj, attr), key))
        for text in texts:
            t0 = time.perf_counter()
            sents, toks, ents = annotate_document(text)
            t1 = time.perf_counter()
            triples = extract_triples_doc(toks)
            t2 = time.perf_counter()
            annotate_s += t1 - t0
            extract_s += t2 - t1
            counts["docs"] += 1
            counts["sentences"] += len(sents)
            counts["tokens"] += len(toks)
            counts["entities"] += len(ents)
            counts["triples"] += len(triples)
    finally:
        for obj, attr, _ in on_instance:
            vars(obj).pop(attr, None)
        for (mod, attr, _), original in zip(on_module, originals):
            setattr(mod, attr, original)
    after = _memo_entries()
    ktok = max(counts["tokens"], 1) / 1e3
    out = dict(clock)
    out["triples.extract_s"] = extract_s
    out["annotate.self_s"] = annotate_s - sum(clock.values())
    out.update({f"kernel.{k}": v for k, v in counts.items()})
    out["kernel.docs_per_s_1core"] = counts["docs"] / (annotate_s + extract_s)
    out["nlp.model_load_s"] = sum(load.values())
    for name in ("tagger", "ner", "segmenter"):
        out[f"nlp.{name}.memo_new_per_ktok"] = (after[name] - before[name]) / ktok
        out[f"nlp.{name}.memo_entries"] = after[name]
    return out
