"""Spans around the calls into the engine's layers, recorded from outside.

The traced run wraps public functions of ``plans.pipeline``,
``sources.catalog`` and ``operators.linking`` (by replacing the module
attributes the engine itself looks up at call time) and the harness
opens a span around each ``queries()`` entry it calls. Every span sets a
Spark job group whose id is the path of open span names, so the event
log attributes each Spark job to the innermost span that launched it.

``run_pipeline`` is split into *segments*: a segment runs from the end
of one stage's ``write_table`` to the end of the next one and takes that
table's name, so a stage's build, eager work, resume checks and write
all count toward it. Whatever follows the last write is ``other``.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field
from statistics import median
from typing import Any, Callable

from . import eventlog

# KG tables written by run_pipeline, in stage order.
STAGES = ["sentences", "sent_views", "voted", "mentions", "triples",
          "entities", "nodes", "edges"]
# The two stages whose Spark jobs cross the Arrow/Python boundary.
PYTHON_STAGES = ("sentences", "sent_views")

_CATALOG_META = ("snapshots", "latest_snapshot", "batch_ledger",
                 "table_complete")
_CATALOG_READ = ("read_table", "read_incremental")


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    kind: str = "call"  # call | segment
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.spans: list[Span] = []

    # -- spans ---------------------------------------------------------
    def open(self, name: str, kind: str = "call") -> Span:
        parent = self._stack[-1].group if self._stack else None
        span = Span(name, f"{parent}/{name}" if parent else name,
                    time.perf_counter(), kind=kind)
        self._stack.append(span)
        self._sc.setJobGroup(span.group, name)
        return span

    def close(self, span: Span) -> Span:
        now = time.perf_counter()
        while self._stack:  # also closes children an exception left open
            top = self._stack.pop()
            top.end = now
            self.spans.append(top)
            if top is span:
                break
        if self._stack:
            self._sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        return span

    def call(self, name: str, fn: Callable, *args, **kwargs):
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def _top(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    # -- wrappers ------------------------------------------------------
    def _patch(self, module, attr: str,
               make: Callable[[Callable, str], Callable]) -> None:
        orig = getattr(module, attr)
        self._patches.append((module, attr, orig))
        setattr(module, attr, functools.wraps(orig)(make(orig, attr)))

    def install(self, pipeline, catalog, linking) -> None:
        """Wrap the layer functions. `pipeline`, `catalog` and `linking`
        are the engine modules plans.pipeline, sources.catalog and
        operators.linking."""

        def segmented(orig, attr):
            def run(*args, **kwargs):
                outer = self.open(attr)
                self.open("seg0", kind="segment")
                try:
                    return orig(*args, **kwargs)
                finally:
                    top = self._top()
                    if top is not None and top.kind == "segment":
                        top.attrs["stage"] = "other"
                    self.close(outer)
            return run

        def writer(orig, attr):
            def run(*args, **kwargs):
                seg = self._top()
                if seg is not None and seg.name.startswith("catalog."):
                    return orig(*args, **kwargs)
                span = self.open("catalog.write_table")
                table = args[2] if len(args) > 2 else kwargs.get("table")
                span.attrs["table"] = table
                try:
                    snap = orig(*args, **kwargs)
                    span.attrs["files"] = snap.get("added_data_files", 0)
                    return snap
                finally:
                    self.close(span)
                    if seg is not None and seg.kind == "segment":
                        seg.attrs["stage"] = table
                        self.close(seg)
                        self.open(f"seg{int(seg.name[3:]) + 1}",
                                  kind="segment")
            return run

        def catalog_call(orig, attr):
            name = f"catalog.{attr}"

            def run(*args, **kwargs):
                top = self._top()
                if top is not None and top.name.startswith("catalog."):
                    return orig(*args, **kwargs)
                return self.call(name, orig, *args, **kwargs)
            return run

        def linking_call(orig, attr):
            name = f"linking.{attr}"
            return lambda *a, **kw: self.call(name, orig, *a, **kw)

        self._patch(pipeline, "run_pipeline", segmented)
        self._patch(catalog, "write_table", writer)
        for attr in _CATALOG_META + _CATALOG_READ:
            self._patch(catalog, attr, catalog_call)
        # canonicalize_entities is imported by name into plans.pipeline
        for module in (linking, pipeline):
            self._patch(module, "canonicalize_entities", linking_call)
        self._patch(linking, "connected_components", linking_call)

    def uninstall(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)


def _under(span: Span, op_group: str) -> bool:
    return span.group == op_group or span.group.startswith(op_group + "/")


def op_metrics(tracer: Tracer, stats: dict, op: Span,
               entries: list[str]) -> dict[str, float]:
    """Per-layer numbers of one op span (see per_layer_names())."""
    spans = [s for s in tracer.spans if _under(s, op.group) and s is not op]
    out = dict.fromkeys(per_layer_names(entries), 0.0)
    out["trace.op_s"] = op.seconds
    total = eventlog.rollup(stats, op.group)
    out["spark.jobs"] = total.jobs
    out["spark.task_s"] = total.run_ms / 1000
    out["spark.gc_s"] = total.gc_ms / 1000
    out["spark.spill_bytes"] = total.spill_bytes
    out["spark.task_skew"] = total.skew()

    pipe_s = 0.0
    for seg in (s for s in spans if s.kind == "segment"):
        stage = seg.attrs.get("stage")
        if stage not in STAGES:
            continue
        pipe_s += seg.seconds
        out[f"pipeline.{stage}.wall_s"] += seg.seconds
        st = eventlog.rollup(stats, seg.group)
        out[f"spark.{stage}.jobs"] += st.jobs
        out[f"spark.{stage}.task_s"] += st.run_ms / 1000
        out[f"spark.{stage}.shuffle_bytes"] += st.shuffle_write_bytes
        if stage in PYTHON_STAGES:
            out["tagging.py_sent_bytes"] += st.python[eventlog.PY_SENT]
            out["tagging.py_returned_bytes"] += st.python[eventlog.PY_RETURNED]
            out["tagging.py_init_s"] += st.python[eventlog.PY_INIT] / 1000
            out["tagging.py_run_s"] += st.python[eventlog.PY_RUN] / 1000
    runs = [s for s in spans if s.name.startswith("run_pipeline")]
    if runs:
        out["pipeline.other_s"] = op.seconds - pipe_s
        out["pipeline.attributed_frac"] = pipe_s / op.seconds

    for s in spans:
        if s.name == "catalog.write_table" and s.attrs.get("table") in STAGES:
            out[f"catalog.{s.attrs['table']}.write_s"] += s.seconds
            out[f"catalog.{s.attrs['table']}.files"] += s.attrs.get("files", 0)
        elif s.name.removeprefix("catalog.") in _CATALOG_META:
            out["catalog.meta_s"] += s.seconds
            out["catalog.meta_calls"] += 1
        elif s.name.removeprefix("catalog.") in _CATALOG_READ:
            out["catalog.read_s"] += s.seconds
        elif s.name == "linking.canonicalize_entities":
            out["linking.canonicalize_s"] += s.seconds
            out["linking.jobs"] += eventlog.rollup(stats, s.group).jobs
        elif s.name == "linking.connected_components":
            out["linking.cc_s"] += s.seconds
            if "/linking.canonicalize_entities/" not in s.group:
                out["linking.jobs"] += eventlog.rollup(stats, s.group).jobs
        elif s.name.endswith((".build", ".collect")):
            entry, part = s.name.rsplit(".", 1)
            if entry in entries:
                out[f"query.{entry}.{part}_s"] += s.seconds
    return out


def per_layer_names(entries: list[str]) -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = [f"pipeline.{t}.wall_s" for t in STAGES]
    names += ["pipeline.other_s", "pipeline.attributed_frac"]
    names += [f"catalog.{t}.{m}" for t in STAGES for m in ("write_s", "files")]
    names += ["catalog.bytes_written", "catalog.bytes_per_page",
              "catalog.meta_s", "catalog.meta_calls", "catalog.read_s"]
    names += ["tagging.py_sent_bytes", "tagging.py_returned_bytes",
              "tagging.py_init_s", "tagging.py_run_s"]
    names += ["linking.canonicalize_s", "linking.cc_s", "linking.jobs"]
    names += [f"spark.{t}.{m}" for t in STAGES
              for m in ("jobs", "task_s", "shuffle_bytes")]
    names += ["spark.jobs", "spark.task_s", "spark.gc_s", "spark.spill_bytes",
              "spark.task_skew"]
    names += [f"query.{q}.{m}" for q in entries for m in ("build_s", "collect_s")]
    names += ["trace.op_s"]
    return names


def summarize(per_op: list[dict[str, float]]) -> dict[str, float]:
    """Median over the measured ops of each per-layer metric."""
    return {k: float(median(op[k] for op in per_op)) for k in per_op[0]}
