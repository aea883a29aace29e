"""Per-layer tracing for the traced benchmark run.

A traced pass runs the engine's own entry point (``run_dedup`` or
``incremental_dedup``) with each layer's public function wrapped, where the
entry point's module looks it up. The wrapper:

- opens a span (name, start, end, parent) kept in memory;
- labels every Spark job the layer starts, via ``setJobDescription``;
- persists and counts the layer's result, so the layer's work runs under
  its own label instead of inside whichever later action needs it.

After the session stops, the uncompressed Spark event log is rolled up per
label with the standard library (:func:`rollup_event_log`).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

LABEL_PREFIX = "perfbench"


@dataclass
class Span:
    name: str  # layer
    fn: str    # wrapped function
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """Spans and row counts of the traced passes of one run."""

    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    rows: dict = field(default_factory=dict)  # (pass, layer) -> [rows_in, rows_out]
    bytes_written: dict = field(default_factory=dict)  # pass -> catalog bytes
    held: list[DataFrame] = field(default_factory=list)
    roots: dict = field(default_factory=dict)  # pass -> index of its root span
    _open: list[int] = field(default_factory=list)
    pass_tag: str = ""

    @contextmanager
    def _job_label(self, name: str):
        outer = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(label(self.pass_tag, name))
        try:
            yield
        finally:
            self.sc.setJobDescription(outer)

    @contextmanager
    def span(self, name: str, fn: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, fn, time.perf_counter(), parent=parent))
        self._open.append(idx)
        try:
            with self._job_label(name):
                yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._open.pop()

    def count(self, df: DataFrame) -> int:
        """Row count taken for the trace itself, under a label no layer
        uses."""
        with self._job_label("count"):
            return df.count()

    def wrap(self, fn, layer: str, input_arg: int | None):
        """``fn`` traced as ``layer``; ``input_arg`` is the position of the
        DataFrame argument counted as the layer's rows in (None: no input
        relation)."""

        def traced(*args, **kwargs):
            rows_in = self.count(args[input_arg]) if input_arg is not None else 0
            with self.span(layer, fn.__name__):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    self.held.append(out)
                    rows_out = out.count()
                elif isinstance(out, dict):  # a catalog snapshot entry
                    rows_in = rows_out = out["rows"]
                    self.bytes_written[self.pass_tag] = (
                        self.bytes_written.get(self.pass_tag, 0) + _dir_bytes(out["path"])
                    )
                else:
                    rows_out = 0
            acc = self.rows.setdefault((self.pass_tag, layer), [0, 0])
            acc[0] += rows_in
            acc[1] += rows_out
            return out

        return traced

    @contextmanager
    def traced_pass(self, tag: str, targets):
        """Run one pass with ``targets`` — (owner, attribute, layer,
        input_arg) tuples — wrapped; restores them and releases every
        persisted layer result afterwards."""
        self.pass_tag = tag
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in targets]
        for (owner, attr, layer, arg), (_, _, fn) in zip(targets, saved):
            setattr(owner, attr, self.wrap(fn, layer, arg))
        self.roots[tag] = len(self.spans)
        try:
            with self.span("pass", "pass"):
                yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)
            for df in self.held:
                df.unpersist()
            self.held.clear()

    def layer_times(self, tag: str) -> dict[str, tuple[float, float]]:
        """layer -> (wall, self) seconds for one pass. Wall sums the
        layer's outermost spans; self time is each span's duration minus
        its children's."""
        in_pass = self.pass_spans(tag)
        child = {i: 0.0 for i in in_pass}
        for i in in_pass:
            p = self.spans[i].parent
            if p in child:
                child[p] += self.spans[i].end - self.spans[i].start
        out: dict[str, list[float]] = {}
        for i in in_pass:
            s = self.spans[i]
            if s.name == "pass":
                continue
            dur = s.end - s.start
            acc = out.setdefault(s.name, [0.0, 0.0])
            if not self._has_ancestor_named(i, s.name):
                acc[0] += dur
            acc[1] += dur - child[i]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def top_level_wall(self, tag: str) -> float:
        """Summed duration of the layer calls the entry point made
        directly in pass ``tag``."""
        root = self.roots[tag]
        return sum(s.end - s.start for s in self.spans if s.parent == root)

    def pass_spans(self, tag: str) -> list[int]:
        idx = self.roots[tag]
        members = {idx}
        for i in range(idx + 1, len(self.spans)):
            if self.spans[i].parent in members:
                members.add(i)
        return sorted(members)

    def _has_ancestor_named(self, i: int, name: str) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False


def label(tag: str, layer: str) -> str:
    """Job description of a layer's Spark jobs in traced pass ``tag``."""
    return f"{LABEL_PREFIX}:{tag}:{layer}"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


@dataclass
class LabelStats:
    jobs: int = 0
    stage_tasks: dict = field(default_factory=dict)  # stage -> [task ms]
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def task_skew(self) -> float:
        """Longest task over the median task of the stage holding the
        longest task — the stage that sets the layer's critical path.
        1.0 when no stage ran more than one task."""
        best = None
        for ms in self.stage_tasks.values():
            if len(ms) > 1 and (best is None or max(ms) > max(best)):
                best = ms
        if best is None:
            return 1.0
        return max(best) / max(statistics.median(best), 1.0)


def rollup_event_log(path: str, prefix: str = LABEL_PREFIX) -> dict[str, LabelStats]:
    """Task metrics of a Spark JSON event log, rolled up per job
    description that starts with ``prefix``."""
    stage_label: dict[int, str] = {}
    stats: dict[str, LabelStats] = {}
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                e = json.loads(line)
                label = (e.get("Properties") or {}).get("spark.job.description") or ""
                if not label.startswith(prefix):
                    continue
                stats.setdefault(label, LabelStats()).jobs += 1
                for sid in e["Stage IDs"]:
                    stage_label.setdefault(sid, label)
            elif '"SparkListenerTaskEnd"' in line:
                e = json.loads(line)
                label = stage_label.get(e["Stage ID"])
                if label is None:
                    continue
                st = stats[label]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                ms = info["Finish Time"] - info["Launch Time"]
                st.stage_tasks.setdefault(e["Stage ID"], []).append(ms)
                rd = m.get("Shuffle Read Metrics", {})
                st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return stats
