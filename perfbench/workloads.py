"""The benchmark's workloads: set-up, timed passes, output checks, trace.

One Spark driver, one caller, closed loop: each pass starts when the
previous one has returned and its output has been checked. The checks run
outside the timed span and read the engine's output with pyarrow/pandas.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd

from perfbench import corpora
from perfbench.tracing import Tracer, label, rollup_event_log
from product_deduplication_spark import pipeline
from product_deduplication_spark.catalog import SnapshotCatalog
from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.streaming import incremental

SHUFFLE_PARTITIONS = 8
CFG = DedupConfig(shuffle_partitions=SHUFFLE_PARTITIONS)
# every delta batch ends in a full compaction (its delta makes two active
# snapshots, over the limit of one, and a tier fraction of 0 always picks the
# full rewrite), so batches are alike: write the delta, merge-on-read the
# base plus the delta, rewrite the state, read the compacted table
AUTO_COMPACT = 1
COMPACT_TIER_FRACTION = 0.0

BATCH_LAYERS = [  # (attribute of pipeline, layer, position of the input DataFrame)
    ("with_features", "features", 0),
    ("exact_duplicate_edges", "exact", 0),
    ("candidate_pairs", "lsh", 0),
    ("simhash_candidate_pairs", "simhash", 0),
    ("verify_pairs", "verify", 0),
    ("assign_clusters_contracted", "cc", 2),
    ("pick_winners", "winners", 0),
]
INCREMENTAL_LAYERS = [  # attributes of streaming.incremental
    ("with_features", "features", 0),
    ("candidate_pairs", "lsh", 0),
    ("verify_pairs", "verify", 0),
    ("assign_clusters", "cc", 1),
    ("pick_winners", "winners", 0),
    ("read_clusters", "incremental", None),
    ("compact_snapshots", "incremental", None),
    ("compact_deltas", "incremental", None),
]
COMPACTIONS = ("compact_snapshots", "compact_deltas")
LAYERS = ["features", "exact", "lsh", "simhash", "verify", "cc", "winners", "catalog", "incremental"]
LAYER_STATS = ["jobs", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew"]
MIN_RECALL = 0.99
# passes still get faster after the warm-up, so a run that timed fewer
# passes than the others would report a slower median
MIN_PASSES = 2
UNITS = {  # per-layer metric name suffix -> unit
    "wall_s": "s", "self_s": "s", "compaction_s": "s", "trace_overhead_s": "s",
    "rows_in": "rows", "rows_out": "rows", "jobs": "count", "active_snapshots": "count",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "bytes_written": "bytes", "task_skew": "ratio", "yield": "ratio", "largest_cluster": "docs",
}


class CheckFailed(Exception):
    pass


@dataclass
class Run:
    """What one benchmark run measured."""

    setup_s: float = 0.0
    passes: list = field(default_factory=list)    # untraced pass walls (s)
    pass_cpu: list = field(default_factory=list)  # untraced pass CPU (s)
    pass_docs: int = 0                            # input docs per pass
    recalls: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    traced: list = field(default_factory=list)    # tags of traced passes
    traced_layer_wall: list = field(default_factory=list)  # summed top-level layer walls per traced pass
    extras: dict = field(default_factory=dict)    # per traced pass: layer extras


def _check_partition(got: dict, want: dict, what: str) -> None:
    """``got`` and ``want`` map url -> label; they must induce the same
    partition of the same urls."""
    if got.keys() != want.keys():
        raise CheckFailed(f"{what}: {len(got)} urls, expected {len(want)}")
    n_got, n_want = len(set(got.values())), len(set(want.values()))
    if n_got != n_want:
        raise CheckFailed(f"{what}: {n_got} clusters, expected {n_want}")
    pairs = {(got[u], want[u]) for u in got}
    if len(pairs) != n_want:
        raise CheckFailed(f"{what}: partition differs from the expected one")


def check_clusters(table: pd.DataFrame, expected: dict, truth, what: str) -> tuple[dict, float]:
    """Checks a cluster table (url, cluster_id, is_winner) against the
    expected partition; returns its url -> cluster labels and dup-pair
    recall."""
    labels = dict(zip(table["url"], table["cluster_id"]))
    _check_partition(labels, expected, what)
    if not (table.groupby("cluster_id")["is_winner"].sum() == 1).all():
        raise CheckFailed(f"{what}: not exactly one winner per cluster")
    recall = corpora.pair_recall(truth, labels)
    if recall < MIN_RECALL:
        raise CheckFailed(f"{what}: dup-pair recall {recall:.4f} < {MIN_RECALL}")
    return labels, recall


class Workload:
    """Shared loop: set-up with a warm-up, then passes until the window
    closes. In trace mode untraced and traced passes alternate."""

    name = ""
    # corpus builder and its parameters; sized so that one run of every
    # workload, set-up included, takes about a minute on a 4-CPU host
    make_corpus = None
    corpus_params: dict = {}

    def __init__(self, spark, work: str, corpus: corpora.Corpus, paths: list[str]):
        self.spark = spark
        self.work = work
        self.corpus = corpus
        self.paths = paths
        self.run = Run()
        self.tracer = Tracer(spark.sparkContext)
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def attempt(self, fn, *args) -> bool:
        """One pass or check: a raise or a failed check counts as failed."""
        self.run.attempted += 1
        try:
            fn(*args)
            return True
        except Exception as e:  # recorded and reported, never fatal
            self.run.failed += 1
            self.run.errors.append(f"{type(e).__name__}: {e}")
            return False

    def measure(self, seconds: float, trace: bool) -> Run:
        """Set up, then run passes until ``seconds`` have passed and at
        least ``MIN_PASSES`` were timed; stops at the first failure."""
        t0 = time.perf_counter()
        self.setup()
        self.run.setup_s = time.perf_counter() - t0
        self.run.passes.clear()  # the warm-up's
        self.run.pass_cpu.clear()
        start = time.perf_counter()
        i = 0
        while (time.perf_counter() - start < seconds or len(self.run.passes) < MIN_PASSES) and self.has_more():
            if not self.attempt(self.one_pass, i, None):
                return self.run
            if trace and self.has_more():
                tag = f"t{i}"
                if not self.attempt(self.one_pass, i, tag):
                    return self.run
                self.run.traced.append(tag)
            i += 1
        if trace:
            self.attempt(self.finish)
        return self.run

    def setup(self) -> None:
        raise NotImplementedError

    def has_more(self) -> bool:
        return True

    def one_pass(self, i: int, tag: str | None) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Checks that need every pass done and cost a pass of their own;
        they run in the traced run only, to keep every run short."""

    def traced_call(self, tag, targets, fn):
        if tag is None:
            return fn()
        with self.tracer.traced_pass(tag, targets):
            out = fn()
        self.run.traced_layer_wall.append(self.tracer.top_level_wall(tag))
        return out

    def timed_call(self, tag, targets, fn):
        """``traced_call``; an untraced call's wall and CPU time are
        recorded as one pass."""
        c0, t0 = engine_cpu_s(self.jvm_pid), time.perf_counter()
        out = self.traced_call(tag, targets, fn)
        wall, cpu = time.perf_counter() - t0, engine_cpu_s(self.jvm_pid) - c0
        if tag is None:
            self.run.passes.append(wall)
            self.run.pass_cpu.append(cpu)
        return out


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the driver JVM and the JVM's
    descendants (the Python UDF workers, live or reaped). Time the host
    takes a virtual CPU away for is not in it, unlike wall time."""
    children, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        children.setdefault(int(st[1]), []).append(int(d))
        ticks[int(d)] = sum(map(int, st[11:15]))  # utime stime cutime cstime
    total, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK") + time.process_time()


class SkewedSimhash(Workload):
    name = "webtext_skewed_simhash"
    make_corpus = staticmethod(corpora.skewed)
    corpus_params = {"n_docs": 850, "boiler_share": 0.33, "n_template": 250}

    def __init__(self, *args):
        super().__init__(*args)
        self.expected = self.corpus.oracle_labels(self.corpus.docs["url"])
        self.run.pass_docs = len(self.corpus.docs)

    def setup(self) -> None:
        self.run_dedup(None)  # discarded warm-up pass

    def run_dedup(self, tag):
        out = os.path.join(self.work, "clusters")

        def go():
            res = pipeline.run_dedup(self.spark.read.parquet(*self.paths), CFG, use_simhash=True)
            res.clusters.write.mode("overwrite").parquet(out)
            return res

        res = self.timed_call(tag, [(pipeline, a, l, i) for a, l, i in BATCH_LAYERS], go)
        res.release()
        return pd.read_parquet(out, columns=["url", "cluster_id", "is_winner"])

    def one_pass(self, i, tag):
        table = self.run_dedup(tag)
        labels, recall = check_clusters(table, self.expected, self.corpus.truth, f"pass {i}")
        self.run.recalls.append(recall)
        if tag is not None:
            self.run.extras[tag] = {"cc.largest_cluster": _largest(labels)}


def _largest(labels: dict) -> int:
    return max(Counter(labels.values()).values())


class IncrementalCatalog(Workload):
    name = "incremental_catalog"
    make_corpus = staticmethod(corpora.incremental)
    corpus_params = {"n_bootstrap": 240, "n_deltas": 8, "delta_docs": 20}

    def setup(self) -> None:
        self.catalog = SnapshotCatalog(self.spark, os.path.join(self.work, "catalog"))
        self.folded = 0
        self.fold(None)  # bootstrap
        # discarded warm-up batch: the first delta compiles the delta and
        # compaction plans, which takes half again a warm batch's time
        self.fold(None)

    def has_more(self) -> bool:
        return self.folded < len(self.paths)

    def fold(self, tag) -> None:
        """One delta batch: arrival until the updated cluster table is
        readable."""
        new = self.spark.read.parquet(self.paths[self.folded])

        def go():
            clusters = incremental.incremental_dedup(
                self.spark, self.catalog, new, CFG,
                auto_compact=AUTO_COMPACT, compact_tier_fraction=COMPACT_TIER_FRACTION,
            )
            return clusters.count()

        self.timed_call(tag, self._targets(), go)
        self.folded += 1

    def _targets(self):
        return [(incremental, a, l, i) for a, l, i in INCREMENTAL_LAYERS] + [
            (self.catalog, "write_stage", "catalog", None),
            (self.catalog, "read_stage_union", "catalog", None),
        ]

    def folded_urls(self) -> list[str]:
        return self.corpus.docs["url"].iloc[: sum(self.corpus.parts[: self.folded])]

    def check_state(self, what: str) -> tuple[dict, float]:
        table = incremental.read_clusters(self.catalog).select(
            "url", "cluster_id", "is_winner").toPandas()
        expected = self.corpus.oracle_labels(self.folded_urls())
        return check_clusters(table, expected, self.corpus.truth, what)

    def one_pass(self, i, tag):
        self.fold(tag)
        labels, recall = self.check_state(f"pass {i}")
        self.run.recalls.append(recall)
        if tag is None:
            self.run.pass_docs = self.corpus.parts[self.folded - 1]
        else:
            self.run.extras[tag] = {
                "cc.largest_cluster": _largest(labels),
                "catalog.active_snapshots": sum(
                    len(self.catalog.active_snapshots(s)) for s in
                    (incremental.DOCS_STAGE, incremental.FEATURES_STAGE, incremental.CLUSTERS_STAGE)
                ),
            }

    def finish(self) -> None:
        """The catalog's clusters equal run_dedup's on the same union."""
        res = pipeline.run_dedup(self.spark.read.parquet(*self.paths[: self.folded]), CFG)
        table = res.clusters.select("url", "cluster_id").toPandas()
        res.release()
        want = dict(zip(table["url"], table["cluster_id"]))
        _check_partition(self.check_state("final")[0], want, "incremental vs run_dedup")


WORKLOADS = {w.name: w for w in (SkewedSimhash, IncrementalCatalog)}


def end_to_end(run: Run, peak_rss_mb: float) -> dict:
    cpu = statistics.median(run.pass_cpu)
    return {
        "setup_s": (run.setup_s, "s"),
        "cpu_s": (cpu, "s"),
        "docs_per_cpu_s": (run.pass_docs / cpu, "docs/cpu_s"),
        "dup_pair_recall": (min(run.recalls), "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(run: Run, tracer: Tracer, event_log: str) -> dict:
    """Median over the traced passes of every per-layer metric."""
    stats = rollup_event_log(event_log)
    per_pass = []
    for tag in run.traced:
        times = tracer.layer_times(tag)
        m = {}
        for layer in LAYERS:
            wall, self_s = times.get(layer, (0.0, 0.0))
            rows_in, rows_out = tracer.rows.get((tag, layer), (0, 0))
            st = stats.get(label(tag, layer))
            m |= {
                f"{layer}.wall_s": wall, f"{layer}.self_s": self_s,
                f"{layer}.rows_in": rows_in, f"{layer}.rows_out": rows_out,
            }
            for k in LAYER_STATS:
                m[f"{layer}.{k}"] = getattr(st, k) if st else 0
        v_in, v_out = tracer.rows.get((tag, "verify"), (0, 0))
        m["verify.yield"] = v_out / v_in if v_in else 0.0
        m["cc.largest_cluster"] = 0
        m["catalog.active_snapshots"] = 0
        m |= run.extras.get(tag, {})
        m["catalog.bytes_written"] = tracer.bytes_written.get(tag, 0)
        m["incremental.compaction_s"] = sum(
            tracer.spans[i].end - tracer.spans[i].start for i in tracer.pass_spans(tag)
            if tracer.spans[i].fn in COMPACTIONS
        )
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["trace_overhead_s"] = statistics.median(run.traced_layer_wall) - statistics.median(run.passes)
    return out


def per_layer_unit(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[-1]]
