"""Snapshot-incremental dedup: fold new documents into existing clusters.

Capability analog of the reference's canonical upsert
(``reference/clean_canonical.py:102-209,296-338``, V11 direct-match short
circuit) at webtext scale. The engine stages are ``pipeline.dedup_stages``,
the body ``run_dedup`` calls too: a bootstrap batch runs exactly
``run_dedup``'s stages (SimHash off), and a delta batch runs them in delta
mode:

- **Feature reuse** — MinHash/shingles are computed ONLY for the new docs
  (``new_docs``); prior snapshots' features are read back from the catalog
  (``prior_features``). At 10^12 docs this is the difference between
  re-hashing the corpus and hashing the daily delta.
- **Delta-restricted edges** — exact and LSH run with ``delta_ids``: only
  ``sha2(text)`` classes and LSH buckets that contain a new doc emit edges,
  and only (new, any) pairs (V11: a byte-identical copy of a clustered doc
  joins that cluster). Old-old edges were found by the batch that added the
  younger doc, so per-batch cost follows the delta, not the corpus.
- **Cluster stitching** — prior assignments enter CC as doc -> cluster_id
  edges (``prior_edges``), which keep old clusters intact and merge them
  when a new doc bridges two.

**The batch's new docs are computed once.** ``truly_new`` is the batch
minus the urls that already have a committed DOCS row (the anti-join runs
only against the DOCS urls, so their doc_id dedup is not needed). It is
materialized with one eager ``localCheckpoint`` and then read by features,
exact, the LSH delta ids, the CC docs and the CLUSTERS and DOCS snapshot
writes; otherwise each of those would re-run the source scan and the
anti-join. Snapshot reads take their schema from the manifest and
snapshot lineage comes from Parquet footers (``catalog.py``), so the
catalog's own bookkeeping starts no Spark job.

**Every stage is a delta stage.** DOCS/FEATURES snapshots hold only the
batch's new rows; CLUSTERS snapshots hold only assignments that CHANGED
this batch (new docs + old docs whose cluster_id or winner flag flipped via
bridging). Readers reconstruct current state from the snapshot list:
docs/features dedupe by doc_id, clusters resolve latest-wins by
``batch_seq`` (:func:`read_clusters`). At 10^12 docs a batch therefore
writes O(delta), never O(corpus) — the round-2 implementation rewrote the
full assignment every batch.

**Compaction** bounds that window with one merge body (:func:`_compact`):
a full compaction rewrites a stage's active snapshots, a minor one only the
deltas after its base.

**Crash recovery.** Within a batch the write order is FEATURES → CLUSTERS →
DOCS, and *idempotence keys off DOCS* (the last write = the commit marker):
a resubmitted url is "new" until its DOCS row exists. A crash between any
two writes therefore causes the retry to reprocess the batch in full — the
half-written features/clusters rows are superseded by doc_id-dedup /
latest-wins on read. (The round-2 ordering wrote DOCS first; a crash after
it left resubmitted docs permanently unclustered, because delta mode
assumes every DOCS member already has an assignment.)
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.catalog import SnapshotCatalog
from product_deduplication_spark.config import DedupConfig
# dedup_stages calls the operators below through this module (its ``ops``)
from product_deduplication_spark.functions.features import with_features
from product_deduplication_spark.operators.connected_components import (
    assign_clusters,
    assign_clusters_contracted,
)
from product_deduplication_spark.operators.exact_dedup import exact_duplicate_edges
from product_deduplication_spark.operators.lsh import candidate_pairs
from product_deduplication_spark.operators.verify import verify_pairs
from product_deduplication_spark.pipeline import dedup_stages, pick_winners, prepare_docs

DOCS_STAGE = "inc_docs"
FEATURES_STAGE = "inc_features"
CLUSTERS_STAGE = "inc_clusters"
# catalog layout version. 2 = all-delta stages + batch_seq'd clusters +
# precomputed band hashes in features; 3 = 32-bit shingle sets (array<int>);
# 4 = every snapshot's schema in its manifest line (reads infer nothing);
# 5 = warc_ts in DOCS (winners order by the earliest crawl, as in run_dedup).
# Catalogs written by older code would silently corrupt state (or fail the
# features union with a type mismatch) — refuse loudly instead.
FORMAT_VERSION = 5


def _latest_per_doc(union: DataFrame) -> DataFrame:
    """One row per doc_id: the one with the highest ``batch_seq``."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_seq"))
    return union.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def read_clusters(catalog: SnapshotCatalog) -> DataFrame:
    """Current full assignment from the delta snapshots: latest-wins per
    doc_id by ``batch_seq`` (the Iceberg-style merge-on-read). Reads the
    ACTIVE snapshots only, so after a compaction the merge-on-read window
    is one full-state snapshot plus the deltas since."""
    entries = catalog.active_snapshots(CLUSTERS_STAGE)
    if not entries:
        raise FileNotFoundError(f"no snapshot for stage {CLUSTERS_STAGE!r}")
    return _latest_per_doc(catalog.read_entries(entries)).drop("batch_seq")


def _check_format(catalog: SnapshotCatalog) -> None:
    entry = catalog.latest(DOCS_STAGE)
    fmt = (entry.get("metrics") or {}).get("format") if entry else None
    if fmt != FORMAT_VERSION:
        raise RuntimeError(
            f"incremental catalog at {catalog.root!r} has format {fmt!r}, this "
            f"code writes format {FORMAT_VERSION}: old snapshots lack the "
            "schema in their manifest lines (format < 4), warc_ts in DOCS "
            "(format < 5), the precomputed band-hash column or delta "
            "clusters snapshots. Rebuild the "
            "catalog (re-run bootstrap)."
        )


def _compact(catalog: SnapshotCatalog, full: bool) -> None:
    """The one compaction merge, stage by stage: read the stage's ACTIVE
    snapshots (``full``) or only the deltas after its base (skipping a stage
    with fewer than two), merge them the way the read path does — DOCS and
    FEATURES by doc_id-dedup, CLUSTERS latest-wins per doc_id — and write
    the merge as one snapshot that replaces what it read. CLUSTERS rows keep
    their ``batch_seq``: every later delta is stamped
    ``len(snapshots(CLUSTERS))``, larger than every seq already written, so
    latest-wins on read is unchanged.

    Each stage is committed by its manifest append AFTER its parquet write,
    so a crash mid-compaction leaves every stage readable (at worst an
    orphan data directory), and the full manifest history stays
    time-travelable via ``catalog.snapshots``. Compaction assumes a single
    writer per stage: the commit carries the latest snapshot id observed
    before the stage's read, so a delta batch landing mid-compaction raises
    ``ConcurrentSnapshotError`` instead of being silently truncated out of
    the active set."""
    fmt = {"format": FORMAT_VERSION, "compaction": True if full else "minor"}
    for stage in (FEATURES_STAGE, CLUSTERS_STAGE, DOCS_STAGE):
        latest = catalog.latest(stage)
        entries = catalog.active_snapshots(stage)
        if not full:
            entries = [e for e in entries if not e.get("replaces_prior")]
            if len(entries) < 2:
                continue
        union = catalog.read_entries(entries)
        if stage == CLUSTERS_STAGE:
            merged = _latest_per_doc(union)
        else:
            merged = union.dropDuplicates(["doc_id"])
        catalog.write_stage(
            merged,
            stage,
            metrics=fmt,
            replaces_prior=full,
            replaces_ids=None if full else [e["snapshot_id"] for e in entries],
            expected_latest_id=latest["snapshot_id"] if latest else None,
        )


def compact_snapshots(catalog: SnapshotCatalog) -> None:
    """FULL compaction: rewrite each stage's CURRENT state as one
    ``replaces_prior`` snapshot, truncating the read-side union (Iceberg
    analog: a rewrite-data-files commit). I/O is O(state)."""
    _compact(catalog, full=True)


def compact_deltas(catalog: SnapshotCatalog) -> None:
    """MINOR (size-tiered) compaction: merge only the deltas after each
    stage's base into one ``replaces_ids`` snapshot, leaving the base
    untouched. I/O is proportional to the delta volume, not the state."""
    _compact(catalog, full=False)


def incremental_dedup(
    spark,
    catalog: SnapshotCatalog,
    new_docs: DataFrame,
    cfg: DedupConfig | None = None,
    auto_compact: int | None = 16,
    compact_tier_fraction: float = 0.5,
) -> DataFrame:
    """Process a batch of new docs against the catalog state; snapshots the
    per-batch deltas and returns the updated full cluster assignment.

    ``auto_compact``: when the ACTIVE snapshot count of the clusters stage
    exceeds this after the batch commits, a compaction runs — bounding every
    subsequent read's union width. None disables. The compaction is
    SIZE-TIERED: if the accumulated delta rows are under
    ``compact_tier_fraction`` of the base snapshot's rows, only the deltas
    are merged (``compact_deltas`` — I/O proportional to delta volume);
    otherwise, or when no base exists yet, the full state is rewritten
    (``compact_snapshots``). At 10^12 docs this is the difference between a
    bounded housekeeping job every N batches and an O(corpus) rewrite."""
    cfg = cfg or DedupConfig()
    new_prepared = prepare_docs(new_docs, cfg).select("url", "doc_id", "warc_ts", "text")

    # DOCS is the commit marker (written LAST) — its presence defines both
    # bootstrap and which docs count as already-processed
    bootstrap = not catalog.has_stage(DOCS_STAGE)
    # truly_new is materialized once (module docstring): every consumer
    # below reads the checkpoint instead of re-running the source scan and
    # the anti-join. The stages look each operator up on this module, so one
    # patched here (the benchmark tracer's delta layers) is the one they call
    ops = sys.modules[__name__]
    if bootstrap:
        truly_new = new_prepared.localCheckpoint()
        res = dedup_stages(ops, truly_new, cfg)
    else:
        _check_format(catalog)
        old_docs = catalog.read_stage_union(DOCS_STAGE)
        # idempotence: drop re-submitted urls that COMMITTED (have a DOCS row)
        truly_new = new_prepared.join(old_docs.select("url"), "url", "left_anti").localCheckpoint()
        # union of ALL prior delta snapshots — not just the latest batch
        # (a batch-3 doc must still LSH-collide with a batch-1 doc).
        # dropDuplicates(doc_id): a crash between FEATURES and DOCS writes
        # leaves the retried batch's features twice across snapshots.
        old_feats = catalog.read_stage_union(FEATURES_STAGE).dropDuplicates(["doc_id"])
        old_assign = read_clusters(catalog)
        res = dedup_stages(
            ops,
            old_docs.dropDuplicates(["doc_id"]).unionByName(truly_new),
            cfg,
            new_docs=truly_new,
            prior_features=old_feats,
            prior_edges=old_assign.select(F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst")),
        )
    clusters = res.clusters.select("url", "doc_id", "cluster_id", "is_winner")

    # the CLUSTERS delta: new docs + old docs whose assignment or winner
    # flag changed (a new doc can bridge two old clusters or unseat an old
    # winner). Everything else is already correct in prior snapshots.
    if bootstrap:
        delta_clusters = clusters
    else:
        old_cmp = old_assign.select(
            "doc_id",
            F.col("cluster_id").alias("_old_cid"),
            F.col("is_winner").alias("_old_win"),
        )
        delta_clusters = (
            clusters.join(old_cmp, "doc_id", "left")
            .where(
                F.col("_old_cid").isNull()
                | (F.col("_old_cid") != F.col("cluster_id"))
                | (F.col("_old_win") != F.col("is_winner"))
            )
            .drop("_old_cid", "_old_win")
        )
    batch_seq = len(catalog.snapshots(CLUSTERS_STAGE))
    delta_clusters = delta_clusters.withColumn("batch_seq", F.lit(batch_seq))

    # write order = crash-safety order (module docstring): FEATURES first
    # (harmless extras if the batch dies here), CLUSTERS next, DOCS last as
    # the commit marker that flips the batch to "processed"
    fmt = {"format": FORMAT_VERSION}
    catalog.write_stage(res.features, FEATURES_STAGE, metrics=fmt)
    catalog.write_stage(
        delta_clusters,
        CLUSTERS_STAGE,
        metrics=fmt | {"bootstrap": bootstrap, "batch_seq": batch_seq},
    )
    catalog.write_stage(truly_new, DOCS_STAGE, metrics=fmt)
    # an ingest loop runs one batch after another in one long-lived session,
    # so the batch's caches go before it returns (see caching.py)
    res.release()
    if auto_compact is not None:
        active = catalog.active_snapshots(CLUSTERS_STAGE)
        if len(active) > auto_compact:
            base = active[0] if active[0].get("replaces_prior") else None
            delta_rows = sum(
                e["rows"] for e in active if not e.get("replaces_prior")
            )
            if base is None or delta_rows >= compact_tier_fraction * base["rows"]:
                compact_snapshots(catalog)
            else:
                compact_deltas(catalog)
    return read_clusters(catalog)
