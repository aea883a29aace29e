"""End-to-end near-duplicate pipeline (SURVEY.md §7.1 architecture).

ingest(url, warc_ts, html, text, lang)
  → s1_docs:       doc_id = xxhash64(url), optional extract_text(html)
                   invariance check, html dropped
  → s2_features:   shingles + MinHash + SimHash (one Arrow UDF pass)
  → s3_exact:      sha2(text) star edges
  → s4_candidates: LSH band candidates (+ SimHash candidates)
  → s5_verified:   exact Jaccard
  → cluster: contracted CC (exact stars folded into their hubs; graphs up
       to LOCAL_MAX_EDGES labelled on the driver, larger ones by the
       large-star/small-star loop; a delta batch instead runs plain CC
       over exact ∪ near ∪ prior-assignment edges)
  → winner per cluster (longest text, earliest warc_ts tiebreak — webtext
       analog of winner selection, reference/winner_selection.py:108-109)

Mirrors the reference entry point ``groups_creation.main``
(``reference/groups_creation.py:249-304``) with the substitutions documented
in SURVEY.md §2. ``dedup_stages`` is the one definition of this sequence
(s2 onwards): ``run_dedup`` is ``prepare_docs`` followed by one call, and
every ``streaming.incremental`` batch is one call over the catalog state.
The stages are lazy DataFrames unless the ``checkpoint`` hook materializes
them (the spark-submit job snapshots each one through the catalog).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.caching import CacheScope
from product_deduplication_spark.config import DedupConfig
# dedup_stages calls the operators below through this module (its ``ops``)
from product_deduplication_spark.functions.features import make_extract_text_udf, with_features
from product_deduplication_spark.operators.connected_components import (
    assign_clusters_contracted,
)
from product_deduplication_spark.operators.exact_dedup import exact_duplicate_edges
from product_deduplication_spark.operators.lsh import candidate_pairs
from product_deduplication_spark.operators.simhash_join import simhash_candidate_pairs
from product_deduplication_spark.operators.verify import verify_pairs

# run_dedup's stages, in order, as named to its checkpoint hook
STAGES = ("s1_docs", "s2_features", "s3_exact", "s4_candidates", "s5_verified")


@dataclass
class DedupResult:
    docs: DataFrame        # url, warc_ts, lang, text, doc_id
    features: DataFrame    # doc_id, shingles, minhash, simhash
    exact_edges: DataFrame # src, dst, method, similarity
    near_edges: DataFrame  # verified near-dup edges
    all_edges: DataFrame
    clusters: DataFrame    # url, doc_id, cluster_id, is_winner
    # every cache the pipeline created (features + operator-internal
    # persists); callers release after materializing whichever outputs they
    # need — required when running the pipeline repeatedly in one session
    caches: CacheScope = field(default_factory=CacheScope)

    def release(self) -> None:
        """Unpersist every cache this run created (features, LSH bucket
        members, CC contraction mapping). Re-reading a DedupResult DataFrame
        afterwards recomputes it from source."""
        self.caches.release()


def prepare_docs(df: DataFrame, cfg: DedupConfig, validate_extraction: bool = False) -> DataFrame:
    """Stage s1: doc ids + optional byte-identical extraction check.

    ``doc_id = xxhash64(url)`` gives long node ids for all downstream joins
    (cf. integer encoding rationale, reference/static.py:267-271). Every doc
    carries a ``warc_ts`` (a NULL timestamp when the input has none), so
    ``pick_winners`` orders by it at every entry point and snapshots of
    batches with and without the column share one schema.
    """
    out = df.withColumn("doc_id", F.xxhash64("url"))
    if "warc_ts" not in df.columns:
        out = out.withColumn("warc_ts", F.lit(None).cast("timestamp"))
    if validate_extraction and "html" in df.columns:
        extract = make_extract_text_udf()
        out = out.withColumn("_extracted", extract(F.col("html")))
        # invariant (input_hint): extracted text byte-identical to text column
        out = out.withColumn(
            "extraction_ok", F.col("_extracted") == F.col("text")
        ).drop("_extracted")
    return out


def eligible_docs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Docs long enough for the exact and near-dup stages; the rest (NULL
    and "" texts included) stay singletons."""
    return docs.where(F.length("text") >= cfg.min_doc_chars)


def pick_winners(clusters: DataFrame, length_col: str | None = None) -> DataFrame:
    """Winner per cluster: longest text, then earliest warc_ts, then min url.

    Webtext analog of reference winner selection (W2 group argmax,
    ``reference/winner_selection.py:108-109``).

    ``length_col`` names a precomputed ``length(text)`` column (the engine
    tags ``_text_len`` on the docs BEFORE the cluster-label join):
    ``length(text)`` referenced only above that join forces the full
    ``text`` payload through the join exchange even for consumers that never
    select it, whereas a length computed below the join lets column pruning
    drop ``text`` (and ``html``) from the shuffle entirely (guide §2.3 —
    shuffle metadata, not payloads). Identical ordering either way."""
    order = [F.desc(F.col(length_col) if length_col else F.length("text"))]
    if "warc_ts" in clusters.columns:
        order.append(F.asc("warc_ts"))
    order.append(F.asc("url"))
    w = Window.partitionBy("cluster_id").orderBy(*order)
    return clusters.withColumn("is_winner", F.row_number().over(w) == 1)


def dedup_stages(
    ops,
    docs: DataFrame,
    cfg: DedupConfig,
    new_docs: DataFrame | None = None,
    prior_features: DataFrame | None = None,
    prior_edges: DataFrame | None = None,
    use_simhash: bool = False,
    checkpoint: Callable[[str, Callable[[], DataFrame]], DataFrame] | None = None,
) -> DedupResult:
    """Stages s2-s5, CC and winners over the prepared ``docs`` (all of them).

    Delta mode (``new_docs``): only ``new_docs`` are hashed, and exact and
    LSH emit only edges with a new end (``delta_ids``). ``prior_features``
    (the features of every doc not in ``new_docs``) join the LSH and verify
    inputs; ``prior_edges`` (doc_id -> prior cluster_id as src, dst) keep
    the prior clusters connected. ``res.features`` holds only the rows this
    call hashed. SimHash candidates are not delta-restricted, so a delta
    caller leaves ``use_simhash`` off.

    ``ops`` is the calling module: every operator is looked up on it
    (``ops.verify_pairs``), so one patched on ``pipeline`` or
    ``streaming.incremental`` (the benchmark tracer labels its layers that
    way) is the one that run calls. It must carry the operators the call
    reaches (``assign_clusters`` only with ``prior_edges``)."""
    checkpoint = checkpoint or (lambda _stage, compute: compute())
    scope = CacheScope()
    hashed = docs if new_docs is None else new_docs
    delta_ids = None if new_docs is None else new_docs.select("doc_id")

    # features feed 2-3 downstream consumers (and a delta caller's snapshot
    # write) — cache once
    feats = scope.persist(checkpoint(
        "s2_features",
        lambda: ops.with_features(eligible_docs(hashed, cfg).select("doc_id", "text"), cfg, simhash=use_simhash)
        .select("doc_id", "shingles", "minhash", "simhash", "bands"),
    ))
    all_feats = feats if prior_features is None else scope.persist(prior_features.unionByName(feats))
    exact = checkpoint(
        "s3_exact",
        lambda: ops.exact_duplicate_edges(eligible_docs(docs, cfg), "doc_id", "text", delta_ids=delta_ids),
    )

    def candidates() -> DataFrame:
        pairs = ops.candidate_pairs(all_feats, cfg, delta_ids=delta_ids, scope=scope)
        if use_simhash:
            pairs = pairs.unionByName(ops.simhash_candidate_pairs(all_feats)).dropDuplicates(["src", "dst"])
        return pairs

    pairs = checkpoint("s4_candidates", candidates)
    near = checkpoint("s5_verified", lambda: ops.verify_pairs(pairs, all_feats, cfg))

    # winner ordering key computed BELOW the label join (see pick_winners:
    # lets count-only consumers prune text out of the join exchange)
    docs_len = docs.withColumn("_text_len", F.length("text"))
    star, near_sd = exact.select("src", "dst"), near.select("src", "dst")
    if prior_edges is None:
        # exact-dup classes are star components already — contract them to
        # their min-id hubs so the iterative CC runs on the near-dup graph
        # only (label equality with the uncontracted CC is pinned in tests;
        # at web scale the exact stars dominate the edge list)
        clustered = ops.assign_clusters_contracted(docs_len, star, near_sd, "doc_id", scope=scope)
    else:
        # the prior edges are doc -> cluster stars over the whole state;
        # contracting a delta batch's exact stars was measured not to pay
        clustered = ops.assign_clusters(docs_len, star.unionByName(near_sd).unionByName(prior_edges), "doc_id")
    clustered = ops.pick_winners(clustered, "_text_len").drop("_text_len")
    return DedupResult(
        docs=docs,
        features=feats,
        exact_edges=exact,
        near_edges=near,
        all_edges=exact.unionByName(near).dropDuplicates(["src", "dst"]),
        clusters=clustered,
        caches=scope,
    )


def run_dedup(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    use_simhash: bool = False,
    validate_extraction: bool = False,
    checkpoint: Callable[[str, Callable[[], DataFrame]], DataFrame] | None = None,
) -> DedupResult:
    """Run the batch pipeline over ``df``: ``prepare_docs``, then
    ``dedup_stages``.

    ``checkpoint(stage, compute)`` is called once per name in ``STAGES``, in
    order, and returns that stage's DataFrame; ``compute`` builds it. The
    default returns ``compute()``, so every stage stays lazy. A catalog's
    ``get_or_compute`` snapshots each stage instead and resumes from the
    snapshots already written."""
    cfg = cfg or DedupConfig()
    checkpoint = checkpoint or (lambda _stage, compute: compute())
    docs = checkpoint(
        "s1_docs",
        lambda: prepare_docs(df, cfg, validate_extraction=validate_extraction).drop("html"),
    )
    return dedup_stages(sys.modules[__name__], docs, cfg, use_simhash=use_simhash, checkpoint=checkpoint)
