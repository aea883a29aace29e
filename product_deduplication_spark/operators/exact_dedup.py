"""Exact-duplicate detection via content hash (cheap first pass).

Webtext analog of the reference's exact-raw-name duplicate pass
(``reference/heuristic_ucpc_dups.py:232-264``, SURVEY.md V8): instead of
grouping on raw_item_name we group on ``sha2(text, 256)``. Emitting star
edges (min doc_id ↔ member) keeps a group of n identical docs at O(n) edges —
no pairwise blowup for boilerplate pages, and connectivity under CC is
identical to the full clique.

Scale: one hash-shuffle on a 64-char key. min/count come from window
functions over that single exchange — the former groupBy + join-back scanned
(and sha2-hashed) the corpus twice and shuffled the (node, h) relation twice
(unique content hashes defeat partial aggregation, so the agg exchange
carried ~one row per doc anyway). No skew issue beyond a single pathological
identical-page key, which the star construction already bounds to O(n) rows
on one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def exact_duplicate_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delta_ids: DataFrame | None = None,
) -> DataFrame:
    """Edges (src, dst, method='exact', similarity=1.0) linking each doc to
    the min-id doc with byte-identical text.

    ``delta_ids``: optional one-column DataFrame of node ids considered
    "new" (as in ``lsh.candidate_pairs``); when given, only the hash classes
    that contain a new id emit edges. Old-only classes were linked by the
    batch that formed them; a touched class emits its whole star, since a
    new doc may become its min-id hub."""
    hashed = df.select(F.col(id_col).alias("node"), F.sha2(F.col(text_col), 256).alias("h"))
    w = Window.partitionBy("h")
    touched = F.lit(True)
    if delta_ids is not None:
        new_nodes = delta_ids.select(
            F.col(delta_ids.columns[0]).alias("node"), F.lit(True).alias("_n")
        )
        hashed = hashed.join(new_nodes, "node", "left")
        touched = F.max(F.coalesce(F.col("_n"), F.lit(False))).over(w)
    return (
        hashed.select(
            "node",
            F.min("node").over(w).alias("hub"),
            F.count("*").over(w).alias("n"),
            touched.alias("_touched"),
        )
        .where(F.col("_touched") & (F.col("n") > 1) & (F.col("node") != F.col("hub")))
        .select(
            F.col("hub").alias("src"),
            F.col("node").alias("dst"),
            F.lit("exact").alias("method"),
            F.lit(1.0).alias("similarity"),
        )
    )
