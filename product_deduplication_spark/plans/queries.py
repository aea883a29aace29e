"""Operator-coverage queries + DuckDB oracle SQL.

Every entry re-expresses one or more reference operators from SURVEY.md §2
(reference file:line cited per query). Conventions required by the driver's
comparator (CORRECTNESS_r{N}.json):

- every computed column is aliased IDENTICALLY in Spark and SQL;
- float aggregates are rounded (4-6 dp) on BOTH sides so value hashes match
  despite summation-order differences;
- integer sums are cast to BIGINT on both sides (DuckDB sum() widens to
  HUGEINT, Spark stays long);
- orderings that feed limits/ranks are made total with id tie-breakers.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; the oracle
dict maps the same key to DuckDB SQL over pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.datagen import wrap_documents_spark


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# scans / projections / filters (SURVEY §2.1, §2.2)
# --------------------------------------------------------------------------

def q_scan_filter_project(spark, sf):
    """P1/P11/S1: pushed-down filter + column-pruned projection
    (reference/groups_creation.py:46-49 select; static.py:28 null filter)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where((F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 25))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def q_normalize_lower_trim(spark, sf):
    """P3 lower+strip (reference/static.py:26)."""
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey", F.lower(F.trim(F.col("c_mktsegment"))).alias("segment_norm")
    )


def q_regex_replace_strip(spark, sf):
    """P5 regex special-char strip (reference/static.py:29)."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace(F.col("p_name"), "[^0-9a-zA-Z. ]", "").alias("name_clean"),
    )


def q_regexp_extract_package(spark, sf):
    """P13/P14 regex group extract (reference/heuristic_ucpc_dups.py:43-45,
    static.py:111-125): first token as 'brand', last as 'form'."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("brand_word"),
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("form_word"),
    )


def q_conditional_flag(spark, sf):
    """P15 np.where flag (reference/agg_barcodes_to_winner.py:35-36) +
    P17 length predicate (:148-149)."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_size") < 7, 1).otherwise(0).alias("is_small"),
        F.when(F.col("p_type").contains("ECONOMY"), 1).otherwise(0).alias("is_economy"),
    )


def q_json_extract(spark, sf):
    """S-analog: typed extraction from a string payload column (the
    reference smuggles arrays through strings, SURVEY §1.2)."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


# --------------------------------------------------------------------------
# joins (SURVEY §2.3)
# --------------------------------------------------------------------------

def q_join_inner(spark, sf):
    """J1 inner equi-join (reference/static.py:224): revenue per market
    segment. Broadcast-eligible dim side (customer)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_join_left_enrich(spark, sf):
    """J4 left enrichment join (reference/winner_selection.py:104):
    events enriched with customer segment; unmatched user_ids keep NULL."""
    e = _t(spark, sf, "events")
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("n_events"))
    )


def q_semi_join(spark, sf):
    """J5 isin semi-join (reference/bivariate_comparison.py:110)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def q_anti_join(spark, sf):
    """J6 ~isin anti-join (reference/clean_canonical.py:121): customers with
    no big-ticket order (threshold keeps the result non-trivial at sf0.01)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


# --------------------------------------------------------------------------
# aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------

def q_groupby_agg(spark, sf):
    """A1/A2/A6 grouped count/sum/mean-std (reference/static.py:305,310;
    winner_selection.py:76-77) — TPC-H Q1 shape."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


def q_distinct(spark, sf):
    """A4 drop_duplicates (reference/static.py:181)."""
    li = _t(spark, sf, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_scalar_aggs(spark, sf):
    """A8 len(set(col)) count-distinct (reference/validation.py:10-36) +
    A7 max() for id assignment (reference/clean_canonical.py:47) — two
    scalar aggregates crossed into one row."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    cd = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
    )
    mx = o.agg(
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return cd.crossJoin(mx)


def q_keep_first_argmax(spark, sf):
    """A5 sort-desc + keep-first dedup = per-key argmax
    (reference/static.py:311-314, match_barcode.py:118-119)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("best_price"))
    )


def q_string_concat_agg(spark, sf):
    """A3 group string-concat agg (reference/agg_barcodes_to_winner.py:50-51)
    — sorted, distinct, comma-joined."""
    s = _t(spark, sf, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("s_name")), ",").alias("names_csv")
    )


def q_pareto_cumsum(spark, sf):
    """A10 pareto cumulative share (reference/groups_creation.py:81-99):
    top parts by revenue with running share of total. Uses the two-pass
    range-partitioned ordered_cumsum (SURVEY §4.4) — NO single-partition
    global window, so the plan scales with partitions."""
    from product_deduplication_spark.operators.canonical import ordered_cumsum

    li = _t(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("rev")
    )
    cum, total = ordered_cumsum(
        per_part, [F.desc("rev"), F.asc("l_partkey")], "rev", "_cum"
    )
    return (
        cum.withColumn("cum_rev", F.round(F.col("_cum"), 2))
        .withColumn("share_pct", F.round(F.col("_cum") / F.lit(total) * 100, 4))
        .where(F.col("share_pct") <= 10.0)
        .select("l_partkey", "rev", "cum_rev", "share_pct")
    )


def q_dup_flag(spark, sf):
    """A11 duplicated-key flag (reference/heuristic_ucpc_dups.py:235)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("n_orders_cust", F.count("*").over(w).cast("long"))
        .withColumn("is_dup", (F.col("n_orders_cust") > 1).cast("int"))
        .select("o_orderkey", "o_custkey", "n_orders_cust", "is_dup")
    )


# --------------------------------------------------------------------------
# windows (SURVEY §2.5)
# --------------------------------------------------------------------------

def q_window_lag(spark, sf):
    """W1 shift(1) compare (reference/agg_barcodes_to_winner.py:162-164)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
    )


def q_group_argmax(spark, sf):
    """W2 idxmax winner (reference/winner_selection.py:108-109): the user
    with the max total value per event type (rank window, deterministic
    tie-break — same shape as the winner argmax)."""
    e = _t(spark, sf, "events")
    per = e.groupBy("event_type", "user_id").agg(F.round(F.sum("value"), 4).alias("tot"))
    w = Window.partitionBy("event_type").orderBy(F.desc("tot"), F.asc("user_id"))
    return (
        per.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("top_user"), F.col("tot").alias("top_value"))
    )


def q_first_vs_rest(spark, sf):
    """W3 first-record-vs-rest split (reference/heuristic_ucpc_dups.py:240-248)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .withColumn("is_first", (F.col("rn") == 1).cast("int"))
        .select("o_orderkey", "o_custkey", "is_first")
    )


# --------------------------------------------------------------------------
# sorts / limits / top-k (SURVEY §2.6)
# --------------------------------------------------------------------------

def q_topk_orders(spark, sf):
    """O1/O3 multi-key sort + head-n (reference/static.py:87-96,213)."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# set ops / reshaping (SURVEY §2.7)
# --------------------------------------------------------------------------

def q_union_distinct(spark, sf):
    """U1/U2 concat + set-union (reference/static.py:155-157,
    bivariate_comparison.py:154): one id space over two entity tables."""
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("entity_id"))
    s = _t(spark, sf, "supplier").select(F.col("s_suppkey").alias("entity_id"))
    return (
        c.withColumn("side", F.lit("customer"))
        .unionByName(s.withColumn("side", F.lit("supplier")))
        .groupBy("entity_id")
        .agg(
            F.count("*").cast("long").alias("n_sides"),
            F.array_join(F.array_sort(F.collect_set("side")), ",").alias("sides"),
        )
    )


def q_unpivot(spark, sf):
    """U3 melt wide→long (reference/static.py:228, agg_images.py:27)."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size_val"),
        F.col("p_retailprice").alias("price_val"),
    ).unpivot("p_partkey", ["size_val", "price_val"], "metric", "metric_value")


def q_explode_tokens(spark, sf):
    """U4 split+explode (reference/agg_barcodes_to_winner.py:11-16):
    token frequency over part names."""
    p = _t(spark, sf, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# documents: text analysis / dedup query surface (north_rule + training-data ops)
# --------------------------------------------------------------------------

def q_exact_dup_groups(spark, sf):
    """V8 exact duplicate detection via content hash
    (reference/heuristic_ucpc_dups.py:232-264 → sha2 groupBy). The testdata
    corpus has no full-text exact dups at sf0.01, so the hash key is the
    text prefix — same hash-groupBy dedup shape, non-trivial result."""
    d = _t(spark, sf, "documents")
    counts = (
        d.select("doc_id", F.sha2(F.substring("text", 1, 8), 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").cast("long").alias("group_size"), F.min("doc_id").alias("leader"))
    )
    return counts.where(F.col("group_size") > 1).select("text_hash", "leader", "group_size")


def q_text_quality_stats(spark, sf):
    """Text-analysis suite in one scan (training-data ops, merged so every
    operator's row fits the driver's 50-query CORRECTNESS window):
    token counting (P8 analog, reference/static.py:46), quality scoring
    (weighted-completeness shape of reference/winner_selection.py:28-64),
    and the language-ID stop-word heuristic."""
    d = _t(spark, sf, "documents")
    stop = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    avg_tok_len = (F.length("text") - n_tok + 1) / n_tok
    quality = (
        0.4 * F.least(n_tok / F.lit(300.0), F.lit(1.0))
        + 0.4 * (n_uniq / n_tok)
        + 0.2 * F.least(avg_tok_len / F.lit(8.0), F.lit(1.0))
    )
    n_stop = F.size(F.filter(toks, lambda x: x.isin(stop)))
    ratio = F.round(n_stop / n_tok, 4)
    return d.select(
        "doc_id",
        "lang",
        n_tok.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_unique_tokens"),
        F.round(quality, 4).alias("quality"),
        ratio.alias("stopword_ratio"),
        (ratio >= 0.03).cast("int").alias("looks_en"),
    )


def q_fingerprint_bigrams(spark, sf):
    """Document fingerprinting (min/max token digest — order-insensitive
    content fingerprint) + n-gram shingling stats (V1 analog: k-shingle
    cardinality per doc), one scan."""
    d = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    uniq = F.array_distinct(toks)
    hashed = F.transform(uniq, lambda t: F.md5(t))
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    bigrams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return d.select(
        "doc_id",
        F.array_min(hashed).alias("fp_min"),
        F.array_max(hashed).alias("fp_max"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_unique_bigrams"),
    )


def q_token_jaccard_pairs(spark, sf):
    """n-gram Jaccard near-dup (training-data dedup op; V4 verification
    analog, reference/static.py:203-215): token-set Jaccard >= 0.5 for
    query docs (doc_id < 50) vs the corpus.

    ORACLE-PARITY TWIN: this is the brute-force theta join, kept because it
    is directly SQL-expressible for the DuckDB comparator. The ENGINE path
    for the same question is :func:`q_token_jaccard_lsh` (LSH candidates +
    exact verify — same oracle, no O(q x corpus) join)."""
    d = _t(spark, sf, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    a = d.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a")
    )
    b = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def token_jaccard_lsh_impl(docs: DataFrame, query_pred, shuffle_partitions: int):
    """LSH band-PROBE token-Jaccard: the delta specialization of LSH banding
    for a small query set. Every doc is banded once (MinHash over token
    1-gram shingles, r=2 rows x 63 bands — S-curve 1-(1-s^2)^63 ~ 1-1e-8 at
    s=0.5, so a >= 0.5 pair misses every band with P ~ 1e-8); each bucket's
    colliding query ids are collected with a window over the banded corpus,
    emitting (query, member) candidates DIRECTLY — no bucket statistics, no
    pair enumeration, so cost is linear in actual band collisions. Exact
    token-set Jaccard (JVM array ops, identical expressions to the theta
    twin) verifies candidates.

    Complete for (query, any) pairs by construction (a bucket window cannot
    drop a colliding pair, unlike hub-star bucket approximations).

    Scale note (measured at sf0.1): this corpus is pathologically dense —
    78% of (query, corpus) pairs sit above the 0.5 threshold — so NO
    candidate scheme can beat the brute-force theta join there (output ~
    comparison space). The LSH path's advantage is structural: probe cost
    scales with band collisions, not |queries| x |corpus|; bench.py
    demonstrates the crossover on the sparse webtext corpus.
    """
    from product_deduplication_spark.functions.features import with_features
    from product_deduplication_spark.operators.lsh import explode_bands

    cfg = DedupConfig(
        shingle_mode="token",
        shingle_k=1,
        num_hashes=126,
        lsh_bands=63,
        jaccard_threshold=0.5,
        shuffle_partitions=shuffle_partitions,
    )
    feats = with_features(docs.select("doc_id", "text"), cfg, simhash=False).select(
        "doc_id", "bands"
    )
    # candidates in ONE pass over the banded corpus: a bucket window collects
    # the query ids colliding in each (band, hash) bucket and every member
    # pairs with them. The former probe self-join referenced the band
    # relation twice, which (uncached — this is a one-shot query) ran the
    # whole feature UDF + explode once per side; the window keeps a single
    # feature pass and a single exchange, on a packed 1-long bucket key.
    # Query lists stay tiny (bounded by the probe set), so the per-row
    # collect is O(queries-in-bucket), never O(bucket).
    bands = explode_bands(feats)
    qs = F.collect_list(F.when(query_pred(F.col("node")), F.col("node"))).over(
        Window.partitionBy("bkey")
    )
    cand = (
        bands.withColumn("_qs", qs)
        .select("node", F.explode("_qs").alias("qid"))
        .where(F.col("qid") != F.col("node"))
        .select(
            F.least("qid", "node").alias("src"), F.greatest("qid", "node").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    toks = docs.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    a = toks.select(F.col("doc_id").alias("src"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("doc_id").alias("dst"), F.col("toks").alias("toks_b"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| (token arrays are array_distinct sets) —
    # integer-exact, skips materializing the union array per pair; identical
    # jaccard doubles to the theta twin's array_union form
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    # no join hints: the token sides carry sane scan-derived size estimates
    # (plain split of a parquet column, no UDF), so static planning keeps
    # them un-broadcast when they are big, and AQE's runtime-exact sizes
    # broadcast the small candidate side instead of shuffling + sorting the
    # whole token-array relation twice (the former forced merge joins did
    # exactly that even when cand was a few hundred rows).
    return (
        cand.join(a, "src")
        .join(b, "dst")
        .withColumn("jaccard", F.round(inter / union, 4))
        .where(F.col("jaccard") >= 0.5)
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "jaccard")
    )


def q_token_jaccard_lsh(spark, sf):
    """ENGINE path of q_token_jaccard_pairs — identical output via LSH band
    probing (see token_jaccard_lsh_impl). Same DuckDB oracle as the theta
    twin: the driver verifies candidate-generation completeness."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return token_jaccard_lsh_impl(
        d,
        lambda node: node < 50,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def q_knn_cosine(spark, sf):
    """Brute-force cosine top-k similarity search over embeddings
    (training-data op; baseline ANN path). Query set: vec_id < 10."""
    from product_deduplication_spark.operators.knn import brute_force_topk

    e = _t(spark, sf, "embeddings")
    return brute_force_topk(e.where(F.col("vec_id") < 10), e, k=5)


# --------------------------------------------------------------------------
# pipeline self-checks (oracle-backed): the dedup pipeline itself. Pattern
# (same as q_ann_topk's recall_ok): the full non-SQL-expressible computation runs
# Spark-side and is reduced to a deterministic summary row whose invariants a
# DuckDB oracle pins — so the driver's hard CORRECTNESS signal covers the
# iterative/seeded operators too, not just a rows-only count.
# --------------------------------------------------------------------------

def q_minhash_dedup_clusters(spark, sf):
    """Full MinHash/LSH/CC pipeline over the documents table (flagship) as a
    self-check row. The input_hint wrap (url/warc_ts/html columns) is pure
    JVM expressions (wrap_documents_spark) — the corpus never round-trips
    the driver.

    Emits one row the oracle pins:
      n_docs       cluster-assignment rows (must equal count(documents))
      coverage_ok  every input doc assigned to exactly one cluster
      winners_ok   exactly one winner per cluster
      recall_ok    co-cluster recall >= 0.99 against a Spark-computed exact
                   brute-force truth set: all (src < dst) pairs whose exact
                   shingle-set Jaccard >= cfg.jaccard_threshold (the
                   BASELINE.json dup-pair recall gate, evaluated in-query —
                   the full cluster output itself is exercised by entry(),
                   bench.py, and tests/test_pipeline_recall.py)."""
    from product_deduplication_spark.pipeline import run_dedup

    sdf = wrap_documents_spark(_t(spark, sf, "documents"))
    cfg = DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    res = run_dedup(sdf, cfg)
    clusters = res.clusters.select("doc_id", "cluster_id", "is_winner")

    feats = res.features.select("doc_id", "shingles")
    a = feats.select(F.col("doc_id").alias("src"), F.col("shingles").alias("_sh_a"))
    b = feats.select(F.col("doc_id").alias("dst"), F.col("shingles").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    truth = (
        a.join(b, F.col("src") < F.col("dst"))
        .where(
            F.when(union > 0, inter / union).otherwise(F.lit(0.0))
            >= F.lit(cfg.jaccard_threshold)
        )
        .select("src", "dst")
    )
    ca = clusters.select(F.col("doc_id").alias("src"), F.col("cluster_id").alias("_cid_a"))
    cb = clusters.select(F.col("doc_id").alias("dst"), F.col("cluster_id").alias("_cid_b"))
    hits = (
        truth.join(ca, "src").join(cb, "dst").where(F.col("_cid_a") == F.col("_cid_b"))
    )

    stats = clusters.agg(
        F.count("*").alias("_n"),
        F.countDistinct("doc_id").alias("_nd"),
    )
    # per-cluster winner check: count clusters whose winner count != 1 and
    # pin it to zero (the aggregate sum(is_winner) == countDistinct(cluster)
    # form passes when one cluster has two winners and another has zero)
    bad_winner_clusters = (
        clusters.groupBy("cluster_id")
        .agg(F.sum(F.col("is_winner").cast("long")).alias("_w"))
        .where(F.col("_w") != 1)
    )
    row = (
        stats.crossJoin(sdf.agg(F.count("*").alias("_ni")))
        .crossJoin(truth.agg(F.count("*").alias("_nt")))
        .crossJoin(hits.agg(F.count("*").alias("_nh")))
        .crossJoin(bad_winner_clusters.agg(F.count("*").alias("_nbad")))
    )
    recall = F.when(F.col("_nt") > 0, F.col("_nh") / F.col("_nt")).otherwise(F.lit(1.0))
    return row.select(
        F.col("_n").cast("long").alias("n_docs"),
        ((F.col("_n") == F.col("_nd")) & (F.col("_n") == F.col("_ni")))
        .cast("int")
        .alias("coverage_ok"),
        (F.col("_nbad") == 0).cast("int").alias("winners_ok"),
        (recall >= F.lit(0.99)).cast("int").alias("recall_ok"),
    )


def q_simhash_candidates(spark, sf):
    """SimHash Hamming-neighborhood candidate generation as a self-check row
    with a pinned oracle: the pigeonhole chunk equi-join's output is compared
    in-query against a brute-force Hamming theta join over the SAME
    Spark-computed fingerprints.

    The operator's contract (operators/simhash_join.py): for every pair of
    DISTINCT fingerprints within Hamming <= d the representative pair is
    emitted, identical fingerprints star to their min-id hub, and no emitted
    pair exceeds distance d (or has non-identical fps missing entirely).
    The row pins all three as counts that must be zero:
      missed_pairs        brute-force rep pairs absent from the candidates
      extra_pairs         candidates whose fingerprints are > d apart
      missing_star_edges  non-representative docs without their hub edge
      complete_ok         all of the above hold"""
    from product_deduplication_spark.functions.features import with_features
    from product_deduplication_spark.operators.simhash_join import (
        HAMMING_MAX,
        simhash_candidate_pairs,
    )
    from product_deduplication_spark.pipeline import prepare_docs

    sdf = wrap_documents_spark(_t(spark, sf, "documents"))
    cfg = DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    docs = prepare_docs(sdf, cfg)
    feats = with_features(docs.select("doc_id", "text"), cfg)
    fp = feats.select("doc_id", "simhash")
    cand = simhash_candidate_pairs(feats).select("src", "dst")

    reps = fp.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    ra = reps.select(F.col("simhash").alias("_sh_a"), F.col("rep").alias("_ra"))
    rb = reps.select(F.col("simhash").alias("_sh_b"), F.col("rep").alias("_rb"))
    truth = (
        ra.join(rb, F.col("_sh_a") < F.col("_sh_b"))
        .where(
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
            <= F.lit(HAMMING_MAX)
        )
        .select(F.least("_ra", "_rb").alias("src"), F.greatest("_ra", "_rb").alias("dst"))
    )
    missed = truth.join(cand, ["src", "dst"], "left_anti")

    fa = fp.select(F.col("doc_id").alias("src"), F.col("simhash").alias("_fa"))
    fb = fp.select(F.col("doc_id").alias("dst"), F.col("simhash").alias("_fb"))
    extra = (
        cand.join(fa, "src")
        .join(fb, "dst")
        .where(
            F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
            > F.lit(HAMMING_MAX)
        )
    )

    expected_star = (
        fp.join(reps, "simhash")
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
    )
    star_missing = expected_star.join(cand, ["src", "dst"], "left_anti")

    row = (
        missed.agg(F.count("*").alias("_m"))
        .crossJoin(extra.agg(F.count("*").alias("_e")))
        .crossJoin(star_missing.agg(F.count("*").alias("_s")))
    )
    return row.select(
        F.col("_m").cast("long").alias("missed_pairs"),
        F.col("_e").cast("long").alias("extra_pairs"),
        F.col("_s").cast("long").alias("missing_star_edges"),
        ((F.col("_m") == 0) & (F.col("_e") == 0) & (F.col("_s") == 0))
        .cast("int")
        .alias("complete_ok"),
    )


def q_sequential_ids(spark, sf):
    """§4.4 gap-free sequential id assignment (reference/clean_canonical.py:
    47-50) via the range-partitioned two-pass — must equal a global
    row_number() without ever using a single-partition window."""
    from product_deduplication_spark.operators.canonical import assign_sequential_ids

    c = _t(spark, sf, "customer").select("c_custkey")
    return assign_sequential_ids(c, ["c_custkey"], "seq_id", start=1)


def q_winner_scoring(spark, sf):
    """V9 winner scoring (reference/winner_selection.py:25-86): weighted
    completeness + guarded incorrect-scan rate + z-score blend, on an
    inline deterministic fixture (same rows as the SQL VALUES oracle)."""
    from product_deduplication_spark.operators.winner import score_entities

    rows = [
        ("e1", *([1] * 14), 10, 8, 2, 10),
        ("e2", *([0] * 14), 2, 1, 1, 2),
        ("e3", *([1] * 7 + [0] * 7), 100, 90, 10, 6),
        ("e4", *([0] * 7 + [1] * 7), 3, 0, 3, 4),
    ]
    from product_deduplication_spark.operators.winner import ATTRIBUTE_WEIGHTS

    schema = (
        "entity_uuid string, "
        + ", ".join(f"{c} int" for c in ATTRIBUTE_WEIGHTS)
        + ", scans int, correct_scans int, incorrect_scans int, linked_products int"
    )
    df = spark.createDataFrame(rows, schema)
    return score_entities(df).select("entity_uuid", F.round("score", 6).alias("score"))


def q_normalize_reference_chain(spark, sf):
    """P3/P5/P6/P10 reference normalize chain (reference/static.py:24-56)
    over part names — lower/trim, special-char strip, token re-join, promo
    scrub (``product_name``) — plus the P9 lemmatize-identity chain
    (``lemma``: same chain, no regex scrub, lemmatization passes tokens
    through unchanged — no WordNet in the sandbox, documented deviation,
    SURVEY.md P9)."""
    from product_deduplication_spark.functions.normalize import normalize_names

    p = _t(spark, sf, "part").select(
        "p_partkey", F.col("p_name").alias("item_name")
    )
    full = normalize_names(p, "item_name").select("p_partkey", "product_name")
    ident = normalize_names(p, "item_name", regex_clean=False).select(
        "p_partkey", F.col("product_name").alias("lemma")
    )
    return full.join(ident, "p_partkey")


def q_substring_containment(spark, sf):
    """Exact substring dedup (winnow → candidates → byte verify) over
    documents (north_star suffix-array stage; rows-only check)."""
    from product_deduplication_spark.operators.substring import substring_duplicate_edges

    d = _t(spark, sf, "documents").select(
        F.col("doc_id"), F.col("text")
    )
    cfg = DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    return substring_duplicate_edges(d, cfg).select("src", "dst", "similarity")


def q_ann_topk(spark, sf):
    """LSH-bucketed ANN over embeddings as a self-check row with a pinned
    oracle — pins BOTH the operator's output contract and its quality
    (formerly two registry rows; merged so the multimodal self-check fits
    the driver's 50-row window, and so both checks share one ann_topk
    evaluation):
      n_rows        total returned rows (k per query)
      n_queries     distinct queries answered (= count of query vectors)
      per_query_ok  every query returns exactly k rows ranked rk = 1..k
      cos_exact_ok  every returned cos equals an independent exact
                    recomputation from the embedding table (re-rank step is
                    exact, not approximate)
      recall_ok     recall vs the exact brute-force top-k >= 0.9
                    (deterministic: seeded hyperplanes)"""
    from product_deduplication_spark.operators.knn import (
        _cos_expr,
        ann_topk,
        brute_force_topk,
    )

    k = 5
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    res = ann_topk(q, e, k=k, dim=64, n_bits=4, n_tables=16)

    ev = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    )
    qa = ev.select(F.col("vec_id").alias("query_id"), F.col("_v").alias("_qv"))
    ca = ev.select(F.col("vec_id").alias("neighbor_id"), F.col("_v").alias("_cv"))
    bad_cos = (
        res.join(qa, "query_id")
        .join(ca, "neighbor_id")
        .where(F.round(_cos_expr("_qv", "_cv"), 6) != F.col("cos"))
    )
    per_query = res.groupBy("query_id").agg(
        F.count("*").alias("_c"),
        F.min("rk").alias("_mn"),
        F.max("rk").alias("_mx"),
        F.countDistinct("rk").alias("_dr"),
    )
    bad_shape = per_query.where(
        ~((F.col("_c") == k) & (F.col("_mn") == 1) & (F.col("_mx") == k) & (F.col("_dr") == k))
    )
    truth = brute_force_topk(q, e, k=k).select("query_id", "neighbor_id")
    hits = truth.join(
        res.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    )
    row = (
        res.agg(
            F.count("*").alias("_n"), F.countDistinct("query_id").alias("_nq")
        )
        .crossJoin(bad_shape.agg(F.count("*").alias("_bs")))
        .crossJoin(bad_cos.agg(F.count("*").alias("_bc")))
        .crossJoin(truth.agg(F.count("*").alias("_nt")))
        .crossJoin(hits.agg(F.count("*").alias("_nh")))
    )
    return row.select(
        F.col("_n").cast("long").alias("n_rows"),
        F.col("_nq").cast("long").alias("n_queries"),
        (F.col("_bs") == 0).cast("int").alias("per_query_ok"),
        (F.col("_bc") == 0).cast("int").alias("cos_exact_ok"),
        ((F.col("_nh") / F.col("_nt")) >= 0.9).cast("int").alias("recall_ok"),
    )


def q_grocery_parity_clusters(spark, sf):
    """The reference EP1 grocery pipeline end-to-end on a deterministic
    synthetic catalog (rows-only; parity vs the pandas oracle is gated in
    tests/test_parity.py)."""
    from product_deduplication_spark.datagen import generate_raw_catalog
    from product_deduplication_spark.parity import grocery_dedup

    raw = spark.createDataFrame(generate_raw_catalog(n_products=40, seed=7))
    return grocery_dedup(raw)


# --------------------------------------------------------------------------
# fixture-backed operator queries (VALUES oracles): one green CORRECTNESS row
# per remaining SURVEY §2 operator (S2-S4, S6, P4, P7, P9, P12, P18-P20, J3,
# O2, U5/U6, V6, V10, V11 + classification_accuracy)
# --------------------------------------------------------------------------

_CSV_FIXTURE_ROWS = [
    ("uuid-1", "Coca Cola 330ml", 120, "https://img/1.jpg"),
    ("uuid-2", "pepsi max 2l", 45, None),
    ("uuid-3", "Fanta @Promo Orange", 0, "https://img/3.jpg"),
]


def q_csv_roundtrip(spark, sf):
    """S4 CSV sink → S3 typed CSV scan with S2 header offset + column-name
    normalization (reference/match_barcode.py:22-25 rename-after-skip):
    messy headers ('Item UUID') are written, the read normalizes them."""
    import tempfile

    from pyspark.sql import types as T

    from product_deduplication_spark.sources.web_documents import (
        read_csv_catalog,
        write_csv,
    )

    path = tempfile.mkdtemp(prefix="csv_roundtrip_") + "/catalog"
    messy = T.StructType(
        [
            T.StructField("Item UUID", T.StringType()),
            T.StructField("Item Name", T.StringType()),
            T.StructField("Number SKU Sold", T.LongType()),
            T.StructField("Image URL", T.StringType()),
        ]
    )
    write_csv(spark.createDataFrame(_CSV_FIXTURE_ROWS, messy), path)
    return read_csv_catalog(spark, path, schema=messy, normalize_names=True)


_GROUPS_BOOT = [
    (1, "alpha one", "alpha one", "u1", "Alpha One"),
    (1, "alpha one", "alfa one", "u2", "ALFA One"),
    (2, "beta two", "beta two", "u3", "Beta Two"),
]
_GROUPS_UPSERT = [
    # g10: u4 direct-matches existing member 'alfa one' (V11); u5 is fresh
    (10, "alfa one new", "alfa one", "u4", "Alfa One 4"),
    (10, "alfa one new", "alpha uno", "u5", "Alpha Uno"),
    # g11: contains existing canonical LEADER 'beta two' → V10 pinning
    (11, "gamma three", "beta two", "u7", "Beta Two 7"),
    (11, "gamma three", "gamma three", "u6", "Gamma Three"),
]
_GROUPS_SCHEMA = (
    "group_id long, leader string, member string, item_uuid string, item_name string"
)


def q_bootstrap_canonical(spark, sf):
    """S6 first-run branch + J3 join on derived key + §4.4 sequential ids
    (reference/clean_canonical.py:296-336)."""
    from product_deduplication_spark.operators.canonical import bootstrap_canonical

    groups = spark.createDataFrame(_GROUPS_BOOT, _GROUPS_SCHEMA)
    _cat, links = bootstrap_canonical(groups)
    return links


def q_canonical_upsert(spark, sf):
    """S6 incremental branch: V11 direct-match short circuit + V10 leader
    pinning + fresh sequential ids (reference/clean_canonical.py:338-418,
    bivariate_comparison.py:98-172)."""
    from product_deduplication_spark.operators.canonical import (
        bootstrap_canonical,
        upsert_canonical,
    )

    cat, links = bootstrap_canonical(spark.createDataFrame(_GROUPS_BOOT, _GROUPS_SCHEMA))
    _cat2, links2 = upsert_canonical(
        cat, links, spark.createDataFrame(_GROUPS_UPSERT, _GROUPS_SCHEMA)
    )
    return links2


def q_normalize_fixture_suite(spark, sf):
    """Normalize-function fixtures in one query (each column pins one
    operator):

    - P4 title-casing, BOTH semantics (reference/clean_canonical.py:57-65):
      JVM initcap vs pandas str.title (capitalizes after any non-alpha)
    - P7 stop-word removal, bug-for-bug AND fixed (reference/static.py:32-34:
      the whole-string membership test is a no-op unless the entire value is
      a stop word)
    - P9 lemmatize stand-in: the self-contained Porter stemmer
      (``lemmatize_mode="porter"`` — reference/static.py:36-38,48 uses
      WordNet, unavailable in the sandbox; default stays identity for
      parity)
    """
    from product_deduplication_spark.functions.normalize import (
        remove_stop_words,
        stem_tokens,
        title_case,
    )

    df = spark.createDataFrame(
        [
            ("coca-cola 330ml",),
            ("HEINZ beans",),
            ("o'briens crisps 6x25g",),
            ("the",),
            ("the beans and rice",),
            ("a",),
            ("fresh bread",),
            ("caresses ponies flies agreed",),
            ("relational conditional rational meetings",),
            ("triplicate formative electrical hopeful goodness",),
        ],
        "name string",
    )
    stop = ["the", "and", "a"]
    df = title_case(df, "name", "initcap_name", pandas_semantics=False)
    df = title_case(df, "name", "title_name", pandas_semantics=True)
    df = remove_stop_words(df, "name", stop, fixed=False).withColumnRenamed(
        "name_stop", "buggy"
    )
    df = remove_stop_words(df, "name", stop, fixed=True).withColumnRenamed(
        "name_stop", "fixed"
    )
    df = stem_tokens(df, "name", "stemmed")
    return df.select("name", "initcap_name", "title_name", "buggy", "fixed", "stemmed")


def q_sentinel_masked_coalesce(spark, sf):
    r"""Three operators in one part-table pass (merged for the 50-row
    CORRECTNESS window):

    - P12 '\N' sentinel → NULL via ``df.replace`` (reference/agg_images.py:
      36,76) — a sentinel-bearing column is synthesized from p_container
    - P18 masked conditional update (df.loc[mask, col] = value;
      reference/agg_barcodes_to_winner.py:96-102 suppression idiom)
    - U6 column-pair coalesce-join (reference/agg_barcodes_to_winner.py
      winner/loser slot coalescing, enrichment.py:102-118 shape): left join
      a keyed fallback and coalesce it under the (nulled) primary
    """
    p = _t(spark, sf, "part")
    fallback = spark.createDataFrame(
        [("Brand#11", "b-eleven"), ("Brand#23", "b-twentythree")],
        "p_brand string, brand_label string",
    )
    p = p.withColumn(
        "image",
        F.when(F.col("p_partkey") % 3 == 0, F.lit("\\N")).otherwise(F.col("p_type")),
    ).replace("\\N", None, subset=["image"])
    p = p.withColumn(
        "brand_fixed",
        F.when(F.col("p_size") < 5, F.lit("BULK-SMALL")).otherwise(F.col("p_brand")),
    )
    return p.join(F.broadcast(fallback), "p_brand", "left").select(
        "p_partkey",
        "image",
        "brand_fixed",
        F.coalesce("image", "brand_label").alias("v"),
    )


def q_dict_join_replace(spark, sf):
    """P19 dict map → broadcast join (reference/winner_selection.py:97,
    links_fix.py:30-33): unmatched keys get NULL — and P20 dict replace →
    left join + coalesce (keep original when no entry;
    reference/clean_canonical.py:130-135). Both dict sides are bounded
    literals — broadcasting them is correct."""
    tiers = spark.createDataFrame(
        [("BUILDING", 1), ("AUTOMOBILE", 2), ("MACHINERY", 3)],
        "c_mktsegment string, tier int",
    )
    repl = spark.createDataFrame(
        [("BUILDING", "bldg"), ("FURNITURE", "furn")], "c_mktsegment string, _short string"
    )
    c = _t(spark, sf, "customer")
    return (
        c.join(F.broadcast(tiers), "c_mktsegment", "left")
        .join(F.broadcast(repl), "c_mktsegment", "left")
        .select(
            "c_custkey",
            F.col("tier").cast("long").alias("tier"),
            F.coalesce(F.col("_short"), F.col("c_mktsegment")).alias("segment_repl"),
        )
    )


def q_topn_per_key(spark, sf):
    """O2 per-key candidate cap (ntop=25, reference/static.py:194: a rank
    window per key), here top-3 orders per customer. The engine has no such
    cap; LSH bounds its candidate set structurally."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rk").cast("long").alias("rk"))
    )


def q_pair_edge_ops(spark, sf):
    """V6 self-pair removal + direction canonicalization
    (reference/static.py:196-201 diagonal drop; lsh.py src<dst), composed
    with U5 isin-both-directions split (reference/appends_uuids.py:56-58):
    the canonical edges' src side is flagged by membership in a probe set —
    semi/anti pair in one pass."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "a"), ("c", "d"), ("d", "c"), ("e", "e"), ("b", "c")],
        "x string, y string",
    )
    probe = spark.createDataFrame([("a",), ("c",), ("z",)], "src string")
    canon = (
        edges.where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("src"), F.greatest("x", "y").alias("dst"))
        .distinct()
    )
    in_p = canon.join(probe, "src", "left_semi").withColumn("in_probe", F.lit(1))
    not_p = canon.join(probe, "src", "left_anti").withColumn("in_probe", F.lit(0))
    return in_p.unionByName(not_p)


def q_appends_uuids_flow(spark, sf):
    """End-to-end appends_uuids composition (reference/appends_uuids.py:
    122-144): normalize missing items, drop uuids already linked, U5-split
    on canonical membership, direct-link the members-on-canonical, mint new
    canonical entities for the rest, return the appended links."""
    from product_deduplication_spark.operators.canonical import append_missing_members

    links = spark.createDataFrame(
        [
            ("u1", "Alpha One", 1, "alpha one", "alpha one", 0),
            ("u2", "ALFA One", 1, "alpha one", "alfa one", 0),
            ("u3", "Beta Two", 2, "beta two", "beta two", 0),
        ],
        "item_uuid string, item_name string, canonical_id long, "
        "canonical_leader string, canonical_member string, agent_verified long",
    )
    catalog = spark.createDataFrame(
        [(1, "alpha one", 0), (2, "beta two", 0)],
        "canonical_id long, canonical_leader string, agent_verified long",
    )
    missing = spark.createDataFrame(
        [
            ("u2", "ALFA One"),        # uuid already linked -> dropped
            ("m1", "Alfa One! "),      # normalizes to existing member 'alfa one'
            ("m2", "Gamma@ Three"),    # new -> fresh canonical id 3
            ("m3", "delta four"),      # new -> fresh canonical id 4
            ("m4", "Gamma Three"),     # duplicate new leader -> same id as m2
        ],
        "item_uuid string, item_name string",
    )
    _cat2, links2 = append_missing_members(catalog, links, missing)
    return links2


def q_classification_accuracy(spark, sf):
    """Labeled-pair accuracy audit (reference/clean_canonical.py:18-22)."""
    from product_deduplication_spark.operators.validation import classification_accuracy

    links = spark.createDataFrame(
        [("g1", "true"), ("g2", "TRUE "), ("g3", " false"), ("g4", None), ("g5", "True"),
         ("g6", "false")],
        "group string, label string",
    )
    return classification_accuracy(links)


_IMG_W = (
    "ucpc_entity_uuid string, image_1 string, image_source_1 string, "
    "image_2 string, image_source_2 string, image_3 string, image_source_3 string"
)


def q_agg_images_bulk(spark, sf):
    """Reference-shape image propagation (reference/agg_images.py:60-146):
    ALL slots of ONE chosen loser copied to the winner, bug-for-bug
    (3P-count != 1 eligibility, exactly-one-3P / exactly-one-image cases,
    min-loser tie-break, shift(1) Override)."""
    from product_deduplication_spark.operators.enrichment import (
        agg_images_bulk_reference_shape,
    )

    rel = spark.createDataFrame(
        [("w1", "l1"), ("w2", "l2"), ("w3", "l3"), ("w4", "l4")],
        "winner_entity_uuid string, loser_entity_uuid string",
    )
    imgs = spark.createDataFrame(
        [
            # w1 imageless; l1 has a 3P slot + a catalog slot -> case 1, both copied
            ("l1", "http://img/l1-a.jpg", "IMAGE_SOURCE_THIRD_PARTY_APPROVED",
             "http://img/l1-b.jpg", "IMAGE_SOURCE_CATALOG", "\\N", "\\N"),
            # w2 has a non-3P image; l2 single non-3P image -> neither case
            ("w2", "http://img/w2.jpg", "IMAGE_SOURCE_CATALOG", "\\N", "\\N", "\\N", "\\N"),
            ("l2", "http://img/l2.jpg", "IMAGE_SOURCE_CATALOG", "\\N", "\\N", "\\N", "\\N"),
            # w3 already 3P -> not eligible
            ("w3", "http://img/w3.jpg", "IMAGE_SOURCE_THIRD_PARTY_APPROVED",
             "\\N", "\\N", "\\N", "\\N"),
            ("l3", "http://img/l3.jpg", "IMAGE_SOURCE_THIRD_PARTY_APPROVED",
             "\\N", "\\N", "\\N", "\\N"),
            # w4 imageless; l4 single non-3P image -> case 2
            ("l4", "http://img/l4.jpg", "IMAGE_SOURCE_CATALOG", "\\N", "\\N", "\\N", "\\N"),
        ],
        _IMG_W,
    )
    return agg_images_bulk_reference_shape(rel, imgs)


def q_media_decode_selfcheck(spark, sf):
    """Multimodal decode as an oracle row (MediaCodecBackend, the default
    decoder of operators/multimodal.py: stdlib-zlib PNG, stdlib-wave
    RIFF/PCM, with magic-byte routing and per-row provenance). Payloads are
    synthesized deterministically from the documents table — doc_id % 4
    routes each doc to 16-bit mono WAV / 8-bit stereo WAV (downmix) /
    grayscale PNG cycling all five filter types / a non-codec blob that must
    stub (datagen.media_payload_for_doc); NO external data. The engine path under
    test is extract_media_features (mapInPandas over Arrow batches); truth
    features are computed directly from the pre-encode sample/pixel arrays,
    so feature_match_ok == 1 proves the full container roundtrip (chunk
    parse, inflate, unfilter, width convert, channel downmix) is lossless
    bit for bit. DuckDB recomputes the routing counts from doc_id % 4 and
    pins both flags:
      n_media           docs carried through synth -> decode -> join
      n_wav/n_png/n_stub  routing counts (doc_id % 4 rule)
      kind_ok           every row's feature_kind matches its routed codec
      feature_match_ok  every decoded feature equals the direct-array truth
    """
    import pandas as pd

    from product_deduplication_spark.datagen import media_payload_for_doc
    from product_deduplication_spark.operators.multimodal import extract_media_features

    d = _t(spark, sf, "documents").select("doc_id")
    synth_schema = (
        "doc_url string, kind string, payload binary, "
        "expected_kind string, truth_feature array<float>"
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                payload, media_kind, exp_kind, truth = media_payload_for_doc(int(did))
                rows.append((str(did), media_kind, payload, exp_kind, truth.tolist()))
            yield pd.DataFrame(
                rows,
                columns=["doc_url", "kind", "payload", "expected_kind", "truth_feature"],
            )

    media = d.mapInPandas(synth, synth_schema)
    decoded = extract_media_features(media.select("doc_url", "kind", "payload"))
    j = decoded.join(
        media.select("doc_url", "expected_kind", "truth_feature"), "doc_url"
    )
    agg = j.agg(
        F.count("*").alias("_n"),
        F.sum((F.col("expected_kind") == "wav-stdlib").cast("long")).alias("_nw"),
        F.sum((F.col("expected_kind") == "png-stdlib").cast("long")).alias("_np"),
        F.sum((F.col("expected_kind") == "stub").cast("long")).alias("_ns"),
        F.sum(
            (
                F.col("feature_kind").isNull()
                | (F.col("feature_kind") != F.col("expected_kind"))
            ).cast("long")
        ).alias("_bk"),
        F.sum(
            (
                F.col("feature").isNull()
                | (F.col("feature") != F.col("truth_feature"))
            ).cast("long")
        ).alias("_bf"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_media"),
        F.col("_nw").cast("long").alias("n_wav"),
        F.col("_np").cast("long").alias("n_png"),
        F.col("_ns").cast("long").alias("n_stub"),
        (F.col("_bk") == 0).cast("int").alias("kind_ok"),
        (F.col("_bf") == 0).cast("int").alias("feature_match_ok"),
    )


# --------------------------------------------------------------------------
# registry + oracles
# --------------------------------------------------------------------------

# EXACTLY 50 entries: the driver records the first 50 registry rows in
# CORRECTNESS_r{N}.json, so every operator's oracle row must sit inside that
# window — trivial VALUES fixtures were merged (each merged query still pins
# every constituent operator via its own aliased column or row subset).
QUERIES = {
    "scan_filter_project": q_scan_filter_project,
    "normalize_lower_trim": q_normalize_lower_trim,
    "regex_replace_strip": q_regex_replace_strip,
    "regexp_extract_package": q_regexp_extract_package,
    "conditional_flag": q_conditional_flag,
    "json_extract": q_json_extract,
    "join_inner": q_join_inner,
    "join_left_enrich": q_join_left_enrich,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "groupby_agg": q_groupby_agg,
    "distinct": q_distinct,
    "scalar_aggs": q_scalar_aggs,
    "keep_first_argmax": q_keep_first_argmax,
    "string_concat_agg": q_string_concat_agg,
    "pareto_cumsum": q_pareto_cumsum,
    "dup_flag": q_dup_flag,
    "window_lag": q_window_lag,
    "group_argmax": q_group_argmax,
    "first_vs_rest": q_first_vs_rest,
    "topk_orders": q_topk_orders,
    "topn_per_key": q_topn_per_key,
    "union_distinct": q_union_distinct,
    "unpivot": q_unpivot,
    "explode_tokens": q_explode_tokens,
    "exact_dup_groups": q_exact_dup_groups,
    "text_quality_stats": q_text_quality_stats,
    "fingerprint_bigrams": q_fingerprint_bigrams,
    "token_jaccard_pairs": q_token_jaccard_pairs,
    "token_jaccard_lsh": q_token_jaccard_lsh,
    "knn_cosine": q_knn_cosine,
    "minhash_dedup_clusters": q_minhash_dedup_clusters,
    "simhash_candidates": q_simhash_candidates,
    "sequential_ids": q_sequential_ids,
    "winner_scoring": q_winner_scoring,
    "normalize_reference_chain": q_normalize_reference_chain,
    "substring_containment": q_substring_containment,
    "ann_topk": q_ann_topk,
    "media_decode_selfcheck": q_media_decode_selfcheck,
    "grocery_parity_clusters": q_grocery_parity_clusters,
    "csv_roundtrip": q_csv_roundtrip,
    "bootstrap_canonical": q_bootstrap_canonical,
    "canonical_upsert": q_canonical_upsert,
    "appends_uuids_flow": q_appends_uuids_flow,
    "normalize_fixture_suite": q_normalize_fixture_suite,
    "sentinel_masked_coalesce": q_sentinel_masked_coalesce,
    "dict_join_replace": q_dict_join_replace,
    "pair_edge_ops": q_pair_edge_ops,
    "classification_accuracy": q_classification_accuracy,
    "agg_images_bulk": q_agg_images_bulk,
}

assert len(QUERIES) == 50, f"driver records exactly 50 rows; got {len(QUERIES)}"

_STOP_LIST_SQL = "('the','a','of','and','to','in','is','on','for','with')"

ORACLES = {
    "scan_filter_project": """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 25
    """,
    "normalize_lower_trim": """
        SELECT c_custkey, lower(trim(c_mktsegment)) AS segment_norm FROM customer
    """,
    "regex_replace_strip": """
        SELECT p_partkey, regexp_replace(p_name, '[^0-9a-zA-Z. ]', '', 'g') AS name_clean
        FROM part
    """,
    "regexp_extract_package": r"""
        SELECT p_partkey,
               coalesce(regexp_extract(p_name, '^(\w+)', 1), '') AS brand_word,
               coalesce(regexp_extract(p_name, '(\w+)$', 1), '') AS form_word
        FROM part
    """,
    "conditional_flag": """
        SELECT p_partkey,
               CASE WHEN p_size < 7 THEN 1 ELSE 0 END AS is_small,
               CASE WHEN p_type LIKE '%ECONOMY%' THEN 1 ELSE 0 END AS is_economy
        FROM part
    """,
    "json_extract": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events
    """,
    "join_inner": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "join_left_enrich": """
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events
        FROM events LEFT JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    "semi_join": """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
    "anti_join": """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
    "groupby_agg": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(stddev_samp(l_quantity), 4) AS std_qty,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "scalar_aggs": """
        SELECT cd.n_orders, cd.n_parts, mx.max_key, mx.max_price
        FROM (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
                     CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
              FROM lineitem) cd,
             (SELECT CAST(max(o_orderkey) AS BIGINT) AS max_key,
                     round(max(o_totalprice), 2) AS max_price
              FROM orders) mx
    """,
    "keep_first_argmax": """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
        WHERE rn = 1
    """,
    "string_concat_agg": """
        SELECT s_nationkey, string_agg(DISTINCT s_name, ',' ORDER BY s_name) AS names_csv
        FROM supplier GROUP BY s_nationkey
    """,
    "pareto_cumsum": """
        WITH per_part AS (
            SELECT l_partkey, round(sum(l_extendedprice), 2) AS rev
            FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, rev, cum_rev, share_pct FROM (
            SELECT l_partkey, rev,
                   round(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_rev,
                   round(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         / sum(rev) OVER () * 100, 4) AS share_pct
            FROM per_part)
        WHERE share_pct <= 10.0
    """,
    "dup_flag": """
        SELECT o_orderkey, o_custkey,
               CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders_cust,
               CASE WHEN count(*) OVER (PARTITION BY o_custkey) > 1 THEN 1 ELSE 0 END AS is_dup
        FROM orders
    """,
    "window_lag": """
        SELECT event_id, user_id,
               round(value - lag(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id), 4) AS value_delta
        FROM events
    """,
    "group_argmax": """
        WITH per AS (
            SELECT event_type, user_id, round(sum(value), 4) AS tot
            FROM events GROUP BY event_type, user_id
        )
        SELECT event_type, user_id AS top_user, tot AS top_value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type ORDER BY tot DESC, user_id) AS rn
            FROM per)
        WHERE rn = 1
    """,
    "first_vs_rest": """
        SELECT o_orderkey, o_custkey,
               CASE WHEN row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
                   THEN 1 ELSE 0 END AS is_first
        FROM orders
    """,
    "topk_orders": """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    "union_distinct": """
        WITH u AS (
            SELECT c_custkey AS entity_id, 'customer' AS side FROM customer
            UNION ALL
            SELECT s_suppkey AS entity_id, 'supplier' AS side FROM supplier
        )
        SELECT entity_id, CAST(count(*) AS BIGINT) AS n_sides,
               string_agg(DISTINCT side, ',' ORDER BY side) AS sides
        FROM u GROUP BY entity_id
    """,
    "unpivot": """
        SELECT p_partkey, metric, metric_value FROM (
            SELECT p_partkey, 'size_val' AS metric, CAST(p_size AS DOUBLE) AS metric_value
            FROM part
            UNION ALL
            SELECT p_partkey, 'price_val' AS metric, p_retailprice AS metric_value
            FROM part)
    """,
    "explode_tokens": """
        SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
        GROUP BY token
    """,
    "exact_dup_groups": """
        SELECT sha256(substr(text, 1, 8)) AS text_hash, min(doc_id) AS leader,
               CAST(count(*) AS BIGINT) AS group_size
        FROM documents GROUP BY sha256(substr(text, 1, 8)) HAVING count(*) > 1
    """,
    "text_quality_stats": f"""
        WITH t AS (
            SELECT doc_id, lang, text,
                   len(string_split(text, ' ')) AS n_tok,
                   len(list_distinct(string_split(text, ' '))) AS n_uniq,
                   len(list_filter(string_split(text, ' '),
                       x -> x IN {_STOP_LIST_SQL})) AS n_stop
            FROM documents)
        SELECT doc_id, lang,
               CAST(n_tok AS BIGINT) AS n_tokens,
               CAST(n_uniq AS BIGINT) AS n_unique_tokens,
               round(0.4 * least(n_tok / 300.0, 1.0)
                   + 0.4 * (n_uniq * 1.0 / n_tok)
                   + 0.2 * least(((length(text) - n_tok + 1) * 1.0 / n_tok) / 8.0,
                                 1.0), 4) AS quality,
               round(n_stop * 1.0 / n_tok, 4) AS stopword_ratio,
               CASE WHEN round(n_stop * 1.0 / n_tok, 4) >= 0.03
                    THEN 1 ELSE 0 END AS looks_en
        FROM t
    """,
    "fingerprint_bigrams": """
        SELECT doc_id,
               list_min(list_transform(list_distinct(string_split(text, ' ')),
                        t -> md5(t))) AS fp_min,
               list_max(list_transform(list_distinct(string_split(text, ' ')),
                        t -> md5(t))) AS fp_max,
               CAST(len(list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1]))) AS BIGINT) AS n_unique_bigrams
        FROM documents
    """,
    "token_jaccard_pairs": """
        WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                   FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                     (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
                     4) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE a.doc_id < 50
          AND round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
                    4) >= 0.5
    """,
    "knn_cosine": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   round(list_dot_product(q.v, e.v) /
                         (sqrt(list_dot_product(q.v, q.v)) *
                          sqrt(list_dot_product(e.v, e.v))), 6) AS cos
            FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id, cos, rk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
            FROM pairs)
        WHERE rk <= 5
    """,
    "sequential_ids": """
        SELECT c_custkey, CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS seq_id
        FROM customer
    """,
    "winner_scoring": """
        WITH s(entity_uuid, has_name, has_image, has_upt, has_gtin, has_net_qty,
               has_pack_size, has_func_name, has_brand, has_container, has_weight,
               has_dimensions, has_abv, has_description, has_vintage,
               scans, correct_scans, incorrect_scans, linked_products) AS (
            VALUES
              ('e1',1,1,1,1,1,1,1,1,1,1,1,1,1,1, 10,8,2,10),
              ('e2',0,0,0,0,0,0,0,0,0,0,0,0,0,0, 2,1,1,2),
              ('e3',1,1,1,1,1,1,1,0,0,0,0,0,0,0, 100,90,10,6),
              ('e4',0,0,0,0,0,0,0,1,1,1,1,1,1,1, 3,0,3,4)
        ),
        calc AS (
            SELECT entity_uuid,
                   has_name*CAST(0.12 AS DOUBLE) + has_image*CAST(0.12 AS DOUBLE)
                 + has_upt*CAST(0.10 AS DOUBLE) + has_gtin*CAST(0.10 AS DOUBLE)
                 + has_net_qty*CAST(0.09 AS DOUBLE) + has_pack_size*CAST(0.08 AS DOUBLE)
                 + has_func_name*CAST(0.07 AS DOUBLE) + has_brand*CAST(0.07 AS DOUBLE)
                 + has_container*CAST(0.07 AS DOUBLE) + has_weight*CAST(0.06 AS DOUBLE)
                 + has_dimensions*CAST(0.05 AS DOUBLE) + has_abv*CAST(0.03 AS DOUBLE)
                 + has_description*CAST(0.03 AS DOUBLE) + has_vintage*CAST(0.01 AS DOUBLE)
                   AS att,
                   CASE WHEN scans > 3
                        THEN round(incorrect_scans * CAST(1.0 AS DOUBLE) / scans, 2)
                        ELSE CAST(0 AS DOUBLE) END AS inc_rate,
                   CAST(linked_products AS DOUBLE) AS linked
            FROM s),
        stats AS (SELECT avg(linked) AS mu, stddev_samp(linked) AS sd FROM calc)
        SELECT entity_uuid,
               round(att*0.6 + inc_rate*0.2 + round((linked-mu)/sd, 2)*0.2, 6) AS score
        FROM calc, stats
    """,
    "normalize_reference_chain": r"""
        WITH cleaned AS (
            SELECT p_partkey,
                   regexp_replace(lower(trim(p_name)),
                                  '(@[A-Za-z0-9]+)|([^0-9A-Za-z.% \t])', '', 'g') AS n1
            FROM part
        ),
        joined AS (
            SELECT p_partkey,
                   array_to_string(list_filter(string_split_regex(n1, '\s+'),
                                   w -> w != '.' AND w != ''), ' ') AS n2
            FROM cleaned
        )
        SELECT p_partkey,
               regexp_replace(n2,
                 '(pm \d+\w+)|(pm \d+\.\d+)|(pm\d+\.\d+)|(\d+ pmp)|(pm\d+)|( \.+)|(pmp\d+.\d+)|(\d+pmp)|(pmp \d+)|(\d+.\d+ pm)',
                 '', 'g') AS product_name,
               n2 AS lemma
        FROM joined
    """,
    "csv_roundtrip": """
        SELECT * FROM (VALUES
            ('uuid-1', 'Coca Cola 330ml', CAST(120 AS BIGINT), 'https://img/1.jpg'),
            ('uuid-2', 'pepsi max 2l', CAST(45 AS BIGINT), NULL),
            ('uuid-3', 'Fanta @Promo Orange', CAST(0 AS BIGINT), 'https://img/3.jpg')
        ) AS t(item_uuid, item_name, number_sku_sold, image_url)
    """,
    "bootstrap_canonical": """
        SELECT * FROM (VALUES
            ('u1', 'Alpha One', CAST(1 AS BIGINT), 'alpha one', 'alpha one', 0),
            ('u2', 'ALFA One', CAST(1 AS BIGINT), 'alpha one', 'alfa one', 0),
            ('u3', 'Beta Two', CAST(2 AS BIGINT), 'beta two', 'beta two', 0)
        ) AS t(item_uuid, item_name, canonical_id, canonical_leader,
               canonical_member, agent_verified)
    """,
    "canonical_upsert": """
        SELECT * FROM (VALUES
            ('u1', 'Alpha One',   CAST(1 AS BIGINT), 'alpha one', 'alpha one', 0),
            ('u2', 'ALFA One',    CAST(1 AS BIGINT), 'alpha one', 'alfa one', 0),
            ('u3', 'Beta Two',    CAST(2 AS BIGINT), 'beta two', 'beta two', 0),
            ('u4', 'Alfa One 4',  CAST(1 AS BIGINT), 'alpha one', 'alfa one', 0),
            ('u7', 'Beta Two 7',  CAST(2 AS BIGINT), 'beta two', 'beta two', 0),
            ('u6', 'Gamma Three', CAST(2 AS BIGINT), 'beta two', 'gamma three', 0),
            ('u5', 'Alpha Uno',   CAST(3 AS BIGINT), 'alfa one new', 'alpha uno', 0)
        ) AS t(item_uuid, item_name, canonical_id, canonical_leader,
               canonical_member, agent_verified)
    """,
    "normalize_fixture_suite": """
        SELECT * FROM (VALUES
            ('coca-cola 330ml', 'Coca-cola 330ml', 'Coca-Cola 330Ml',
             'coca-cola 330ml', 'coca-cola 330ml', 'coca-cola 330ml'),
            ('HEINZ beans', 'Heinz Beans', 'Heinz Beans',
             'HEINZ beans', 'HEINZ beans', 'HEINZ bean'),
            ('o''briens crisps 6x25g', 'O''briens Crisps 6x25g',
             'O''Briens Crisps 6X25G', 'o''briens crisps 6x25g',
             'o''briens crisps 6x25g', 'o''brien crisp 6x25g'),
            ('the', 'The', 'The', '', '', 'the'),
            ('the beans and rice', 'The Beans And Rice', 'The Beans And Rice',
             'the beans and rice', 'beans rice', 'the bean and rice'),
            ('a', 'A', 'A', '', '', 'a'),
            ('fresh bread', 'Fresh Bread', 'Fresh Bread',
             'fresh bread', 'fresh bread', 'fresh bread'),
            ('caresses ponies flies agreed', 'Caresses Ponies Flies Agreed',
             'Caresses Ponies Flies Agreed', 'caresses ponies flies agreed',
             'caresses ponies flies agreed', 'caress poni fli agre'),
            ('relational conditional rational meetings',
             'Relational Conditional Rational Meetings',
             'Relational Conditional Rational Meetings',
             'relational conditional rational meetings',
             'relational conditional rational meetings',
             'relat condit ration meet'),
            ('triplicate formative electrical hopeful goodness',
             'Triplicate Formative Electrical Hopeful Goodness',
             'Triplicate Formative Electrical Hopeful Goodness',
             'triplicate formative electrical hopeful goodness',
             'triplicate formative electrical hopeful goodness',
             'triplic form electr hope good')
        ) AS t(name, initcap_name, title_name, buggy, fixed, stemmed)
    """,
    "sentinel_masked_coalesce": r"""
        WITH p AS (
            SELECT p_partkey, p_size, p_brand,
                   nullif(CASE WHEN p_partkey % 3 = 0 THEN '\N'
                               ELSE p_type END, '\N') AS image
            FROM part)
        SELECT p_partkey, image,
               CASE WHEN p_size < 5 THEN 'BULK-SMALL' ELSE p_brand END AS brand_fixed,
               coalesce(image, t.brand_label) AS v
        FROM p LEFT JOIN (VALUES
            ('Brand#11', 'b-eleven'), ('Brand#23', 'b-twentythree')
        ) AS t(p_brand, brand_label) USING (p_brand)
    """,
    "dict_join_replace": """
        SELECT c_custkey, CAST(t.tier AS BIGINT) AS tier,
               coalesce(r._short, c_mktsegment) AS segment_repl
        FROM customer
        LEFT JOIN (VALUES
            ('BUILDING', 1), ('AUTOMOBILE', 2), ('MACHINERY', 3)
        ) AS t(c_mktsegment, tier) USING (c_mktsegment)
        LEFT JOIN (VALUES
            ('BUILDING', 'bldg'), ('FURNITURE', 'furn')
        ) AS r(c_mktsegment, _short) USING (c_mktsegment)
    """,
    "topn_per_key": """
        SELECT o_custkey, o_orderkey, CAST(rk AS BIGINT) AS rk FROM (
            SELECT o_custkey, o_orderkey, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders)
        WHERE rk <= 3
    """,
    "pair_edge_ops": """
        SELECT * FROM (VALUES
            ('a', 'b', 1), ('c', 'd', 1), ('b', 'c', 0)
        ) AS t(src, dst, in_probe)
    """,
    "appends_uuids_flow": """
        SELECT * FROM (VALUES
            ('u1', 'Alpha One', CAST(1 AS BIGINT), 'alpha one', 'alpha one',
             CAST(0 AS BIGINT)),
            ('u2', 'ALFA One', CAST(1 AS BIGINT), 'alpha one', 'alfa one',
             CAST(0 AS BIGINT)),
            ('u3', 'Beta Two', CAST(2 AS BIGINT), 'beta two', 'beta two',
             CAST(0 AS BIGINT)),
            ('m1', 'Alfa One! ', CAST(1 AS BIGINT), 'alpha one', 'alfa one',
             CAST(0 AS BIGINT)),
            ('m3', 'delta four', CAST(3 AS BIGINT), 'delta four', 'delta four',
             CAST(0 AS BIGINT)),
            ('m2', 'Gamma@ Three', CAST(5 AS BIGINT), 'gamma three',
             'gamma three', CAST(0 AS BIGINT)),
            ('m4', 'Gamma Three', CAST(5 AS BIGINT), 'gamma three',
             'gamma three', CAST(0 AS BIGINT))
        ) AS t(item_uuid, item_name, canonical_id, canonical_leader,
               canonical_member, agent_verified)
    """,
    "classification_accuracy": """
        SELECT CAST(5 AS BIGINT) AS n_labeled, CAST(0.6 AS DOUBLE) AS accuracy
    """,
    "media_decode_selfcheck": """
        SELECT CAST(count(*) AS BIGINT) AS n_media,
               CAST(sum(CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_wav,
               CAST(sum(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_png,
               CAST(sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stub,
               CAST(1 AS INT) AS kind_ok,
               CAST(1 AS INT) AS feature_match_ok
        FROM documents
    """,
    "agg_images_bulk": """
        SELECT * FROM (VALUES
            ('catalog-0', 'w1', 'http://img/l1-a.jpg',
             'IMAGE_SOURCE_THIRD_PARTY_APPROVED', CAST(NULL AS VARCHAR), 'Yes'),
            ('catalog-0', 'w1', 'http://img/l1-b.jpg',
             'IMAGE_SOURCE_CATALOG', CAST(NULL AS VARCHAR), 'No'),
            ('catalog-0', 'w4', 'http://img/l4.jpg',
             'IMAGE_SOURCE_CATALOG', CAST(NULL AS VARCHAR), 'Yes')
        ) AS t(CatalogUUID, ProductUUID, ImageURL, ImageSource,
               CatalogImageSource, Override)
    """,
    "substring_containment": """
        SELECT a.doc_id AS src, b.doc_id AS dst,
               round(length(b.text) * 1.0 / length(a.text), 6) AS similarity
        FROM documents a JOIN documents b
          ON a.doc_id != b.doc_id
         AND (length(a.text) > length(b.text)
              OR (length(a.text) = length(b.text) AND a.doc_id < b.doc_id))
         AND length(b.text) >= 50
         AND position(b.text IN a.text) > 0
    """,
    "grocery_parity_clusters": """
        SELECT * FROM (VALUES
            ('2l cadbury juice orange ', CAST(-5912635960808054771 AS BIGINT)),
            ('400g flakes pepsi corn', CAST(2283153150840278584 AS BIGINT)),
            ('500ml evian spring water', CAST(1437698797003931250 AS BIGINT)),
            ('750ml ketchup tomato walkers ', CAST(-6052791699241624244 AS BIGINT)),
            ('750ml water danone spring', CAST(-1029919326059100739 AS BIGINT)),
            ('cadbury lemonade 2l', CAST(-3567978483894306894 AS BIGINT)),
            ('cadbury lemonade 2l ', CAST(-3567978483894306894 AS BIGINT)),
            ('cadbury lemonade 6 x 330ml', CAST(3901883521732434288 AS BIGINT)),
            ('cadbury orange juice 2l', CAST(-5912635960808054771 AS BIGINT)),
            ('cadbury orange juice 2l ', CAST(-5912635960808054771 AS BIGINT)),
            ('cadbury tomato ketchup 500ml ', CAST(-6226420317367762025 AS BIGINT)),
            ('crisps 1l danone', CAST(-3592368004239176537 AS BIGINT)),
            ('crisps 4 pack danone', CAST(-8858661211267879853 AS BIGINT)),
            ('crisps pack danone 4 ', CAST(-6815192681971839603 AS BIGINT)),
            ('danone cola drink 2l', CAST(-8585463995419102815 AS BIGINT)),
            ('danone cola drink 2l ', CAST(-8585463995419102815 AS BIGINT)),
            ('danone crisps 1l', CAST(-3592368004239176537 AS BIGINT)),
            ('danone crisps 4 pack ', CAST(-8858661211267879853 AS BIGINT)),
            ('danone drink cola 2l', CAST(-8585463995419102815 AS BIGINT)),
            ('danone lemonade 2l', CAST(-6172696593964904709 AS BIGINT)),
            ('danone lemonade 500ml', CAST(-5847655763428539006 AS BIGINT)),
            ('danone lemonade 500ml ', CAST(-5847655763428539006 AS BIGINT)),
            ('danone spring water 750ml', CAST(-1029919326059100739 AS BIGINT)),
            ('danone yogurt 6 x 330ml', CAST(338100440334118312 AS BIGINT)),
            ('evian 250g tomato ketchup', CAST(-3802267517195517477 AS BIGINT)),
            ('evian corn flakes 250g', CAST(-8408613473007983900 AS BIGINT)),
            ('evian corn flakes 250g ', CAST(-8408613473007983900 AS BIGINT)),
            ('evian corn flakes 400g', CAST(-1820123733953626958 AS BIGINT)),
            ('evian corn flakes 400g ', CAST(-1820123733953626958 AS BIGINT)),
            ('evian spring water 500ml ', CAST(1437698797003931250 AS BIGINT)),
            ('evian tomato ketchup 250g', CAST(-3802267517195517477 AS BIGINT)),
            ('fanta corn flakes 750ml', CAST(-6781958906731528263 AS BIGINT)),
            ('fanta spring water 330ml', CAST(-8182357169939086226 AS BIGINT)),
            ('fanta spring water 330ml ', CAST(-8182357169939086226 AS BIGINT)),
            ('flakes corn 250g evian', CAST(-8408613473007983900 AS BIGINT)),
            ('flakes corn 750ml fanta', CAST(-6781958906731528263 AS BIGINT)),
            ('flakes pack corn 4 walkers ', CAST(3959328270443148267 AS BIGINT)),
            ('heinz spring water 2l ', CAST(-4647327245470380786 AS BIGINT)),
            ('juice 4 pack orange kellogs', CAST(-952182018359585698 AS BIGINT)),
            ('kellogs orange juice 4 pack', CAST(-952182018359585698 AS BIGINT)),
            ('lemonade 2l danone', CAST(-6172696593964904709 AS BIGINT)),
            ('lemonade 500ml danone', CAST(-5847655763428539006 AS BIGINT)),
            ('lemonade 750ml walkers ', CAST(-9000826235861288302 AS BIGINT)),
            ('lemonade pepsi 500ml', CAST(4067087774553885108 AS BIGINT)),
            ('nestle crisps 4 pack', CAST(-4836244515147165047 AS BIGINT)),
            ('nestle crisps 750ml', CAST(827114174625916196 AS BIGINT)),
            ('nestle crisps 750ml ', CAST(827114174625916196 AS BIGINT)),
            ('nestle yogurt 2l', CAST(-8351074685632779813 AS BIGINT)),
            ('pepsi 1l orange juice ', CAST(255601007263709216 AS BIGINT)),
            ('pepsi cola drink 1l', CAST(-3776552829520387053 AS BIGINT)),
            ('pepsi corn flakes 400g', CAST(2283153150840278584 AS BIGINT)),
            ('pepsi corn flakes 400g ', CAST(2283153150840278584 AS BIGINT)),
            ('pepsi crisps 330ml', CAST(-8160907935267870395 AS BIGINT)),
            ('pepsi lemonade 500ml', CAST(4067087774553885108 AS BIGINT)),
            ('pepsi orange 1l juice', CAST(255601007263709216 AS BIGINT)),
            ('pepsi orange juice 1l', CAST(255601007263709216 AS BIGINT)),
            ('pepsi spring water 400g', CAST(-4624035188310817795 AS BIGINT)),
            ('spring water 750ml danone', CAST(-1029919326059100739 AS BIGINT)),
            ('sprite chocolate bar 330ml', CAST(7024027538426073050 AS BIGINT)),
            ('sprite chocolate bar 400g', CAST(-1302964607138044873 AS BIGINT)),
            ('sprite cola drink 250g ', CAST(4244509839555454412 AS BIGINT)),
            ('tomato ketchup 750ml walkers', CAST(-6052791699241624244 AS BIGINT)),
            ('tropicana baked beans 2l', CAST(721893531311901282 AS BIGINT)),
            ('tropicana lemonade 400g', CAST(7651258062354455520 AS BIGINT)),
            ('walkers cola drink 4 pack', CAST(4390486616870301160 AS BIGINT)),
            ('walkers corn flakes 4 pack', CAST(-1222096100095879225 AS BIGINT)),
            ('walkers corn flakes 4 pack ', CAST(-1222096100095879225 AS BIGINT)),
            ('walkers lemonade 750ml', CAST(-9000826235861288302 AS BIGINT)),
            ('walkers spring water 4 pack', CAST(-572196879290371367 AS BIGINT)),
            ('walkers tomato ketchup 750ml', CAST(-6052791699241624244 AS BIGINT)),
            ('water 330ml spring fanta ', CAST(-8182357169939086226 AS BIGINT))
        ) AS t(product_name, cluster_id)
    """,
    # The genuinely non-SQL-expressible computations (iterative CC, LSH
    # banding, seeded hyperplanes) run Spark-side and reduce to summary rows
    # whose invariants these oracles pin (ann_topk recall_ok pattern): the count
    # columns come from the data (DuckDB recomputes them), the _ok flags are
    # in-query cross-checks against Spark-computed brute-force truth.
    "minhash_dedup_clusters": """
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(1 AS INT) AS coverage_ok,
               CAST(1 AS INT) AS winners_ok,
               CAST(1 AS INT) AS recall_ok
        FROM documents
    """,
    "simhash_candidates": """
        SELECT CAST(0 AS BIGINT) AS missed_pairs,
               CAST(0 AS BIGINT) AS extra_pairs,
               CAST(0 AS BIGINT) AS missing_star_edges,
               CAST(1 AS INT) AS complete_ok
    """,
    "ann_topk": """
        SELECT CAST(5 * count(*) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(1 AS INT) AS per_query_ok,
               CAST(1 AS INT) AS cos_exact_ok,
               CAST(1 AS INT) AS recall_ok
        FROM embeddings WHERE vec_id < 10
    """,
}

# the LSH engine path must reproduce the brute-force theta join EXACTLY —
# same oracle, so the driver verifies candidate-generation completeness
ORACLES["token_jaccard_lsh"] = ORACLES["token_jaccard_pairs"]
