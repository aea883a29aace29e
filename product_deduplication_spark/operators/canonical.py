"""Persistent canonical catalog: bootstrap + incremental upsert.

Re-expresses ``reference/clean_canonical.py`` (SURVEY.md §2.1 S6, V10, V11,
§4.4) over DataFrames:

- first-run vs incremental branch (``reference/clean_canonical.py:296-338``)
  → ``bootstrap_canonical`` / ``upsert_canonical``
- direct-match short circuit: a member whose normalized name equals an
  existing ``canonical_member`` links without similarity
  (``reference/bivariate_comparison.py:98-136``, V11) → left_semi/left_anti
  split
- leader pinning: existing canonical leaders stay leaders of their group
  (``reference/bivariate_comparison.py:158-172``, V10)
- missing items appended with fresh ids (``reference/appends_uuids.py``)
  → ``append_missing_members``
- sequential canonical id assignment (``reference/clean_canonical.py:47-50,
  357``) → a two-pass range-partitioned running count, NO single-partition
  global window (SURVEY.md §4.4): repartitionByRange gives ordered partition
  ids, per-partition counts give offsets, and a running sum inside each
  partition adds the rest. ``ordered_cumsum`` (the pareto running share) is
  the same scan over a value column instead of a count. Both checkpoint
  with ``localCheckpoint`` so the two passes read identical partitions.

Table shapes follow FIXTURES.md F3:
  canonical_catalog(canonical_id, canonical_leader)
  canonical_links(item_uuid, item_name, canonical_id, canonical_leader,
                  canonical_member, agent_verified)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _two_pass_running_sum(
    df: DataFrame, order_exprs: list, value, out_col: str, first: int | float
) -> tuple[DataFrame, int | float]:
    """Global running sum of ``value`` over ``order_exprs`` without a
    single-partition window (SURVEY.md §4.4). Range-partition on the order
    (range partition i holds keys strictly below partition i+1), sum
    ``value`` per partition, turn the sums into per-partition offsets
    (starting at ``first``) in a tiny driver-side map (O(partitions), not
    O(rows)), then broadcast-join the offsets and run a ROWS-framed sum
    inside each partition. Offsets are longs for an int ``first``, doubles
    for a float one. Returns (df + out_col, first + grand total)."""
    spark = df.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism, 1)
    # Checkpoint the INPUT before range partitioning: the aggregate action
    # and the running-sum action must see the SAME partition contents. Range
    # boundaries come from sampling, but RangePartitioner's sampling seeds
    # are a pure function of partition index — identical input partitions
    # give identical boundaries in both jobs. It also runs the (possibly
    # expensive) lineage above ONCE, not once per pass.
    df = df.localCheckpoint()
    # ...and checkpoint the RANGE PARTITIONING too: RangePartitioner samples
    # with RDD-id-derived seeds, so each action would otherwise draw
    # different boundaries — the sums below must describe the exact _pid
    # labels the running-sum job reads (after this point _pid is frozen
    # DATA, so the groupBy/window below are correct under any later re-split).
    ranged = (
        df.repartitionByRange(n_part, *order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    sums = ranged.groupBy("_pid").agg(F.sum(value).alias("_s")).collect()
    offsets, acc = [], first
    for row in sorted(sums, key=lambda r: r["_pid"]):
        offsets.append((int(row["_pid"]), acc))
        acc += row["_s"] or 0
    off_type = "double" if isinstance(first, float) else "long"
    off_df = spark.createDataFrame(offsets, f"_pid int, _offset {off_type}")
    w = Window.partitionBy("_pid").orderBy(*order_exprs).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.sum(value).over(w) + F.col("_offset"))
        .drop("_pid", "_offset")
    )
    return out, acc


def assign_sequential_ids(
    df: DataFrame, order_cols: list[str], id_col: str, start: int = 1
) -> DataFrame:
    """Deterministic gap-free sequential ids without a global window: the
    running count of rows in ``order_cols`` order, offset so the first row
    gets ``start`` (equal to ``row_number() - 1 + start`` over the order)."""
    out, _ = _two_pass_running_sum(
        df, [F.col(c) for c in order_cols], F.lit(1), id_col, start - 1
    )
    return out


def ordered_cumsum(
    df: DataFrame, order_exprs: list, value_col: str, out_col: str
) -> tuple[DataFrame, float]:
    """Global running sum of ``value_col`` over a total order without a
    single-partition window. Returns (df + out_col, grand_total).

    order_exprs: sort expressions (e.g. [F.desc("rev"), F.asc("key")]) —
    must define a total order for a deterministic result.

    Float tolerance: doubles accumulate in a different association order
    (per-partition sums + offsets) than a sequential window sum, so a
    downstream round() sitting EXACTLY on a rounding boundary can differ
    from a sequential oracle by one ulp-step. Callers comparing against
    bit-exact harnesses (q_pareto_cumsum) round AFTER adding the offset —
    consistent with the oracle's post-sum rounding — and should prefer an
    epsilon/decimal comparison at larger scale factors where boundary
    collisions become likely.
    """
    out, total = _two_pass_running_sum(df, order_exprs, value_col, out_col, 0.0)
    return out, float(total)


def bootstrap_canonical(groups: DataFrame, start_id: int = 1) -> tuple[DataFrame, DataFrame]:
    """First run (``reference/clean_canonical.py:296-336``): every group
    becomes a canonical entity; every member becomes a link.

    groups: (group_id, leader, member, item_uuid, item_name) — the groups
    table shape (``reference/groups_creation.py:292-294`` + back-prop map).
    Returns (canonical_catalog, canonical_links).
    """
    leaders = groups.select("group_id", "leader").distinct()
    catalog = assign_sequential_ids(leaders, ["leader"], "canonical_id", start_id).select(
        "canonical_id", F.col("leader").alias("canonical_leader"), "group_id"
    )
    links = (
        groups.join(catalog, "group_id")
        .select(
            "item_uuid",
            "item_name",
            "canonical_id",
            "canonical_leader",
            F.col("member").alias("canonical_member"),
            F.lit(0).alias("agent_verified"),
        )
        .dropDuplicates(["item_uuid", "canonical_id", "canonical_member"])
    )
    return catalog.drop("group_id"), links


def append_missing_members(
    catalog: DataFrame, links: DataFrame, missing: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The appends_uuids flow end-to-end (reference/appends_uuids.py:122-144):

    1. normalize the missing items' names (nlp_regex_cleaning,
       ``appends_uuids.py:27-40``) → product_name
    2. drop items whose item_uuid is already linked (``:52-53``)
    3. U5 split on product_name ∈ links.canonical_member (``:55-58``)
    4. members NOT on canonical each become a catalog row with a fresh
       sequential id from max(canonical_id)+1 (``:64-81``). Bug-for-bug:
       duplicate product_names mint MULTIPLE catalog rows, and the links
       mapping resolves each name to its LAST (= max) id — the reference's
       dict(zip(leader, id)) last-wins overwrite (``:89,100``).
    5. members ON canonical link to the id their member name holds in the
       links table (``:96-97``); leader + agent_verified come from the
       catalog by id (``:108-113``).

    Documented deviation: the reference assigns new ids in input-file row
    order, which a distributed table does not have — ids here are assigned
    in sorted (product_name, item_uuid) order (deterministic total order).
    The member→id last-wins dict is likewise resolved as max(canonical_id)
    per name. Returns (catalog', links').
    """
    from product_deduplication_spark.functions.normalize import normalize_names

    if "agent_verified" not in catalog.columns:
        catalog = catalog.withColumn("agent_verified", F.lit(0).cast("long"))

    nlp = normalize_names(missing, "item_name").select(
        "item_uuid", "item_name", F.lower(F.trim("product_name")).alias("product_name")
    )
    # 2. uuids already linked are dropped entirely
    fresh = nlp.join(links.select("item_uuid"), "item_uuid", "left_anti")

    member_names = links.select(
        F.lower(F.trim("canonical_member")).alias("product_name")
    ).distinct()
    on_canon = fresh.join(member_names, "product_name", "left_semi")
    not_canon = fresh.join(member_names, "product_name", "left_anti")

    # 4. one catalog row PER missing row (duplicates included — reference
    # concat semantics), ids above the current max
    max_id = catalog.agg(F.coalesce(F.max("canonical_id"), F.lit(0))).collect()[0][0]
    minted = assign_sequential_ids(
        not_canon, ["product_name", "item_uuid"], "canonical_id", int(max_id) + 1
    )
    catalog2 = catalog.unionByName(
        minted.select(
            "canonical_id",
            F.col("product_name").alias("canonical_leader"),
            F.lit(0).cast("long").alias("agent_verified"),
        )
    )

    # last-wins leader→id map over the FULL appended catalog (new ids > old)
    leader_map = catalog2.groupBy("canonical_leader").agg(
        F.max("canonical_id").alias("canonical_id")
    )
    id_attrs = catalog2.select(
        "canonical_id", "canonical_leader", "agent_verified"
    ).dropDuplicates(["canonical_id"])

    new_not = (
        minted.drop("canonical_id")
        .join(leader_map, minted["product_name"] == leader_map["canonical_leader"])
        .select(
            "item_uuid",
            "item_name",
            "canonical_id",
            "canonical_leader",
            F.col("product_name").alias("canonical_member"),
            F.lit(0).cast("long").alias("agent_verified"),
        )
    )

    member_map = links.groupBy(
        F.lower(F.trim("canonical_member")).alias("product_name")
    ).agg(F.max("canonical_id").alias("canonical_id"))
    new_on = (
        on_canon.join(member_map, "product_name")
        .join(id_attrs, "canonical_id")
        .select(
            "item_uuid",
            "item_name",
            "canonical_id",
            "canonical_leader",
            F.col("product_name").alias("canonical_member"),
            "agent_verified",
        )
    )

    links2 = links.unionByName(new_on).unionByName(new_not)
    return catalog2, links2


def upsert_canonical(
    catalog: DataFrame, links: DataFrame, groups: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Incremental run (``reference/clean_canonical.py:338-418``).

    1. V11 direct match: members equal to an existing canonical_member link
       to that canonical_id immediately.
    2. V10 leader pinning: a group containing an existing canonical_leader
       adopts that leader + its canonical_id.
    3. Remaining groups get fresh sequential ids above max(canonical_id).
    Returns updated (catalog, links); links key-unique on (item_uuid,
    canonical_id, canonical_member) (invariant at
    ``reference/clean_canonical.py:207``).
    """
    member_index = links.select(
        F.col("canonical_member").alias("member"), "canonical_id", "canonical_leader"
    ).dropDuplicates(["member"])

    # 1. direct matches
    direct = groups.join(member_index, "member", "inner").select(
        "item_uuid",
        "item_name",
        "canonical_id",
        "canonical_leader",
        F.col("member").alias("canonical_member"),
        F.lit(0).alias("agent_verified"),
    )
    rest = groups.join(member_index, "member", "left_anti")

    # 2. leader pinning: group contains an existing canonical leader.
    # Detected over the FULL group membership (not just `rest`): a group
    # whose leader-member was itself a direct match must still pin its
    # remaining members to that canonical entity (V10 semantics,
    # reference/bivariate_comparison.py:158-172).
    leader_index = catalog.select(
        F.col("canonical_leader").alias("member"), "canonical_id", "canonical_leader"
    )
    pinned_candidates = groups.join(leader_index, "member", "inner")
    pinned_groups = (
        pinned_candidates.groupBy("group_id")
        .agg(F.min(F.struct("canonical_id", "canonical_leader")).alias("_c"))
        .select("group_id", F.col("_c.canonical_id"), F.col("_c.canonical_leader"))
    )
    pinned = rest.join(pinned_groups, "group_id").select(
        "item_uuid",
        "item_name",
        "canonical_id",
        "canonical_leader",
        F.col("member").alias("canonical_member"),
        F.lit(0).alias("agent_verified"),
    )
    fresh = rest.join(pinned_groups.select("group_id"), "group_id", "left_anti")

    # 3. new canonical entities, ids above current max
    max_id = catalog.agg(F.coalesce(F.max("canonical_id"), F.lit(0))).collect()[0][0]
    new_leaders = fresh.select("group_id", "leader").distinct()
    new_catalog = assign_sequential_ids(
        new_leaders, ["leader"], "canonical_id", int(max_id) + 1
    ).select("canonical_id", F.col("leader").alias("canonical_leader"), "group_id")
    new_links = fresh.join(new_catalog, "group_id").select(
        "item_uuid",
        "item_name",
        "canonical_id",
        "canonical_leader",
        F.col("member").alias("canonical_member"),
        F.lit(0).alias("agent_verified"),
    )

    out_catalog = catalog.unionByName(new_catalog.drop("group_id"))
    out_links = (
        links.unionByName(direct)
        .unionByName(pinned)
        .unionByName(new_links)
        .dropDuplicates(["item_uuid", "canonical_id", "canonical_member"])
    )
    return out_catalog, out_links
