"""Winner scoring / canonical upsert semantics vs reference behavior
(reference/winner_selection.py, reference/clean_canonical.py — see operator
docstrings for file:line)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_deduplication_spark.operators.canonical import (
    assign_sequential_ids,
    bootstrap_canonical,
    upsert_canonical,
)
from product_deduplication_spark.operators.winner import (
    ATTRIBUTE_WEIGHTS,
    score_entities,
)

SCORE_COLS = list(ATTRIBUTE_WEIGHTS) + [
    "scans",
    "correct_scans",
    "incorrect_scans",
    "linked_products",
]


def _score_row(entity, flags=1, scans=0, incorrect=0, linked=5):
    return tuple([entity] + [flags] * 14 + [scans, scans - incorrect, incorrect, linked])


@pytest.fixture()
def score_df(spark):
    rows = [
        _score_row("e_full", flags=1, scans=10, incorrect=0, linked=10),
        _score_row("e_bare", flags=0, scans=10, incorrect=5, linked=2),
        _score_row("e_guard", flags=1, scans=3, incorrect=3, linked=6),
    ]
    schema = "entity_uuid string, " + ", ".join(f"{c} int" for c in SCORE_COLS)
    return spark.createDataFrame(rows, schema)


def test_score_entities_weights_and_guard(score_df):
    scores = {r["entity_uuid"]: r["score"] for r in score_entities(score_df).collect()}
    # e_full: att=1.0; inc_rate=0; z of linked=10 among [10,2,6] = (10-6)/4=1.0
    assert scores["e_full"] == pytest.approx(0.6 * 1.0 + 0.2 * 0.0 + 0.2 * 1.0, abs=1e-6)
    # e_bare: att=0; inc_rate=0.5 (ADDED per reference :83); z=(2-6)/4=-1
    assert scores["e_bare"] == pytest.approx(0.0 + 0.2 * 0.5 + 0.2 * -1.0, abs=1e-6)
    # e_guard: scans<=3 -> rate 0 despite 3 incorrect; z=0
    assert scores["e_guard"] == pytest.approx(0.6 * 1.0, abs=1e-6)


def test_assign_sequential_ids_gap_free_and_ordered(spark):
    df = spark.createDataFrame([(f"k{i:03d}",) for i in range(500)], "k string")
    out = assign_sequential_ids(df, ["k"], "sid", start=10).orderBy("k").collect()
    sids = [r["sid"] for r in out]
    assert sids == list(range(10, 510))  # gap-free, order follows key order


GROUPS_SCHEMA = (
    "group_id long, leader string, member string, item_uuid string, item_name string"
)


def test_bootstrap_and_upsert_canonical(spark):
    g1 = spark.createDataFrame(
        [
            (1, "coke 300ml", "coke 300ml", "u1", "COKE 300ML"),
            (1, "coke 300ml", "coca cola 300ml", "u2", "Coca-Cola 300ml"),
            (2, "sprite 1l", "sprite 1l", "u3", "Sprite 1L"),
        ],
        GROUPS_SCHEMA,
    )
    catalog, links = bootstrap_canonical(g1)
    cat = {r["canonical_leader"]: r["canonical_id"] for r in catalog.collect()}
    assert sorted(cat.values()) == [1, 2]  # sequential from 1
    assert links.count() == 3
    # incremental run: one direct match, one group pinned to an existing
    # leader, one brand-new group
    g2 = spark.createDataFrame(
        [
            # direct match: member already canonical_member
            (10, "coca cola 300 ml", "coca cola 300ml", "u4", "coca-cola 300 ML"),
            # leader pinning: group contains existing leader 'sprite 1l'
            (11, "sprite one liter", "sprite 1l", "u5", "SPRITE 1l"),
            (11, "sprite one liter", "sprite one liter", "u6", "Sprite One Liter"),
            # new entity
            (12, "fanta 500ml", "fanta 500ml", "u7", "FANTA 500ml"),
        ],
        GROUPS_SCHEMA,
    )
    cat2, links2 = upsert_canonical(catalog, links, g2)
    c2 = {r["canonical_leader"]: r["canonical_id"] for r in cat2.collect()}
    # fanta got a fresh id above the previous max
    assert c2["fanta 500ml"] == 3
    assert set(c2) == {"coke 300ml", "sprite 1l", "fanta 500ml"}
    lk = {(r["item_uuid"]): (r["canonical_id"], r["canonical_member"]) for r in links2.collect()}
    assert lk["u4"][0] == cat["coke 300ml"]  # direct match
    assert lk["u5"][0] == cat["sprite 1l"]  # pinned
    assert lk["u6"][0] == cat["sprite 1l"]  # pinned (same group)
    assert lk["u7"][0] == 3
    # links key-unique (reference/clean_canonical.py:207 invariant)
    n = links2.count()
    assert links2.dropDuplicates(["item_uuid", "canonical_id", "canonical_member"]).count() == n


def test_upsert_idempotent_for_repeated_run(spark):
    g = spark.createDataFrame(
        [(1, "a prod", "a prod", "u1", "A Prod"), (2, "b prod", "b prod", "u2", "B Prod")],
        GROUPS_SCHEMA,
    )
    catalog, links = bootstrap_canonical(g)
    cat2, links2 = upsert_canonical(catalog, links, g)
    # same groups re-presented: all direct matches, no new canonical ids
    assert cat2.count() == catalog.count()
    assert links2.count() == links.count()
    assert cat2.agg(F.max("canonical_id")).collect()[0][0] == 2


def test_append_missing_members_end_to_end(spark):
    """appends_uuids.main composition (reference/appends_uuids.py:122-144):
    normalize -> drop linked uuids -> U5 split -> direct-link vs mint.
    Fixture rows are pre-sorted so the reference's input-order id assignment
    equals this implementation's sorted-order assignment."""
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
        [(1, "alpha one", 0), (2, "beta two", 1)],
        "canonical_id long, canonical_leader string, agent_verified long",
    )
    missing = spark.createDataFrame(
        [
            ("u2", "ALFA One"),      # already linked -> dropped entirely
            ("m1", "Alfa One! "),    # normalizes to existing member 'alfa one'
            ("m0", "beta two!!"),    # matches member 'beta two' -> id 2, av=1
            ("m2", "Gamma@ Three"),  # new
            ("m3", "delta four"),    # new
            ("m4", "Gamma Three"),   # duplicate new leader
        ],
        "item_uuid string, item_name string",
    )
    cat2, links2 = append_missing_members(catalog, links, missing)

    # catalog: duplicate leaders minted as SEPARATE rows (reference concat
    # semantics) with sorted-order ids 3=delta four, 4+5=gamma three
    cat_rows = sorted(
        (r["canonical_id"], r["canonical_leader"]) for r in cat2.collect()
    )
    assert cat_rows == [
        (1, "alpha one"), (2, "beta two"), (3, "delta four"),
        (4, "gamma three"), (5, "gamma three"),
    ]
    lk = {
        r["item_uuid"]: (
            r["canonical_id"], r["canonical_leader"], r["canonical_member"],
            r["agent_verified"],
        )
        for r in links2.collect()
    }
    assert "u2" not in {k for k in lk if k.startswith("m")}  # dropped resubmit
    assert links2.count() == 3 + 5  # 3 prior + (m0,m1,m2,m3,m4)
    assert lk["m1"] == (1, "alpha one", "alfa one", 0)
    # agent_verified propagates from the catalog row of the linked id
    assert lk["m0"] == (2, "beta two", "beta two", 1)
    # last-wins dict semantics: BOTH gamma rows link to the max minted id
    assert lk["m2"] == (5, "gamma three", "gamma three", 0)
    assert lk["m4"] == (5, "gamma three", "gamma three", 0)
    assert lk["m3"] == (3, "delta four", "delta four", 0)


def test_porter_stemmer_vectors():
    from product_deduplication_spark.functions.normalize import porter_stem

    vectors = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "hopping": "hop", "filing": "file", "happy": "happi",
        "sky": "sky", "relational": "relat", "conditional": "condit",
        "rational": "ration", "digitizer": "digit", "operator": "oper",
        "triplicate": "triplic", "formative": "form", "formalize": "formal",
        "electrical": "electr", "hopeful": "hope", "goodness": "good",
        "adjustable": "adjust", "defensible": "defens", "replacement": "replac",
        "adoption": "adopt", "activate": "activ", "effective": "effect",
        "rate": "rate", "cease": "ceas", "controll": "control", "roll": "roll",
        "meetings": "meet", "flies": "fli", "denied": "deni",
    }
    bad = {w: (porter_stem(w), e) for w, e in vectors.items() if porter_stem(w) != e}
    assert not bad, bad
