"""The benchmark's corpus generator, oracle and recall computation."""

import pandas as pd
import pytest

from perfbench import corpora

SKEWED = {"n_docs": 60, "boiler_share": 0.25, "n_template": 30}
INCREMENTAL = {"n_bootstrap": 30, "n_deltas": 4, "delta_docs": 6}


def test_skewed_is_a_function_of_the_seed():
    a, b = corpora.skewed(3, **SKEWED), corpora.skewed(3, **SKEWED)
    pd.testing.assert_frame_equal(a.docs, b.docs)
    assert a.truth == b.truth and a.parts == b.parts == [len(a.docs)]
    assert not corpora.skewed(4, **SKEWED).docs["text"].equals(a.docs["text"])


def test_skewed_hot_spots():
    c = corpora.skewed(3, **SKEWED)
    urls = c.docs["url"]
    boiler = c.docs[urls.str.contains("boiler.example")]
    assert boiler["text"].nunique() == 1 and len(boiler) > 1
    assert urls.str.contains("template.example").sum() == SKEWED["n_template"]
    assert len(c.docs) == SKEWED["n_docs"] + len(boiler) + SKEWED["n_template"]
    assert urls.is_unique


def test_incremental_parts_cover_the_corpus():
    c = corpora.incremental(5, **INCREMENTAL)
    assert c.parts == [30, 6, 6, 6, 6]
    assert sum(c.parts) == len(c.docs)


@pytest.mark.parametrize("build, params", [
    (corpora.skewed, SKEWED), (corpora.incremental, INCREMENTAL),
])
def test_related_pairs_avoid_the_border(build, params):
    """Every truth pair is a clear duplicate, and no kept relative pair sits
    in the band where LSH could miss it."""
    c = build(7, **params)
    text = dict(zip(c.docs["url"], c.docs["text"]))
    assert c.truth
    for a, b in c.truth:
        if a in text and b in text:
            sa, sb = corpora.shingle_sets([text[a], text[b]], corpora.CFG)
            assert corpora.jaccard(sa, sb) >= corpora.BORDER[1]


def test_oracle_labels_restrict_to_present_docs():
    c = corpora.Corpus(pd.DataFrame(), [("a", "b"), ("b", "c"), ("d", "e")], [0])
    labels = c.oracle_labels(["a", "b", "c", "d"])
    assert labels["a"] == labels["b"] == labels["c"]
    assert len({labels["a"], labels["d"]}) == 2
    assert "e" not in labels


def test_pair_recall():
    truth = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")]
    labels = {"a": 1, "b": 1, "c": 2, "d": 2}
    # ("x", "y") is not in the output, so it does not count
    assert corpora.pair_recall(truth, labels) == pytest.approx(2 / 3)
    assert corpora.pair_recall([], labels) == 1.0


def test_cached_corpus_round_trips(tmp_path):
    calls = []

    def incremental(seed, **params):
        calls.append(seed)
        return corpora.incremental(seed, **params)

    first, paths = corpora.cached(str(tmp_path), 5, incremental, **INCREMENTAL)
    again, paths2 = corpora.cached(str(tmp_path), 5, incremental, **INCREMENTAL)
    assert calls == [5] and paths == paths2
    pd.testing.assert_frame_equal(first.docs, again.docs)
    assert first.truth == again.truth and first.parts == again.parts
    direct = corpora.incremental(5, **INCREMENTAL)
    assert first.docs["url"].tolist() == direct.docs["url"].tolist()
    assert [len(pd.read_parquet(p)) for p in paths] == first.parts
