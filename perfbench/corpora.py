"""Seeded workload corpora and their ground truth.

Every corpus is built on ``datagen.generate_web_documents``; the engine only
ever sees the generated parquet (url, warc_ts, html, text, lang).

Ground truth is exact: every pair the generator relates (a base doc and its
copies, a template and its members) gets its exact shingle Jaccard from the
engine's own shingling (``oracle.brute_force.shingle_sets``). Members whose
Jaccard with a relative falls in ``BORDER`` are dropped, so every related
pair is either a clear duplicate (LSH candidate probability > 1 - 1e-6) or
clearly below the verify threshold. That makes the expected clustering a
pure function of the seed: the oracle is union-find over the related pairs
at or above the threshold, and the engine must reproduce it exactly.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.datagen import generate_web_documents, text_to_html
from product_deduplication_spark.oracle.brute_force import shingle_sets, union_find_clusters

CFG = DedupConfig()
THRESHOLD = CFG.jaccard_threshold
# related pairs with Jaccard in [lo, hi) are dropped from the corpus: below
# 0.9 the LSH S-curve starts to miss pairs, and the lower edge keeps a margin
# under the verify threshold
BORDER = (0.75, 0.9)
# template members: near (J >= 0.95 with the template) or far (J <= 0.7).
# Jaccard distance is a metric, so a far member is at distance >= 0.25 from
# every near one, i.e. J <= 0.75 < THRESHOLD: far members stay singletons.
TEMPLATE_NEAR, TEMPLATE_FAR = 0.95, 0.7

_BASE_TS = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)


@dataclass
class Corpus:
    """Generated documents plus what the checks need.

    ``parts`` are row counts: one part for a batch corpus; the bootstrap
    followed by the delta batches for an incremental one.
    """

    docs: pd.DataFrame          # url, warc_ts, html, text, lang
    truth: list[tuple[str, str]]  # related url pairs with J >= THRESHOLD
    parts: list[int]

    def oracle_labels(self, urls) -> dict:
        """url -> cluster label for the docs in ``urls`` (truth pairs with
        both ends present)."""
        present = set(urls)
        edges = [(a, b) for a, b in self.truth if a in present and b in present]
        return union_find_clusters(sorted(present), edges)


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    if a.size == 0 or b.size == 0:
        return 0.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    return inter / (a.size + b.size - inter)


def _families(truth: pd.DataFrame) -> dict[str, list[str]]:
    """base url -> [base, copy, ...] in generation order."""
    fams: dict[str, list[str]] = {}
    for a, b in zip(truth["url_a"], truth["url_b"]):
        fams.setdefault(a, [a]).append(b)
    return fams


def _filter_families(docs: pd.DataFrame, truth: pd.DataFrame):
    """Drop copies that sit in BORDER with a kept relative; return
    (kept docs, truth pairs at or above THRESHOLD)."""
    text = dict(zip(docs["url"], docs["text"]))
    dropped: set[str] = set()
    pairs: list[tuple[str, str]] = []
    for members in _families(truth).values():
        sets = dict(zip(members, shingle_sets([text[u] for u in members], CFG)))
        kept: list[str] = []
        for u in members:
            sims = [(k, jaccard(sets[u], sets[k])) for k in kept]
            if any(BORDER[0] <= s < BORDER[1] for _, s in sims):
                dropped.add(u)
                continue
            pairs += [(min(k, u), max(k, u)) for k, s in sims if s >= THRESHOLD]
            kept.append(u)
    return docs[~docs["url"].isin(dropped)].reset_index(drop=True), pairs


def _mutate(tokens: list[str], rate: float, rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    out: list[str] = []
    for tok in tokens:
        r = rng.random()
        if r < rate / 3:
            out.append(str(vocab[rng.integers(vocab.size)]))
        elif r < 2 * rate / 3:
            continue
        elif r < rate:
            out += [tok, str(vocab[rng.integers(vocab.size)])]
        else:
            out.append(tok)
    return out


def _rows(prefix: str, texts: list[str], offset: int) -> pd.DataFrame:
    return pd.DataFrame({
        "url": [f"https://{prefix}.example/d/{i}" for i in range(len(texts))],
        "warc_ts": [_BASE_TS + dt.timedelta(seconds=offset + i) for i in range(len(texts))],
        "html": [text_to_html(t) for t in texts],
        "text": texts,
        "lang": "en",
    })


def _web(seed: int, n_docs: int):
    """Exactly ``n_docs`` generator docs (the first ones, in generation
    order) and their truth pairs. Every base doc survives the filter, so
    ``n_docs`` base docs are always enough."""
    docs, truth = generate_web_documents(n_base_docs=n_docs, seed=seed)
    docs, pairs = _filter_families(docs, truth)
    return docs.iloc[:n_docs], pairs


def skewed(seed: int, n_docs: int, boiler_share: float, n_template: int) -> Corpus:
    """``n_docs`` web docs plus two hot spots: a byte-identical boilerplate
    class of ``boiler_share`` x ``n_docs`` (one hot sha2 key, identical LSH
    bands and SimHash) and a template family of ``n_template`` mutated copies
    of one page (hot LSH buckets and SimHash chunks, a giant CC component,
    and far members that become candidates but fail verify)."""
    docs, pairs = _web(seed, n_docs)
    rng = np.random.default_rng([seed, 1])
    vocab = np.unique(" ".join(docs["text"].head(200)).split())

    boiler = " ".join(vocab[rng.integers(vocab.size, size=300)])
    n_boiler = int(boiler_share * len(docs))
    boiler_docs = _rows("boiler", [boiler] * n_boiler, len(docs))
    hub = boiler_docs["url"].iloc[0]
    pairs += [(min(hub, u), max(hub, u)) for u in boiler_docs["url"].iloc[1:]]

    template = list(vocab[rng.integers(vocab.size, size=400)])
    t_set = shingle_sets([" ".join(template)], CFG)[0]
    members = [" ".join(template)]
    while len(members) < n_template:
        rate = 0.005 if rng.random() < 0.5 else 0.2
        text = " ".join(_mutate(template, rate, rng, vocab))
        sim = jaccard(shingle_sets([text], CFG)[0], t_set)
        if sim >= TEMPLATE_NEAR or sim <= TEMPLATE_FAR:
            members.append(text)
    t_docs = _rows("template", members, len(docs) + n_boiler)
    t_sets = shingle_sets(members, CFG)
    root = t_docs["url"].iloc[0]
    pairs += [
        (min(root, u), max(root, u))
        for u, s in zip(t_docs["url"].iloc[1:], t_sets[1:])
        if jaccard(s, t_set) >= THRESHOLD
    ]
    out = pd.concat([docs, boiler_docs, t_docs], ignore_index=True)
    # interleave the hot spots with the base corpus, as a crawl would
    out = out.iloc[rng.permutation(len(out))].reset_index(drop=True)
    return Corpus(out, pairs, [len(out)])


def incremental(seed: int, n_bootstrap: int, n_deltas: int, delta_docs: int) -> Corpus:
    """Plain web corpus in arrival order: ``n_bootstrap`` docs, then
    ``n_deltas`` batches of ``delta_docs``. Docs arrive in random order, so a
    copy and its base usually arrive in different batches."""
    docs, pairs = _web(seed, n_bootstrap + n_deltas * delta_docs)
    rng = np.random.default_rng([seed, 2])
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    return Corpus(docs, pairs, [n_bootstrap] + [delta_docs] * n_deltas)


def _source_digest() -> str:
    """Cache key part: changes when this generator or the engine code it
    builds on (document generator, shingling, config defaults) changes."""
    from product_deduplication_spark import config, datagen
    from product_deduplication_spark.functions import hashing
    from product_deduplication_spark.oracle import brute_force

    h = hashlib.sha256()
    for path in (__file__, datagen.__file__, hashing.__file__, brute_force.__file__, config.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cached(cache_dir: str, seed: int, build, **params) -> tuple[Corpus, list[str]]:
    """``build(seed, **params)``, generated on first use and kept as
    parquet under ``cache_dir``. Returns the corpus and one parquet path
    per part."""
    name = build.__name__
    key = json.dumps({"name": name, "seed": seed, **params}, sort_keys=True)
    digest = hashlib.sha256((key + _source_digest()).encode()).hexdigest()[:16]
    root = os.path.join(cache_dir, f"{name}-{seed}-{digest}")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        corpus = build(seed, **params)
        tmp = root + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        start = 0
        for i, n in enumerate(corpus.parts):
            part = corpus.docs.iloc[start:start + n]
            # Spark reads microsecond timestamps only
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           os.path.join(tmp, f"part{i}.parquet"), coerce_timestamps="us")
            start += n
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"truth": corpus.truth, "parts": corpus.parts}, f)
        os.replace(tmp, root)
    with open(meta_path) as f:
        meta = json.load(f)
    paths = [os.path.join(root, f"part{i}.parquet") for i in range(len(meta["parts"]))]
    docs = pd.concat([pq.read_table(p).to_pandas() for p in paths], ignore_index=True)
    return Corpus(docs, [tuple(p) for p in meta["truth"]], meta["parts"]), paths


def pair_recall(truth: list[tuple[str, str]], labels: dict) -> float:
    """Share of truth pairs (both ends present in ``labels``) that land in
    one cluster."""
    pairs = [(a, b) for a, b in truth if a in labels and b in labels]
    if not pairs:
        return 1.0
    return sum(labels[a] == labels[b] for a, b in pairs) / len(pairs)
