"""Reference-parity text normalization + fuzzy verification kernels.

Reproduces the reference's name-cleaning chain (``reference/static.py:24-56``,
SURVEY.md P3-P10) and its fuzzy verification (``reference/static.py:203-215,
236-260``, V4/V5) as Spark column expressions / Arrow UDFs:

- ``clean_text_cols``: lower+strip, null drop, special-char regex strip —
  pure JVM (``static.py:26-29``)
- stop-word removal reproduced BUG-FOR-BUG: the reference tests the whole
  string against the stop list (``' '.join(w for w in x.split() if x not in
  stop_list)``, ``static.py:33``) so it is a no-op unless the entire name is
  a stop word; ``fixed=True`` applies the intended per-word filter
- lemmatization: the sandbox has no WordNet, so the parity path treats it as
  identity (documented deviation; the webtext engine never lemmatizes)
- ``promo_scrub``: the pm/price-mark regex (``static.py:54``)
- ``extract_package``: the ~30-alternation-group regex with pandas
  ``str.extract`` first-match-per-group + non-null join semantics
  (``static.py:111-125,238-245``) — replicated exactly in an Arrow UDF
- ``token_sort_ratio``: pure-python Levenshtein ratio on sorted-token
  strings (fuzzywuzzy is not installed; this is the same formula
  round(100 * (1 - dist/lensum)) fuzzywuzzy uses)
- ``fuzzy_name_match``: the V4 + V5 predicate over a pair relation, used
  by the grocery parity pipeline
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

SPECIAL_CHARS_RE = r"(@[A-Za-z0-9]+)|([^0-9A-Za-z.% \t])"  # static.py:29
PROMO_RE = (
    r"(pm \d+\w+)|(pm \d+\.\d+)|(pm\d+\.\d+)|(\d+ pmp)|(pm\d+)|( \.+)"
    r"|(pmp\d+.\d+)|(\d+pmp)|(pmp \d+)|(\d+.\d+ pm)"
)  # static.py:54

# package regex family, static.py:238-245 (concatenated alternation groups)
_REG_PROMOS = (
    r"(\d+x\d+\w+)|(\d+ x \d+\w+)|(\d+ x \d+ \w+)|(\d+\w+ x \d+ \w+)"
    r"|(\d+ x \d+\.\d+\w+)|(\d+ x \d+\.\d+ \w+)|(x \d+)|(x \d+g)|(x \d+ g)"
    r"|(x\d+)|(\d+\w+ \d+pk)|(\d+\w+ \d+pack)|(\d+\w+ \d+ pk)|(\d+\w+ \d+ pack)"
    r"|(\d+ pack)|(\d+ pk)|(x\d+ \d+g)|(x\d+ \d+0g)|"
)
_REG_PACK = (
    r"(\d+\.+\d+\w+)|(\d+\.+\d+ \w+)|(\d+ ml)|(\d+ g)|(\d+\w+)|(\d+ \w+)"
    r"|(0\.\d+ litre)|(\d+\.\d+ litre)|(0\.\d+l)|(\d+\.\d+ l)|(\d+\.\d+l)"
    r"|(\d+l)|(\d+ cl)|(\d+cl)|(\d+0 cl)|(\d+\.\d+ kg)|(\d+ ml)|(\d+ kilo)|"
)
_REG_PIECES = r"(\d+ piece)|(\d+0 piece)|(\d+piece)|(\d+ piezas)|"
_REG_SIZES = r"(\d+ inch)|"
_REG_MED = r"(\d+ mg)|"
_REG_IN = r"(\d+ in \d+)"
PACKAGE_RE = _REG_PROMOS + _REG_PACK + _REG_PIECES + _REG_SIZES + _REG_MED + _REG_IN


def title_case(df: DataFrame, col: str, out: str, pandas_semantics: bool = False) -> DataFrame:
    """P4 presentation title-casing (reference/clean_canonical.py:57-65).

    ``initcap`` capitalizes after whitespace; pandas ``str.title()``
    capitalizes after ANY non-alpha ("coca-cola" → "Coca-Cola"). The engine
    default is initcap (JVM-side); ``pandas_semantics=True`` reproduces
    str.title() via regex for parity runs.
    """
    if not pandas_semantics:
        return df.withColumn(out, F.initcap(F.col(col)))

    @pandas_udf(T.StringType())
    def _title(s: pd.Series) -> pd.Series:
        return s.str.title()

    return df.withColumn(out, _title(F.col(col)))


def clean_text_cols(df: DataFrame, col: str, out: str) -> DataFrame:
    """static.py:24-30: lower/strip → drop nulls → strip special chars."""
    lowered = F.lower(F.trim(F.col(col)))
    return (
        df.withColumn(out, lowered)
        .where(F.col(out).isNotNull())
        .withColumn(out, F.regexp_replace(F.col(out), SPECIAL_CHARS_RE, ""))
    )


def remove_stop_words(df: DataFrame, col: str, stop_list: list[str], fixed: bool = False) -> DataFrame:
    """static.py:32-34. Default reproduces the reference bug (whole-string
    membership test — a no-op unless the entire value is a stop word);
    fixed=True filters per word as intended."""
    out = f"{col}_stop"
    if not fixed:
        return df.withColumn(
            out,
            F.when(F.col(col).isin(stop_list), F.lit("")).otherwise(F.col(col)),
        )
    toks = F.split(F.col(col), r"\s+")
    # python str.split() drops empty tokens; Spark's split keeps them —
    # filter explicitly or joins grow stray spaces
    kept = F.filter(toks, lambda w: (w != F.lit("")) & ~w.isin(stop_list))
    return df.withColumn(out, F.array_join(kept, " "))


def drop_dot_tokens(df: DataFrame, col: str, out: str) -> DataFrame:
    """static.py:50-51: re-join tokens excluding the literal '.'."""
    toks = F.split(F.col(col), r"\s+")
    kept = F.filter(toks, lambda w: (w != F.lit(".")) & (w != F.lit("")))
    return df.withColumn(out, F.array_join(kept, " "))


def promo_scrub(df: DataFrame, col: str) -> DataFrame:
    """static.py:53-55."""
    return df.withColumn(col, F.regexp_replace(F.col(col), PROMO_RE, ""))


def normalize_names(df: DataFrame, col: str = "item_name", stop_list: list[str] | None = None,
                    regex_clean: bool = True, fixed_stop_words: bool = False,
                    lemmatize_mode: str = "identity") -> DataFrame:
    """The full nlp_cleaning chain (static.py:40-56) → ``product_name``.

    ``lemmatize_mode``: the reference lemmatizes each token with WordNet
    (static.py:36-38,48). The sandbox has no WordNet corpus, so the default
    is identity (documented deviation, SURVEY.md P9); ``"porter"`` applies
    the self-contained Porter stemmer below — a rule-based approximation
    that needs no corpus download."""
    out = clean_text_cols(df, col, "item_name_norm")
    out = remove_stop_words(out, "item_name_norm", stop_list or [], fixed=fixed_stop_words)
    if lemmatize_mode == "porter":
        out = stem_tokens(out, "item_name_norm_stop", "item_name_norm_stop")
    out = drop_dot_tokens(out, "item_name_norm_stop", "product_name")
    if regex_clean:
        out = promo_scrub(out, "product_name")
    return out


# -- Porter stemmer (P9 lemmatize stand-in) ---------------------------------
# Self-contained implementation of the Porter stemming algorithm
# (M.F. Porter, "An algorithm for suffix stripping", Program 14(3), 1980 —
# public algorithm). Stands in for the reference's WordNet lemmatizer
# (reference/static.py:36-38,48), which needs a corpus download the sandbox
# forbids. Pure python on purpose: it runs inside an Arrow-batched UDF over
# token arrays, and per-token cost is dominated by the regexless rule table.

_VOWELS = set("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences ("measure" m in the paper)."""
    m, prev_c = 0, True
    started = False
    for i in range(len(stem)):
        c = _is_cons(stem, i)
        if not c:
            started = True
        if c and started and not prev_c:
            m += 1
        prev_c = c
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _ends_cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    if not (_is_cons(word, len(word) - 3) and not _is_cons(word, len(word) - 2) and _is_cons(word, len(word) - 1)):
        return False
    return word[-1] not in "wxy"


def porter_stem(word: str) -> str:
    """Porter (1980) stemmer, steps 1a-5b, standard behavior
    (caresses→caress, ponies→poni, relational→relat, hopeful→hope...)."""
    w = word
    if len(w) <= 2:
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, flag = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, flag = w[:-3], True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
                w = w[:-1]
            elif _measure(w) == 1 and _ends_cvc(w):
                w += "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2 (m > 0)
    _STEP2 = [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
        ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
        ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
        ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ]
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 3 (m > 0)
    _STEP3 = [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ]
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 4 (m > 1)
    _STEP4 = [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ]
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 1:
                w = stem
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st" and _measure(w[:-3]) > 1:
            w = w[:-3]

    # step 5a
    if w.endswith("e"):
        m = _measure(w[:-1])
        if m > 1 or (m == 1 and not _ends_cvc(w[:-1])):
            w = w[:-1]
    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


def stem_tokens(df: DataFrame, col: str, out: str) -> DataFrame:
    """Porter-stem each whitespace token of ``col``, re-join with single
    spaces (the token-wise shape of the reference's lemmatize loop,
    static.py:48). Arrow-batched — one UDF call per batch, tokens stemmed
    in a flat loop."""

    @pandas_udf(T.StringType())
    def _stem(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: " ".join(porter_stem(t) for t in v.split()) if v is not None else None
        )

    return df.withColumn(out, _stem(F.col(col)))


_PACKAGE_PATTERN = re.compile(PACKAGE_RE)


def _extract_package_one(value: str | None) -> str:
    """pandas ``str.extract`` semantics (static.py:122-123): first regex
    match, one value per capture group, then ','-join of non-null groups."""
    if value is None:
        return ""
    m = _PACKAGE_PATTERN.search(value)
    if m is None:
        return ""
    return ",".join(g for g in m.groups() if g is not None)


def make_package_extract_udf():
    @pandas_udf(T.StringType())
    def extract_package(names: pd.Series) -> pd.Series:
        return names.map(_extract_package_one)

    return extract_package


def levenshtein_ratio(a: str, b: str) -> int:
    """fuzz.ratio formula: round(100 * 2*M / (len(a)+len(b))) where M =
    matching chars — equivalently round(100*(lensum - dist)/lensum) with
    unit-cost edit distance where substitutions cost 2 (difflib-free,
    numpy DP)."""
    if not a and not b:
        return 100
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0
    # Levenshtein with substitution cost 2 (indel distance semantics used by
    # python-Levenshtein's ratio, which fuzzywuzzy wraps)
    prev = np.arange(lb + 1, dtype=np.int64)
    bb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    for i, ca in enumerate(np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)):
        cur = np.empty(lb + 1, dtype=np.int64)
        cur[0] = i + 1
        # substitution (cost 2) vs deletion; insertions fixed up left-to-right
        sub = prev[:-1] + np.where(bb == ca, 0, 2)
        np.minimum(sub, prev[1:] + 1, out=cur[1:])
        for j in range(1, lb + 1):
            if cur[j] > cur[j - 1] + 1:
                cur[j] = cur[j - 1] + 1
        prev = cur
    dist = int(prev[-1])
    lensum = la + lb
    return int(round(100.0 * (lensum - dist) / lensum))


def token_sort_ratio(a: str | None, b: str | None) -> int:
    """fuzz.token_sort_ratio: ratio over whitespace-sorted token strings."""
    sa = " ".join(sorted((a or "").split()))
    sb = " ".join(sorted((b or "").split()))
    return levenshtein_ratio(sa, sb)


def make_token_sort_ratio_udf():
    @pandas_udf(T.IntegerType())
    def ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([token_sort_ratio(x, y) for x, y in zip(a, b)], dtype="int32")

    return ratio


def fuzzy_name_match(
    pairs: DataFrame, a: str, b: str, threshold_products: int, threshold_package: int
) -> DataFrame:
    """Rows of ``pairs`` passing the reference's V4 + V5 predicate
    (``static.py:203-215,236-260``): ``fuzz_ratio`` (token_sort_ratio of
    names ``a`` and ``b``) >= ``threshold_products`` and ``package_ratio``
    (of their extracted packages) > ``threshold_package``."""
    ratio = make_token_sort_ratio_udf()
    pkg = make_package_extract_udf()
    return (
        pairs.withColumn("fuzz_ratio", ratio(F.col(a), F.col(b)))
        .where(F.col("fuzz_ratio") >= threshold_products)
        .withColumn("package_ratio", ratio(pkg(F.col(a)), pkg(F.col(b))))
        .where(F.col("package_ratio") > threshold_package)
    )
