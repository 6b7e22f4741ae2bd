"""Vectorized language-ID UDF (north rule: "fastText langid ... run as
vectorized pandas/Arrow UDFs").

The scorer is core.langid's deterministic stopword-hit scorer, which the
DuckDB oracle mirrors. The project ships no fastText model or library, so
no model backend is wired in; a deployment with one swaps it in here,
behind the same UDF and struct.

Catalyst fuses this into the same ArrowEvalPython stage as the scrub and
perplexity UDFs — zero extra Python round trips (plan-asserted in
tests/test_plan_shapes.py).
"""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import core

LANGID_STRUCT = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
])


# Single-pass stand-in kernel (round 7): token → bitmask of the languages
# whose stopword set contains it, so one dict probe per token replaces 5
# frozenset membership sweeps (core.langid's per-language loop). Hit
# counts are identical integers, scores the same hits/n division, and the
# best-language scan below replicates core.langid's strict-> priority
# tie-break exactly — equality with core.langid is pinned per row by the
# pytest oracle (tests/test_spark_pipeline.py) and the langid_confidence
# driver oracle.
from .. import lexicon as lx  # noqa: E402

_LANGS = list(lx.LANG_PRIORITY)
_TOKEN_MASK: dict[str, int] = {}
for _i, _lang in enumerate(_LANGS):
    for _w in lx.LANG_STOPWORDS[_lang]:
        _TOKEN_MASK[_w] = _TOKEN_MASK.get(_w, 0) | (1 << _i)


def _langid_row(text: str) -> tuple[str, float]:
    tokens = text.split()
    if not tokens:
        return "und", 0.0
    n = len(tokens)
    hits = [0] * len(_LANGS)
    get = _TOKEN_MASK.get
    for t in tokens:
        m = get(t.lower())
        if m:
            for i in range(len(_LANGS)):
                if m >> i & 1:
                    hits[i] += 1
    best_lang, best_score = "und", -1.0
    for i, lang in enumerate(_LANGS):
        score = hits[i] / n
        if score > best_score:
            best_lang, best_score = lang, score
    if best_score < lx.LANGID_MIN_CONFIDENCE:
        return "und", best_score
    return best_lang, best_score


@F.pandas_udf(LANGID_STRUCT)
def langid_udf(text: pd.Series) -> pd.DataFrame:
    from .worker import init_worker
    init_worker()
    out = {"lang": [], "lang_conf": []}
    for t in text:
        lang, conf = _langid_row(t or "")
        out["lang"].append(lang)
        out["lang_conf"].append(conf)
    return pd.DataFrame(out)
