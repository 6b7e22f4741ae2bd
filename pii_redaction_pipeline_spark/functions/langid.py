"""Vectorized language-ID UDF (north rule: "fastText langid ... run as
vectorized pandas/Arrow UDFs").

The scorer is core.langid's deterministic stopword-hit scorer, which the
DuckDB oracle mirrors. The project ships no fastText model or library, so
no model backend is wired in; a deployment with one swaps it in here,
behind the same UDF and struct.

The batch kernel tokenizes its Arrow batch once (tokens.split_batch) and
looks up each distinct token once: token.lower() → a bitmask of the
languages whose stopword set holds it. One gather spreads the masks over
the batch's tokens, then one np.add.reduceat per language sums each row's
hits. The best language is the first argmax over the counts, which is
core.langid's strict-> scan in LANG_PRIORITY order. The hits/n division
is the same correctly rounded float64 division, so `lang_conf` equals
core.langid's bit for bit (tests/test_langid_batch.py, and the
langid_confidence oracle row).

Catalyst fuses this into the same ArrowEvalPython stage as the scrub and
perplexity UDFs — zero extra Python round trips (plan-asserted in
tests/test_plan_shapes.py).
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import lexicon as lx
from .tokens import split_batch

LANGID_STRUCT = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
])

_LANGS = list(lx.LANG_PRIORITY)
_UND = len(_LANGS)
_LANG_NAMES = np.array(_LANGS + ["und"], dtype=object)
_MASK_DTYPE = np.min_scalar_type((1 << len(_LANGS)) - 1)
# lowered token → bit i set iff LANG_PRIORITY[i]'s stopword set holds it
_TOKEN_MASK: dict[str, int] = {}
for _i, _lang in enumerate(_LANGS):
    for _w in lx.LANG_STOPWORDS[_lang]:
        _TOKEN_MASK[_w] = _TOKEN_MASK.get(_w, 0) | (1 << _i)


def langid_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """core.langid on every row of `texts` (None scores like ""), as
    (lang, lang_conf) arrays."""
    tok = split_batch(texts)
    n = len(tok.offsets) - 1
    get = _TOKEN_MASK.get
    masks = np.fromiter((get(t.lower(), 0) for t in tok.vocab),
                        dtype=_MASK_DTYPE, count=len(tok.vocab))
    hit = masks[tok.ids]
    lens = np.diff(tok.offsets)
    # reduceat sums from each start to the next, so give it the non-empty
    # rows only: the tokens between two of them all belong to the first
    has = np.flatnonzero(lens)
    counts = np.zeros((len(_LANGS), n), dtype=np.int64)
    if has.size:
        starts = tok.offsets[has]
        for i in range(len(_LANGS)):
            counts[i, has] = np.add.reduceat(hit >> i & 1, starts,
                                             dtype=np.int64)
    best = counts.argmax(axis=0)
    conf = counts[best, np.arange(n)] / np.maximum(lens, 1)
    best[conf < lx.LANGID_MIN_CONFIDENCE] = _UND
    return _LANG_NAMES[best], conf


@F.pandas_udf(LANGID_STRUCT)
def langid_udf(text: pd.Series) -> pd.DataFrame:
    from .worker import init_worker
    init_worker()
    lang, conf = langid_batch(text)
    return pd.DataFrame({"lang": lang, "lang_conf": conf})
