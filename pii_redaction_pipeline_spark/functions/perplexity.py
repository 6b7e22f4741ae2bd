"""Char-bigram perplexity as a vectorized pandas UDF (KenLM-style score).

The scorer is the deterministic in-repo char-bigram table, built once at
import from core._build_ppl_table and shipped in the UDF closure; the
project ships no KenLM model or library. The batch kernel makes one
numpy pass per slice of 1024 rows of an Arrow batch: code points → ids →
whitespace collapse → bigram gather → per-row sums. The only per-row
Python left is str.lower() and len() in one comprehension; the encode
and the numpy calls run once per slice.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from .. import core

_V = len(core._PPL_VOCAB)  # OOV id
_W = _V + 1                 # row stride of the flat bigram table
_SPACE = core._PPL_VOCAB.index(" ")

# (V+1)x(V+1) table with OOV row/col = uniform log prob, flattened so the
# bigram gather is one 1-D fancy index
_TABLE = np.full((_W, _W), core._PPL_OOV, dtype=np.float64)
for (_a, _b), _lp in core._PPL_TABLE.items():
    _TABLE[core._PPL_VOCAB.index(_a), core._PPL_VOCAB.index(_b)] = _lp
_TABLE_FLAT = _TABLE.ravel()

# code point -> id. Every code point core's whitespace regex matches maps
# to the space id, so a run of them collapses to one space below exactly
# as core._WS_COLLAPSE_RE.sub(" ", ...) does; a-z map to their vocab ids;
# everything else is OOV. U+3000 is the highest code point str `\s`
# matches (tests/test_ppl_batch.py scans the whole range), and the last
# entry is the OOV id that take(mode="clip") maps every later code point
# onto.
_WS_MAX = 0x3000
_LUT = np.full(_WS_MAX + 2, _V, dtype=np.intp)
for _m in core._WS_COLLAPSE_RE.finditer("".join(map(chr, range(_WS_MAX + 1)))):
    _LUT[_m.start():_m.end()] = _SPACE
for _i, _c in enumerate(core._PPL_VOCAB):
    _LUT[ord(_c)] = _i


# rows per numpy pass. Past a few thousand rows the pass's temporaries
# (8 bytes per char each) outgrow the CPU caches: on a 16384-row batch of
# datagen transcripts (4-core x86-64 guest) one pass took 3.8-4.6 µs/row
# and peaked at 85 MB, 1024-row slices 1.8-2.2 µs/row and about 6 MB.
_SLICE_ROWS = 1024


def ppl_batch(texts: pd.Series) -> np.ndarray:
    """core.perplexity over a batch (None scores like ""), one numpy pass
    per slice of _SLICE_ROWS rows."""
    rows = list(texts)
    out = np.empty(len(rows))
    for i in range(0, len(rows), _SLICE_ROWS):
        out[i:i + _SLICE_ROWS] = _ppl_slice(rows[i:i + _SLICE_ROWS])
    return out


def _ppl_slice(texts: list) -> np.ndarray:
    """The rows are lowercased one by one (lower() can change a string's
    length), then joined and encoded once, and kept apart by their end
    offsets in the joined id array."""
    low = ["" if t is None else str(t).lower() for t in texts]
    n = len(low)
    lens = np.fromiter(map(len, low), dtype=np.intp, count=n)
    ends = np.cumsum(lens)
    # code points, not utf-8 bytes, so a non-ASCII char is one OOV id
    # exactly like core's per-char dict miss
    codes = np.frombuffer(
        "".join(low).encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    ids = _LUT.take(codes, mode="clip")

    # drop whitespace that follows whitespace in the same row (a row's
    # first char follows no char of its own row) and shorten its row
    sp = ids == _SPACE
    dup = np.flatnonzero(sp[1:] & sp[:-1]) + 1
    row = np.searchsorted(ends, dup, side="right")
    same_row = dup > ends[row] - lens[row]
    ids = np.delete(ids, dup[same_row])
    lens -= np.bincount(row[same_row], minlength=n)
    ends = np.cumsum(lens)
    starts = ends - lens

    # one gather for every adjacent pair in the slice, then one sum per
    # row over its own pairs [start, end - 1); the pairs that straddle
    # two rows fall in the segments reduceat's odd slots discard
    lp = np.zeros(len(ids))
    lp[:-1] = _TABLE_FLAT[ids[:-1] * _W + ids[1:]]
    pairs = lens - 1
    out = np.full(n, float(_V))
    has = np.flatnonzero(pairs > 0)
    if has.size:
        bounds = np.empty(2 * has.size, dtype=np.intp)
        bounds[0::2] = starts[has]
        bounds[1::2] = ends[has] - 1
        out[has] = np.exp(-np.add.reduceat(lp, bounds)[0::2] / pairs[has])
    return out


@pandas_udf(T.DoubleType())
def ppl_udf(transcript: pd.Series) -> pd.Series:
    from .worker import init_worker
    init_worker()
    return pd.Series(ppl_batch(transcript))


def with_ppl(df, text_col: str = "transcript"):
    return df.withColumn("ppl", ppl_udf(F.col(text_col)))
