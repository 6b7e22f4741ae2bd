"""WER operator (reference src/wer_calculator.py) as a pandas UDF.

Used by the QA harness: results ⋈ golden on clip_id (plain equi-join —
reference scripts/calculate_accuracy.py:46-58 stem pairing) then this UDF,
then built-in aggregates for the batch WER totals
(src/wer_calculator.py:164-204).

The UDF runs a BATCHED numpy DP (`wer_counts_batch`), not core.wer
row-at-a-time: one Arrow batch of rows advances through the edit-DP
together, one reference-word step per iteration, each step a handful of
vectorized ops over a (rows × hyp_len) plane. The horizontal
(insertion) dependency inside a DP row is resolved with the classic
prefix-min identity min_k≤j(c[k] + j − k) = j + cummin(c[k] − k), and
the backtrace (which defines the reference's canonical S/I/D split,
tie-break sub ≤ ins ≤ del — src/wer_calculator.py:63-109) walks ALL
rows simultaneously via gathers into the op tensor; the DP's boundary
rows double as the walk's sentinels exactly like core.wer's ops[i][0]=D
/ ops[0][j]=I. Measured 5× per-row vs the pure-Python DP (1.42 → 0.29
ms/row on 100-word docs, 2000-row batches); row-wise equality with
core.wer (the scalar oracle) is pinned by a 3000-row mutation-fuzz in
tests/test_wer_harness.py.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import core
from ..schema import WER_STRUCT

# Human-transcript cleanup (reference scripts/calculate_accuracy.py:15-27):
# strip [12.34] timestamps, <Speaker_1>/<tags>, collapse whitespace.
_TS_RE = re.compile(r"\[[\d.]+\]")
_TAG_RE = re.compile(r"<[^>]*>")


def clean_human_transcript(text: str) -> str:
    text = _TS_RE.sub(" ", text)
    text = _TAG_RE.sub(" ", text)
    return re.sub(r"\s+", " ", text).strip()


# op codes in the DP tensor (mirror core.wer's "M"/"S"/"I"/"D")
_OP_M, _OP_S, _OP_I, _OP_D = 0, 1, 2, 3
# cell budget per DP chunk: bounds the (M+1, B, N+1) uint8 op tensor at
# ~64 MB even when 2000-word outlier docs appear (FIXTURES.md tail)
_CELL_BUDGET = 64_000_000


def _wer_dp_chunk(R: np.ndarray, H: np.ndarray, m: np.ndarray,
                  n: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(subs, ins, dels) for one padded chunk. R:(B,M)/H:(B,N) int32 word
    ids (pads are distinct negatives, never equal, and provably never
    visited: cell (i,j) with i≤m_b, j≤n_b depends only on smaller
    in-bounds cells, and row b's backtrace starts at (m_b, n_b))."""
    B, M = R.shape
    N = H.shape[1]
    jj = np.arange(N + 1, dtype=np.int32)
    dp_prev = np.tile(jj, (B, 1))                      # dp[0][j] = j
    ops = np.empty((M + 1, B, N + 1), dtype=np.uint8)
    ops[0, :, :] = _OP_I                               # ops[0][j] = "I"
    t = np.empty((B, N + 1), dtype=np.int32)
    for i in range(1, M + 1):
        ri = R[:, i - 1: i]                            # (B,1)
        mismatch = (ri != H)                           # (B,N)
        diag = dp_prev[:, :-1] + mismatch
        dele = dp_prev[:, 1:] + 1
        # dp_row[j] = min(candidate[j], dp_row[j-1]+1): prefix-min with
        # slope 1 → j + cummin(candidate[j] − j); column 0 seeds dp=i
        t[:, 0] = i
        np.minimum(diag, dele, out=t[:, 1:])
        dp_row = np.minimum.accumulate(t - jj, axis=1) + jj
        # op selection AFTER the row is final (ins reads the final left
        # neighbor), replicating core.wer's exact tie-break chain
        sub = dp_prev[:, :-1] + 1
        ins = dp_row[:, :-1] + 1
        ops[i, :, 0] = _OP_D                           # ops[i][0] = "D"
        ops[i, :, 1:] = np.where(
            ~mismatch, _OP_M,
            np.where((sub <= ins) & (sub <= dele), _OP_S,
                     np.where(ins <= dele, _OP_I, _OP_D))).astype(np.uint8)
        dp_prev = dp_row
    # vectorized backtrace: every row walks its own path simultaneously;
    # boundary ops rows are the sentinels, exactly like the scalar code
    bi = np.arange(B)
    i_cur, j_cur = m.astype(np.int64).copy(), n.astype(np.int64).copy()
    subs = np.zeros(B, dtype=np.int64)
    insc = np.zeros(B, dtype=np.int64)
    dels = np.zeros(B, dtype=np.int64)
    active = (i_cur > 0) | (j_cur > 0)
    while active.any():
        op = ops[i_cur, bi, j_cur]
        subs += active & (op == _OP_S)
        insc += active & (op == _OP_I)
        dels += active & (op == _OP_D)
        dec_i = active & ((op == _OP_M) | (op == _OP_S) | (op == _OP_D))
        dec_j = active & ((op == _OP_M) | (op == _OP_S) | (op == _OP_I))
        i_cur -= dec_i
        j_cur -= dec_j
        active = (i_cur > 0) | (j_cur > 0)
    return subs, insc, dels


def wer_counts_batch(references: list[str],
                     hypotheses: list[str]) -> dict[str, np.ndarray]:
    """Batched twin of core.wer over many (reference, hypothesis) rows —
    identical outputs row-for-row (fuzz-pinned), measured 5× cheaper on
    100-word docs. Rows are sorted by DP size and chunked under a fixed
    cell budget so padding waste and the op-tensor footprint stay
    bounded; results scatter back to input order."""
    B = len(references)
    refs = [core.wer_normalize(r or "") for r in references]
    hyps = [core.wer_normalize(h or "") for h in hypotheses]
    m = np.array([len(r) for r in refs], dtype=np.int64)
    n = np.array([len(h) for h in hyps], dtype=np.int64)
    subs = np.zeros(B, dtype=np.int64)
    insc = np.zeros(B, dtype=np.int64)
    dels = np.zeros(B, dtype=np.int64)

    # per-row word→id interning (ids only need within-row consistency)
    def ids(words: list[str], vocab: dict) -> list[int]:
        out = []
        for w in words:
            v = vocab.get(w)
            if v is None:
                v = vocab[w] = len(vocab) + 1
            out.append(v)
        return out

    todo = np.flatnonzero(m > 0)
    # m == 0: no DP — counts are pure insertions (core.wer's short-cut)
    zero = m == 0
    insc[zero] = n[zero]

    order = todo[np.argsort((m[todo] + 1) * (n[todo] + 1), kind="stable")]
    start = 0
    while start < len(order):
        Mc = Nc = 0
        end = start
        while end < len(order):
            b = order[end]
            Mt, Nt = max(Mc, m[b]), max(Nc, n[b])
            if end > start and (end - start + 1) * (Mt + 1) * (Nt + 1) > _CELL_BUDGET:
                break
            Mc, Nc = Mt, Nt
            end += 1
        chunk = order[start:end]
        Bc = len(chunk)
        R = np.full((Bc, Mc), -1, dtype=np.int32)
        H = np.full((Bc, Nc), -2, dtype=np.int32)
        for k, b in enumerate(chunk):
            vocab: dict = {}
            R[k, : m[b]] = ids(refs[b], vocab)
            if n[b]:
                H[k, : n[b]] = ids(hyps[b], vocab)
        s, i_, d = _wer_dp_chunk(R, H, m[chunk], n[chunk])
        subs[chunk], insc[chunk], dels[chunk] = s, i_, d
        start = end

    total = subs + insc + dels
    with np.errstate(divide="ignore", invalid="ignore"):
        wer = np.where(m > 0, total / np.maximum(m, 1),
                       np.where(n > 0, np.inf, 0.0))
    return {"wer": wer, "substitutions": subs, "insertions": insc,
            "deletions": dels, "reference_words": m, "hypothesis_words": n}


@pandas_udf(WER_STRUCT)
def wer_udf(reference: pd.Series, hypothesis: pd.Series) -> pd.DataFrame:
    from .worker import init_worker
    init_worker()
    out = wer_counts_batch(list(reference), list(hypothesis))
    return pd.DataFrame({
        "wer": out["wer"],
        "substitutions": out["substitutions"].astype("int32"),
        "insertions": out["insertions"].astype("int32"),
        "deletions": out["deletions"].astype("int32"),
        "reference_words": out["reference_words"].astype("int32"),
        "hypothesis_words": out["hypothesis_words"].astype("int32"),
    })


def batch_wer(results_df, golden_df, hyp_col: str = "transcript",
              ref_col: str = "human_text"):
    """results ⋈ golden → per-row WER → aggregate totals. Aggregate WER =
    sum(S+I+D)/sum(ref_words), 0.0 when no reference words
    (src/wer_calculator.py:186-191). mean_wer averages only rows with
    reference_words > 0 (src/wer_calculator.py:193-197) — an empty
    reference yields wer=inf (non-empty hyp) or 0.0 (empty hyp), and the
    reference excludes both from the mean; 0.0 when none qualify."""
    joined = results_df.join(golden_df, "clip_id")
    joined = joined.withColumn("_wer", wer_udf(F.col(ref_col), F.col(hyp_col)))
    total_errs = (F.sum("_wer.substitutions") + F.sum("_wer.insertions")
                  + F.sum("_wer.deletions")).cast("double")
    total_ref = F.sum("_wer.reference_words")
    return joined.agg(
        F.when(total_ref > 0, total_errs / total_ref)
        .otherwise(F.lit(0.0)).alias("aggregate_wer"),
        F.coalesce(
            F.avg(F.when(F.col("_wer.reference_words") > 0, F.col("_wer.wer"))),
            F.lit(0.0)).alias("mean_wer"),
        F.sum("_wer.substitutions").alias("total_substitutions"),
        F.sum("_wer.insertions").alias("total_insertions"),
        F.sum("_wer.deletions").alias("total_deletions"),
        F.sum("_wer.reference_words").alias("total_reference_words"),
        F.count(F.lit(1)).alias("num_samples"),
    )
