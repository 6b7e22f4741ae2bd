"""Vectorized language-ID UDF (north rule: "fastText langid ... run as
vectorized pandas/Arrow UDFs").

Two backends behind one UDF:
  - fastText, when $PII_SPARK_PROD_BACKENDS=1 (explicit opt-in), the
    library is installed AND $FASTTEXT_LANGID_MODEL points at a model
    file (e.g. lid.176.bin): loaded ONCE per Python worker
    (module-global memo — workers are long-lived and reused across
    tasks), batch-predicted per Arrow batch. This is the production
    path on a real cluster. The opt-in gate exists so the correctness
    harness and tests stay deterministic even on hosts that happen to
    have the model env vars set: oracle rows (langid_confidence,
    pipeline_grade_cols) mirror the stand-in scorer, and an ambient
    env var silently swapping backends would make hash checks fail.
  - the deterministic in-repo stand-in (core.langid's stopword-hit
    scorer) otherwise — this sandbox has no fastText, and the DuckDB
    oracle mirrors exactly this scorer.

Catalyst fuses this into the same ArrowEvalPython stage as the scrub and
perplexity UDFs — zero extra Python round trips (plan-asserted in
tests/test_plan_shapes.py).
"""

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import core

LANGID_STRUCT = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
])

_FT_MODEL = None  # per-worker memo: load once, reuse across tasks/batches
_GATE_WARNED: set[str] = set()  # one warning per env var per process


def warn_gated_backend(model_env: str) -> None:
    """One-time, per-process visibility for the opt-in gate: a deploy that
    sets a model env var (FASTTEXT_LANGID_MODEL / KENLM_MODEL) but not
    PII_SPARK_PROD_BACKENDS=1 would otherwise silently fall back to the
    stand-in scorers — a quality downgrade with no error. Warn instead of
    auto-enabling: the gate exists so correctness harnesses stay
    deterministic on hosts with ambient model env vars."""
    if model_env in _GATE_WARNED:
        return
    if (os.environ.get(model_env)
            and os.environ.get("PII_SPARK_PROD_BACKENDS") != "1"):
        import warnings
        warnings.warn(
            f"${model_env} is set but PII_SPARK_PROD_BACKENDS!=1 — using "
            f"the deterministic stand-in scorer, NOT the production model. "
            f"Set PII_SPARK_PROD_BACKENDS=1 (driver AND executors) to "
            f"enable it.", RuntimeWarning, stacklevel=3)
        _GATE_WARNED.add(model_env)


def _fasttext_model():
    """fastText model or None (library or model file absent)."""
    global _FT_MODEL
    if os.environ.get("PII_SPARK_PROD_BACKENDS") != "1":
        warn_gated_backend("FASTTEXT_LANGID_MODEL")
        return None  # explicit opt-in only — see module docstring
    if _FT_MODEL is not None:
        return _FT_MODEL if _FT_MODEL != "unavailable" else None
    path = os.environ.get("FASTTEXT_LANGID_MODEL", "")
    try:
        import fasttext  # not in this container; present on prod images
        if path and os.path.exists(path):
            _FT_MODEL = fasttext.load_model(path)
            return _FT_MODEL
    except ImportError:
        pass
    _FT_MODEL = "unavailable"
    return None


def _predict_fasttext(model, texts: pd.Series) -> pd.DataFrame:
    """One batched predict per Arrow batch (fastText is internally
    vectorized over the list); labels come back as '__label__xx'."""
    cleaned = [" ".join((t or "").split()) for t in texts]
    labels, probs = model.predict(cleaned)
    return pd.DataFrame({
        "lang": [ls[0].replace("__label__", "") if ls else "und"
                 for ls in labels],
        "lang_conf": [float(ps[0]) if len(ps) else 0.0 for ps in probs],
    })


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
    model = _fasttext_model()
    if model is not None:
        return _predict_fasttext(model, text)
    out = {"lang": [], "lang_conf": []}
    for t in text:
        lang, conf = _langid_row(t or "")
        out["lang"].append(lang)
        out["lang_conf"].append(conf)
    return pd.DataFrame(out)
