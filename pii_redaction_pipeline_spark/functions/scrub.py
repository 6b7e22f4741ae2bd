"""detect_and_scrub — the hot-path pandas UDF — and the redactions UDF.

scrub_batch is core.scrub_row over one Arrow batch, field for field,
minus `redactions`. The word path (core.detect_words + redact_tokens)
runs per row in Python: it is a greedy token scan with per-worker memos
(normalized tokens, fuzzy lookups), so repeated vocabulary across rows
costs one Levenshtein sweep total. Then one pyarrow string array of the
redacted texts gives two row masks, each a superset of the rows its
Python pass can change:
  - regex mask: '@' (email), an ASCII digit (ssn, phone) or a toxicity
    word as a substring of the ASCII-lowered text;
  - rescan mask: a single-word term, or one non-label word of each
    multi-word term, as a maximal [a-z] run of the ASCII-lowered text —
    what core.verify_counts' letter-run prefilter needs to pass.
Every row that is not pure ASCII is in both masks, so Unicode digits,
case folding and `\\b` never reach pyarrow's RE2: core.regex_scrub and
core.verify_counts (Python `re`) make every replacement and every count,
on the masked rows only.

`redactions` has its own UDF (make_scrub_redactions), which repeats the
word path. Catalyst drops an unreferenced deterministic UDF column from
the plan, so a caller that drops `redactions` (job.py, streaming, the
benchmark) never runs it; deid_json_df and report.processing_report pay
the second pass.

Reference semantics implemented: src/pii_detector.py:146-353 (two-layer
detection), src/text_redactor.py:77-170 (label substitution),
src/verifier.py:132-157 (rescan) + north-star regex/toxicity scrub.
"""

from __future__ import annotations

import logging
import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.broadcast import Broadcast
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import core
from .. import lexicon as lx
from ..schema import REDACTION_SCHEMA, SCRUB_STRUCT

logger = logging.getLogger(__name__)

_EXT = ("email", "ssn", "phone", "toxic")
_REGEX_GATE = "[@0-9]|" + "|".join(map(re.escape, lx.TOXICITY_WORDS))

# A regex pass only removes letter runs or adds its label's ([EMAIL],
# [SSN], [PHONE], [TOXIC]), none of which is a term word, so the rescan
# mask may be taken on the text before it. From a multi-word term one
# word suffices, the longest that is not a label word: "city" alone
# would select every row with a [CITY] label.
_LABEL_WORDS = {w for lab in lx.CATEGORY_LABELS.values()
                for w in re.findall("[a-z]+", lab.lower())}
_RESCAN_WORDS = sorted(
    {t for t, _ in lx.SORTED_TERMS if " " not in t}
    | {max((w for w in t.split() if w not in _LABEL_WORDS), key=len)
       for t, _ in lx.SORTED_TERMS if " " in t})
_RESCAN_GATE = "(?:^|[^a-z])(?:" + "|".join(_RESCAN_WORDS) + ")(?:[^a-z]|$)"


def _rows(mask) -> list[int]:
    return pc.indices_nonzero(mask).to_pylist()


def scrub_batch(texts, with_fuzzy: bool = True,
                lookup: dict | None = None) -> dict[str, list]:
    """core.scrub_row on every row of `texts` (None scrubs like ""), as
    one list per SCRUB_STRUCT field."""
    scrubbed, n_exact, n_fuzzy = [], [], []
    for text in texts:
        tokens, matches = core.detect_words(
            "" if text is None else text, with_fuzzy, lookup)
        scrubbed.append(core.redact_tokens(tokens, matches))
        nf = sum(m.is_fuzzy for m in matches) if matches else 0
        n_exact.append(len(matches) - nf)
        n_fuzzy.append(nf)
    n = len(scrubbed)
    arr = pa.array(scrubbed, pa.string())
    low = pc.ascii_lower(arr)
    other = pc.invert(pc.string_is_ascii(arr))
    regex_rows = _rows(pc.or_(other, pc.match_substring_regex(low, _REGEX_GATE)))
    rescan_rows = _rows(pc.or_(other, pc.match_substring_regex(low, _RESCAN_GATE)))

    ext = {cat: [0] * n for cat in _EXT}
    for i in regex_rows:
        scrubbed[i], counts = core.regex_scrub(scrubbed[i])
        for cat, k in counts.items():
            ext[cat][i] = k
    verify = [0] * n
    for i in rescan_rows:
        verify[i] = core.verify_counts(scrubbed[i])[0]
    return {"scrubbed_text": scrubbed, "n_exact": n_exact, "n_fuzzy": n_fuzzy,
            **{f"n_{cat}": ext[cat] for cat in _EXT},
            "verify_pii_count": verify}


def _lookup(fuzzy_map):
    return fuzzy_map.value if isinstance(fuzzy_map, Broadcast) else fuzzy_map


def make_detect_and_scrub(with_fuzzy: bool = True,
                          fuzzy_map: dict | Broadcast | None = None):
    """Scrub-UDF factory. with_fuzzy=False runs the exact word path +
    regex scrub only — the SQL-mirrorable subset that backs the
    pipeline_exact_only oracle row (queries.py); the flag rides to
    executors in the UDF closure.

    `fuzzy_map` is the precomputed vocabulary-broadcast fuzzy table
    (see core.fuzzy_match). Pass it as a `SparkContext.broadcast`
    handle (with_scrub wraps plain dicts automatically): a closure-
    pickled dict is re-shipped with EVERY task, while a broadcast
    ships once per executor and is torrent-distributed — the
    difference matters exactly when the map is large (an adversarial
    corpus where much of the vocabulary sits within distance 2 of the
    lexicon). Closure size stays O(1) in map size — test-pinned in
    tests/test_spark_pipeline.py."""
    @pandas_udf(SCRUB_STRUCT)
    def _detect_and_scrub(transcript: pd.Series) -> pd.DataFrame:
        from .worker import init_worker
        init_worker()
        return pd.DataFrame(scrub_batch(transcript, with_fuzzy,
                                        _lookup(fuzzy_map)))
    return _detect_and_scrub


def make_scrub_redactions(with_fuzzy: bool = True,
                          fuzzy_map: dict | Broadcast | None = None):
    """The `redactions` column: core.scrub_row's redaction records, from
    a second word-path pass. Same closure rules as make_detect_and_scrub."""
    @pandas_udf(T.ArrayType(REDACTION_SCHEMA))
    def _scrub_redactions(transcript: pd.Series) -> pd.Series:
        from .worker import init_worker
        init_worker()
        lookup = _lookup(fuzzy_map)
        return pd.Series([
            core.redaction_records(core.detect_words(
                "" if t is None else t, with_fuzzy, lookup)[1])
            for t in transcript])
    return _scrub_redactions


def with_scrub(df, text_col: str = "transcript", with_fuzzy: bool = True,
               fuzzy_map: dict | Broadcast | None = None):
    """Attach scrub outputs as top-level columns: one scrub UDF call,
    projected into its fields, plus the `redactions` UDF, which runs only
    if the caller keeps that column. A plain-dict `fuzzy_map` is wrapped
    in `sc.broadcast` here (one executor-side copy per job instead of
    one closure pickle per task); its size is logged so an adversarially
    large matched-vocab subset is visible in the driver log."""
    if fuzzy_map is not None and with_fuzzy:
        if not isinstance(fuzzy_map, Broadcast):
            import pickle
            n_entries = len(fuzzy_map)
            n_kb = len(pickle.dumps(fuzzy_map)) // 1024
            fuzzy_map = df.sparkSession.sparkContext.broadcast(fuzzy_map)
            logger.info("fuzzy_map broadcast: %d entries, ~%d KB pickled",
                        n_entries, n_kb)
    else:
        fuzzy_map = None
    text = F.col(text_col)
    df = df.withColumn("_scrub", make_detect_and_scrub(with_fuzzy, fuzzy_map)(text))
    s = {f.name: F.col(f"_scrub.{f.name}") for f in SCRUB_STRUCT.fields}
    pii_count = s["n_exact"] + s["n_fuzzy"]
    for cat in _EXT:
        pii_count = pii_count + s[f"n_{cat}"]
    return df.withColumns({
        "scrubbed_text": s.pop("scrubbed_text"),
        "redactions": make_scrub_redactions(with_fuzzy, fuzzy_map)(text),
        **s,
        "pii_count": pii_count,
    }).drop("_scrub")
