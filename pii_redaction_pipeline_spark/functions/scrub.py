"""detect_and_scrub — the one hot-path pandas UDF.

Wraps core.scrub_row over Arrow batches (Series→Series of structs). The
lexicon dict/blacklist live in the closure → shipped once per executor
via task broadcast; the fuzzy lookup memo in core persists per Python
worker process, so repeated vocabulary across rows costs one Levenshtein
sweep total (the reference recomputes per word occurrence —
src/pii_detector.py:294-321; same output, less work).

Reference semantics implemented: src/pii_detector.py:146-353 (two-layer
detection), src/text_redactor.py:77-170 (label substitution),
src/verifier.py:132-157 (rescan) + north-star regex/toxicity scrub.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import core
from ..schema import SCRUB_STRUCT

logger = logging.getLogger(__name__)


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
        lookup = (fuzzy_map.value if isinstance(fuzzy_map, Broadcast)
                  else fuzzy_map)
        out = {k.name: [] for k in SCRUB_STRUCT.fields}
        for text in transcript:
            r = core.scrub_row(text, with_fuzzy, lookup)
            ext = r["ext_counts"]
            out["scrubbed_text"].append(r["scrubbed_text"])
            out["redactions"].append(r["redactions"])
            out["n_exact"].append(r["n_exact"])
            out["n_fuzzy"].append(r["n_fuzzy"])
            out["n_email"].append(ext.get("email", 0))
            out["n_ssn"].append(ext.get("ssn", 0))
            out["n_phone"].append(ext.get("phone", 0))
            out["n_toxic"].append(ext.get("toxic", 0))
            out["verify_pii_count"].append(r["verify_pii_count"])
        return pd.DataFrame(out)
    return _detect_and_scrub


detect_and_scrub = make_detect_and_scrub()  # the full two-layer default


def with_scrub(df, text_col: str = "transcript", with_fuzzy: bool = True,
               fuzzy_map: dict | Broadcast | None = None):
    """Attach scrub outputs as top-level columns. One UDF call, projected
    into multiple columns (Catalyst collapses the struct access). A
    plain-dict `fuzzy_map` is wrapped in `sc.broadcast` here (one
    executor-side copy per job instead of one closure pickle per task);
    its size is logged so an adversarially large matched-vocab subset
    is visible in the driver log."""
    if fuzzy_map is not None and with_fuzzy:
        if not isinstance(fuzzy_map, Broadcast):
            import pickle
            n_entries = len(fuzzy_map)
            n_kb = len(pickle.dumps(fuzzy_map)) // 1024
            fuzzy_map = df.sparkSession.sparkContext.broadcast(fuzzy_map)
            logger.info("fuzzy_map broadcast: %d entries, ~%d KB pickled",
                        n_entries, n_kb)
        udf = make_detect_and_scrub(True, fuzzy_map)
    else:
        udf = detect_and_scrub if with_fuzzy else make_detect_and_scrub(False)
    df = df.withColumn("_scrub", udf(F.col(text_col)))
    for name in ["scrubbed_text", "redactions", "n_exact", "n_fuzzy",
                 "n_email", "n_ssn", "n_phone", "n_toxic", "verify_pii_count"]:
        df = df.withColumn(name, F.col(f"_scrub.{name}"))
    df = df.drop("_scrub")
    return df.withColumn(
        "pii_count",
        F.col("n_exact") + F.col("n_fuzzy") + F.col("n_email")
        + F.col("n_ssn") + F.col("n_phone") + F.col("n_toxic"),
    )
