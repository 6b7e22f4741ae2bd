"""detect_and_scrub — the hot-path pandas UDF — and the redactions UDF.

scrub_batch is core.scrub_row over one Arrow batch, field for field,
minus `redactions`. The word path (core.detect_words + redact_tokens,
see word_path) tokenizes the batch once (tokens.split_batch) and does
its Python work once per distinct token: normalization, the phrase-trie
start and the fuzzy result, through the per-worker memos, so repeated
vocabulary across rows costs one Levenshtein sweep total. The greedy
scan runs in Python only from the tokens that start a longer phrase (2-3
a row) and keeps the deepest trie terminal it reaches, so the longest
phrase wins; numpy and Arrow place the one-token matches and rebuild the
redacted texts. That pyarrow string array then goes through two passes:
  - regex pass (regex_pass): core.regex_scrub's email → ssn → phone →
    toxic replacements. On the ASCII rows that match one of the four
    patterns they run as RE2 column passes, a count and then a replace
    per pattern on the running array; on ASCII text RE2 and Python `re`
    agree on leftmost-first matches, \\d, \\b and (?i). Every other row
    keeps core.regex_scrub.
  - rescan: core.verify_counts (the reference's char-offset rescan) on
    the rows of a mask that holds every row it can count something in:
    a single-word term, or one non-label word of each multi-word term,
    as a maximal [a-z] run of the ASCII-lowered text, and every row that
    is not pure ASCII.

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

import numpy as np
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
from .tokens import Tokens, split_batch

logger = logging.getLogger(__name__)

# core.regex_scrub's passes, in its order
_PASSES = [(cat, pat, lx.CATEGORY_LABELS[cat])
           for cat, pat in [*lx.REGEX_SCRUB_ORDER, ("toxic", lx.TOXIC_PATTERN)]]
_EXT = tuple(cat for cat, _, _ in _PASSES)
# The passes before the first one that changes a row leave it as it was,
# so a row some pass changes matches one of the patterns before any pass.
_ANY_PASS = "|".join(f"(?:{pat})" for _, pat, _ in _PASSES)

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


def _label(category: str) -> str:
    return lx.CATEGORY_LABELS.get(category, f"[{category.upper()}]")


# what a distinct token does in the word path
_PLAIN = 0   # nothing: it matches no term and has no fuzzy result
_TERM = 1    # a one-word term that starts no longer phrase
_FUZZY = 2   # starts no phrase, has a fuzzy result
_WALK = 3    # starts a longer phrase: the scan decides


def word_path(tok: Tokens, with_fuzzy: bool = True,
              lookup: dict | None = None):
    """core.detect_words + core.redact_tokens on every row of a tokenized
    batch: (redacted texts as a pa.Array, n_exact, n_fuzzy).

    Each distinct token is normalized, looked up in the phrase trie and
    in the fuzzy memo (or the broadcast map) once per batch. A token is a
    candidate if its normalized form starts a trie phrase or has a fuzzy
    result. In core's greedy scan only a multi-word match consumes tokens
    past its start, and those start at _WALK candidates, so the scan runs
    in Python from them alone, in position order. Its trie walk reads
    every token after the start, candidate or not, and a _WALK candidate
    that is not consumed and completes no term takes its fuzzy result.
    A match consumes no token before its start, so this one pass makes
    the matches of core's exact pass and then its fuzzy pass. Every other
    candidate is a one-token match unless a multi-word match covers it,
    which numpy settles for all of them at once. The texts are then
    rebuilt in Arrow: match starts take their label's id, continuation
    words are dropped, and each row's tokens are joined with one space."""
    vocab, ids, offsets = tok.vocab, tok.ids, tok.offsets
    n = len(offsets) - 1
    key = core._TRIE_CAT
    norm = [core._normalize_cached(t) for t in vocab]
    nodes = [core._PHRASE_TRIE.get(w) for w in norm]
    fuzzy = [core.fuzzy_best(w, lookup) if with_fuzzy else None for w in norm]
    labels: list[str] = []  # token ids len(vocab), len(vocab) + 1, ...
    label_ids: dict[str, int] = {}  # category -> its label's token id

    def label_id(category: str) -> int:
        lid = label_ids.get(category)
        if lid is None:
            lid = label_ids[category] = len(vocab) + len(labels)
            labels.append(_label(category))
        return lid

    kind = np.zeros(len(vocab), dtype=np.uint8)
    label = np.zeros(len(vocab), dtype=ids.dtype)
    for v, (node, f) in enumerate(zip(nodes, fuzzy)):
        if node is None:
            if f is not None:
                kind[v], label[v] = _FUZZY, label_id(f[1])
        elif len(node) == 1 and key in node:
            kind[v], label[v] = _TERM, label_id(node[key])
        else:
            kind[v] = _WALK

    kinds = kind[ids]
    walk = np.flatnonzero(kinds == _WALK)
    walk_rows = np.searchsorted(offsets, walk, side="right") - 1
    at, at_label, exact_rows, fuzzy_rows = [], [], [], []
    cont: list[int] = []  # continuation words of multi-word matches
    upto = 0  # tokens before it are consumed by a multi-word match
    for p, r, v in zip(walk.tolist(), walk_rows.tolist(), ids[walk].tolist()):
        if p < upto:
            continue
        node = nodes[v]
        end = int(offsets[r + 1])
        longest = (1, node[key]) if key in node else None
        j = p + 1
        while j < end:
            node = node.get(norm[ids[j]])
            if node is None:
                break
            if key in node:
                longest = (j - p + 1, node[key])
            j += 1
        if longest is not None:
            plen, category = longest
            at.append(p)
            at_label.append(label_id(category))
            exact_rows.append(r)
            if plen > 1:
                upto = p + plen
                cont.extend(range(p + 1, upto))
        elif fuzzy[v] is not None:
            at.append(p)
            at_label.append(label_id(fuzzy[v][1]))
            fuzzy_rows.append(r)

    one = np.flatnonzero((kinds == _TERM) | (kinds == _FUZZY))
    drop = None
    if cont:
        drop = np.array(cont)
        consumed = np.zeros(len(ids), dtype=bool)
        consumed[drop] = True
        one = one[~consumed[one]]
    one_rows = np.searchsorted(offsets, one, side="right") - 1
    one_term = kinds[one] == _TERM
    n_exact = (np.bincount(one_rows[one_term], minlength=n)
               + np.bincount(exact_rows, minlength=n))
    n_fuzzy = (np.bincount(one_rows[~one_term], minlength=n)
               + np.bincount(fuzzy_rows, minlength=n))

    out = ids.copy()
    out[one] = label[ids[one]]
    out[at] = at_label
    if drop is not None:
        dropped = np.bincount(np.searchsorted(offsets, drop, side="right") - 1,
                              minlength=n)
        offsets = np.concatenate(([0], np.cumsum(np.diff(offsets) - dropped)))
        out = np.delete(out, drop)
    words = pa.concat_arrays([tok.dictionary,
                              pa.array(labels, tok.dictionary.type)])
    rows = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    words.take(pa.array(out)))
    return pc.binary_join(rows, " "), n_exact, n_fuzzy


def regex_pass(arr: pa.Array, ascii_rows: pa.Array):
    """core.regex_scrub on every row of `arr`: (scrubbed texts as a numpy
    object array, {category: count per row}). The ASCII rows that match
    a pattern go through the four passes as RE2 column passes, each a
    count then a replace on the running array; the other rows keep
    core.regex_scrub, since Python's \\d, \\b and (?i) read non-ASCII
    text differently from RE2's."""
    ext = {cat: np.zeros(len(arr), dtype=np.int64) for cat in _EXT}
    hit = pc.and_(ascii_rows, pc.match_substring_regex(arr, _ANY_PASS))
    rows = pc.indices_nonzero(hit).to_numpy()
    if len(rows):
        sub = arr.filter(hit)
        for cat, pat, label in _PASSES:
            ext[cat][rows] = pc.count_substring_regex(sub, pat).to_numpy()
            sub = pc.replace_substring_regex(sub, pat, label)
        arr = pc.replace_with_mask(arr, hit, sub)
    scrubbed = arr.to_numpy(zero_copy_only=False)
    for i in _rows(pc.invert(ascii_rows)):
        scrubbed[i], counts = core.regex_scrub(scrubbed[i])
        for cat, k in counts.items():
            ext[cat][i] = k
    return scrubbed, ext


def scrub_batch(texts, with_fuzzy: bool = True,
                lookup: dict | None = None) -> dict[str, np.ndarray]:
    """core.scrub_row on every row of `texts` (a pa.Array, a pandas
    Series or a list; None scrubs like ""), as one array per
    SCRUB_STRUCT field."""
    arr, n_exact, n_fuzzy = word_path(split_batch(texts), with_fuzzy, lookup)
    ascii_rows = pc.string_is_ascii(arr)
    rescan = pc.or_(pc.invert(ascii_rows),
                    pc.match_substring_regex(pc.ascii_lower(arr), _RESCAN_GATE))
    scrubbed, ext = regex_pass(arr, ascii_rows)
    verify = np.zeros(len(arr), dtype=np.int64)
    for i in _rows(rescan):
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


def with_scrub(df, with_fuzzy: bool = True,
               fuzzy_map: dict | Broadcast | None = None):
    """Attach the scrub outputs of `transcript` as top-level columns: one
    scrub UDF call, projected into its fields, plus the `redactions` UDF,
    which runs only if the caller keeps that column. A plain-dict
    `fuzzy_map` is wrapped in `sc.broadcast` here (one executor-side copy
    per job instead of one closure pickle per task); its entry count is
    logged so an adversarially large matched-vocab subset is visible in
    the driver log."""
    if fuzzy_map is not None and with_fuzzy:
        if not isinstance(fuzzy_map, Broadcast):
            logger.info("fuzzy_map broadcast: %d entries", len(fuzzy_map))
            fuzzy_map = df.sparkSession.sparkContext.broadcast(fuzzy_map)
    else:
        fuzzy_map = None
    text = F.col("transcript")
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
