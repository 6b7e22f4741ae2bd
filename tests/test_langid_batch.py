"""functions/langid.langid_batch (one tokenization per Arrow batch, one
stopword-mask lookup per distinct token, per-language reduceat counts)
against the per-row oracle core.langid, on `lang` and `lang_conf`
(hypothesis, no Spark).

The rows mix stopwords of every language (ties between languages
included), the separators pyarrow and str.split() must agree on (runs,
leading and trailing whitespace, \\x1c-\\x1f, U+0085, U+00A0, U+3000),
and the code points whose lower() is not an ASCII stopword although it
looks like one: `İ` (lower() adds a combining dot), `ſ` (stays ſ) and the
Kelvin sign (lowers to k)."""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pii_redaction_pipeline_spark import core
from pii_redaction_pipeline_spark import lexicon as lx
from pii_redaction_pipeline_spark.functions import langid
from pii_redaction_pipeline_spark.functions.tokens import split_batch

_WORDS = sorted({w for ws in lx.LANG_STOPWORDS.values() for w in ws}) + [
    "THE", "Der", "FÜR", "Que", "İch", "İN", "İs", "ſe", "ſich", "\u212a",
    "\u212aein", "houston", "xyz", "7", "[CITY]", "a@b.cc", "的人",
]
_SEPS = [" ", "  ", "\t", "\n", "\x0b", "\x0c", "\r", "\x1c", "\x1d", "\x1e",
         "\x1f", "\x85", "\xa0", "\u2028", "\u3000", "\u3000 \x85"]
_ROW = st.one_of(
    st.none(), st.just(""), st.sampled_from(_SEPS),
    st.tuples(
        st.sampled_from(_SEPS + [""]),
        st.lists(st.tuples(st.sampled_from(_WORDS),
                           st.sampled_from(_SEPS + ["", "", ""])),
                 max_size=12),
    ).map(lambda t: t[0] + "".join(w + s for w, s in t[1])),
    st.text(st.characters(min_codepoint=9, max_codepoint=0x3000,
                          blacklist_categories=("Cs",)), max_size=40),
)


def _check(rows, lang, conf):
    assert len(lang) == len(conf) == len(rows)
    for k, text in enumerate(rows):
        assert (lang[k], conf[k]) == core.langid(text or ""), (k, text)


@settings(max_examples=300, deadline=None)
@given(rows=st.lists(_ROW, min_size=1, max_size=30))
@example(rows=["the der", "de", "la que", "des", "un une", "die the",
               "en", "的 the"])                      # exact ties
@example(rows=["  the  der\x1c\x1dund\x85", "\u3000la\xa0que\u3000"])
@example(rows=["İch bin ſie und \u212a", "İS THE Für"])
@example(rows=[None])                                 # 1-row batches
@example(rows=["the and\u3000"])
@example(rows=[None, "", "   ", "\x1c\x85"])          # all-empty batch
@example(rows=["the " * 300, "der " * 256])           # > 255 hits a row
def test_langid_batch_matches_core(rows):
    for batch in (rows, pa.array(rows, pa.string()),
                  pd.Series(rows, dtype=object)):
        _check(rows, *langid.langid_batch(batch))


def test_langid_udf_body_matches_core():
    rows = [None, "", "the cat and the hat", "der und die", "xyz"]
    out = langid.langid_udf.func(pd.Series(rows, dtype=object))
    _check(rows, out["lang"].tolist(), out["lang_conf"].tolist())
    assert list(out.columns) == ["lang", "lang_conf"]


def test_split_batch_reads_nothing_past_the_last_row():
    """pyarrow's utf8_split_whitespace decodes the byte after a row's
    trailing whitespace. Here that byte is an invalid UTF-8 byte outside
    the array (0xFF after the last row), which made it keep "c" and its
    trailing U+3000 as one token; split_batch must give str.split()."""
    data = pa.py_buffer("ab c\u3000".encode() + b"\xff")
    offsets = pa.py_buffer(np.array([0, 3, 7], dtype=np.int32).tobytes())
    arr = pa.Array.from_buffers(pa.string(), 2, [None, offsets, data])
    tok = split_batch(arr)
    got = [[tok.vocab[i] for i in tok.ids[a:b]]
           for a, b in zip(tok.offsets[:-1], tok.offsets[1:])]
    assert got == [s.split() for s in arr.to_pylist()] == [["ab"], ["c"]]
