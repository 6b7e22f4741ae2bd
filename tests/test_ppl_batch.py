"""functions/perplexity.ppl_batch (one numpy pass per 1024-row slice) against
the per-row reference core.perplexity (hypothesis). The batch kernel sums
each row's log-probs in another order, so the tolerance is rel 1e-12."""

import math
import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pii_redaction_pipeline_spark import core
from pii_redaction_pipeline_spark.functions import perplexity

# every code point str `\s` matches below U+0100, plus U+2028/U+3000,
# next to vocab letters, upper case, and lower() length changers
_TRICKY = list(" \t\n\x0b\x0c\r\x1c\x1d\x1e\x1f\x85\xa0 　"
               "abcxyzABZİßΣ.'")
_CHARS = st.one_of(
    st.sampled_from(_TRICKY),
    st.characters(min_codepoint=0, max_codepoint=0x10FFFF,
                  blacklist_categories=("Cs",)),  # astral planes included
)
_ROW = st.one_of(st.none(), st.just(""), st.text(_CHARS, max_size=1),
                 st.text(_CHARS, max_size=60))


def _ref(text):
    return core.perplexity("" if text is None else text)  # null scores as ""


def _check(batch, want):
    got = perplexity.ppl_batch(batch)
    assert len(got) == len(want)
    for k, (g, e) in enumerate(zip(got, want)):
        assert math.isclose(g, e, rel_tol=1e-12, abs_tol=0), (k, batch[k])


@pytest.mark.parametrize("size", [1, 256, 1500, 16384])
@settings(max_examples=60, deadline=None)
@given(rows=st.lists(_ROW, min_size=1, max_size=40), shift=st.integers(0, 39))
@example(rows=["\x1c\x1d a\x1e\x1fb\x85c\xa0d e　f  　"], shift=0)
@example(rows=[None, "", "a", " ", "  x  ", "\U0001F600a b\U00010348"], shift=1)
def test_ppl_batch_matches_core(size, rows, shift):
    """Rows tiled to the batch size at a drawn offset, so each row also
    sits next to other rows, at batch start and end, and at the edges of
    the kernel's 1024-row slices."""
    want = [_ref(r) for r in rows]
    idx = [(shift + k) % len(rows) for k in range(size)]
    _check([rows[i] for i in idx], [want[i] for i in idx])


def test_lookup_table_covers_every_whitespace_code_point():
    """ppl_batch maps code points past its table to OOV; that is only
    right while no code point past it is whitespace to core's regex."""
    past = "".join(map(chr, range(perplexity._WS_MAX + 1, 0x110000)))
    assert core._WS_COLLAPSE_RE.search(past) is None
    assert re.fullmatch(r"\s", chr(perplexity._WS_MAX))
