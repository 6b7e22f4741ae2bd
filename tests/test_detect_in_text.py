"""core.detect_in_text and core.verify_counts against the regex scan they
replaced (hypothesis, no Spark).

_detect_in_text_re below is that scan verbatim: every SORTED_TERMS term,
pruned by an issubset test on the text's letter runs, searched with
`\\bterm\\b` on the slice of the lowered text after its last match. The
rows mix terms that contain or overlap each other (`new york city`,
`york`), hyphen and slash joins (`Boston-Denver`), letters, digits and
`_` glued to a term (`bostonx`, `boston_`), labels, `may` in and out of
its month contexts, and `İ`, which lower() lengthens, so the offsets of
the lowered text run ahead of the original's."""

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pii_redaction_pipeline_spark import core
from pii_redaction_pipeline_spark import lexicon as lx

_TERM_PATTERNS = [
    (re.compile(r"\b" + re.escape(t) + r"\b"), t, c, frozenset(t.split()))
    for t, c in lx.SORTED_TERMS
]
_WORD_RUN_RE = re.compile(r"[a-z]+")


def _detect_in_text_re(text):
    matches = []
    text_lower = text.lower()
    token_set = frozenset(_WORD_RUN_RE.findall(text_lower))
    matched_positions = set()
    for pat, term, category, term_words in _TERM_PATTERNS:
        if not term_words.issubset(token_set):
            continue
        start = 0
        while True:
            m = pat.search(text_lower[start:])
            if not m:
                break
            abs_start, abs_end = start + m.start(), start + m.end()
            if any(p in matched_positions for p in range(abs_start, abs_end)):
                start = abs_start + 1
                continue
            matched_positions.update(range(abs_start, abs_end))
            matches.append({
                "text": text[abs_start:abs_end],
                "category": category,
                "start": abs_start,
                "end": abs_end,
            })
            start = abs_end
    matches.sort(key=lambda m: m["start"])
    return matches


_WORDS = [
    "new york city", "New York", "york", "city", "new", "NEW YORK CITY",
    "Boston-Denver", "boston", "Denver", "bostonx", "xboston", "boston_",
    "_boston", "boston2", "Houston-Texas", "Dallas/Austin", "salt lake city",
    "Salt", "lake", "kansas city", "st louis", "st", "Louis", "el paso",
    "may", "May", "in may", "May 5", "may of 2024", "may 15th", "[CITY]",
    "[STATE]", "blue", "greenville", "İ", "İdaho", "idaho", "İstanbul",
    "Kansas", "ſt louis", "the", "and", "5", "_",
]
_SEPS = [" ", "  ", "-", "/", ",", ".", "", "_", "'", "\n", "\xa0", "İ", "9"]
_TEXT = st.one_of(
    st.lists(st.tuples(st.sampled_from(_WORDS), st.sampled_from(_SEPS)),
             max_size=12).map(lambda ws: "".join(w + s for w, s in ws)),
    st.text(st.sampled_from("aknewyorcitybsd İ_-[]5 "), max_size=40),
)


@settings(max_examples=600, deadline=None)
@given(text=_TEXT)
@example(text="we flew to new york city and york")
@example(text="york new york city new york")
@example(text="the Boston-Denver flight")
@example(text="bostonx boston_ _boston boston2 boston")
@example(text="in may we met, may 5 or May of 2024; you may go")
@example(text="İİ boston İdaho idaho")
@example(text="[CITY]-boston [CITY] city new york-city")
def test_detect_in_text_equals_regex_scan(text):
    want = _detect_in_text_re(text)
    assert core.detect_in_text(text) == want
    found = [m for m in want
             if not m["text"].startswith("[") and not m["text"].endswith("]")]
    assert core.verify_counts(text) == (len(found), len(found))
