"""functions/scrub.scrub_batch (word path per row, then regex and rescan
passes only on the rows two pyarrow masks select) against the per-row
oracle core.scrub_row, field by field (hypothesis, no Spark).

The rows mix what each mask has to keep: lexicon terms next to
punctuation (the rescan finds those), labels, email / SSN / phone shapes
in ASCII and Arabic-Indic digits, toxicity words in mixed case, and the
code points whose Python semantics RE2 does not share: `ſ` and Kelvin
`K` (IGNORECASE folds them to s and k), `İ` (lower() lengthens it) and
Unicode whitespace."""

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pii_redaction_pipeline_spark import core
from pii_redaction_pipeline_spark import lexicon as lx
from pii_redaction_pipeline_spark.functions import scrub

_WORDS = [
    "Houston", "houston's", "BOSTON", "new", "York", "new york city", "Salt",
    "Lake City", "Corpus Christi", "New Hampshire", "texas", "Monday",
    "January", "may", "May 5", "in may", "blue", "Orange", "greenville",
    "huston", "febuary", "phenix", "[CITY]", "[STATE]", "[EMAIL]", "city",
    "jane.doe@example.com", "a@b.cc", "123-45-6789", "(555) 123-4567",
    "555.123.4567", "١٢٣-٤٥-٦٧٨٩", "٥٥٥-١٢٣-٤٥٦٧", "DaMn", "idiot", "Hell",
    "ſucks", "ſtupid", "jerK", "Kansas", "İdiot", "İstanbul",
    "the", "and", "we", "flew", "to", "7", "x",
]
_SEPS = [" ", "  ", "\t", "\n", "\x0b", "\x0c", "\r", "\x1c", "\x85", "\xa0",
         " ", "　", "-", "/", ",", "", "5"]
_ROW = st.one_of(
    st.none(), st.just(""),
    st.lists(st.tuples(st.sampled_from(_WORDS), st.sampled_from(_SEPS)),
             max_size=14).map(lambda ws: "".join(w + s for w, s in ws)),
    st.text(st.characters(min_codepoint=9, max_codepoint=0x3000,
                          blacklist_categories=("Cs",)), max_size=40),
)
_FIELDS = ("scrubbed_text", "n_exact", "n_fuzzy", "n_email", "n_ssn",
           "n_phone", "n_toxic", "verify_pii_count")
# a precomputed fuzzy table as fuzzy_vocab_broadcast builds it, plus one
# entry no Levenshtein sweep would produce: the kernel must read the map
_FUZZY_MAP = {w: core._fuzzy_lookup(w) for w in ("huston", "febuary", "phenix")}
_FUZZY_MAP["flew"] = ("ohio", "state", 2)


def _oracle(text, with_fuzzy, lookup):
    r = core.scrub_row(text, with_fuzzy, lookup)
    ext = r["ext_counts"]
    return (r["scrubbed_text"], r["n_exact"], r["n_fuzzy"],
            *(ext.get(c, 0) for c in ("email", "ssn", "phone", "toxic")),
            r["verify_pii_count"])


@pytest.mark.parametrize("with_fuzzy,lookup", [
    (True, None), (False, None), (True, _FUZZY_MAP)])
@settings(max_examples=150, deadline=None)
@given(rows=st.lists(_ROW, min_size=1, max_size=30))
@example(rows=["ssn ١٢٣-٤٥-٦٧٨٩ in Houston-Texas", "call ٥٥٥-١٢٣-٤٥٦٧",
               "you ſucks", "jerK"])
@example(rows=["the Houston-Texas corridor", "new york-bound",
               "[CITY]/boston and salt lake-city"])
@example(rows=[None, "", "huston flew febuary", "a@b.cc DaMn 555.123.4567"])
def test_scrub_batch_matches_scrub_row(with_fuzzy, lookup, rows):
    got = scrub.scrub_batch(rows, with_fuzzy, lookup)
    assert list(got) == list(_FIELDS)
    for k, text in enumerate(rows):
        want = _oracle(text, with_fuzzy, lookup)
        assert tuple(got[f][k] for f in _FIELDS) == want, (k, text)


def test_masks_cover_the_lexicon():
    """The rescan mask's words are plain [a-z] runs (RE2 and Python read
    them alike), cover every single-word term and one word of every
    multi-word term, and no regex-pass label is one of them."""
    words = set(scrub._RESCAN_WORDS)
    for term, _ in lx.SORTED_TERMS:
        ws = term.split()
        assert all(w.isascii() and w.isalpha() and w.islower() for w in ws)
        assert (term in words) if len(ws) == 1 else (words & set(ws))
    for cat in ("email", "ssn", "phone", "toxic"):
        assert lx.CATEGORY_LABELS[cat].strip("[]").lower() not in words
