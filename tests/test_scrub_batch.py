"""functions/scrub.scrub_batch (one tokenization per batch, the word
path's scan from candidate tokens only, the regex pass as RE2 column
passes over the ASCII rows, the rescan on the rows its pyarrow mask
selects) against the per-row oracle
core.scrub_row, field by field (hypothesis, no Spark). The batch goes in
as a list and as the pa.Array the UDF passes.

The rows mix what each pass has to get right: lexicon terms next to
punctuation (the rescan finds those), labels, email / SSN / phone shapes
in ASCII and Arabic-Indic digits, toxicity words in mixed case, and the
code points whose Python semantics RE2 does not share: `ſ` and Kelvin
`K` (IGNORECASE folds them to s and k), `İ` (lower() lengthens it) and
Unicode whitespace."""

import pyarrow as pa
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
# a precomputed fuzzy table as collect_fuzzy_vocab_map builds it, plus one
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
# a phrase that ends the row
@example(rows=["we flew to new york", "salt lake city", "  st petersburg\u3000"])
# a trie start with no completion
@example(rows=["salt lake", "st", "we met st", "new", "kansas city st"])
# "may" as the first and the last token
@example(rows=["may we go", "May 5 is in may", "we may", "in May"])
# a fuzzy-candidate word ("beach") inside an exact phrase
@example(rows=["virginia beach", "west virginia beach", "long beach beach"])
# every token a candidate
@example(rows=["houston boston texas monday blue", "new york city new york"])
# rows the RE2 gate admits that no pass changes, and the shapes where a
# pattern's \b, its (?i) or its leftmost-first match decides
@example(rows=["May 15th", "#$%@! #$%@! ok then", "_damn_", "1123-45-67890",
               "(555)123-4567", "DAMMIT", "damn_it hell", "a@b.cc123-45-6789",
               "call 555-123-4567-8901", "x@y and (555) 123-4567."])
# rows of only non-ASCII text
@example(rows=["١٢٣-٤٥-٦٧٨٩", "ſucks", "İdiot", "　", "жук"])
def test_scrub_batch_matches_scrub_row(with_fuzzy, lookup, rows):
    for batch in (rows, pa.array(rows, pa.string())):
        got = scrub.scrub_batch(batch, with_fuzzy, lookup)
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
