"""Golden pin of core's detection, rescan and regex scrub.

test_reference_parity.py compares core with the reference checkout and
skips where that checkout is absent. This pin runs everywhere: it holds
core's outputs on the same seeded stress corpus (plus a few rows for the
regex scrub and the rescan) as they were at commit c6c44a6, the last
core that passed the reference-parity tests. Any drift in core fails
here, whether or not the reference is present.

The golden file is written by `python -m tests.test_core_pin` and is not
meant to be regenerated: a change in core that moves an output is a
change in behaviour, not in the pin.
"""

import json
from pathlib import Path

from pii_redaction_pipeline_spark import core

from .test_reference_parity import corpus

GOLDEN = Path(__file__).with_name("data") / "core_golden.json"

# rows for the regex scrub and the rescan that the parity corpus lacks
EXTRA = [
    "reach me at jane.doe@example.com anytime", "a@b.cc and x@y",
    "call (555) 123-4567 before five", "(555)123-4567", "555.123.4567",
    "ssn on file was 123-45-6789 sadly", "1123-45-67890", "123-45-6789x",
    "May 15th", "#$%@! #$%@! ok then", "_damn_", "DAMMIT", "damn it hell",
    "that jerk broke the damn printer", "ssn ١٢٣-٤٥-٦٧٨٩", "ſucks jerK",
    "the Houston-Texas corridor", "Boston-Denver", "bostonx boston_ boston2",
    "our Dallas/Austin route", "new york city/york", "York new york",
    "İstanbul İdaho idaho", "in may we met, may 5 or May of 2024",
    "[CITY]-boston [STATE]", "salt lake city-bound", "st louis-st paul",
]


def rows(texts):
    """One record per distinct text: the word path (scrubbed text and
    matches), detect_in_text, verify_counts on the text and on its
    word-path output, and regex_scrub."""
    out = []
    for text in dict.fromkeys(texts):
        toks, matches = core.detect_words(text)
        redacted = core.redact_tokens(toks, matches)
        out.append({
            "text": text,
            "redacted": redacted,
            "matches": [[m.text, m.category, m.confidence, m.is_fuzzy,
                         m.word_indices] for m in matches],
            "detect_in_text": [[d["text"], d["category"], d["start"], d["end"]]
                               for d in core.detect_in_text(text)],
            "verify": list(core.verify_counts(text)),
            "verify_redacted": list(core.verify_counts(redacted)),
            "regex_scrub": list(core.regex_scrub(text)),
        })
    return out


def test_core_matches_golden():
    want = json.loads(GOLDEN.read_text(encoding="utf-8"))
    got = rows(corpus() + EXTRA)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, g["text"]


if __name__ == "__main__":
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps(rows(corpus() + EXTRA), ensure_ascii=False,
                                 separators=(",", ":")) + "\n",
                      encoding="utf-8")
