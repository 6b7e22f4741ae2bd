"""Behavioral contract tests for the pure-Python semantic core.

Ports every assertion from the reference's test suite
(reference tests/test_pii_detector.py) against our implementation, plus
north-star extension checks. Self-contained — does not import the
reference.
"""

import math

import pytest

from pii_redaction_pipeline_spark import core
from pii_redaction_pipeline_spark import lexicon as lx


class TestNormalizeWord:
    def test_lowercase(self):
        assert core.normalize_word("MONDAY") == "monday"
        assert core.normalize_word("Houston") == "houston"

    def test_possessive(self):
        assert core.normalize_word("Monday's") == "monday"
        assert core.normalize_word("Houston's") == "houston"

    def test_smart_quote_possessive_not_stripped(self):
        # The reference's char class is two ASCII apostrophes
        # (src/pii_detector.py:56) — smart quotes stay.
        assert core.normalize_word("Monday’s") == "monday’s"

    def test_punctuation(self):
        assert core.normalize_word("Houston,") == "houston"
        assert core.normalize_word("Monday.") == "monday"
        assert core.normalize_word("Texas?") == "texas"
        assert core.normalize_word('"Houston"') == "houston"

    def test_plurals(self):
        assert core.normalize_word("Mondays") == "monday"
        assert core.normalize_word("Tuesdays") == "tuesday"
        assert core.normalize_word("dress") == "dress"
        assert core.normalize_word("bus") == "bus"

    def test_empty(self):
        assert core.normalize_word("") == ""


class TestLevenshtein:
    def test_exact(self):
        assert core.levenshtein("monday", "monday") == 0

    def test_one_edit(self):
        assert core.levenshtein("monday", "munday") == 1
        assert core.levenshtein("houston", "huston") == 1

    def test_two_edits(self):
        assert core.levenshtein("tuesday", "chewsday") == 3
        assert core.levenshtein("remember", "december") == 2

    def test_blacklisted_pairs(self):
        assert core.levenshtein("back", "black") == 1
        assert core.levenshtein("salon", "salmon") == 1


def cats(text):
    return [m["category"] for m in core.detect_in_text(text)]


class TestDetectInText:
    def test_basic_categories(self):
        assert cats("It was Monday") == ["day"]
        assert cats("In January we travel") == ["month"]
        assert cats("The sky is blue") == ["color"]
        assert cats("I visited Houston") == ["city"]
        assert cats("I live in Texas") == ["state"]

    def test_multi_word_city(self):
        ms = core.detect_in_text("I went to New York City")
        city = [m for m in ms if m["category"] == "city"]
        assert len(city) == 1
        assert "new york city" in city[0]["text"].lower()

    def test_multi_word_state(self):
        ms = core.detect_in_text("She lives in New Hampshire")
        assert [m["category"] for m in ms] == ["state"]

    def test_city_state_adjacent(self):
        ms = core.detect_in_text("Houston, Texas is hot")
        assert {m["category"] for m in ms} == {"city", "state"}
        assert len(ms) == 2

    def test_brownsville_not_color(self):
        ms = core.detect_in_text("I live in Brownsville")
        assert len(ms) == 1 and ms[0]["category"] == "city"

    def test_greenville_not_color(self):
        ms = core.detect_in_text("She moved to Greenville")
        assert len(ms) == 1 and ms[0]["category"] == "city"

    def test_new_york_is_city_not_state(self):
        ms = core.detect_in_text("we flew to New York yesterday")
        assert [m["category"] for m in ms] == ["city"]

    def test_empty(self):
        assert core.detect_in_text("") == []

    def test_multiple_colors(self):
        ms = core.detect_in_text("Red, green, and blue are primary colors")
        assert len([m for m in ms if m["category"] == "color"]) == 3

    def test_case_variations(self):
        for t in ["HOUSTON", "houston", "Houston", "HoUsToN"]:
            assert len(core.detect_in_text(f"I visited {t}")) >= 1

    def test_may_modal_not_matched(self):
        assert "month" not in cats("You may proceed")


class TestWordPathDetect:
    def scrub(self, text):
        toks, ms = core.detect_words(text)
        return core.redact_tokens(toks, ms), ms

    def test_basic_scrub(self):
        out, ms = self.scrub("I visited Houston on Monday")
        assert out == "I visited [CITY] on [DAY]"
        assert [m.category for m in ms] == ["city", "day"]

    def test_multiword_collapses_to_one_label(self):
        out, _ = self.scrub("I went to New York City today")
        assert out == "I went to [CITY] today"

    def test_possessive_and_punct(self):
        out, _ = self.scrub("Monday's weather was nice")
        assert out == "[DAY] weather was nice"
        out, _ = self.scrub("Is it Monday?")
        assert out == "Is it [DAY]"

    def test_fuzzy_typo_matches(self):
        _, ms = self.scrub("huston is a typo")
        assert len(ms) == 1 and ms[0].is_fuzzy and ms[0].category == "city"
        assert math.isclose(ms[0].confidence, 1 - 1 / 7)

    def test_fuzzy_blacklist(self):
        for t in ["I went back home", "I like this", "I went to the salon",
                  "I remember that day"]:
            _, ms = self.scrub(t)
            assert ms == []

    def test_fuzzy_min_length_gate(self):
        _, ms = self.scrub("pnk dots")  # 3 chars, too short to fuzzy
        assert ms == []

    def test_fuzzy_distance2_needs_7_chars(self):
        # "phenix" -> "phoenix" is distance 1 (insert o), matches
        _, ms = self.scrub("phenix arizona")
        assert any(m.is_fuzzy and m.category == "city" for m in ms)

    def test_may_exact_modal_skipped(self):
        out, _ = self.scrub("you may proceed")
        assert out == "you may proceed"

    def test_may_never_matched_bug_compat(self):
        # "may" is excluded from the MONTHS term list in the reference
        # lexicon (src/lexicon.py:16-21), and its month-context rule only
        # runs when a sorted term equals "may" — which never happens. So
        # the month "May" is NEVER detected. Bug-compatible by design; the
        # reference's own test relaxes this to `>= 0` matches
        # (tests/test_pii_detector.py:164-171).
        out, _ = self.scrub("in May we celebrate")
        assert out == "in May we celebrate"

    def test_empty(self):
        assert self.scrub("") == ("", [])


class TestExtensions:
    def test_email_ssn_phone_toxic(self):
        text = "mail a.b@example.com or call (555) 123-4567 ssn 123-45-6789 you idiot"
        scrubbed, counts = core.regex_scrub(text)
        assert "[EMAIL]" in scrubbed and "[PHONE]" in scrubbed
        assert "[SSN]" in scrubbed and "[TOXIC]" in scrubbed
        assert counts == {"email": 1, "ssn": 1, "phone": 1, "toxic": 1}

    def test_ssn_not_eaten_by_phone(self):
        scrubbed, _ = core.regex_scrub("id 123-45-6789 end")
        assert scrubbed == "id [SSN] end"


class TestGrading:
    def test_thresholds(self):
        assert core.grade(0, 0) == "PASS"
        assert core.grade(1, 1) == "REVIEW_REQUIRED"
        assert core.grade(2, 2) == "REVIEW_REQUIRED"
        assert core.grade(2, 0) == "PASS_WITH_NOTE"
        assert core.grade(3, 3) == "FAIL"

    def test_clean_row_passes(self):
        r = core.process_transcript("I visited Houston on Monday and it was nice")
        assert r["qa_status"] == "PASS"
        assert r["scrubbed_text"] == "I visited [CITY] on [DAY] and it was nice"
        assert r["keep"] is True

    def test_hyphenated_leak_reviewed(self):
        # word path can't match "Houston-Texas" but the char-path rescan
        # finds both -> residual count 2 -> REVIEW_REQUIRED -> drop
        r = core.process_transcript("the Houston-Texas corridor is long enough now")
        assert r["verify_pii_count"] == 2
        assert r["qa_status"] == "REVIEW_REQUIRED"
        assert r["keep"] is False


class TestQualityAndLangid:
    def test_too_short_dropped(self):
        r = core.process_transcript("hi there")
        assert not r["quality_ok"] and not r["keep"]

    def test_repetition_dropped(self):
        r = core.process_transcript("la " * 60)
        assert r["word_cnt"] == 60
        assert not r["quality_ok"]

    def test_symbol_soup_dropped(self):
        r = core.process_transcript("the #$%@! of #$%@! and #$%@!")
        assert r["symbol_density"] > lx.QUALITY_MAX_SYMBOL_DENSITY
        assert not r["quality_ok"]

    def test_langid_en(self):
        lang, conf = core.langid("the cat sat on the mat and it was the best")
        assert lang == "en" and conf > 0.2

    def test_langid_und(self):
        lang, _ = core.langid("zzz qqq xxx yyy www vvv")
        assert lang == "und"

    def test_perplexity_orders(self):
        good = core.perplexity("this is a normal english sentence about the weather")
        bad = core.perplexity("zxqj vvkw qqqq jjjj zzzz xkcd")
        assert good < bad


class TestFuzzySQLTwin:
    def test_sql_fuzzy_matches_core_on_vocab(self):
        """The relational fuzzy twin (functions/fuzzy_sql DuckDB emitter)
        must agree with core._fuzzy_lookup on a stress vocabulary."""
        import duckdb
        import pandas as pd

        from pii_redaction_pipeline_spark.functions.fuzzy_sql import (
            duck_fuzzy_vocab_sql,
        )

        vocab = ["huston", "febuary", "phenix", "remembr", "salmon",
                 "mondey", "tusday", "burgundi", "vermot", "texas",
                 "texture", "salons", "periwinkl", "chartreus", "randomw",
                 "verylongnonsenseword", "lavendar"]
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(
            {"doc_id": range(len(vocab)), "text": vocab}))
        got = {r[0]: (r[1], r[2], r[3]) for r in
               con.execute(duck_fuzzy_vocab_sql()).fetchall()}
        for w in vocab:
            norm = core.normalize_word(w)
            exp = core._fuzzy_lookup(norm)
            if exp is None or norm != w:
                # tokens that normalize away (e.g. "salons"→"salmon"? no —
                # gate) are out of scope for this direct comparison
                if norm == w:
                    assert w not in got, w
                continue
            term, cat, dist = exp
            assert got.get(w) == (term, cat, dist), (w, got.get(w), exp)


class TestWER:
    def test_identical(self):
        r = core.wer("I visited Houston", "I visited Houston")
        assert r["wer"] == 0.0

    def test_reference_example(self):
        r = core.wer("I visited Houston Texas on Monday",
                     "I visited Huston Texas on Munday")
        assert r["substitutions"] == 2
        assert r["insertions"] == 0 and r["deletions"] == 0
        assert math.isclose(r["wer"], 2 / 6)

    def test_empty_reference(self):
        assert core.wer("", "")["wer"] == 0.0
        assert core.wer("", "word")["wer"] == float("inf")


def test_scrub_row_fuzzy_toggle():
    """with_fuzzy=False runs the exact layer only (the SQL-mirrorable
    subset behind the pipeline_exact_only oracle row): typos that the
    fuzzy layer would catch survive, exact matches still scrub."""
    text = "we visited huston and Houston in May- no, in January"
    full = core.scrub_row(text)
    exact = core.scrub_row(text, with_fuzzy=False)
    assert full["n_fuzzy"] >= 1 and "huston" not in full["scrubbed_text"]
    assert exact["n_fuzzy"] == 0 and "huston" in exact["scrubbed_text"]
    assert "[CITY]" in exact["scrubbed_text"]          # exact layer active
    assert "[MONTH]" in exact["scrubbed_text"]         # phrase/context logic
    assert exact["n_exact"] == full["n_exact"]
