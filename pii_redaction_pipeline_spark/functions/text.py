"""SQL-expressible text operators: the char-path scrub chain + quality /
langid / token expressions, emitted twice from one definition —
as PySpark Columns (JVM, whole-stage codegen) and as DuckDB SQL strings
(the driver's oracle). Keeping both emitters next to each other is what
guarantees they can't drift.

The chain implements the reference's *char-offset* detection semantics
(detect_in_text, src/pii_detector.py:355-406 — the verification path):
category passes in priority order cities→states→days→months→colors
(src/lexicon.py:110-142), terms longest-first inside each pass, word
boundary matches, sequential replacement = positional overlap suppression.
For this lexicon the 5-pass ordering is equivalent to the reference's
global longest-first order (cross-category overlapping terms are all
city-beats-state prefix pairs, which both orders resolve identically);
tests/test_text_chain.py proves equivalence against core.detect_in_text
on the fixture corpus. The word-path + fuzzy semantics (the reference's
main detect path) live in the pandas UDF (functions/scrub.py) — not
expressible in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import lexicon as lx

# --- chain definition (single source for both emitters) ---------------------

_CATEGORY_ORDER = ["city", "state", "day", "month", "color"]


def _terms_for(category: str) -> list[str]:
    terms = [t for t, c in lx.SORTED_TERMS if c == category]
    # SORTED_TERMS is already (-len, alpha); stable filter keeps that order
    return terms


def category_pattern(category: str) -> str:
    """(?i)\\b(longest|first|terms)\\b — terms are [a-z ]+ so no escaping."""
    return r"(?i)\b(" + "|".join(_terms_for(category)) + r")\b"


def scrub_steps() -> list[tuple[str, str]]:
    """Ordered (pattern, replacement) list: 5 lexicon passes then the
    north-star regex scrubs email→ssn→phone→toxic."""
    steps = [(category_pattern(c), lx.CATEGORY_LABELS[c]) for c in _CATEGORY_ORDER]
    for cat, pat in lx.REGEX_SCRUB_ORDER:
        steps.append((pat, lx.CATEGORY_LABELS[cat]))
    steps.append((lx.TOXIC_PATTERN, lx.CATEGORY_LABELS["toxic"]))
    return steps


# residual-PII rescan pattern: all lexicon terms, longest-first globally
RESCAN_PATTERN = r"(?i)\b(" + "|".join(t for t, _ in lx.SORTED_TERMS) + r")\b"

# per-category count patterns (detection counts before scrubbing)
COUNT_PATTERNS: dict[str, str] = {c: category_pattern(c) for c in _CATEGORY_ORDER}
COUNT_PATTERNS["email"] = lx.EMAIL_PATTERN
COUNT_PATTERNS["ssn"] = lx.SSN_PATTERN
COUNT_PATTERNS["phone"] = lx.PHONE_PATTERN
COUNT_PATTERNS["toxic"] = lx.TOXIC_PATTERN

# BPE-ish tokenizer: letter runs, digit runs, single other non-space symbols
BPE_TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


_STEP_CATEGORIES = _CATEGORY_ORDER + ["email", "ssn", "phone", "toxic"]


# --- trie-factored alternations (Spark side only) ---------------------------
#
# Java's regex engine evaluates a flat alternation (t1|t2|...|t260) by
# trying every branch at every input position — O(positions × terms).
# Factoring shared prefixes into a character trie ("new york( city)?"
# instead of "new york city|new york") cuts that to O(positions ×
# branching factor): a position that cannot start any term fails after
# one or two character comparisons instead of ~260 branch attempts.
#
# Matched spans are IDENTICAL to the flat longest-first alternation
# under backtracking semantics: two distinct terms can only both match
# at one position when one is a prefix of the other (distinct
# equal-length literals cannot co-match), the flat pattern prefers the
# longer (SORTED_TERMS is longest-first and the trailing \b is the only
# thing that can reject a branch), and the trie's greedy optional
# suffixes (`(?:...)?`) also try deeper = longer continuations first —
# tests/test_text_chain.py pins flat == trie span-for-span.
#
# The DuckDB emitters below keep the flat patterns verbatim: the oracle
# SQL text is fingerprinted by the driver and RE2 (no backtracking) is a
# different engine; only the Spark physical plan changes.

def _trie_regex(words: list[str]) -> str:
    """Alternation body matching exactly the same spans as
    "|".join(words) (terms must be lowercase [a-z ] literals)."""
    root: dict = {}
    for w in words:
        assert w and all(c.islower() or c == " " for c in w), w
        node = root
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}  # terminal marker

    def emit(node: dict) -> str:
        end = "" in node
        alts, leaves = [], []
        for ch in sorted(k for k in node if k != ""):
            s = emit(node[ch])
            if s:
                alts.append(ch + s)
            else:
                leaves.append(ch)
        if leaves:
            alts.append(leaves[0] if len(leaves) == 1
                        else "[" + "".join(leaves) + "]")
        if not alts:
            return ""
        body = (alts[0] if len(alts) == 1 and not end
                else "(?:" + "|".join(alts) + ")")
        return body + "?" if end else body

    return emit(root)


def _spark_trie_pattern(terms: list[str]) -> str:
    return r"(?i)\b(?:" + _trie_regex(terms) + r")\b"


def spark_scrub_steps() -> list[tuple[str, str]]:
    """scrub_steps() with the lexicon/toxicity alternations trie-factored
    — same (pattern language, replacement) pairs, faster Java matching."""
    steps = [(_spark_trie_pattern(_terms_for(c)), lx.CATEGORY_LABELS[c])
             for c in _CATEGORY_ORDER]
    for cat, pat in lx.REGEX_SCRUB_ORDER:
        steps.append((pat, lx.CATEGORY_LABELS[cat]))
    steps.append((_spark_trie_pattern(list(lx.TOXICITY_WORDS)),
                  lx.CATEGORY_LABELS["toxic"]))
    return steps


SPARK_RESCAN_PATTERN = _spark_trie_pattern([t for t, _ in lx.SORTED_TERMS])


# --- Spark emitters ---------------------------------------------------------

def scrub_col(col: Column) -> Column:
    out = col
    for pat, rep in spark_scrub_steps():
        out = F.regexp_replace(out, pat, rep)
    return out


def step_count_cols(col: Column) -> dict[str, Column]:
    """Per-category consumed-match counts: category c is counted on the
    text already scrubbed by the passes before c, so cross-category
    overlaps ("new york" city|state) are attributed once, to the
    higher-priority pass — the chain's true semantics."""
    counts: dict[str, Column] = {}
    out = col
    for cat, (pat, rep) in zip(_STEP_CATEGORIES, spark_scrub_steps()):
        counts[cat] = F.regexp_count(out, F.lit(pat)).cast("bigint")
        out = F.regexp_replace(out, pat, rep)
    return counts


def rescan_count_col(col: Column) -> Column:
    return F.regexp_count(col, F.lit(SPARK_RESCAN_PATTERN)).cast("bigint")


# --- DuckDB SQL emitters ----------------------------------------------------

def _sql_quote(pattern: str) -> str:
    return "'" + pattern.replace("'", "''") + "'"


def duck_scrub_sql(inner: str) -> str:
    out = inner
    for pat, rep in scrub_steps():
        out = f"regexp_replace({out}, {_sql_quote(pat)}, '{rep}', 'g')"
    return out


def duck_rescan_count_sql(inner: str) -> str:
    return (f"CAST(len(regexp_extract_all({inner}, "
            f"{_sql_quote(RESCAN_PATTERN)})) AS BIGINT)")


def duck_step_count_sqls(inner: str) -> dict[str, str]:
    """DuckDB twin of step_count_cols."""
    counts: dict[str, str] = {}
    out = inner
    for cat, (pat, rep) in zip(_STEP_CATEGORIES, scrub_steps()):
        counts[cat] = (f"CAST(len(regexp_extract_all({out}, "
                       f"{_sql_quote(pat)})) AS BIGINT)")
        out = f"regexp_replace({out}, {_sql_quote(pat)}, '{rep}', 'g')"
    return counts
