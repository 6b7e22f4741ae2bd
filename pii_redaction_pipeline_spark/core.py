"""Pure-Python row-level semantics of the detect→scrub→grade pipeline.

This module is the single source of truth for per-row behavior. It is used
three ways:
  1. as the *oracle* in pytest (applied row-at-a-time via plain pandas),
  2. inside the vectorized pandas UDFs (applied per Arrow batch with
     memoization — see functions/scrub.py),
  3. as the spec the DuckDB oracle SQL mirrors where SQL can express it.

Semantics reproduce the reference implementation behavior exactly
(re-derived, not copied):
  - word normalization        — reference src/pii_detector.py:45-75
  - levenshtein               — reference src/pii_detector.py:24-42
  - exact longest-first match — reference src/pii_detector.py:173-241
  - fuzzy layer + gates       — reference src/pii_detector.py:243-353
  - label substitution        — reference src/text_redactor.py:77-170
  - char-offset text detector — reference src/pii_detector.py:355-406
  - verification grading      — reference src/verifier.py:84-130, config:42-44
plus the north-star extensions (email/SSN/phone regex scrub, toxicity
word list, quality heuristics, stopword langid, char-bigram perplexity)
whose semantics are defined here and mirrored everywhere else.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from . import lexicon as lx

# --------------------------------------------------------------------------
# Basic string ops
# --------------------------------------------------------------------------

# The reference char class is two ASCII apostrophes (src/pii_detector.py:56)
# — smart-quote possessives are intentionally NOT stripped.
_POSSESSIVE_RE = re.compile(r"'s$")
_RSTRIP_CHARS = ".,!?;:\"'"
_LSTRIP_CHARS = "\"'"


def levenshtein(s1: str, s2: str) -> int:
    """Edit distance, iterative two-row DP (reference src/pii_detector.py:24-42)."""
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    if not s2:
        return len(s1)
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        cur = [i + 1]
        for j, c2 in enumerate(s2):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (c1 != c2)))
        prev = cur
    return prev[-1]


def normalize_word(word: str) -> str:
    """Lowercase, strip possessive 's, trim punctuation, lexicon-gated
    de-pluralization. Order of operations matters (possessive regex runs
    before punctuation trim, so "monday's," stays "monday's") — reference
    src/pii_detector.py:45-75."""
    if not word:
        return ""
    word = word.lower()
    word = _POSSESSIVE_RE.sub("", word)
    word = word.rstrip(_RSTRIP_CHARS)
    word = word.lstrip(_LSTRIP_CHARS)
    if word.endswith("s") and not word.endswith("ss") and len(word) > 3:
        singular = word[:-1]
        if singular in lx.PLURAL_GATE_TERMS:
            word = singular
    return word


# --------------------------------------------------------------------------
# Word-path detection (tokens = whitespace split of the transcript)
# --------------------------------------------------------------------------

@dataclass
class Match:
    text: str            # original text matched
    category: str
    confidence: float
    word_indices: list[int] = field(default_factory=list)
    is_fuzzy: bool = False


# Word-level phrase trie (Aho-Corasick-style automaton without failure
# links — phrases are ≤ 4 words (reference src/pii_detector.py:184) and
# the reference restarts at i+1 on a miss, so a plain trie walk
# reproduces its semantics).
# Nodes are dicts keyed by normalized word; the int sentinel key holds
# the terminal category (ints can't collide with str word keys). Every
# phrase matching at position i lies ON the single root walk through
# norm[i:], so taking the deepest terminal of one walk is exactly the
# reference's longest-first retry loop (src/pii_detector.py:173-241) —
# without re-joining 4/3/2-word slice strings per position.
_TRIE_CAT = 0


def _build_phrase_trie() -> dict:
    root: dict = {}
    for phrase, category in lx.PHRASE_TO_CATEGORY.items():
        node = root
        for w in phrase.split():
            node = node.setdefault(w, {})
        node[_TRIE_CAT] = category
    return root


_PHRASE_TRIE = _build_phrase_trie()


def exact_match(tokens: list[str], norm: list[str], matched: set[int]) -> list[Match]:
    """Longest-first exact phrase matching over normalized tokens with
    consumed-index skipping (reference src/pii_detector.py:173-241),
    as a single trie walk per start position."""
    matches: list[Match] = []
    n = len(tokens)
    root = _PHRASE_TRIE
    i = 0
    while i < n:
        if i in matched:
            i += 1
            continue
        node = root.get(norm[i])
        if node is None:
            i += 1  # fast path: no term can start here
            continue
        # walk as deep as the tokens allow; the deepest terminal wins
        longest = (1, node[_TRIE_CAT]) if _TRIE_CAT in node else None
        j = i + 1
        while j < n:
            node = node.get(norm[j])
            if node is None:
                break
            if _TRIE_CAT in node:
                longest = (j - i + 1, node[_TRIE_CAT])
            j += 1
        if longest is not None:
            phrase_len, category = longest
            indices = list(range(i, i + phrase_len))
            matched.update(indices)
            matches.append(Match(
                text=" ".join(tokens[i: i + phrase_len]),
                category=category,
                confidence=1.0,
                word_indices=indices,
            ))
            i += phrase_len - 1
        i += 1
    return matches


def _fuzzy_lookup(word: str) -> tuple[str, str, int] | None:
    """Best (term, category, distance) fuzzy candidate for a normalized word,
    or None. Pure function of the word → safe to memoize across rows.
    Gates reproduce reference src/pii_detector.py:276-328."""
    if word in lx.FUZZY_BLACKLIST or len(word) < 5:
        return None
    best: tuple[str, str, int] | None = None
    wl = len(word)
    for term, category in lx.FUZZY_CANDIDATE_TERMS:
        tl = len(term)
        if abs(wl - tl) > lx.FUZZY_MAX_DISTANCE:
            continue
        distance = levenshtein(word, term)
        if distance == 0:
            continue  # exact layer owns these
        if distance == 2 and wl < 7:
            continue
        if distance <= lx.FUZZY_MAX_DISTANCE:
            if distance / max(wl, tl) > 0.25:
                continue
            if best is None or distance < best[2]:
                best = (term, category, distance)
                if distance == 1:
                    break  # distance 0 is skipped, so nothing can beat 1
    if best is None:
        return None
    term, category, distance = best
    confidence = 1.0 - distance / max(wl, len(term))
    if confidence < lx.FUZZY_MIN_CONFIDENCE:
        return None
    return (term, category, distance)


_FUZZY_CACHE: dict[str, tuple[str, str, int] | None] = {}


def fuzzy_best(word: str,
               lookup: dict | None = None) -> tuple[str, str, int] | None:
    """_fuzzy_lookup(word) from the precomputed `lookup` table when one is
    given (see fuzzy_match), else through the per-process memo."""
    if lookup is not None:
        return lookup.get(word)
    if word in _FUZZY_CACHE:
        return _FUZZY_CACHE[word]
    best = _fuzzy_lookup(word)
    if len(_FUZZY_CACHE) < 1_000_000:
        _FUZZY_CACHE[word] = best
    return best


def fuzzy_match(tokens: list[str], norm: list[str], matched: set[int],
                lookup: dict | None = None) -> list[Match]:
    """Fuzzy layer over words the exact layer left unmatched
    (reference src/pii_detector.py:243-353).

    `lookup` (optional) is a PRECOMPUTED vocabulary table
    {normalized token: (term, category, distance)} — the 10^12-scale
    path: fuzzy matching runs ONCE over the corpus's distinct
    vocabulary as a relational job (functions/fuzzy_sql.
    spark_fuzzy_vocab, oracle-proven identical to _fuzzy_lookup on the
    corpus domain) and rides to executors as a broadcast dict, so the
    per-row cost is a hash lookup instead of a Levenshtein sweep —
    byte-proportional, which kills the hot-vocabulary skew class at
    the root (BENCH/SALT_VALIDATION.md). A lookup miss means "no
    fuzzy match" (gated-out tokens are absent from the table by the
    same blacklist/length gates)."""
    matches: list[Match] = []
    for i, token in enumerate(tokens):
        if i in matched:
            continue
        word = norm[i]
        best = fuzzy_best(word, lookup)
        if best is None:
            continue
        term, category, distance = best
        confidence = 1.0 - distance / max(len(word), len(term))
        matched.add(i)
        matches.append(Match(
            text=token,
            category=category,
            confidence=confidence,
            word_indices=[i],
            is_fuzzy=True,
        ))
    return matches


_NORM_CACHE: dict[str, str] = {}


def _normalize_cached(token: str) -> str:
    v = _NORM_CACHE.get(token)
    if v is None:
        v = normalize_word(token)
        if len(_NORM_CACHE) < 2_000_000:
            _NORM_CACHE[token] = v
    return v


def detect_words(text: str,
                 with_fuzzy: bool = True,
                 fuzzy_lookup: dict | None = None) -> tuple[list[str], list[Match]]:
    """Two-layer detection over whitespace tokens. Matches are returned in
    positional order (exact then fuzzy, sorted by first word index — the
    reference sorts by start_time, src/pii_detector.py:163-164).
    with_fuzzy=False runs the exact layer only — the SQL-mirrorable
    subset used by the pipeline_exact_only oracle row (the fuzzy layer's
    semantics are not SQL-expressible)."""
    tokens = text.split()
    if not tokens:
        return [], []
    # inlined memo probe: one dict hit per already-seen token instead of
    # a _normalize_cached call (the list comp is the kernel's hottest
    # line at ~500k tokens per profile window; '' is a valid cached
    # value, so the miss test is a sentinel compare, not truthiness)
    cache_get = _NORM_CACHE.get
    norm = [v if (v := cache_get(t)) is not None else _normalize_cached(t)
            for t in tokens]
    matched: set[int] = set()
    matches = exact_match(tokens, norm, matched)
    if with_fuzzy:
        matches.extend(fuzzy_match(tokens, norm, matched, fuzzy_lookup))
    matches.sort(key=lambda m: m.word_indices[0])
    return tokens, matches


# --------------------------------------------------------------------------
# Redaction (word-aligned label substitution)
# --------------------------------------------------------------------------

def redact_tokens(tokens: list[str], matches: list[Match]) -> str:
    """Replace the first word of each match with its category label, drop
    subsequent words of multi-word matches (reference
    src/text_redactor.py:92-156, single-segment case)."""
    if not matches:
        return " ".join(tokens)  # fast path: nothing to redact
    first_word = {}
    member = set()
    for m in matches:
        first_word[m.word_indices[0]] = m
        member.update(m.word_indices)
    out: list[str] = []
    for i, tok in enumerate(tokens):
        if i in member:
            m = first_word.get(i)
            if m is not None:
                out.append(lx.CATEGORY_LABELS.get(m.category, f"[{m.category.upper()}]"))
        else:
            out.append(tok)
    return " ".join(out)


# --------------------------------------------------------------------------
# North-star regex scrub extensions (email / SSN / phone / toxicity)
# --------------------------------------------------------------------------

_REGEX_SCRUB = [(cat, re.compile(pat)) for cat, pat in lx.REGEX_SCRUB_ORDER]
_TOXIC_RE = re.compile(lx.TOXIC_PATTERN)
_DIGIT_RE = re.compile(r"\d")


def regex_scrub(text: str) -> tuple[str, dict[str, int]]:
    """Apply email→ssn→phone→toxic replacements; returns scrubbed text and
    per-category replacement counts. Applied *after* lexicon redaction.
    Cheap gates: email needs '@', ssn/phone need a digit — same result,
    skips three full-text regex passes on the common clean row."""
    counts: dict[str, int] = {}
    has_digit = _DIGIT_RE.search(text) is not None
    for cat, pat in _REGEX_SCRUB:
        if cat == "email" and "@" not in text:
            continue
        if cat in ("ssn", "phone") and not has_digit:
            continue
        text, n = pat.subn(lx.CATEGORY_LABELS[cat], text)
        if n:
            counts[cat] = n
    # same cheap-gate idea for the toxicity pass: a \b-bounded match
    # requires the lowercase word as a substring, and C-level substring
    # scans are ~10× cheaper than the alternation subn on clean rows
    lower = text.lower()
    if any(w in lower for w in lx.TOXICITY_WORDS):
        text, n = _TOXIC_RE.subn(lx.CATEGORY_LABELS["toxic"], text)
        if n:
            counts["toxic"] = n
    return text, counts


# --------------------------------------------------------------------------
# Char-offset detector (verification rescan path)
# --------------------------------------------------------------------------

_TERMS = [(t, c, frozenset(t.split())) for t, c in lx.SORTED_TERMS]
# Each term is indexed under its longest word. A \b-bounded occurrence of
# a term (all are [a-z ]+) needs each of its words as a maximal [a-z] run
# of the lowered text, so the runs of a text name every term it can hold.
_TERM_INDEX: dict[str, list[int]] = {}
for _k, (_term, _) in enumerate(lx.SORTED_TERMS):
    _TERM_INDEX.setdefault(max(_term.split(), key=len), []).append(_k)
_WORD_RUN_RE = re.compile(r"[a-z]+")


def _is_word(c: str) -> bool:
    """Python `re`'s \\w for one character of a str pattern's subject."""
    return c.isalnum() or c == "_"


def detect_in_text(text: str) -> list[dict]:
    """Char-offset longest-first detection with overlap suppression
    (reference src/pii_detector.py:355-406). Used for verification rescan.

    The reference searches every term, in SORTED_TERMS order, with
    `\\bterm\\b` on the slice of the lowered text where its last search
    left off, so the slice start counts as a boundary. Here the text's
    letter runs pick the terms that can occur (_TERM_INDEX), visited in
    the same order, and each is found with str.find plus the same two
    \\b tests: same output."""
    lower = text.lower()
    runs = set(_WORD_RUN_RE.findall(lower))
    terms = sorted(k for w in runs.intersection(_TERM_INDEX)
                   for k in _TERM_INDEX[w] if _TERMS[k][2] <= runs)
    if not terms:
        return []
    matches: list[dict] = []
    n = len(lower)
    taken = bytearray(n)  # 1 where an earlier match lies
    for k in terms:
        term, category, _ = _TERMS[k]
        tl = len(term)
        start = 0
        p = lower.find(term)
        while p >= 0:
            end = p + tl
            if ((p > start and _is_word(lower[p - 1]))
                    or (end < n and _is_word(lower[end]))):
                p = lower.find(term, p + 1)
                continue
            if taken.find(1, p, end) >= 0:
                start = p + 1
            else:
                taken[p:end] = b"\x01" * tl
                matches.append({
                    "text": text[p:end],
                    "category": category,
                    "start": p,
                    "end": end,
                })
                start = end
            p = lower.find(term, start)
    matches.sort(key=lambda m: m["start"])
    return matches


# --------------------------------------------------------------------------
# Verification grading
# --------------------------------------------------------------------------

def verify_counts(scrubbed_text: str) -> tuple[int, int]:
    """(total, high-confidence) residual-PII counts in scrubbed text.
    Rescan matches are exact → confidence 1.0 → high-confidence. Label
    self-matches are filtered like the reference (src/verifier.py:148-152).
    A row whose letter runs complete no term (the common case: a fully
    scrubbed row) costs one letter-run scan."""
    found = [
        p for p in detect_in_text(scrubbed_text)
        if not p["text"].startswith("[") and not p["text"].endswith("]")
    ]
    return len(found), len(found)


def grade(verify_total: int, verify_high_conf: int) -> str:
    """PASS / PASS_WITH_NOTE / REVIEW_REQUIRED / FAIL from residual counts
    (reference src/verifier.py:84-130 with thresholds config:42-44)."""
    if verify_total == 0:
        return "PASS"
    if verify_total <= lx.VERIFY_REVIEW_THRESHOLD:
        return "PASS_WITH_NOTE" if verify_high_conf == 0 else "REVIEW_REQUIRED"
    return "FAIL"


_STATUS_RANK = {"PASS": 0, "PASS_WITH_NOTE": 1, "REVIEW_REQUIRED": 2, "FAIL": 3}


def combine_status(text_status: str, audio_ok: bool | None) -> str:
    """Worst-of verification combine (reference src/verifier.py:41-55:
    FAIL > REVIEW_REQUIRED > PASS_WITH_NOTE > PASS). audio_ok=None means
    audio verification did not run (audio_status None → text_status,
    src/verifier.py:42-44); audio_ok=False maps to REVIEW_REQUIRED like
    the reference's failed audio verification (src/verifier.py:185-191)."""
    if audio_ok is None:
        return text_status
    audio_status = "PASS" if audio_ok else "REVIEW_REQUIRED"
    return max(text_status, audio_status, key=_STATUS_RANK.__getitem__)


# --------------------------------------------------------------------------
# Quality heuristics + langid (north-star; ASCII-explicit so the same
# expressions are reproducible in Spark SQL and DuckDB SQL)
# --------------------------------------------------------------------------

_SYMBOL_RE = re.compile(r"[^A-Za-z0-9\s]")


def quality_metrics(text: str) -> dict:
    tokens = text.split()
    word_cnt = len(tokens)
    distinct_cnt = len({t.lower() for t in tokens})
    distinct_ratio = distinct_cnt / word_cnt if word_cnt else 0.0
    n_chars = len(text)
    symbol_cnt = len(_SYMBOL_RE.findall(text))
    symbol_density = symbol_cnt / n_chars if n_chars else 0.0
    quality_ok = (
        lx.QUALITY_MIN_WORDS <= word_cnt <= lx.QUALITY_MAX_WORDS
        and (word_cnt < lx.QUALITY_DISTINCT_RATIO_MIN_WORDS
             or distinct_ratio >= lx.QUALITY_MIN_DISTINCT_RATIO)
        and symbol_density <= lx.QUALITY_MAX_SYMBOL_DENSITY
    )
    return {
        "word_cnt": word_cnt,
        "distinct_ratio": distinct_ratio,
        "symbol_density": symbol_density,
        "quality_ok": quality_ok,
    }


_STOPWORD_SETS = {lang: frozenset(ws) for lang, ws in lx.LANG_STOPWORDS.items()}


def langid(text: str) -> tuple[str, float]:
    """Stopword-hit-ratio language ID (fastText-style confidence proxy).
    Ties break in LANG_PRIORITY order; below-threshold → ('und', score)."""
    tokens = [t.lower() for t in text.split()]
    if not tokens:
        return "und", 0.0
    n = len(tokens)
    best_lang, best_score = "und", -1.0
    for lang in lx.LANG_PRIORITY:
        ws = _STOPWORD_SETS[lang]
        score = sum(1 for t in tokens if t in ws) / n
        if score > best_score:
            best_lang, best_score = lang, score
    if best_score < lx.LANGID_MIN_CONFIDENCE:
        return "und", best_score
    return best_lang, best_score


# --------------------------------------------------------------------------
# Char-bigram perplexity (KenLM-style stand-in, deterministic, in-repo)
# --------------------------------------------------------------------------

_PPL_CORPUS = (
    "the quick brown fox jumps over the lazy dog and then it was time to go "
    "home for the evening we talked about the weather and the news of the day "
    "people generally prefer short clear sentences that say what they mean "
    "a language model assigns probability to text and perplexity measures fit "
    "this is a small deterministic corpus used only to seed bigram counts "
    "common english words appear here with normal letter frequencies so that "
    "ordinary transcripts score low perplexity while random symbol soup or "
    "repeated nonsense scores high perplexity as a quality signal"
)
_PPL_VOCAB = "abcdefghijklmnopqrstuvwxyz "


def _build_ppl_table() -> dict[tuple[str, str], float]:
    counts: dict[tuple[str, str], int] = {}
    ctx: dict[str, int] = {}
    clean = re.sub(r"[^a-z ]", " ", _PPL_CORPUS.lower())
    clean = re.sub(r"\s+", " ", clean)
    for a, b in zip(clean, clean[1:]):
        counts[(a, b)] = counts.get((a, b), 0) + 1
        ctx[a] = ctx.get(a, 0) + 1
    v = len(_PPL_VOCAB)
    table: dict[tuple[str, str], float] = {}
    for a in _PPL_VOCAB:
        ca = ctx.get(a, 0)
        for b in _PPL_VOCAB:
            table[(a, b)] = math.log((counts.get((a, b), 0) + 1) / (ca + v))
    return table


_PPL_TABLE = _build_ppl_table()
_PPL_OOV = math.log(1.0 / len(_PPL_VOCAB))
_WS_COLLAPSE_RE = re.compile(r"\s+")


def perplexity(text: str) -> float:
    """Char-bigram perplexity over [a-z ]; OOV chars get uniform prob."""
    s = _WS_COLLAPSE_RE.sub(" ", text.lower())
    if len(s) < 2:
        return float(len(_PPL_VOCAB))
    total = 0.0
    n = 0
    for a, b in zip(s, s[1:]):
        total += _PPL_TABLE.get((a, b), _PPL_OOV)
        n += 1
    return math.exp(-total / n)


# --------------------------------------------------------------------------
# Full row pipeline (the oracle the Spark job must agree with)
# --------------------------------------------------------------------------

def redaction_records(matches: list[Match]) -> list[dict]:
    """One record per word-path match (reference text_redactor to_dict,
    src/text_redactor.py:36-67)."""
    return [
        {
            "original": m.text,
            "replacement": lx.CATEGORY_LABELS.get(m.category, f"[{m.category.upper()}]"),
            "category": m.category,
            "confidence": m.confidence,
            "is_fuzzy": m.is_fuzzy,
        }
        for m in matches
    ]


def scrub_row(text: str | None, with_fuzzy: bool = True,
              fuzzy_lookup: dict | None = None) -> dict:
    """Row kernel: detect → redact → regex-scrub → verification rescan for
    one transcript. The per-row oracle of the scrub UDFs: their batch
    kernel (functions/scrub.scrub_batch) must equal it on every field,
    and the redactions UDF on `redactions`; everything else (quality,
    langid, grading CASE) is Column expressions."""
    if text is None:
        text = ""
    tokens, matches = detect_words(text, with_fuzzy, fuzzy_lookup)
    scrubbed = redact_tokens(tokens, matches)
    scrubbed, ext_counts = regex_scrub(scrubbed)
    vt, _vh = verify_counts(scrubbed)
    return {
        "scrubbed_text": scrubbed,
        "redactions": redaction_records(matches),
        "n_exact": sum(1 for m in matches if not m.is_fuzzy),
        "n_fuzzy": sum(1 for m in matches if m.is_fuzzy),
        "ext_counts": ext_counts,
        "verify_pii_count": vt,
    }


def process_transcript(text: str | None) -> dict:
    """Full-row oracle: scrub kernel + quality + langid + ppl + grade +
    keep decision. The Spark pipeline (UDF + Column expressions) must agree
    with this on every row."""
    if text is None:
        text = ""
    s = scrub_row(text)
    matches_cats = [r["category"] for r in s["redactions"]]
    ext_counts = s["ext_counts"]
    scrubbed = s["scrubbed_text"]
    pii_count = len(matches_cats) + sum(ext_counts.values())
    vt = s["verify_pii_count"]
    qa_status = grade(vt, vt)
    q = quality_metrics(text)
    lang, lang_conf = langid(text)
    ppl = perplexity(text)
    keep = bool(
        q["quality_ok"]
        and lang_conf >= lx.LANGID_MIN_CONFIDENCE
        and qa_status == "PASS"
    )
    cat_counts: dict[str, int] = {}
    for c in matches_cats:
        cat_counts[c] = cat_counts.get(c, 0) + 1
    for c, n in ext_counts.items():
        cat_counts[c] = cat_counts.get(c, 0) + n
    return {
        "scrubbed_text": scrubbed,
        "pii_count": pii_count,
        "n_exact": s["n_exact"],
        "n_fuzzy": s["n_fuzzy"],
        "verify_pii_count": vt,
        "qa_status": qa_status,
        "word_cnt": q["word_cnt"],
        "distinct_ratio": q["distinct_ratio"],
        "symbol_density": q["symbol_density"],
        "quality_ok": q["quality_ok"],
        "lang": lang,
        "lang_conf": lang_conf,
        "ppl": ppl,
        "keep": keep,
        "categories": cat_counts,
    }


# --------------------------------------------------------------------------
# WER (reference src/wer_calculator.py:23-161)
# --------------------------------------------------------------------------

_WER_PUNCT_RE = re.compile(r"[^\w\s']")
_WER_WS_RE = re.compile(r"\s+")


def wer_normalize(text: str) -> list[str]:
    text = _WER_PUNCT_RE.sub(" ", text.lower())
    text = _WER_WS_RE.sub(" ", text)
    return text.strip().split()


def wer(reference: str, hypothesis: str) -> dict:
    """Word error rate with S/I/D counts via full DP (no alignment list —
    only the counts the aggregates need). Tie-break order sub ≤ ins ≤ del
    matches the reference backtrace (src/wer_calculator.py:63-109)."""
    ref = wer_normalize(reference)
    hyp = wer_normalize(hypothesis)
    m, n = len(ref), len(hyp)
    if m == 0:
        return {"wer": 0.0 if n == 0 else float("inf"), "substitutions": 0,
                "insertions": n, "deletions": 0,
                "reference_words": 0, "hypothesis_words": n}
    dp = [[0] * (n + 1) for _ in range(m + 1)]
    ops = [[""] * (n + 1) for _ in range(m + 1)]
    for i in range(m + 1):
        dp[i][0] = i
        ops[i][0] = "D"
    for j in range(n + 1):
        dp[0][j] = j
        ops[0][j] = "I"
    for i in range(1, m + 1):
        ri = ref[i - 1]
        for j in range(1, n + 1):
            if ri == hyp[j - 1]:
                dp[i][j] = dp[i - 1][j - 1]
                ops[i][j] = "M"
            else:
                sub = dp[i - 1][j - 1] + 1
                ins = dp[i][j - 1] + 1
                dele = dp[i - 1][j] + 1
                if sub <= ins and sub <= dele:
                    dp[i][j], ops[i][j] = sub, "S"
                elif ins <= dele:
                    dp[i][j], ops[i][j] = ins, "I"
                else:
                    dp[i][j], ops[i][j] = dele, "D"
    subs = ins = dels = 0
    i, j = m, n
    while i > 0 or j > 0:
        op = ops[i][j]
        if op == "M":
            i, j = i - 1, j - 1
        elif op == "S":
            subs += 1
            i, j = i - 1, j - 1
        elif op == "I":
            ins += 1
            j -= 1
        else:
            dels += 1
            i -= 1
    return {
        "wer": (subs + ins + dels) / m,
        "substitutions": subs,
        "insertions": ins,
        "deletions": dels,
        "reference_words": m,
        "hypothesis_words": n,
    }
