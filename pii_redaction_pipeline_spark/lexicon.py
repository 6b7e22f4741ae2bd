"""Lexicon data for the PII/quality pipeline.

Term lists reproduce the reference lexicon *data* (categories days/months/
colors/states/cities) from ``/root/reference/src/lexicon.py:11-89`` — these
are word lists (data, not code); detection semantics live in ``core.py``.

North-star extensions (not in the reference, required by BASELINE.json):
regex patterns for email/phone/SSN scrub, a toxicity word list, and
per-language stopword sets for the heuristic language-ID stage.

All structures here are built once at import time and are broadcast to
executors implicitly via the UDF closure (small: ~300 terms).
"""

from __future__ import annotations

# --- Reference lexicon data (src/lexicon.py:11-89) -------------------------

DAYS = [
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday",
    "mon", "tue", "tues", "wed", "thu", "thur", "thurs", "fri", "sat", "sun",
]

# "may" is excluded (as in the reference), so no term is "may".
MONTHS = [
    "january", "february", "march", "april", "june", "july",
    "august", "september", "october", "november", "december",
    "jan", "feb", "mar", "apr", "jun", "jul", "aug", "sep", "sept", "oct", "nov", "dec",
]

COLORS = [
    "red", "orange", "yellow", "green", "blue", "purple", "pink",
    "black", "white", "gray", "grey", "brown", "gold", "silver",
    "violet", "indigo", "teal", "cyan", "magenta", "maroon", "navy",
    "beige", "tan", "coral", "turquoise", "lavender", "crimson",
    "amber", "aqua", "bronze", "burgundy", "charcoal", "chartreuse",
    "chocolate", "copper", "cream", "fuchsia", "ivory", "jade",
    "khaki", "lilac", "lime", "mauve", "olive", "peach", "periwinkle",
    "plum", "rose", "ruby", "salmon", "sapphire", "scarlet", "sienna",
    "slate", "taupe", "topaz", "vermillion",
]

STATES = [
    "alabama", "alaska", "arizona", "arkansas", "california", "colorado",
    "connecticut", "delaware", "florida", "georgia", "hawaii", "idaho",
    "illinois", "indiana", "iowa", "kansas", "kentucky", "louisiana",
    "maine", "maryland", "massachusetts", "michigan", "minnesota",
    "mississippi", "missouri", "montana", "nebraska", "nevada",
    "new hampshire", "new jersey", "new mexico", "new york",
    "north carolina", "north dakota", "ohio", "oklahoma", "oregon",
    "pennsylvania", "rhode island", "south carolina", "south dakota",
    "tennessee", "texas", "utah", "vermont", "virginia", "washington",
    "west virginia", "wisconsin", "wyoming",
    "district of columbia",
]

CITIES_MULTI = [
    "salt lake city", "new york city", "oklahoma city", "kansas city",
    "virginia beach",
    "new york", "los angeles", "san francisco", "san diego", "san antonio",
    "san jose", "las vegas", "fort worth", "el paso", "new orleans",
    "long beach", "colorado springs", "st louis", "st paul", "st petersburg",
    "santa fe", "santa ana", "santa monica", "baton rouge", "little rock",
    "grand rapids", "des moines", "ann arbor", "corpus christi",
    "round rock", "college station",
]

CITIES_SINGLE = [
    "houston", "phoenix", "philadelphia", "dallas", "austin", "jacksonville",
    "charlotte", "seattle", "denver", "boston", "detroit", "portland",
    "memphis", "baltimore", "milwaukee", "albuquerque", "tucson", "fresno",
    "sacramento", "atlanta", "miami", "oakland", "minneapolis", "cleveland",
    "tulsa", "pittsburgh", "cincinnati", "indianapolis", "nashville",
    "chicago", "omaha", "raleigh", "richmond", "buffalo", "orlando",
    "tampa", "honolulu", "anchorage",
    "arlington", "irving", "garland", "mesquite", "plano", "waco",
    "lubbock", "amarillo", "laredo", "midland", "odessa", "brownsville",
    "mcallen", "killeen", "pasadena", "beaumont", "abilene", "carrollton",
    "frisco", "lewisville", "denton", "richardson", "tyler",
    "pearland", "conroe", "edinburg",
    "burkburnett", "hilton", "lincoln", "savannah", "mobile",
    "greenville", "greensboro", "brownwood", "blacksburg", "whitehall",
    "goldsboro", "silverdale", "bluefield", "redmond", "redding",
    "orangeburg", "pinkville",
]

CATEGORY_LABELS = {
    "day": "[DAY]",
    "month": "[MONTH]",
    "color": "[COLOR]",
    "state": "[STATE]",
    "city": "[CITY]",
    # north-star extensions
    "email": "[EMAIL]",
    "phone": "[PHONE]",
    "ssn": "[SSN]",
    "toxic": "[TOXIC]",
}

# Words never fuzzy-matched (reference src/pii_detector.py:256-274).
FUZZY_BLACKLIST = frozenset({
    "like", "back", "lack", "lick", "lock", "luck",
    "read", "lead", "bead", "dead", "head",
    "plan", "clan", "scan",
    "lime", "time", "dime", "mime",
    "goal", "coal", "foal",
    "pin", "tin", "bin", "fin", "win", "sin",
    "pint", "pine", "ping",
    "tank", "sank", "rank", "bank",
    "beat", "heat", "meat", "neat", "seat",
    "tale", "tall",
    "remember", "november", "september", "december",
    "member", "ember",
    "around", "round", "sound", "found", "bound",
    "texture", "mixture", "fixture",
    "salon", "gallon", "talon",
})

FUZZY_MAX_DISTANCE = 2     # reference src/config.py:31
FUZZY_MIN_CONFIDENCE = 0.7  # reference src/config.py:32

# Verification threshold (reference src/config.py:42-44): core.grade
# passes 0 residuals, reviews up to this many and fails the rest.
VERIFY_REVIEW_THRESHOLD = 2


def sorted_terms() -> list[tuple[str, str]]:
    """(term, category) sorted longest-first then alphabetically, with
    category priority cities > states > days > months > colors for equal
    terms (stable sort). Mirrors reference src/lexicon.py:110-142."""
    all_terms: list[tuple[str, str]] = []
    for term in CITIES_MULTI:
        all_terms.append((term, "city"))
    for term in CITIES_SINGLE:
        all_terms.append((term, "city"))
    for term in STATES:
        all_terms.append((term, "state"))
    for term in DAYS:
        all_terms.append((term, "day"))
    for term in MONTHS:
        all_terms.append((term, "month"))
    for term in COLORS:
        all_terms.append((term, "color"))
    return sorted(all_terms, key=lambda x: (-len(x[0]), x[0]))


SORTED_TERMS = sorted_terms()

# phrase -> category, first occurrence in SORTED_TERMS wins (ties like
# "new york" resolve to city per the reference's stable priority order).
PHRASE_TO_CATEGORY: dict[str, str] = {}
for _t, _c in SORTED_TERMS:
    PHRASE_TO_CATEGORY.setdefault(_t, _c)

# Set used by the lexicon-gated de-pluralization (src/pii_detector.py:71).
PLURAL_GATE_TERMS = frozenset(DAYS + MONTHS + COLORS + STATES + CITIES_SINGLE)

# Fuzzy candidates: single-word terms with len>=5, preserving SORTED_TERMS
# order (min-distance ties keep the first candidate encountered —
# src/pii_detector.py:294-321).
FUZZY_CANDIDATE_TERMS: list[tuple[str, str]] = [
    (t, c) for t, c in SORTED_TERMS if " " not in t and len(t) >= 5
]

# --- North-star extensions (BASELINE.json north_rule) -----------------------

# RE2-safe (no lookaround/backrefs) so the identical pattern runs in Spark
# (Java regex) and in the DuckDB oracle (RE2).
EMAIL_PATTERN = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
SSN_PATTERN = r"\b\d{3}-\d{2}-\d{4}\b"
PHONE_PATTERN = r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"

# Order matters: SSN before PHONE so 123-45-6789 is [SSN] not part-[PHONE].
REGEX_SCRUB_ORDER: list[tuple[str, str]] = [
    ("email", EMAIL_PATTERN),
    ("ssn", SSN_PATTERN),
    ("phone", PHONE_PATTERN),
]

# Mild toxicity word list (in-repo deterministic stand-in for a real list).
TOXICITY_WORDS = [
    "damn", "dammit", "hell", "crap", "jerk", "idiot", "stupid",
    "moron", "dumbass", "bastard", "screwed", "sucks", "loser", "trash",
]
# Case-insensitive and \b-bounded. Python `re`, RE2 (pyarrow, DuckDB) and
# Java regex all compile this string, and agree on ASCII text.
TOXIC_PATTERN = r"(?i)\b(" + "|".join(TOXICITY_WORDS) + r")\b"

# Per-language stopword sets for the heuristic langid stage. Small,
# high-frequency function words; deterministic and fully in-repo.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
           "was", "for", "on", "are", "with", "as", "be", "at", "this",
           "have", "or", "by", "not", "but", "we", "you", "they"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu",
           "den", "mit", "auf", "für", "im", "sich", "des", "ich", "wir"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "es", "en", "un",
           "una", "por", "con", "para", "no", "se", "su", "al", "lo"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "un", "une", "du",
           "que", "qui", "dans", "pour", "pas", "au", "ce", "il", "nous"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "人", "这", "中",
           "大", "为", "上", "个", "国", "不", "以", "他"],
}
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]  # argmax tie-break order
LANGID_MIN_CONFIDENCE = 0.05  # min stopword-hit ratio to trust the label

# Quality-rule thresholds (north-star heuristic rules; mirrored exactly in
# the Spark Column expressions, the Python oracle, and the DuckDB oracle SQL).
QUALITY_MIN_WORDS = 3
QUALITY_MAX_WORDS = 5000
QUALITY_MIN_DISTINCT_RATIO = 0.30   # applies only when word_cnt >= 20
QUALITY_DISTINCT_RATIO_MIN_WORDS = 20
QUALITY_MAX_SYMBOL_DENSITY = 0.10
