"""Deterministic synthetic `clips` table generator (FIXTURES.md §1).

Row i's content is a pure function of (seed, i) — generation is distributed
via mapInPandas over spark.range and produces identical rows regardless of
partitioning, so oracle comparisons and resume tests are stable.

Audio is WAV PCM16 mono built with stdlib ``wave`` (no soundfile in the
sandbox): signal = 0.3·sin(2π·f·t) + 0.05·noise, f = 200 + (i % 37)·10 Hz.
A small fraction of rows carry codec="opus" with undecodable payloads to
exercise per-row error capture (reference continue-on-error,
src/pipeline.py:247-261).
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd

from . import lexicon as lx

# --- transcript clause pools (drive detector + quality-rule coverage) ------

_FILLER = (
    "so then we talked about the plan for a while and you know it was "
    "really quite interesting to hear what they had to say about all of "
    "that because in the end nobody could agree on anything at all"
).split()

_PII_CLAUSES = [
    "I visited Houston on Monday",
    "we flew to New York City last Tuesday",
    "she moved to Greenville in January",
    "Salt Lake City and Corpus Christi are far apart",
    "the sky was blue and the leaves turned orange",
    "New Hampshire borders Vermont and Massachusetts",
    "district of columbia is not a state",
    "Monday's meeting moved to Wednesday",
    "Tuesdays and Thursdays are busy",
    "Houston, Texas? it was hot",
    'the "blue" door on the left',
    "HoUsToN is spelled oddly",
    "periwinkle and vermillion are rare colors",
    "Brownsville sits near the border",
    "st louis and st paul and st petersburg",
]

_MAY_CLAUSES = [
    "you may proceed when ready",
    "it may rain tomorrow afternoon",
    "in May we celebrate spring",
    "May 15th is the planned date",
    "May of 2024 was unusually warm",
]

_FUZZY_CLAUSES = [
    "huston is how they wrote it",
    "febuary was a typo in the memo",
    "phenix appeared in the draft",
    "they wrote vermot instead",
    "misisipi showed up twice",
]

_BLACKLIST_CLAUSES = [
    "I went back home like always",
    "the salon was busy around noon",
    "I remember that sound they found",
    "the texture of the mixture was off",
    "a gallon jug and a tall tale",
]

_CONTACT_CLAUSES = [
    "reach me at jane.doe@example.com anytime",
    "call (555) 123-4567 before five",
    "the fax is 555-987-6543 now",
    "ssn on file was 123-45-6789 sadly",
    "backup mail is a.b@test.org today",
]

_TOXIC_CLAUSES = [
    "that jerk broke the damn printer",
    "what an idiot move that was",
    "this stupid form sucks honestly",
]

# Leak-shaped rows: hyphen/slash-attached PII that the word path cannot
# match but the char-path verification rescan finds → REVIEW_REQUIRED/FAIL
# rows exist in the fixture, making the keep/drop F1 discriminating.
_LEAK_CLAUSES = [
    "the Houston-Texas corridor keeps growing",
    "our Dallas/Austin route was rescheduled",
    "the Boston-to-Denver flight left on a gray morning",
    "Seattle-based teams met the Portland-area group",
]

_DE_WORDS = "der die das und ist nicht ein eine zu den mit auf im sich des".split()
_ES_WORDS = "el la los las de que y es en un una por con para no se su".split()
_FR_WORDS = "le la les de des et est un une du que qui dans pour pas au".split()

_SR_CHOICES = np.array([16000, 16000, 16000, 16000, 16000, 16000, 16000,
                        16000, 16000, 8000, 22050, 44100])


def _transcript(rng: np.random.Generator, i: int) -> str:
    kind = rng.random()
    if kind < 0.01:
        return ""  # ~1% empty
    if kind < 0.03:
        return " ".join(rng.choice(_FILLER, size=2))  # too short → quality drop
    if kind < 0.06:
        word = rng.choice(["la", "na", "da"])
        return " ".join([word] * int(rng.integers(25, 80)))  # repetition
    if kind < 0.08:
        return "#$%@! " * int(rng.integers(4, 12)) + "ok then"  # symbol soup
    if kind < 0.11:
        pool = [_DE_WORDS, _ES_WORDS, _FR_WORDS][int(rng.integers(0, 3))]
        return " ".join(rng.choice(pool, size=int(rng.integers(15, 50))))
    # normal english rows (hot bucket ~70% en → the skew the rule wants)
    n_clauses = int(rng.integers(2, 7))
    if kind > 0.995:
        n_clauses = 120  # heavy-tail long row
    parts: list[str] = []
    for _ in range(n_clauses):
        r = rng.random()
        if r < 0.40:
            parts.append(" ".join(rng.choice(_FILLER, size=int(rng.integers(4, 10)))))
        elif r < 0.65:
            parts.append(str(rng.choice(_PII_CLAUSES)))
        elif r < 0.73:
            parts.append(str(rng.choice(_MAY_CLAUSES)))
        elif r < 0.80:
            parts.append(str(rng.choice(_FUZZY_CLAUSES)))
        elif r < 0.88:
            parts.append(str(rng.choice(_BLACKLIST_CLAUSES)))
        elif r < 0.93:
            parts.append(str(rng.choice(_CONTACT_CLAUSES)))
        elif r < 0.97:
            parts.append(str(rng.choice(_LEAK_CLAUSES)))
        else:
            parts.append(str(rng.choice(_TOXIC_CLAUSES)))
    return " ".join(parts)


def synth_pcm(i: int, dur_ms: int, sr: int) -> np.ndarray:
    """The seeded float32 signal for clip i (tests recompute this as the
    ground truth for the SNR≥30dB decoded-PCM invariant)."""
    n = int(sr * dur_ms / 1000)
    t = np.arange(n, dtype=np.float64) / sr
    f = 200.0 + (i % 37) * 10.0
    noise_rng = np.random.default_rng([7, i])
    sig = 0.3 * np.sin(2 * np.pi * f * t) + 0.05 * noise_rng.standard_normal(n)
    return np.clip(sig, -1.0, 1.0).astype(np.float32)


def encode_wav(pcm: np.ndarray, sr: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes((pcm * 32767.0).astype("<i2").tobytes())
    return buf.getvalue()


def gen_rows(indices: np.ndarray, seed: int = 42, max_dur_ms: int = 3000,
             with_audio: bool = True) -> pd.DataFrame:
    rows = []
    for i in indices:
        i = int(i)
        rng = np.random.default_rng([seed, i])
        dur_ms = int(min(max_dur_ms, max(300, rng.lognormal(6.3, 0.8))))
        sr = int(_SR_CHOICES[int(rng.integers(0, len(_SR_CHOICES)))])
        text = _transcript(rng, i)
        codec = "wav"
        if rng.random() < 0.01:
            codec = "opus"  # undecodable in sandbox → error-capture path
        if with_audio:
            if codec == "opus":
                payload = bytes(rng.integers(0, 256, size=64, dtype=np.uint8))
            else:
                payload = encode_wav(synth_pcm(i, dur_ms, sr), sr)
        else:
            payload = None
        rows.append((f"clip_{i:08d}", payload, sr, dur_ms, codec, text))
    return pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )


def clips_pandas(n: int, seed: int = 42, **kw) -> pd.DataFrame:
    return gen_rows(np.arange(n), seed=seed, **kw)


def clips_df(spark, n: int, seed: int = 42, partitions: int = 32,
             max_dur_ms: int = 3000, with_audio: bool = True):
    """Distributed generation: spark.range → mapInPandas, deterministic
    per clip index independent of partitioning."""
    from .schema import CLIPS_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .functions.worker import init_worker
        init_worker()
        for b in batches:
            yield gen_rows(b["id"].to_numpy(), seed=seed,
                           max_dur_ms=max_dur_ms, with_audio=with_audio)

    return (
        spark.range(0, n, numPartitions=partitions)
        .mapInPandas(gen, schema=CLIPS_SCHEMA)
    )
