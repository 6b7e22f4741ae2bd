"""Audio column operators.

decode_verify: Arrow-batched pandas UDF that decodes the WAV payload and
reports integrity stats — the `bytes` column itself passes through the
pipeline UNTOUCHED (north-rule invariant: decoded-PCM allclose/SNR≥30dB,
byte passthrough). Mirrors the reference read path
(src/audio_redactor.py:154-167: soundfile read → float32, stereo→mono) but
uses stdlib `wave` (no soundfile in env). Per-row failures are captured as
(error, stage) columns, never thrown — the Spark analog of the reference's
per-file try/except continue-on-error (src/pipeline.py:247-261).

bleep machinery (optional operator, off the scored path): tone synthesis
with fades (src/audio_redactor.py:35-56), interval merging (:59-92) and
splice (:175-202) re-expressed as numpy, applied per clip inside a UDF
when word timestamps are available.
"""

from __future__ import annotations

import io
import wave as wave_mod

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..schema import DECODE_STRUCT

MIN_BLEEP_DURATION_MS = 400
BLEEP_FREQUENCY_HZ = 1000.0
BLEEP_AMPLITUDE = 0.5
PADDING_S = 0.150


def decode_wav_bytes(payload: bytes) -> tuple[np.ndarray, int]:
    """bytes → (float32 mono PCM in [-1,1], sample_rate)."""
    with wave_mod.open(io.BytesIO(payload), "rb") as w:
        sr = w.getframerate()
        n = w.getnframes()
        ch = w.getnchannels()
        width = w.getsampwidth()
        raw = w.readframes(n)
    if width != 2:
        raise ValueError(f"unsupported sample width {width}")
    pcm = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32767.0
    if ch > 1:
        pcm = pcm.reshape(-1, ch).mean(axis=1)  # stereo→mono like reference
    return pcm, sr


@pandas_udf(DECODE_STRUCT)
def decode_verify(payload: pd.Series, codec: pd.Series) -> pd.DataFrame:
    from .worker import init_worker
    init_worker()
    out = {f.name: [] for f in DECODE_STRUCT.fields}

    def push(ok, n, sr, rms, peak, err, stage):
        out["decode_ok"].append(ok)
        out["n_samples"].append(n)
        out["decoded_sr"].append(sr)
        out["rms"].append(rms)
        out["peak"].append(peak)
        out["error"].append(err)
        out["stage"].append(stage)

    for buf, cod in zip(payload, codec):
        if buf is None:
            push(False, 0, 0, 0.0, 0.0, "null payload", "decode")
            continue
        if cod != "wav":
            push(False, 0, 0, 0.0, 0.0, f"unsupported codec: {cod}", "decode")
            continue
        try:
            pcm, sr = decode_wav_bytes(bytes(buf))
            rms = float(np.sqrt(np.mean(pcm**2))) if len(pcm) else 0.0
            peak = float(np.max(np.abs(pcm))) if len(pcm) else 0.0
            push(True, len(pcm), sr, rms, peak, None, None)
        except Exception as e:  # continue-on-error: one bad clip ≠ dead task
            push(False, 0, 0, 0.0, 0.0, str(e)[:200], "decode")
    return pd.DataFrame(out)


def with_decode_verify(df, bytes_col: str = "bytes", codec_col: str = "codec"):
    df = df.withColumn("_dec", decode_verify(F.col(bytes_col), F.col(codec_col)))
    for name in ["decode_ok", "n_samples", "decoded_sr", "rms", "peak",
                 "error", "stage"]:
        df = df.withColumn(name, F.col(f"_dec.{name}"))
    return df.drop("_dec")


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """SNR of decoded PCM vs the reference signal (test invariant ≥30dB)."""
    n = min(len(reference), len(decoded))
    if n == 0:
        return float("-inf")
    ref = reference[:n].astype(np.float64)
    err = ref - decoded[:n].astype(np.float64)
    p_sig = float(np.mean(ref**2))
    p_err = float(np.mean(err**2))
    if p_err == 0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_err)


def with_bleeped_audio(df, spans_col: str = "bleep_spans",
                       bytes_col: str = "bytes"):
    """Flag-gated audio-scrub operator (reference src/audio_redactor.py,
    optional per the north rule — the scored path carries bytes
    untouched): decode → splice bleeps over (start_s, end_s) spans →
    re-encode WAV. Spans come from word timestamps when the source has
    them; rows with no spans pass through byte-identical."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..datagen import encode_wav

    @pandas_udf(T.BinaryType())
    def bleep_udf(payload: pd.Series, spans: pd.Series) -> pd.Series:
        out = []
        for buf, sp in zip(payload, spans):
            if buf is None or sp is None or len(sp) == 0:
                out.append(buf)
                continue
            try:
                pcm, sr = decode_wav_bytes(bytes(buf))
                redacted = apply_bleeps(
                    pcm, sr, [(float(s["start_s"]), float(s["end_s"]))
                              for s in sp])
                out.append(encode_wav(redacted, sr))
            except Exception:
                out.append(buf)  # continue-on-error: pass through
        return pd.Series(out)

    return df.withColumn("bleeped_bytes",
                         bleep_udf(F.col(bytes_col), F.col(spans_col)))


# --- optional bleep operator (reference src/audio_redactor.py) -------------

def generate_bleep_tone(duration_s: float, sample_rate: int,
                        frequency: float = BLEEP_FREQUENCY_HZ,
                        amplitude: float = BLEEP_AMPLITUDE) -> np.ndarray:
    """Sine bleep with 10ms linear fades (src/audio_redactor.py:35-56)."""
    n = int(duration_s * sample_rate)
    t = np.linspace(0, duration_s, n, dtype=np.float32)
    bleep = amplitude * np.sin(2 * np.pi * frequency * t)
    fade = int(0.01 * sample_rate)
    if n > 2 * fade:
        bleep[:fade] *= np.linspace(0, 1, fade)
        bleep[-fade:] *= np.linspace(1, 0, fade)
    return bleep.astype(np.float32)


def merge_regions(regions: list[tuple[float, float]],
                  min_gap_s: float = 0.1) -> list[tuple[float, float]]:
    """Interval union with gap tolerance (src/audio_redactor.py:59-92).
    Per-clip (intra-row) — regions never cross rows."""
    if not regions:
        return []
    regions = sorted(regions)
    merged = [regions[0]]
    for start, end in regions[1:]:
        last_start, last_end = merged[-1]
        if start <= last_end + min_gap_s:
            merged[-1] = (last_start, max(last_end, end))
        else:
            merged.append((start, end))
    return merged


def apply_bleeps(pcm: np.ndarray, sr: int,
                 spans: list[tuple[float, float]],
                 duration_s: float | None = None) -> np.ndarray:
    """Splice bleeps over (start_s, end_s) spans with padding + min duration
    (src/audio_redactor.py:117-202)."""
    if duration_s is None:
        duration_s = len(pcm) / sr
    padded = [(max(0.0, s - PADDING_S), min(duration_s, e + PADDING_S))
              for s, e in spans]
    out = pcm.copy()
    for start, end in merge_regions(padded):
        actual_ms = (end - start) * 1000
        bleep_s = max(MIN_BLEEP_DURATION_MS, actual_ms) / 1000
        a, b = int(start * sr), int(end * sr)
        bleep = generate_bleep_tone(bleep_s, sr)
        seg = b - a
        if len(bleep) >= seg:
            out[a:b] = bleep[:seg]
        else:
            out[a:a + len(bleep)] = bleep
            out[a + len(bleep):b] = 0
    return out
