"""Seeded input generation for the job-path benchmark (load generator).

Every input is a pure function of the workload seed: clip rows come from
`datagen.gen_rows(indices, seed)`, which is deterministic per (seed, clip
index), and the hot rows of `fuzzy_skew` from a hash of (seed, run index,
row, word). Rows are generated in a spawn-started process pool and written
straight to parquet with pyarrow, so the Spark session under test never
sees the generator: the program receives only the files.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

CLIPS_ARROW_SCHEMA = pa.schema([
    pa.field("clip_id", pa.string(), nullable=False),
    pa.field("bytes", pa.binary()),
    pa.field("sr_hz", pa.int32()),
    pa.field("dur_ms", pa.int32()),
    pa.field("codec", pa.string()),
    pa.field("transcript", pa.string()),
])

# clip indices of the warm-up slices start here, so warm-up rows never
# repeat a measured row's clip_id
WARMUP_OFFSET = 10_000_000

HOT_WORDS_PER_ROW = 100  # the skew_fixture.py hot-row shape
_HOT_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def write_chunk(job: tuple) -> tuple[str, int]:
    """Pool task: generate clip rows [start, stop) for `seed` and write
    them as one parquet file. Returns (path, rows)."""
    path, seed, start, stop, with_audio = job
    import numpy as np

    from pii_redaction_pipeline_spark import datagen

    pdf = datagen.gen_rows(np.arange(start, stop), seed=seed,
                           with_audio=with_audio)
    table = pa.Table.from_pandas(pdf, schema=CLIPS_ARROW_SCHEMA,
                                 preserve_index=False)
    pq.write_table(table, path)
    return path, len(pdf)


def chunk_jobs(out_dir: Path, seed: int, start: int, n_rows: int,
               n_files: int, with_audio: bool) -> list[tuple]:
    """One job per output file, covering clip indices [start, start+n_rows)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    bounds = [start + n_rows * k // n_files for k in range(n_files + 1)]
    return [(str(out_dir / f"part-{k:03d}.parquet"), seed, bounds[k],
             bounds[k + 1], with_audio) for k in range(n_files)]


def hot_word(seed: int, run: int, row: int, j: int) -> str:
    """A 12-letter pseudo-word unique to (seed, run, row, j): long enough
    that the fuzzy layer sweeps the candidate lexicon for it, and new for
    every timed run so the per-worker fuzzy memo never holds it."""
    digest = hashlib.blake2b(f"{seed}:{run}:{row}:{j}".encode(),
                             digest_size=10).digest()
    return "zq" + "".join(_HOT_ALPHABET[b % 26] for b in digest)


def write_hot_rows(out_dir: Path, seed: int, run: int, n_rows: int,
                   n_files: int) -> list[dict]:
    """Write the hot block of one `fuzzy_skew` run as `n_files` files (so
    it lands in a few scan splits) and return the rows."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = [{
        "clip_id": f"hot_{run:04d}_{r:05d}",
        "bytes": None,
        "sr_hz": 16000,
        "dur_ms": 1000,
        "codec": "wav",
        "transcript": " ".join(hot_word(seed, run, r, j)
                               for j in range(HOT_WORDS_PER_ROW)),
    } for r in range(n_rows)]
    for k in range(n_files):
        part = rows[k::n_files]
        pq.write_table(pa.Table.from_pylist(part, schema=CLIPS_ARROW_SCHEMA),
                       str(out_dir / f"part-{k:03d}.parquet"))
    return rows


if __name__ == "__main__":
    for job in json.load(sys.stdin):
        write_chunk(tuple(job))
