"""Per-worker runtime set-up for long-lived, reused Python UDF workers.

Every batch-looping UDF kernel calls init_worker() at entry; the module
global makes repeat calls free. It does two things.

1. Import caches. At the start of every task pyspark's worker calls
importlib.invalidate_caches() (pyspark/worker_util.py). On CPython 3.11
each zipimporter.invalidate_caches() then re-parses its archive's
central directory in pure Python, and a reused worker holds one
zipimporter per imported subpackage path of pyspark.zip (16 with
pyspark 4.1.2, whose zip has 1328 entries), plus more for a
`--py-files` zip. One read of pyspark.zip's directory takes about 10 ms
(4-vCPU x86-64 guest, CPython 3.11.7), so a worker spent about 170 ms
of CPU per task on them, whatever the batch size. init_worker() wraps
zipimporter.invalidate_caches so an archive is re-read only when its
(st_mtime_ns, st_size) differs from the last read of it, the staleness
rule FileFinder already applies to directories. A rewritten archive is
still re-read; an unchanged one costs one stat per importer. A local[1]
job of 8 tasks made 16 reads per task without the wrapper; with it, 3
in all (one per archive), and the next job none. This part is always
on: it changes no import result.

2. GC. Round-7 finding: the headline pipeline's wall fluctuated 7 s →
17-42 s across identical runs (1M clips, local[32]) with ZERO worker
churn, stable RSS, clean JVM canaries, and no failed tasks. The culprit
is CPython's generational GC inside the reused workers
(spark.python.worker.reuse=true): the UDF kernels allocate tens of
objects per row, so gen-2 collections fire every ~N allocations and
each one scans the ENTIRE worker heap — pyspark + pandas + numpy
imports plus the scrub memo caches — for hundreds of ms; when several
of 32 workers hit their gen-2 sweep inside the same run, that run's
wall inflates 2-6×. Measured A/B over 10 runs: untuned
[42.5, 8.3, 8.0, 10.4, 13.5, 8.1, 7.8, 7.7, 17.8, 24.3] vs tuned
[6.9, 6.6, 7.4, 7.3, 8.0, 8.8, 9.1, 8.1, 7.4, 7.9].

The fix is the standard long-lived-worker recipe (known publicly from
CPython's gc.freeze() docs and the Instagram engineering writeup that
motivated it): collect once, freeze everything allocated so far
(imports, lexicon tables, compiled regexes move to a permanent
generation the collector never scans again), and raise the gen-0
threshold so full sweeps become rare. Row-level objects are acyclic
(freed by refcounting, not the cycle collector), so cycle-collection
pressure stays near zero and memory does not grow unbounded — the only
cyclic garbage is occasional pandas/pyarrow internals, still collected,
just rarely.

The freeze runs at the first kernel entry, while the worker already
holds its first Arrow batch, so that batch's live objects are frozen
too. Those freed by refcounting are still freed; any caught in a
reference cycle (pandas/pyarrow internals) stay until the worker exits.
The cost is bounded: one batch per worker.
"""

from __future__ import annotations

import functools
import os
import zipimport

_INITIALISED = False


def init_worker() -> None:
    global _INITIALISED
    if _INITIALISED:
        return
    _INITIALISED = True
    _guard_zip_caches()
    import gc

    gc.collect()
    gc.freeze()
    gc.set_threshold(500_000, 100, 100)


def _guard_zip_caches() -> None:
    """Make zipimporter.invalidate_caches re-read an archive only when it
    changed (module docstring, part 1). Idempotent per process."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stamp_guarded", False):
        return
    reread = cls.invalidate_caches
    # archive path -> ((st_mtime_ns, st_size), directory read at that stamp)
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        # stamp taken before the read: a rewrite during it shows as a new
        # stamp at the next call, which reads again
        reread(self)
        last_read[self.archive] = (stamp, self._files)

    invalidate_caches._stamp_guarded = True
    cls.invalidate_caches = invalidate_caches
