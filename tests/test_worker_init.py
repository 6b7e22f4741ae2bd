"""functions/worker.init_worker's zipimport guard, in the test process: pure
Python, no Spark. An unchanged archive on sys.path is not re-read by
importlib.invalidate_caches(); a rewritten one is."""

import gc
import importlib
import sys
import zipfile
import zipimport

import pii_redaction_pipeline_spark.functions.worker as w


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_invalidate_caches_skips_unchanged_zip(tmp_path, monkeypatch):
    pkg = f"zipguard_{tmp_path.name.replace('-', '_')}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n"})

    # start from the unguarded method; teardown restores what was there
    cls = zipimport.zipimporter
    raw = getattr(cls.invalidate_caches, "__wrapped__", cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", raw)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    saved = gc.get_threshold()  # init_worker also tunes this process's GC
    try:
        # two zipimporters on one archive: its root and the package dir
        assert importlib.import_module(f"{pkg}.a").X == 1
        importlib.reload(w)  # fresh one-shot flag
        w.init_worker()

        importlib.invalidate_caches()  # first read after install
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        # a rewritten archive is read again and its new module imports
        _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n",
                             f"{pkg}/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module(f"{pkg}.b").Y == 2
    finally:
        gc.set_threshold(*saved)
        gc.unfreeze()
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
            del sys.modules[name]
