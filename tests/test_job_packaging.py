"""spark-submit packaging: the --py-files zip must mirror the package
source exactly — a stale archive means executors unpickle UDFs against
old module bytes (or hit ModuleNotFoundError for new modules)."""

import zipfile
from pathlib import Path

import job


def test_make_zip_matches_package_source(tmp_path):
    out = tmp_path / "pkg.zip"
    job.make_zip(str(out))
    pkg = Path(job.REPO) / "pii_redaction_pipeline_spark"
    src = {str(p.relative_to(job.REPO)): p for p in pkg.rglob("*.py")}
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert names == set(src), (
            f"zip/source drift: only-in-zip={names - set(src)}, "
            f"missing-from-zip={set(src) - names}")
        for name, p in src.items():
            assert z.read(name) == p.read_bytes(), f"stale bytes: {name}"


def test_zip_contains_all_imported_modules(tmp_path):
    """Every module the pipeline imports at run time must be in the
    archive (the round-1 stale zip was missing functions/langid.py)."""
    out = tmp_path / "pkg.zip"
    job.make_zip(str(out))
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
    for mod in [
        "pii_redaction_pipeline_spark/core.py",
        "pii_redaction_pipeline_spark/pipeline.py",
        "pii_redaction_pipeline_spark/queries.py",
        "pii_redaction_pipeline_spark/functions/langid.py",
        "pii_redaction_pipeline_spark/functions/fuzzy_sql.py",
        "pii_redaction_pipeline_spark/sources/audio_dir.py",
    ]:
        assert mod in names, f"missing from --py-files zip: {mod}"


def test_stale_zip_refused_and_rebuilt(tmp_path, monkeypatch):
    """Submit-time guard: a doctored (stale) archive makes job.py refuse
    the run BEFORE any Spark work and rebuild the archive in place, so
    the next submit ships fresh bytes. A fresh archive passes silently."""
    import shutil

    import pytest

    shutil.copytree(Path(job.REPO) / "pii_redaction_pipeline_spark",
                    tmp_path / "pii_redaction_pipeline_spark")
    monkeypatch.setattr(job, "REPO", tmp_path)
    zp = tmp_path / job.PKG_ZIP
    job.make_zip(str(zp))
    assert job.zip_matches_source(str(zp))
    job.ensure_fresh_py_files(str(zp))  # fresh → no-op

    # doctor one module (round-1-style drift)
    victim = "pii_redaction_pipeline_spark/core.py"
    entries = {}
    with zipfile.ZipFile(zp) as z:
        for n in z.namelist():
            entries[n] = z.read(n)
    entries[victim] = b"# stale round-1 bytes\n"
    with zipfile.ZipFile(zp, "w") as z:
        for n, b in entries.items():
            z.writestr(n, b)
    assert not job.zip_matches_source(str(zp))

    with pytest.raises(SystemExit, match="stale --py-files"):
        job.ensure_fresh_py_files(str(zp))
    assert job.zip_matches_source(str(zp))  # rebuilt in place

    # main() refuses before touching Spark when the default zip is stale
    with zipfile.ZipFile(zp, "w") as z:
        for n, b in entries.items():
            z.writestr(n, b)
    with pytest.raises(SystemExit, match="stale --py-files"):
        job.main(["--input", "/nope", "--output", str(tmp_path / "o")])
    assert job.zip_matches_source(str(zp))


def test_py_files_uri_authority_forms(tmp_path, monkeypatch):
    """RFC 8089 file:// URIs: an empty or 'localhost' authority is THIS
    host — the guard must resolve the path and catch a stale archive
    (round-4 ADVICE: file://localhost/p/x.zip was rewritten to
    /localhost/p/x.zip, failed exists(), and silently BYPASSED the
    guard). Any other authority is remote → loud unverifiable warning,
    not a silent skip."""
    import shutil
    import warnings

    import pytest

    shutil.copytree(Path(job.REPO) / "pii_redaction_pipeline_spark",
                    tmp_path / "pii_redaction_pipeline_spark")
    monkeypatch.setattr(job, "REPO", tmp_path)
    zp = tmp_path / job.PKG_ZIP
    job.make_zip(str(zp))
    # doctor the archive stale
    entries = {}
    with zipfile.ZipFile(zp) as z:
        for n in z.namelist():
            entries[n] = z.read(n)
    entries["pii_redaction_pipeline_spark/core.py"] = b"# stale\n"
    with zipfile.ZipFile(zp, "w") as z:
        for n, b in entries.items():
            z.writestr(n, b)

    for uri in (f"file://{zp}", f"file://localhost{zp}"):
        with pytest.raises(SystemExit, match="stale --py-files"):
            job.ensure_fresh_py_files(uri)
        # the guard rebuilt it — re-doctor for the next form
        with zipfile.ZipFile(zp, "w") as z:
            for n, b in entries.items():
                z.writestr(n, b)

    # non-local authority → unverifiable warning, no exists()-bypass
    # (zip rebuilt fresh so the default-path check stays silent and the
    # warning is attributable to the URI entry alone)
    job.make_zip(str(zp))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        job.ensure_fresh_py_files(f"file://otherhost{zp}")
    assert any("cannot be verified" in str(x.message)
               and "otherhost" in str(x.message) for x in w)


def test_bench_covers_whole_registry():
    """bench.py must time EVERY registry query (round-4 contract: the
    driver's BENCH_r{N}.json carries all 30 names), so a rename or an
    unbenched addition in queries.py fails here, not in the per-round
    bench run."""
    import bench

    from pii_redaction_pipeline_spark.queries import QUERIES

    assert set(bench.query_names()) == set(QUERIES)
    assert len(QUERIES) >= 30


def test_bench_compact_summary_fits_driver_tail():
    """Round-5 contract: the driver keeps only a 2,000-char stdout TAIL,
    and round 4's all-inclusive JSON line overflowed it (BENCH_r04.json
    "parsed": null). The compact summary — built with the REAL registry
    names and worst-case-width walls — must parse and stay under the
    budget, and must point at the raw record file."""
    import json

    import bench

    from pii_redaction_pipeline_spark.queries import QUERIES

    names = sorted(QUERIES) + ["pipeline_full_text", "pipeline_with_audio",
                               "minhash_signatures_xxh"]
    record = {
        "metric": "filter_scrub_pipeline_wall",
        "value": 123.456,
        "unit": "sec",
        "queries": {n: 123.456 for n in names},
        "raw": {n: [123.456] * 3 for n in names},  # must NOT leak through
        "canary": {"start": {"jvm_sum": 0.345, "parquet_scan": 0.321},
                   "end": {"jvm_sum": 0.345, "parquet_scan": 0.321},
                   "nominal_idle": bench.CANARY_NOMINAL,
                   "ratio_vs_nominal": 12.34},
        "sf": "/root/testdata/sf0.1",
        "n_clips": 100000,
        "clips_per_sec": 69252.1,
        "cpus": 32,
        "stamp": "20260817-000000",
        "raw_record": "BENCH/bench-20260817-000000.json",
    }
    line = bench.compact_summary(record)
    assert len(line) < bench.SUMMARY_MAX_CHARS
    parsed = json.loads(line)
    assert parsed["metric"] == "filter_scrub_pipeline_wall"
    assert parsed["value"] == 123.456
    assert parsed["clips_per_sec"] == 69252.1
    assert "raw" not in parsed  # raw arrays live only in the file
    assert set(parsed["queries"]) == set(names)
    assert parsed["raw_record"].startswith("BENCH/bench-")
    assert parsed["canary"]["nominal_idle"] == bench.CANARY_NOMINAL


PKG = "pii_redaction_pipeline_spark"
# package modules no entry point imports, kept on purpose (module: reason)
UNREACHED_KEEP = {
    f"{PKG}.sources.audio_dir": "reference S1: reads an audio directory",
}


def _module_file(repo: Path, dotted: str) -> Path | None:
    base = repo.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _package_imports(repo: Path, path: Path) -> set[str]:
    """Dotted package modules one file imports, lazy imports included."""
    import ast

    rel = path.relative_to(repo).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    here = parts[:-1] if path.name != "__init__.py" else parts
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = (here[:len(here) - node.level + 1] if node.level
                    else [])
            mod = ".".join(base + ([node.module] if node.module else []))
            names = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            if name.split(".")[0] == PKG and _module_file(repo, name):
                found.add(name)
    return found


def _entry_point_closure(repo: Path) -> set[str]:
    scripts = [repo / "job.py", repo / "bench.py", repo / "scaling_bench.py",
               *sorted((repo / "perfbench").glob("*.py"))]
    todo = [f"{PKG}.queries", f"{PKG}.streaming.pipeline"]
    todo += [imp for s in scripts for imp in _package_imports(repo, s)]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):  # importing a.b.c runs a, a.b
            name = ".".join(parts[:i])
            if name not in seen:
                seen.add(name)
                todo.extend(_package_imports(repo, _module_file(repo, name)))
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    """Every package module must be imported (transitively) by an entry
    point — job.py, bench.py, scaling_bench.py, perfbench/, the query
    registry or the scrub stream — or sit on UNREACHED_KEEP with a
    reason. Code only tests call is dead weight for the job."""
    repo = Path(job.REPO)
    reached = _entry_point_closure(repo)
    modules = {".".join(p.relative_to(repo).with_suffix("").parts)
               .removesuffix(".__init__")
               for p in (repo / PKG).rglob("*.py")}
    unreached = modules - reached - set(UNREACHED_KEEP)
    assert not unreached, f"no entry point imports {sorted(unreached)}"
    assert not set(UNREACHED_KEEP) & reached, "keep-list entry is reached"


# public top-level package names nothing outside their own definition
# names (module.name: reason)
UNREFERENCED_KEEP = {
    "functions.audio.with_bleeped_audio": "reference stage 4",
    "functions.wer.batch_wer": "the reference's WER QA",
    "functions.wer.clean_human_transcript": "the reference's WER cleanup",
    "report.transcript_view": "reference transcript view",
    "sources.audio_dir.read_audio_dir": "reference S1",
    "sources.tableio.read_metrics": "reads the metrics table back",
    "sources.tableio.append_metrics": "writes the metrics table",
    "streaming.pipeline.scrub_stream": "entry point: the scrub stream",
    "datagen.clips_pandas": "test fixture generator",
    "pipeline.deid_json_df": "reference S4/S5 redacted-JSON sink",
    "functions.dedup.lsh_bucket_stats": "metrics row for append_metrics",
    "functions.dedup.simhash64_bucket_stats": "metrics row for append_metrics",
    "functions.similarity.embedding_bucket_stats":
        "metrics row for append_metrics",
    "functions.similarity.spark_neardup_bruteforce":
        "exact recall oracle of the near-dup joins",
    "functions.wordpath_sql.register_oracle_tables":
        "loads the DuckDB oracle's tables",
}


def _name_scan(repo: Path):
    """(public top-level package definitions as (module, name, where),
    {name: every (file, top-level statement) whose code names it}).
    Names in strings and comments do not count."""
    import ast

    def refs(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                yield n.id
            elif (isinstance(n, ast.Attribute)
                  and not isinstance(n.ctx, ast.Store)):
                yield n.attr
            elif isinstance(n, ast.ImportFrom):
                yield from (a.name for a in n.names)

    def defined(stmt):
        if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
            return [stmt.name]
        if isinstance(stmt, ast.Assign):
            return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
        if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target,
                                                           ast.Name):
            return [stmt.target.id]
        return []

    files = [*sorted((repo / PKG).rglob("*.py")), *sorted(repo.glob("*.py")),
             *sorted((repo / "perfbench").glob("*.py"))]
    defs, where = [], {}
    for f in files:
        mod = ".".join(f.relative_to(repo).with_suffix("").parts)
        for i, stmt in enumerate(ast.parse(f.read_text()).body):
            for name in refs(stmt):
                where.setdefault(name, set()).add((f, i))
            if mod.startswith(PKG + "."):
                defs += [(mod.removeprefix(PKG + "."), name, (f, i))
                         for name in defined(stmt) if not name.startswith("_")]
    return defs, where


def test_every_public_package_name_is_referenced():
    """Name-level twin of the module reachability test: every public
    top-level name a package module defines must be named in code
    outside its own definition, in the package, the root scripts or
    perfbench/, or sit on UNREFERENCED_KEEP with a reason. Tests do not
    count: a name only tests use is dead weight for the job."""
    defs, where = _name_scan(Path(job.REPO))
    unreferenced = {f"{mod}.{name}" for mod, name, loc in defs
                    if not where.get(name, set()) - {loc}}
    extra = unreferenced - set(UNREFERENCED_KEEP)
    assert not extra, f"nothing outside tests names {sorted(extra)}"
    stale = set(UNREFERENCED_KEEP) - unreferenced
    assert not stale, f"keep-list entry is referenced or gone: {sorted(stale)}"


def test_cpu_default_follows_host(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, bench sizes local[N] from the CPUs
    this process may run on, not a fixed 32."""
    import importlib
    import os

    import bench

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        assert importlib.reload(bench).CPUS == len(os.sched_getaffinity(0))
    finally:
        monkeypatch.undo()
        importlib.reload(bench)


def test_bench_query_filter():
    """`--queries` picks registry names or xxhash64 modes; 'all' is the
    registry plus those modes, and an unknown name exits early."""
    import pytest

    import bench

    assert bench.selected("all") == bench.query_names() + list(bench.XXH_MODES)
    assert bench.selected("simhash64,simhash64_pairs_xxh") == [
        "simhash64", "simhash64_pairs_xxh"]
    with pytest.raises(SystemExit, match="nope"):
        bench.selected("simhash64,nope")


def test_package_writes_no_session_conf():
    """No package module calls `<x>.conf.set(...)`: a session's conf comes
    from session.PIPELINE_CONF when it starts, never from plan building,
    so no query depends on which plan was built before it."""
    import ast

    repo = Path(job.REPO)
    writes = []
    for p in sorted((repo / PKG).rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "set"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "conf"):
                writes.append(f"{p.relative_to(repo)}:{node.lineno}")
    assert not writes, f"session conf written at {writes}"


def test_job_session_applies_pipeline_conf(tmp_path, monkeypatch):
    """job.py's spark-submit builder carries every item of
    session.PIPELINE_CONF and leaves master and memory to spark-submit.
    The builder is captured at getOrCreate, before any Spark work."""
    import pytest
    from pyspark.sql import SparkSession

    from pii_redaction_pipeline_spark.session import PIPELINE_CONF

    class Built(Exception):
        pass

    options = {}

    def capture(builder):
        options.update(builder._options)
        raise Built

    monkeypatch.setattr(job, "REPO", tmp_path)  # no archive: guard passes
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Built):
        job.main(["--input", "/nope", "--output", str(tmp_path / "o")])
    assert PIPELINE_CONF.items() <= options.items()
    assert not {"spark.master", "spark.driver.memory"} & set(options)
