"""Similarity-search semantics the SQL oracle can't pin: LSH recall on
TRUE near-duplicates (the synthetic embeddings table has none — max
pairwise cosine ≈ 0.5), precision vs brute force, and the per-batch
partial top-k distributivity of the exact ANN kernel."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pii_redaction_pipeline_spark.functions.similarity import (
    spark_cosine_topk,
    spark_neardup_bruteforce,
    spark_neardup_pairs,
)

DIM = 64
N_BASE = 120
N_DUPS = 40


@pytest.fixture(scope="module")
def planted(spark):
    """Deterministic embeddings with planted near-duplicates: vector
    N_BASE+i is base vector i plus small noise (cosine > 0.99)."""
    rng = np.random.default_rng(4242)
    base = rng.normal(size=(N_BASE, DIM))
    noise = 0.02 * rng.normal(size=(N_DUPS, DIM))
    dups = base[:N_DUPS] + noise
    vecs = np.vstack([base, dups]).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_neardup_lsh_recall_on_true_dups(planted):
    """Planted near-identical pairs agree on leading-dim signs with
    probability ≈ 1 per hash table → LSH recall ≥ 0.95; every emitted
    pair is exact-verified, so precision vs brute force is 1.0."""
    lsh = {(r.id_a, r.id_b)
           for r in spark_neardup_pairs(planted, threshold=0.9).collect()}
    bf = {(r.id_a, r.id_b)
          for r in spark_neardup_bruteforce(
              planted, limit_ids=10**9, threshold=0.9).collect()}
    planted_pairs = {(i, N_BASE + i) for i in range(N_DUPS)}
    assert planted_pairs <= bf                   # the dups really are dups
    assert lsh <= bf                             # precision 1.0 (verified)
    assert len(lsh & bf) / len(bf) >= 0.95       # recall on true near-dups


def test_neardup_plan_has_no_cartesian(planted):
    plan = spark_neardup_pairs(planted)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_topk_partial_topk_is_exact(planted):
    """The mapInPandas kernel keeps only per-batch top-k; with many small
    input partitions (many batches) the global result must still equal
    the single-partition answer — top-k is distributive."""
    one = {(r.q_id, r.n_id, r.rank)
           for r in spark_cosine_topk(planted.coalesce(1), k=5).collect()}
    many = {(r.q_id, r.n_id, r.rank)
            for r in spark_cosine_topk(planted.repartition(16), k=5).collect()}
    assert one == many
    assert len(one) == 8 * 5


def test_neardup_clusters_transitive(spark):
    """A~B and B~C near-dup pairs (A and C NOT similar enough directly)
    must land in ONE cluster labeled min(doc_id) — the propagation has to
    cross the missing edge transitively."""
    from pii_redaction_pipeline_spark.functions.dedup import (
        spark_jaccard_pairs,
        spark_neardup_clusters,
    )

    # sliding 18-word windows, stride 3: J(A,B)=J(B,C)=0.684 >= 0.5,
    # J(A,C)=0.455 < 0.5, and both chain pairs share an LSH band under
    # the (deterministic) md5 scheme — verified offline
    W = [f"w{i:02d}" for i in range(40)]
    texts = [
        (10, " ".join(W[0:18])),    # A
        (11, " ".join(W[3:21])),    # B
        (12, " ".join(W[6:24])),    # C
        (50, "totally different content here nothing shared at all ok"),
        (51, "totally different content here nothing shared at all ok"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b)
             for r in spark_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (10, 11) in pairs and (11, 12) in pairs
    assert (10, 12) not in pairs                      # the transitive gap
    clusters = {r.doc_id: r.cluster_id
                for r in spark_neardup_clusters(docs, threshold=0.5).collect()}
    assert clusters[10] == clusters[11] == clusters[12] == 10
    assert clusters[50] == clusters[51] == 50


def test_ivf_multiprobe_recall_dominates_single_probe(planted):
    """Multi-probe (own bucket + Hamming-1 neighbors) must recall at
    least as much of the exact top-k as single-probe, per probe."""
    from pii_redaction_pipeline_spark.functions.similarity import (
        spark_cosine_topk_ivf,
        spark_cosine_topk_ivf_multiprobe,
    )

    exact = {(r.q_id, r.n_id)
             for r in spark_cosine_topk(planted, k=3).collect()}
    single = {(r.q_id, r.n_id)
              for r in spark_cosine_topk_ivf(planted, k=3).collect()}
    multi = {(r.q_id, r.n_id)
             for r in spark_cosine_topk_ivf_multiprobe(planted, k=3).collect()}
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_exact_topk_empty_probe_set(planted):
    """No vectors under the probe-id cutoff → empty result, not a crash."""
    out = spark_cosine_topk(planted.where("vec_id >= 100"), n_probes=8).collect()
    assert out == []


def test_neardup_clusters_path_graph_rounds_logarithmic(spark, monkeypatch):
    """A 200-node path graph is the adversarial case for plain min-label
    propagation (O(diameter) = 200 rounds of full-edge joins). Pointer
    jumping must converge in ≤ 2·log2(n)+2 rounds and still label every
    node with the component min."""
    import pii_redaction_pipeline_spark.functions.dedup as dd

    n = 200
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "doc_a long, doc_b long")
    monkeypatch.setattr(
        dd, "spark_jaccard_pairs",
        lambda docs, threshold=0.5, hash_impl="md5": pairs)
    stats = {}
    rows = dd.spark_neardup_clusters(None, stats=stats).collect()
    assert stats["n_vertices"] == n
    # round 7: TWO pointer jumps per round → propagated distance grows
    # ~4× per round; a 200-node path converges in 5 rounds (measured;
    # the single-jump form needed ~8, plain propagation 200)
    assert stats["rounds"] <= 6
    assert all(r["cluster_id"] == 0 for r in rows)


def test_neardup_clusters_round_cap_raises(spark, monkeypatch):
    """max_rounds is a hard safety cap: an input that can't converge in
    the budget raises instead of looping driver-side jobs forever."""
    import pytest as _pytest

    import pii_redaction_pipeline_spark.functions.dedup as dd

    pairs = spark.createDataFrame([(i, i + 1) for i in range(63)],
                                  "doc_a long, doc_b long")
    monkeypatch.setattr(
        dd, "spark_jaccard_pairs",
        lambda docs, threshold=0.5, hash_impl="md5": pairs)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dd.spark_neardup_clusters(None, max_rounds=1)


def test_neardup_clusters_frees_superseded_checkpoints(spark, monkeypatch):
    """Superseded per-round localCheckpoint blocks must be unpersisted:
    only the final labels checkpoint may remain cached afterwards."""
    import pii_redaction_pipeline_spark.functions.dedup as dd

    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    pairs = spark.createDataFrame([(i, i + 1) for i in range(50)],
                                  "doc_a long, doc_b long")
    monkeypatch.setattr(
        dd, "spark_jaccard_pairs",
        lambda docs, threshold=0.5, hash_impl="md5": pairs)
    out = dd.spark_neardup_clusters(None)
    out.count()
    after = len(jsc.getRDDStorageInfo())
    assert after - before <= 1  # the returned labels checkpoint only


def test_minhash_xxhash64_mode_parity(spark):
    """xxhash64 hash_impl (the no-hex production primitive) must preserve
    the minhash/LSH STRUCTURE: identical docs get identical signatures,
    the planted near-dup chain is still found, and the verified Jaccard
    values (computed on shingle sets, independent of the hash) are
    identical to md5 mode."""
    from pii_redaction_pipeline_spark.functions.dedup import (
        spark_jaccard_pairs,
        spark_minhash_signatures,
    )

    W = [f"w{i:02d}" for i in range(40)]
    texts = [(10, " ".join(W[0:18])), (11, " ".join(W[3:21])),
             (12, " ".join(W[6:24])),
             (50, "totally different content here nothing shared at all ok"),
             (51, "totally different content here nothing shared at all ok")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    for impl in ("md5", "xxhash64"):
        sig = {r["doc_id"]: (r["band_0"], r["band_1"], r["band_2"], r["band_3"])
               for r in spark_minhash_signatures(docs, hash_impl=impl).collect()}
        assert sig[50] == sig[51], impl          # exact dups: same signature
        assert sig[10] != sig[50], impl          # distinct docs: different

    md5_pairs = {(r.doc_a, r.doc_b): r.jaccard
                 for r in spark_jaccard_pairs(docs, 0.5, "md5").collect()}
    xx_pairs = {(r.doc_a, r.doc_b): r.jaccard
                for r in spark_jaccard_pairs(docs, 0.5, "xxhash64").collect()}
    # exact dups always collide in every band under any hash
    assert md5_pairs[(50, 51)] == xx_pairs[(50, 51)] == 1.0
    # jaccard is hash-independent on every pair both schemes surface
    for k in md5_pairs.keys() & xx_pairs.keys():
        assert md5_pairs[k] == xx_pairs[k]


def test_minhash_bad_hash_impl_rejected(spark):
    from pii_redaction_pipeline_spark.functions.dedup import (
        spark_minhash_signatures,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="hash_impl"):
        spark_minhash_signatures(docs, hash_impl="sha1").collect()


def test_lsh_tables_derived_from_embedding_dim(spark):
    """Embeddings with dim < 16 must not silently read absent dims
    (element_at past the end = NULL > 0 = false → degenerate buckets):
    the table count derives from the real dim, and dim < N_IVF_BITS
    raises."""
    import numpy as np

    from pii_redaction_pipeline_spark.functions.similarity import (
        spark_neardup_bruteforce,
        spark_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, 6))             # dim 6 → exactly 1 table
    dups = base[:10] + 0.02 * rng.normal(size=(10, 6))
    vecs = np.vstack([base, dups])
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = {(r.id_a, r.id_b)
           for r in spark_neardup_pairs(emb, threshold=0.9).collect()}
    bf = {(r.id_a, r.id_b)
          for r in spark_neardup_bruteforce(
              emb, limit_ids=10**9, threshold=0.9).collect()}
    assert lsh <= bf                             # precision 1.0 (verified)
    # recall on the PLANTED near-identical pairs (cos ≈ 0.9997; at dim 6
    # brute force also surfaces weak ~0.9 random pairs, where one 4-bit
    # table legitimately recalls ~0.5): a degenerate NULL-dim bucket
    # would drop these to ~0
    planted_pairs = {(i, 30 + i) for i in range(10)}
    assert planted_pairs <= bf
    assert len(lsh & planted_pairs) / len(planted_pairs) >= 0.9

    tiny = spark.createDataFrame([(0, [1.0, 2.0])],
                                 "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="embedding dim"):
        spark_neardup_pairs(tiny)


def test_candidate_volume_metrics_rows(planted, spark, tmp_path):
    """The SCALE.md runbooks say "monitor candidate volume"; this is the
    monitor: bucket histograms + Σ c·(c−1)/2 for both LSH families land
    as long-format metrics rows next to the lineage table."""
    from pii_redaction_pipeline_spark.functions.dedup import (
        lsh_bucket_stats,
        spark_lsh_pairs,
    )
    from pii_redaction_pipeline_spark.functions.similarity import (
        embedding_bucket_stats,
    )
    from pii_redaction_pipeline_spark.sources.tableio import (
        append_metrics,
        read_metrics,
    )

    out = str(tmp_path / "run")
    append_metrics(embedding_bucket_stats(planted), out, "embedding_lsh",
                   run_id="r1")

    W = [f"w{i:02d}" for i in range(40)]
    docs = spark.createDataFrame(
        [(10, " ".join(W[0:18])), (11, " ".join(W[3:21])),
         (12, " ".join(W[6:24])), (50, "alpha beta gamma delta")],
        "doc_id long, text string")
    append_metrics(lsh_bucket_stats(docs), out, "minhash_lsh", run_id="r1")

    m = {(r.source, r.metric): r.value
         for r in read_metrics(spark, out).collect()}
    # join volume bounds the distinct candidate pairs from below
    n_distinct = spark_lsh_pairs(docs).count()
    assert m[("minhash_lsh", "candidate_pairs")] >= n_distinct >= 2
    for src in ("embedding_lsh", "minhash_lsh"):
        assert m[(src, "n_buckets")] >= 1
        assert (m[(src, "max_bucket_size")]
                >= m[(src, "p99_bucket_size")]
                >= m[(src, "p50_bucket_size")] >= 1)
    # embedding table: 160 vectors × 4 tables melt into the buckets
    assert m[("embedding_lsh", "candidate_pairs")] > 0
    rows = read_metrics(spark, out)
    assert rows.where("run_id = 'r1'").count() == rows.count() == 10


def test_release_frees_all_blocks(spark, planted):
    """Round-4 lifetime contract: a full dedup/ANN sequence (LSH pairs →
    jaccard verify → clusters → embedding near-dup) followed by
    blocks.release() on each returned DataFrame leaves ZERO persistent
    RDDs behind — the round-3 verdict measured 3 leaked block sets per
    sequence with no release path. release() is also idempotent."""
    import time

    from pii_redaction_pipeline_spark.functions import blocks as bl
    from pii_redaction_pipeline_spark.functions import dedup as dd

    W = [f"w{i:02d}" for i in range(40)]
    docs = spark.createDataFrame(
        [(10, " ".join(W[0:18])), (11, " ".join(W[3:21])),
         (12, " ".join(W[6:24])),
         (50, "totally different content here nothing shared at all ok"),
         (51, "totally different content here nothing shared at all ok")],
        "doc_id long, text string")

    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    # spark_neardup_pairs owns 0 blocks since round 7: the per-bucket
    # matmul kernel has no self-join, so nothing is persisted at all
    for out, min_owned in [(dd.spark_lsh_pairs(docs), 1),
                           (dd.spark_jaccard_pairs(docs), 2),
                           (dd.spark_neardup_clusters(docs), 1),
                           (spark_neardup_pairs(planted), 0)]:
        out.write.format("noop").mode("overwrite").save()
        assert bl.release(out) >= min_owned
        assert bl.release(out) == 0  # idempotent
    # unpersist is non-blocking; give the block manager a moment
    for _ in range(50):
        if len(jsc.getRDDStorageInfo()) <= before:
            break
        time.sleep(0.1)
    assert len(jsc.getRDDStorageInfo()) <= before


def test_centroid_ivf_finds_planted_dups(planted):
    """Centroid-cell IVF: a planted near-duplicate (cosine > 0.99) lands
    in the same centroid cell as its source almost surely (nearest-
    centroid assignment is robust to the small perturbation), so the
    probe must retrieve it at rank 1; and the plan must stay a broadcast
    equi-join (no cartesian)."""
    from pii_redaction_pipeline_spark.functions.similarity import (
        spark_cosine_topk_ivf_centroid,
    )

    out = spark_cosine_topk_ivf_centroid(planted, n_probes=N_DUPS, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    top1 = {r.q_id: r.n_id for r in out.where("rank = 1").collect()}
    hits = sum(1 for i in range(N_DUPS) if top1.get(i) == N_BASE + i)
    assert hits >= 0.9 * N_DUPS, f"{hits}/{N_DUPS}"


def test_simhash64_pairs_banding_recall_is_exact(spark):
    """Production-width pigeonhole guarantee (xxhash64 mode): 4×16-bit
    block banding must find EVERY pair with 64-bit Hamming ≤ 3, vs
    brute force over collected signatures. Signatures are signed
    bigints (two's complement) — Hamming computed under a 64-bit mask."""
    from itertools import combinations

    from pii_redaction_pipeline_spark.functions import blocks as bl
    from pii_redaction_pipeline_spark.functions.dedup import (
        spark_simhash64,
        spark_simhash64_pairs,
    )

    M = (1 << 64) - 1

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(120)
    sigs = {r["doc_id"]: r["simhash"]
            for r in spark_simhash64(docs).collect()}
    brute = {(a, b) for a, b in combinations(sorted(sigs), 2)
             if bin((sigs[a] ^ sigs[b]) & M).count("1") <= 3}
    out = spark_simhash64_pairs(docs, warn_quadratic=False)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    bl.release(out)
    assert set(got) == brute
    for (a, b), h in got.items():
        assert h == bin((sigs[a] ^ sigs[b]) & M).count("1")


def test_simhash64_mode_parity(spark):
    """md5 mode (the DuckDB-oracle-able hash) and xxhash64 (production)
    must preserve the simhash STRUCTURE: exact-duplicate docs get
    identical signatures (⟹ a hamming-0 pair in BOTH modes), distinct
    docs differ, and both signatures use the full signed-64-bit range
    (bit 63 exercised somewhere on a real corpus)."""
    from pii_redaction_pipeline_spark.functions.dedup import (
        spark_simhash64,
        spark_simhash64_pairs,
    )

    texts = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta theta"),
             (3, "nothing in common with the others at all here ok")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    for impl in ("md5", "xxhash64"):
        sig = {r["doc_id"]: r["simhash"]
               for r in spark_simhash64(docs, hash_impl=impl).collect()}
        assert sig[1] == sig[2], impl
        assert sig[1] != sig[3], impl
        pairs = {(r.doc_a, r.doc_b): r.hamming
                 for r in spark_simhash64_pairs(
                     docs, hash_impl=impl, warn_quadratic=False).collect()}
        assert pairs.get((1, 2)) == 0, impl

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(100)
    for impl in ("md5", "xxhash64"):
        vals = [r["simhash"]
                for r in spark_simhash64(corpus, hash_impl=impl).collect()]
        assert any(v < 0 for v in vals), impl   # bit 63 in play
        assert len(set(vals)) > 90, impl        # near-unique on real docs


def test_simhash_quadratic_candidate_warning(spark):
    """The runtime tripwire must warn when the banded candidate volume
    reaches ~n² — here every doc shares one (blk, v) bucket, so the
    bucket join is a full cross join; the 64-bit variant on a real
    corpus stays silent (collision ~6e-5)."""
    import warnings as W

    from pii_redaction_pipeline_spark.functions import blocks as bl
    from pii_redaction_pipeline_spark.functions.dedup import (
        _warn_if_quadratic,
        spark_simhash64_pairs,
    )

    n = 50
    melted = spark.createDataFrame([(i, 0, 7) for i in range(n)],
                                   "doc_id long, blk int, v long")
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        _warn_if_quadratic(melted, n, "one_bucket")
    msgs = [x.message for x in rec if isinstance(x.message, RuntimeWarning)]
    assert any("candidate volume" in str(m) and "100%" in str(m)
               and "Widen the signature" in str(m) for m in msgs), \
        [str(m)[:60] for m in msgs]

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(200)
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        out64 = spark_simhash64_pairs(docs)
        out64.count()
    bl.release(out64)
    assert not any("candidate volume" in str(x.message) for x in rec)


def test_spread_input_surfaces_planning_errors():
    """The spread gate only skips streams: a real planning error while
    reading the split count must reach the caller, not be swallowed."""
    from types import SimpleNamespace

    from pii_redaction_pipeline_spark.functions.dedup import _spread_input

    class BrokenPlan:
        isStreaming = False
        sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=4))

        @property
        def rdd(self):
            raise RuntimeError("planning failed")

    with pytest.raises(RuntimeError, match="planning failed"):
        _spread_input(BrokenPlan())


def test_spread_input_returns_stream_unchanged(spark):
    from pii_redaction_pipeline_spark.functions.dedup import _spread_input

    stream = spark.readStream.format("rate").load()
    assert _spread_input(stream) is stream


def test_centroid_dist_kernel_matmul_parity_and_bounded_memory():
    """Round-5 scale fix: centroid distances via ‖x‖²+‖c‖²−2XCᵀ — the
    (B,K,D) broadcast-difference tensor OOMed at production K (≈√N
    cells). Two pins: (a) rounded-to-6 values identical to the naive
    form (so oracle rows + lowest-id tie-break are unchanged), (b) peak
    allocation at B=8192, K=1024, D=16 stays near the (B,K) result size
    — the naive tensor alone would be 8192×1024×16×8 B ≈ 1 GiB."""
    import tracemalloc

    from pii_redaction_pipeline_spark.functions.similarity import (
        _rounded_centroid_dists,
    )

    rng = np.random.default_rng(7)
    V = rng.normal(size=(256, 24))
    C = rng.normal(size=(64, 24))
    naive = np.round(np.sqrt(((V[:, None, :] - C[None, :, :]) ** 2).sum(-1)), 6)
    fast = _rounded_centroid_dists(V, C)
    assert np.array_equal(naive, fast)
    # exact-zero distance (row == centroid) must not NaN under the clamp
    V2 = np.vstack([C[3], V[0]])
    assert _rounded_centroid_dists(V2, C)[0, 3] == 0.0

    B, K, D = 8192, 1024, 16
    Vb = rng.normal(size=(B, D))
    Cb = rng.normal(size=(K, D))
    tracemalloc.start()
    _rounded_centroid_dists(Vb, Cb)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    result_bytes = B * K * 8
    assert peak < 6 * result_bytes, (
        f"peak {peak / 2**20:.0f} MiB — (B,K,D) tensor is back?")


def test_centroid_multiprobe_recall_geq_single(planted):
    """The nprobe dial must only ADD candidates: multiprobe (nprobe=2)
    recall of planted dups ≥ single-probe recall, and every top-k sim is
    ≥ the single-probe sim at the same rank (a superset candidate pool
    can only improve the winners)."""
    from pii_redaction_pipeline_spark.functions.similarity import (
        spark_cosine_topk_ivf_centroid,
        spark_cosine_topk_ivf_centroid_multiprobe,
    )

    single = {(r.q_id, r.rank): r.sim
              for r in spark_cosine_topk_ivf_centroid(
                  planted, n_probes=N_DUPS, k=3).collect()}
    multi = {(r.q_id, r.rank): r.sim
             for r in spark_cosine_topk_ivf_centroid_multiprobe(
                 planted, n_probes=N_DUPS, k=3, nprobe=2).collect()}
    assert len(multi) >= len(single)
    for key, s_sim in single.items():
        assert key in multi
        assert multi[key] >= s_sim - 1e-9


def test_centroid_single_probe_is_multiprobe_at_nprobe_1(spark, planted):
    """Centroid single-probe searches its own cell; nprobe=1 searches the
    one nearest cell in (rounded dist, c_id) order. Both break a rounded
    tie to the lower centroid id, so the two return the same rows. Tie
    fixture: seeds 0-7 are 10·e_i and vec 8 sits at 5·e_2 + (5+1e-8)·e_5,
    1.4e-8 nearer seed 5 before rounding to 6 and equidistant after, so
    both paths must put it in cell 2."""
    from pii_redaction_pipeline_spark.functions.similarity import (
        spark_cosine_topk_ivf_centroid,
        spark_cosine_topk_ivf_centroid_multiprobe,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    single = rows(spark_cosine_topk_ivf_centroid(planted, n_probes=N_DUPS,
                                                 k=3))
    assert single == rows(spark_cosine_topk_ivf_centroid_multiprobe(
        planted, n_probes=N_DUPS, k=3, nprobe=1))
    assert len(single) == 3 * N_DUPS

    vecs = 10.0 * np.eye(8)
    tie = np.zeros(8)
    tie[2], tie[5] = 5.0, 5.0 + 1e-8
    tied = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate([*vecs, tie])],
        "vec_id long, embedding array<double>")
    for out in (spark_cosine_topk_ivf_centroid(tied, n_probes=9, k=3),
                spark_cosine_topk_ivf_centroid_multiprobe(
                    tied, n_probes=9, k=3, nprobe=1)):
        assert {(r.q_id, r.n_id) for r in out.collect()} == {(2, 8), (8, 2)}


def test_shingle_rows_regex_equals_token_windows(spark):
    """Round-7 shingle generator (lookahead-capture regex, no window
    pass) must emit exactly the tokens[i:i+n] windows joined with single
    spaces — including texts with multi-space/tab/newline separators,
    leading/trailing whitespace, short docs, and the empty doc."""
    from pii_redaction_pipeline_spark.functions.dedup import shingle_rows

    texts = ["", " ", "a", "a b", "a b c", "a  b\tc   d", "a b c d e f g",
             "  lead and trail  ", "x\ny z\t\tw q", "a a a a a"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    for n in (3, 5):
        got: dict[int, list[str]] = {}
        for r in shingle_rows(docs, n_words=n).collect():
            got.setdefault(r.doc_id, []).append(r.s)
        for i, t in enumerate(texts):
            toks = t.split()
            want = ([" ".join(toks[k:k + n]) for k in range(len(toks) - n + 1)]
                    if len(toks) >= n else [" ".join(toks)])
            assert sorted(got[i]) == sorted(want), (n, repr(t))
