"""Deduplication operators for training-data pipelines (north-star
first-class ops): exact hash, MinHash+LSH banding, n-gram Jaccard,
SimHash — each emitted as PySpark Columns AND DuckDB oracle SQL from the
same constants so the two cannot drift.

Hash primitive is pluggable (`hash_impl` on every minhash-family op):
  - "md5" (default): hex substrings — the one hash both engines compute
    identically, so the DuckDB oracle can verify values bit-for-bit.
    Lexicographic min over fixed-width lowercase hex == numeric min, a
    valid min-hash.
  - "xxhash64": Spark's native 64-bit xxHash — no JVM→hex string
    materialization, ~half the digest work of two md5s; the production
    choice at 10^12 docs. Not SQL-expressible in DuckDB, so oracle rows
    stay on md5; a parity test pins that both modes agree on exact-dup
    signatures and LSH pair structure.

Both modes derive the 8 min-hash functions as 32-bit slices of a few
per-shingle digests (md5: 2×128-bit; xxhash64: 4×64-bit). 32-bit minima
admit birthday collisions among distinct shingle sets at very large
corpus scale — a COST tradeoff only (more false-positive candidate pairs
for the exact Jaccard verify to reject; results stay correct). If
candidate volume becomes the bottleneck at production scale, widen to
64-bit slices (double the digests, same structure) — the
`lsh_bucket_stats` metrics emitted next to the lineage table are the
monitor for exactly that decision.

Scale notes: minhash signatures are one narrow shuffle-free projection;
LSH pair generation shuffles on (band_idx, band_sig) — the classic
bucket-join that replaces the O(n²) similarity join; Jaccard verification
joins only the candidate pairs back to shingle sets (semi-join shaped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocks import adopt, own, release, unpersist_checkpoint

N_HASHES = 8
N_BANDS = 4          # 2 rows per band
SHINGLE_WORDS = 3

def _spread_input(docs: DataFrame) -> DataFrame:
    """Redistribute an under-split scan to full width before the token/
    shingle fan-out (round 7) — a one-row-group parquet file scans as
    ONE task, and the hash/vote work fused onto it then runs on 1 of N
    cores. No-op when the input already has enough partitions (e.g. a
    well-laid-out production table) or is a stream, which has no static
    partition count; any other planning error propagates."""
    if docs.isStreaming:
        return docs
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

# array_remove, not filter(x -> x != ''): same result, but array_remove
# is a plain codegen collection op while filter carries an interpreted
# lambdafunction (plan-asserted absent in tests/test_plan_shapes.py)
_SPARK_TOKS = "array_remove(split(coalesce(text,''), '\\\\s+'), '')"
_DUCK_TOKS = ("list_filter(string_split_regex(coalesce(text,''), '\\s+'), "
              "x -> x <> '')")

_DUCK_SHINGLES = (
    f"CASE WHEN len({_DUCK_TOKS}) >= {SHINGLE_WORDS} THEN "
    f"list_transform(generate_series(1, len({_DUCK_TOKS}) - {SHINGLE_WORDS - 1}), "
    f"i -> array_to_string(({_DUCK_TOKS})[i:i+{SHINGLE_WORDS - 1}], ' ')) "
    f"ELSE [array_to_string({_DUCK_TOKS}, ' ')] END"
)


def shingle_rows(docs: DataFrame, n_words: int = SHINGLE_WORDS) -> DataFrame:
    """(doc_id, s) — one row per word n-gram shingle; a doc with fewer
    than n_words tokens yields one shingle of whatever tokens it has
    ('' for an empty doc).

    Round-7 shape: every n-word window is extracted in ONE codegen
    projection with a lookahead-capture regex — at each token start,
    `(?=(\\S+(?:\\s+\\S+){n-1}))\\S+\\s+` captures that token plus the
    next n−1 and consumes exactly one token, so `regexp_extract_all(...,
    1)` returns all size−n+1 windows (match attempts that begin inside a
    token or past token size−n see fewer than n `\\S+` runs and fail, so
    no spurious windows). Captured inner whitespace is normalized to
    single spaces afterwards, making each shingle byte-equal to the
    `concat_ws(' ', tokens)` of the windowed form. This removes the
    per-token exchange + sort entirely — the only shuffle left in the
    minhash path is the final per-doc aggregate (partial map-side min,
    ~docs-count rows through the exchange instead of every token).

    History: round 1 built shingle arrays with an interpreted
    transform(sequence, slice, concat_ws) lambda — Catalyst re-inlined
    the token split into the lambda (6 split() copies in the physical
    plan, 4.1 s at sf0.1); rounds 2-6 used posexplode → lead() window —
    codegen, but one full exchange + sort of every token row (2M rows
    at sf1.0) before any aggregation."""
    docs = _spread_input(docs)
    toks = F.expr(_SPARK_TOKS)
    pat = r"(?=(\S+(?:\s+\S+){%d}))\S+\s+" % (n_words - 1)
    shingles = (
        F.when(F.size(toks) >= n_words,
               F.regexp_extract_all(F.coalesce(F.col("text"), F.lit("")),
                                    F.lit(pat), F.lit(1)))
        .otherwise(F.array(F.concat_ws(" ", toks))))
    exploded = docs.select("doc_id", F.explode(shingles).alias("_raw"))
    return exploded.select(
        "doc_id", F.regexp_replace("_raw", r"\s+", " ").alias("s"))


# ---------------------------------------------------------------------------
# minhash signatures + LSH bands
#
# Shape: explode shingles → ONE hash projection per shingle (two md5
# calls → 64 hex chars; hash k = the k-th 8-hex-char slice, a 32-bit
# value whose lexicographic min == numeric min on fixed-width lowercase
# hex) → groupBy(doc_id) with 8 min() aggregates. Everything stays in
# whole-stage codegen with map-side partial min — no interpreted
# array_min(transform(...)) lambdas, and the digest is computed once per
# shingle instead of once per (shingle × hash function): the round-1
# per-hash-function md5 formulation cost 8 digests/shingle inside
# interpreted HOFs (11.8s for LSH pairs at sf0.1; ~1s this way).
# ---------------------------------------------------------------------------

_HASH_HEX = 8  # hex chars per derived hash value (32 bits)

_SPARK_SHINGLE_HASH = "concat(md5(concat('0|', s)), md5(concat('1|', s)))"
_DUCK_SHINGLE_HASH = "md5('0|' || s) || md5('1|' || s)"

HASH_IMPLS = ("md5", "xxhash64")


def _minhash_mins(sh: DataFrame, hash_impl: str) -> DataFrame:
    """(doc_id, h0..h{N_HASHES-1}) min-hash values from shingle rows.
    Either mode projects the digest(s) ONCE per shingle and derives all
    N_HASHES values by cheap slicing inside the same hash aggregate
    (map-side combining min) — never one digest per hash function."""
    if hash_impl == "md5":
        # min() over the NUMERIC value of each fixed-width lowercase-hex
        # slice, re-encoded to hex after the aggregate: lexicographic
        # order on fixed-width lowercase hex == numeric order, so the
        # min is the same value — but a string min-buffer forces
        # SortAggregate (sort before partial AND final agg, the full
        # shingle set through a sort), while bigint buffers run as
        # HashAggregate with map-side partial combine (round 7; the
        # output hex strings are byte-identical, oracle-pinned)
        h = sh.select("doc_id", F.expr(_SPARK_SHINGLE_HASH).alias("h"))
        mins = h.groupBy("doc_id").agg(*[
            F.min(F.expr(
                f"CAST(conv(substr(h, {1 + _HASH_HEX * k}, {_HASH_HEX}), "
                f"16, 10) AS BIGINT)")).alias(f"m{k}")
            for k in range(N_HASHES)])
        return mins.select("doc_id", *[
            F.expr(f"lpad(lower(hex(m{k})), {_HASH_HEX}, '0')").alias(f"h{k}")
            for k in range(N_HASHES)])
    if hash_impl == "xxhash64":
        # four seeded 64-bit digests → two DISJOINT 32-bit halves each =
        # 8 independent-ish 32-bit min-hash values, bigint end-to-end
        # (no hex string materialization, no md5 rounds)
        n_digests = N_HASHES // 2
        h = sh.select(
            "doc_id",
            *[F.expr(f"xxhash64(concat('{d}|', s))").alias(f"d{d}")
              for d in range(n_digests)])
        slices = [
            F.expr(f"(shiftrightunsigned(d{k // 2}, {32 * (1 - k % 2)})"
                   f" & 4294967295)")
            for k in range(N_HASHES)]
        return h.groupBy("doc_id").agg(*[
            F.min(slices[k]).alias(f"h{k}") for k in range(N_HASHES)])
    raise ValueError(f"hash_impl must be one of {HASH_IMPLS}, got {hash_impl!r}")


def spark_minhash_signatures(docs: DataFrame,
                             hash_impl: str = "md5") -> DataFrame:
    mins = _minhash_mins(shingle_rows(docs), hash_impl)
    if hash_impl == "md5":
        # oracle-checked band format — byte-identical to the DuckDB SQL
        bands = [F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                 .alias(f"band_{b}") for b in range(N_BANDS)]
    else:
        bands = [F.concat_ws("|", F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                 .alias(f"band_{b}") for b in range(N_BANDS)]
    return mins.select("doc_id", *bands)


def duck_minhash_sql() -> str:
    mins = ", ".join(
        f"min(substr(h, {1 + _HASH_HEX * k}, {_HASH_HEX})) AS h{k}"
        for k in range(N_HASHES))
    bands = ", ".join(f"h{2 * b} || h{2 * b + 1} AS band_{b}"
                      for b in range(N_BANDS))
    return f"""(
WITH _sh_tbl AS (SELECT doc_id, {_DUCK_SHINGLES} AS _sh FROM documents),
_exploded AS (SELECT doc_id, unnest(_sh) AS s FROM _sh_tbl),
_hashed AS (SELECT doc_id, {_DUCK_SHINGLE_HASH} AS h FROM _exploded),
_mins AS (SELECT doc_id, {mins} FROM _hashed GROUP BY doc_id)
SELECT doc_id, {bands} FROM _mins)"""


def _melt_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, sig) — one row per (doc, LSH band)."""
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("sig"))
            for b in range(N_BANDS)])).alias("bs")
    ).select("doc_id", "bs.band_idx", "bs.sig")


def bucket_stats(buckets: DataFrame, *key_cols: str) -> DataFrame:
    """One-row candidate-volume monitor over any bucketed candidate
    structure (LSH bands, IVF cells): bucket-size histogram percentiles
    + the candidate-pair join volume Σ c·(c−1)/2 — the number the
    "raise N_IVF_BITS / widen hash slices when candidates blow up"
    runbooks in SCALE.md key off. Tiny aggregate (one row out), safe to
    compute alongside any production run."""
    sizes = buckets.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("c"))
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.coalesce(F.max("c"), F.lit(0)).cast("bigint")
        .alias("max_bucket_size"),
        F.coalesce(F.expr("percentile_approx(c, 0.5)"), F.lit(0))
        .cast("bigint").alias("p50_bucket_size"),
        F.coalesce(F.expr("percentile_approx(c, 0.99)"), F.lit(0))
        .cast("bigint").alias("p99_bucket_size"),
        F.coalesce(F.sum(F.expr("c * (c - 1) / 2")), F.lit(0))
        .cast("bigint").alias("candidate_pairs"))


def lsh_bucket_stats(docs: DataFrame, hash_impl: str = "md5") -> DataFrame:
    """Candidate-volume metrics for the minhash LSH tables (see
    bucket_stats); pair with sources.tableio.append_metrics to land the
    row next to the lineage table."""
    return bucket_stats(_melt_bands(spark_minhash_signatures(docs, hash_impl)),
                        "band_idx", "sig")


def spark_lsh_pairs(docs: DataFrame, hash_impl: str = "md5") -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band signature.
    Shuffle is on (band_idx, band_sig) — the scalable bucket join.

    The signature table is .persist()ed so the self-join does not
    recompute the full signature pipeline on both sides (ReuseExchange
    does not cover the pre-shuffle projection). persist, NOT
    localCheckpoint: cached blocks can be released early without breaking
    re-evaluation (lineage recompute), and the CALLER owns the release —
    blocks.release(returned_df) once the result is consumed."""
    sig = spark_minhash_signatures(docs, hash_impl).persist()
    melted = _melt_bands(sig)
    a = melted.alias("a")
    b = melted.alias("b")
    out = (a.join(b, ["band_idx", "sig"])
           .where(F.col("a.doc_id") < F.col("b.doc_id"))
           .select(F.col("a.doc_id").alias("doc_a"),
                   F.col("b.doc_id").alias("doc_b"))
           .distinct())
    return own(out, "persist", sig)


def duck_lsh_pairs_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band_{b} AS sig FROM sig"
        for b in range(N_BANDS))
    return f"""
WITH sig AS ({duck_minhash_sql()}),
melted AS ({unions})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM melted a JOIN melted b USING (band_idx, sig)
WHERE a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard over candidate pairs
# ---------------------------------------------------------------------------

def spark_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        hash_impl: str = "md5") -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard. The
    shingle-set table is persisted (joined twice — a/b sides); ownership
    of it plus the candidate generator's signature cache moves onto the
    returned DataFrame: blocks.release(result) after consuming."""
    pairs = spark_lsh_pairs(docs, hash_impl)
    sh = (shingle_rows(docs)
          .groupBy("doc_id").agg(F.collect_set("s").alias("sh"))
          .persist())
    j = (pairs
         .join(sh.select(F.col("doc_id").alias("doc_a"),
                         F.col("sh").alias("sh_a")), "doc_a")
         .join(sh.select(F.col("doc_id").alias("doc_b"),
                         F.col("sh").alias("sh_b")), "doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    out = (j.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
           .where(F.col("jaccard") >= threshold))
    return own(adopt(out, pairs), "persist", sh)


def duck_jaccard_pairs_sql(threshold: float = 0.5) -> str:
    return f"""
WITH pairs AS ({duck_lsh_pairs_sql()}),
sh AS (SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents),
j AS (
  SELECT p.doc_a, p.doc_b,
         CASE WHEN len(list_distinct(a.sh || b.sh)) > 0 THEN
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh))
         ELSE 0.0 END AS jaccard
  FROM pairs p
  JOIN sh a ON p.doc_a = a.doc_id
  JOIN sh b ON p.doc_b = b.doc_id
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM j
WHERE jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# near-dup clusters: connected components over the verified pair graph
# ---------------------------------------------------------------------------

# moved to blocks.unpersist_checkpoint (round 4); alias kept for the
# in-loop per-round frees below
_unpersist_checkpoint = unpersist_checkpoint


def spark_neardup_clusters(docs: DataFrame, threshold: float = 0.5,
                           hash_impl: str = "md5",
                           max_rounds: int | None = None,
                           stats: dict | None = None) -> DataFrame:
    """(doc_id, cluster_id) for every doc in at least one verified
    near-dup pair; cluster_id = min doc_id of the connected component.
    This is the canonicalization step a production dedup needs: LSH
    candidates → Jaccard verify → component id → keep one doc per
    cluster.

    Min-label propagation WITH pointer jumping: each round every vertex
    takes (a) the min of its own and its neighbors' labels (one
    equi-join + one map-side-combining min aggregate), then (b) its
    label's label (one self-join) — the pointer-doubling step that makes
    the propagated distance double per round, bounding convergence at
    O(log component-diameter) rounds instead of O(diameter). Round 2's
    plain propagation needed n rounds × full-edge joins on an n-node
    chain (tests pin a 200-node path at ≤ 2·log2(n)+2 rounds now).

    Per round: localCheckpoint (eager) truncates lineage so plans stay
    flat, the superseded round's checkpoint blocks are explicitly freed,
    and a hard round cap (default 2·ceil(log2(V))+5, far above the
    pointer-jumping bound) raises instead of looping on adversarial
    input."""
    import math

    jpairs = spark_jaccard_pairs(docs, threshold, hash_impl)
    pairs = jpairs.select("doc_a", "doc_b")
    edges = (pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
             .toDF("src", "dst").localCheckpoint())
    # the eager edges checkpoint just consumed the pair generator — its
    # signature/shingle caches are dead weight from here on
    release(jpairs)
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("label", F.col("doc_id")).localCheckpoint())

    # exact (decimal — no bigint wrap) label sum: every update is
    # least(label, ...) so per-vertex labels are monotonically
    # NONINCREASING; an unchanged exact sum ⟺ no vertex changed. This
    # folds the convergence check into the same action that materializes
    # the round's lazy checkpoint — ONE Spark job per round where rounds
    # 2-6 ran two (checkpoint, then a join+count change detector).
    def _sum_count(df) -> tuple:
        r = df.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
                   F.count(F.lit(1)).alias("n")).collect()[0]
        return r["s"], r["n"]

    prev_sum, n_vertices = _sum_count(labels)
    cap = max_rounds or (2 * math.ceil(math.log2(max(n_vertices, 2))) + 5)
    rounds = 0
    while True:
        if rounds >= cap:
            raise RuntimeError(
                f"neardup_clusters did not converge in {cap} rounds "
                f"({n_vertices} vertices) — input graph is pathological")
        rounds += 1
        nb_min = (edges.join(labels, edges.src == labels.doc_id)
                  .groupBy("dst").agg(F.min("label").alias("nb_label")))
        stepped = (labels.join(nb_min, labels.doc_id == nb_min.dst, "left")
                   .select("doc_id",
                           F.least("label", F.coalesce("nb_label", "label"))
                           .alias("label")))
        # pointer jumping ×2: label ← min(label, label[label]) twice —
        # each jump is one self-join on the (small) label table, and two
        # jumps per round roughly double the per-round distance growth,
        # so the fixed per-round cost (driver round-trip + scheduling,
        # the dominant term on modest graphs) is paid ~⅓ fewer times
        # (round-count drop pinned in tests/test_dedup_similarity.py)
        cur = stepped
        for _ in range(2):
            ptr = cur.select(F.col("doc_id").alias("p_id"),
                             F.col("label").alias("p_label"))
            cur = (cur.join(ptr, cur.label == ptr.p_id, "left")
                   .select("doc_id",
                           F.least("label", F.coalesce("p_label", "label"))
                           .alias("label")))
        # lazy checkpoint: the sum/count action below materializes it
        # and detects convergence in the same job
        new_labels = cur.localCheckpoint(eager=False)
        cur_sum, _ = _sum_count(new_labels)
        _unpersist_checkpoint(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    _unpersist_checkpoint(edges)
    if stats is not None:
        stats["rounds"] = rounds
        stats["n_vertices"] = n_vertices
    # the returned DataFrame reads the final round's checkpoint: the
    # caller owns that one block set — blocks.release(result) after
    # consuming (re-evaluating the result afterwards is an error, since
    # a checkpoint has no lineage to recompute from)
    out = labels.select("doc_id", F.col("label").alias("cluster_id"))
    return own(out, "checkpoint", labels)


def duck_neardup_clusters_sql(threshold: float = 0.5) -> str:
    """Oracle: transitive closure by recursive CTE (fine at oracle scale;
    the Spark side uses label propagation instead — same fixpoint)."""
    return f"""
WITH RECURSIVE jpairs AS (
  SELECT doc_a, doc_b FROM ({duck_jaccard_pairs_sql(threshold)})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION
  SELECT doc_b, doc_a FROM jpairs
), reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-nibble variant — SQL-expressible in both engines)
#
# The per-token hash is projected ONCE as a 16-bit int (`hv`, from the
# first 4 hex digits of md5(w)); all 16 bit votes derive from hv with
# integer arithmetic inside the same hash aggregate. Inlining md5(w)
# into each of the 16 aggregate expressions instead is a scale-killer:
# Catalyst does not CSE across aggregate expressions, so the digest is
# recomputed 16× per token (measured 22.4s → this shape at <2s, sf0.1).
# Bit k lives at 2^(4*(3 - k//4) + (3 - k%4)) of hv — identical values
# to the per-digit formulation, so signatures are unchanged.
# ---------------------------------------------------------------------------

def _bit_divisor(k: int) -> int:
    """Divisor isolating bit k of hv (digit k//4+1, mask 2^(3-k%4))."""
    return 2 ** (4 * (3 - k // 4) + (3 - k % 4))


def spark_simhash(docs: DataFrame) -> DataFrame:
    """16-bit simhash: majority vote per bit over word hashes. One md5
    per token (projected before the agg), codegen arithmetic after."""
    toks = _spread_input(docs).select(
        "doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("w"))
    hashed = toks.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(w), 1, 4), 16, 10) AS INT)").alias("hv"))
    aggs = [
        F.sum(F.expr(
            f"CASE WHEN (hv div {_bit_divisor(k)}) % 2 = 1 THEN 1 ELSE -1 END"
        )).alias(f"s{k}")
        for k in range(16)
    ]
    summed = hashed.groupBy("doc_id").agg(*aggs)
    sim = None
    for k in range(16):
        bit = F.when(F.col(f"s{k}") > 0, 2 ** k).otherwise(0)
        sim = bit if sim is None else sim + bit
    return summed.select("doc_id", sim.cast("bigint").alias("simhash"))


def duck_simhash_sql() -> str:
    # DuckDB has no conv(); parse the 4 hex digits positionally — still
    # one md5 per token, projected once in the CTE.
    hv = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4))
    sums = ", ".join(
        f"sum(CASE WHEN (hv // {_bit_divisor(k)}) % 2 = 1 THEN 1 ELSE -1 END)"
        f" AS s{k}" for k in range(16))
    sim = " + ".join(f"(CASE WHEN s{k} > 0 THEN {2 ** k} ELSE 0 END)"
                     for k in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
), hashed AS (
  SELECT doc_id, {hv} AS hv
  FROM (SELECT doc_id, substr(md5(w), 1, 4) AS h FROM toks)
), summed AS (
  SELECT doc_id, {sums} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM summed
"""


# ---------------------------------------------------------------------------
# SimHash-64 — the PRODUCTION signature width (round-5 verdict item 2).
#
# The 16-bit signature above is too narrow to band: 4 blocks × 4 bits
# would collide a random pair on ≥1 block w.p. 1 − (1 − 2⁻⁴)⁴ ≈ 23%, a
# QUADRATIC candidate generator at corpus scale. 64 bits with 4 blocks
# × 16 bits gives the pigeonhole
# guarantee (Hamming ≤ 3 ⟹ ≥1 intact block ⟹ banding recall exactly
# 1.0) while a random pair collides w.p. 1 − (1 − 2⁻¹⁶)⁴ ≈ 6.1e-5.
#
# hash_impl mirrors the minhash pattern (HASH_IMPLS):
#   - "xxhash64" (default — the production primitive): one native JVM
#     64-bit digest per token, no hex string materialization; not
#     DuckDB-expressible, so it is pinned by structural parity + brute-
#     force-Hamming recall tests and benched, like minhash xxhash64.
#   - "md5": the 64-bit value is the first 16 hex digits of md5(w),
#     parsed as two 32-bit halves — byte-identical in DuckDB, so the
#     registry rows simhash64 / simhash64_pairs are FULLY oracle-checked.
# Either way the digest is projected ONCE per token and all 64 bit
# votes derive from it with codegen integer arithmetic (same Catalyst
# no-CSE-across-aggregates trap as the 16-bit variant; plan-asserted).
# The signature is a signed BIGINT in two's complement: bit 63 carries
# weight −2⁶³, so Spark and DuckDB agree on the stored value and
# bit_count(a ^ b) is the true 64-bit Hamming distance.
# ---------------------------------------------------------------------------

SIMHASH64_BANDS = 4        # 4 disjoint 16-bit blocks
SIMHASH64_BLOCK_BITS = 16
_I64_MIN = -9223372036854775807 - 1  # two literals: −2⁶³ overflows parsers


def _sim64_bit_exprs(hash_impl: str) -> tuple[list, str]:
    """(per-token projection columns, bit-k SQL template on them)."""
    if hash_impl == "xxhash64":
        cols = [F.expr("xxhash64(w)").alias("hv")]
        return cols, "(shiftright(hv, {k}) & 1)"
    if hash_impl == "md5":
        cols = [
            F.expr("CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)")
            .alias("hv_hi"),
            F.expr("CAST(conv(substr(md5(w), 9, 8), 16, 10) AS BIGINT)")
            .alias("hv_lo"),
        ]
        return cols, ("(shiftright(hv_lo, {k}) & 1)" "|SPLIT|"
                      "(shiftright(hv_hi, {k32}) & 1)")
    raise ValueError(f"hash_impl must be one of {HASH_IMPLS}, got {hash_impl!r}")


def _sim64_assemble(prefix: str = "s") -> F.Column:
    """Signed-bigint signature from the 64 majority sums: bits 0..62
    positive weights, bit 63 weight −2⁶³ (two's complement)."""
    sim = None
    for k in range(63):
        bit = F.when(F.col(f"{prefix}{k}") > 0, F.lit(2 ** k)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    sign = (F.when(F.col(f"{prefix}63") > 0, F.lit(_I64_MIN))
            .otherwise(F.lit(0)))
    return (sim.cast("bigint") + sign.cast("bigint")).cast("bigint")


def spark_simhash64(docs: DataFrame,
                    hash_impl: str = "xxhash64") -> DataFrame:
    """64-bit simhash: majority vote per bit over per-token 64-bit
    hashes. One digest per token (projected before the agg — Catalyst
    does not CSE across aggregate expressions), 64 codegen sum
    aggregates, map-side combining."""
    toks = _spread_input(docs).select(
        "doc_id", F.explode(F.expr(_SPARK_TOKS)).alias("w"))
    cols, bit_tpl = _sim64_bit_exprs(hash_impl)
    hashed = toks.select("doc_id", *cols)

    def bit_sql(k: int) -> str:
        if "|SPLIT|" in bit_tpl:
            lo, hi = bit_tpl.split("|SPLIT|")
            return lo.format(k=k) if k < 32 else hi.format(k32=k - 32)
        return bit_tpl.format(k=k)

    aggs = [
        F.sum(F.expr(f"CASE WHEN {bit_sql(k)} = 1 THEN 1 ELSE -1 END"))
        .alias(f"s{k}")
        for k in range(64)
    ]
    summed = hashed.groupBy("doc_id").agg(*aggs)
    return summed.select("doc_id", _sim64_assemble().alias("simhash"))


def _melt_sim64(sig: DataFrame) -> DataFrame:
    """(doc_id, blk, v) — one row per (doc, 16-bit signature block).
    Arithmetic shiftright + mask extracts block bits identically in
    Spark and DuckDB for negative (bit-63-set) signatures — verified
    numerically in tests."""
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("blk"),
                F.expr(f"shiftright(simhash, {SIMHASH64_BLOCK_BITS * b})"
                       f" & 65535").alias("v"))
            for b in range(SIMHASH64_BANDS)])).alias("bv")
    ).select("doc_id", "bv.blk", "bv.v")


def simhash64_bucket_stats(docs: DataFrame,
                           hash_impl: str = "xxhash64") -> DataFrame:
    """Candidate-volume monitor for the 64-bit banding (see
    bucket_stats) — the number the 'widen the signature' runbook in
    SCALE.md keys off."""
    return bucket_stats(_melt_sim64(spark_simhash64(docs, hash_impl)),
                        "blk", "v")


def _warn_if_quadratic(melted: DataFrame, n_docs: int, label: str,
                       frac: float = 0.10) -> None:
    """Runtime tripwire (round-5 verdict item 2): when the banded
    candidate volume Σ c·(c−1)/2 reaches `frac` of all n·(n−1)/2 pairs,
    the bucket join is a thinly disguised cross join — warn with the
    measured volume and the remedy. One tiny aggregate (single row out)
    over the already-persisted signature table; skipped for n < 2."""
    if n_docs < 2:
        return
    stats = bucket_stats(melted, "blk", "v").collect()[0]
    possible = n_docs * (n_docs - 1) / 2
    if stats["candidate_pairs"] >= frac * possible:
        import warnings
        warnings.warn(
            f"{label}: banded candidate volume "
            f"{stats['candidate_pairs']:,} is "
            f"{stats['candidate_pairs'] / possible:.0%} of all "
            f"{int(possible):,} pairs — the bucket join degenerates to "
            f"~n² at corpus scale. Widen the signature.",
            RuntimeWarning)


def spark_simhash64_pairs(docs: DataFrame,
                          max_hamming: int = SIMHASH64_BANDS - 1,
                          hash_impl: str = "xxhash64",
                          warn_quadratic: bool = True) -> DataFrame:
    """64-bit simhash near-dup pairs (the classic Charikar/web-dedup
    pipeline): candidates share ≥1 of 4 disjoint 16-bit blocks
    (bucketed equi-join on (blk, v)), verified with the exact Hamming
    distance bit_count(sig_a ^ sig_b) ≤ max_hamming. For
    max_hamming ≤ 3 the pigeonhole principle makes candidate
    recall exactly 1.0 (≤3 flipped bits leave ≥1 of 4 blocks intact;
    test-pinned against brute force). Signature table persisted for the
    self-join + verify joins; caller releases via blocks.release()."""
    sig = spark_simhash64(docs, hash_impl).persist()
    melted = _melt_sim64(sig)
    if warn_quadratic:
        _warn_if_quadratic(melted, sig.count(), "spark_simhash64_pairs")
    a, b = melted.alias("a"), melted.alias("b")
    cand = (a.join(b, ["blk", "v"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    j = (cand
         .join(sig.select(F.col("doc_id").alias("doc_a"),
                          F.col("simhash").alias("sig_a")), "doc_a")
         .join(sig.select(F.col("doc_id").alias("doc_b"),
                          F.col("simhash").alias("sig_b")), "doc_b"))
    hamming = F.expr("bit_count(sig_a ^ sig_b)")
    out = (j.select("doc_a", "doc_b",
                    hamming.cast("bigint").alias("hamming"))
           .where(F.col("hamming") <= max_hamming))
    return own(out, "persist", sig)


def duck_simhash64_sql() -> str:
    """DuckDB twin of spark_simhash64(hash_impl='md5'): the 64-bit value
    is the first 16 md5 hex digits parsed as two 32-bit halves (DuckDB
    has no conv(); positional strpos parse, digest projected once per
    token). Bit weights and the two's-complement bit 63 match Spark."""
    def half(start: int) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substr(h, {start + i}, 1)) - 1)"
            f" * {16 ** (7 - i)}" for i in range(8))

    bits = []
    for k in range(64):
        src, kk = ("hv_lo", k) if k < 32 else ("hv_hi", k - 32)
        bits.append(
            f"sum(CASE WHEN (({src} >> {kk}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS s{k}")
    sim = " + ".join(f"(CASE WHEN s{k} > 0 THEN {2 ** k} ELSE 0 END)"
                     for k in range(63))
    sim = (f"CAST({sim} AS BIGINT) + "
           f"(CASE WHEN s63 > 0 THEN CAST({_I64_MIN} AS BIGINT) "
           f"ELSE 0 END)")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
), hashed AS (
  SELECT doc_id, {half(1)} AS hv_hi, {half(9)} AS hv_lo
  FROM (SELECT doc_id, substr(md5(w), 1, 16) AS h FROM toks)
), summed AS (
  SELECT doc_id, {", ".join(bits)} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM summed
"""


def duck_simhash64_pairs_sql(
        max_hamming: int = SIMHASH64_BANDS - 1) -> str:
    blocks = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS blk, "
        f"(simhash >> {SIMHASH64_BLOCK_BITS * b}) & 65535 AS v FROM sig"
        for b in range(SIMHASH64_BANDS))
    return f"""
WITH sig AS ({duck_simhash64_sql()}),
melted AS ({blocks}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM melted a JOIN melted b USING (blk, v)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand
JOIN sig sa ON cand.doc_a = sa.doc_id
JOIN sig sb ON cand.doc_b = sb.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
"""
