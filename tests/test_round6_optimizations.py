"""Focused tests for the round-6 optimization internals: every rewrite that
changed an operator's evaluation strategy is pinned to its reference semantics
here (the oracle-parity suite checks end-to-end output; these check the
kernels directly, including edge cases the sf data may not exercise)."""

from __future__ import annotations

import os
import sys
from hashlib import md5

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dedupe_archived_files_spark import queries as Q  # noqa: E402


# ---------------------------------------------------------------------------
# winnowing gram hashes: digest-prefix fast path == hexdigest oracle formula
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "text",
    [
        "hello world this is a plain ascii document body",
        "exactly8",
        "a" * 100,
        "naïve café über — ünïcode ☃ body with multibyte chars",
        "mixed ascii then é then ascii again padding padding",
    ],
)
def test_gram_hashes_match_hexdigest_formula(text):
    k = Q.FP_K
    ref = np.fromiter(
        (
            int(md5(text[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
            for i in range(len(text) - k + 1)
        ),
        dtype=np.int64,
        count=len(text) - k + 1,
    )
    got = Q._gram_hashes(text, k)
    assert np.array_equal(ref, got)


def test_window_mins_matches_window_spec():
    hs = np.array([9, 3, 7, 1, 8, 2, 6], dtype=np.int64)
    w = Q.FP_W  # 4: min over [i, i+3], truncating at the tail
    ref = np.array(
        [min(hs[i : i + w]) for i in range(len(hs))], dtype=np.int64
    )
    assert np.array_equal(Q._window_mins(hs, w), ref)


# ---------------------------------------------------------------------------
# batch-vectorized simhash: reduceat kernel == per-doc shift-matrix reference
# ---------------------------------------------------------------------------

def _simhash_reference(h):
    """The original per-doc formulation (shift matrix + signed votes)."""
    from dedupe_archived_files_spark.functions.simhash import BITS

    shifts = np.arange(BITS, dtype=np.uint64)
    hv = np.asarray(h, dtype=np.int64).view(np.uint64)
    bits = (hv[:, None] >> shifts[None, :]) & np.uint64(1)
    votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    return np.int64(((votes > 0).astype(np.uint64) << shifts).sum())


def test_simhash_batch_kernel_matches_reference():
    from dedupe_archived_files_spark.functions.simhash import simhash_udf

    rng = np.random.RandomState(11)
    docs = [
        None,
        [],
        rng.randint(0, 2**60, size=1).tolist(),
        rng.randint(0, 2**60, size=57).tolist(),
        rng.randint(0, 2**60, size=200).tolist(),
        rng.randint(-(2**62), 2**62, size=99).tolist(),  # negative hashes too
    ]
    got = simhash_udf.func(pd.Series(docs, dtype="object"))
    for d, g in zip(docs, got):
        if d is None or len(d) == 0:
            assert g is None
        else:
            assert g == _simhash_reference(d), d[:3]


def test_simhash_batch_kernel_chunk_boundary():
    """Docs spanning the 128k-hash flush boundary get identical results to
    one-doc-at-a-time evaluation."""
    from dedupe_archived_files_spark.functions.simhash import simhash_udf

    rng = np.random.RandomState(5)
    docs = [rng.randint(0, 2**60, size=50000).tolist() for _ in range(4)]
    got = simhash_udf.func(pd.Series(docs, dtype="object"))
    for d, g in zip(docs, got):
        assert g == _simhash_reference(d)


# ---------------------------------------------------------------------------
# _top_run: sorted run-length fold == explode/count mode with the oracle's
# (n DESC, bg DESC) tie-break
# ---------------------------------------------------------------------------

def _mode_reference(bigrams):
    if not bigrams:
        return 0, ""
    s = pd.Series(bigrams).value_counts()
    top_n = int(s.max())
    # lexicographically-greatest among the tied-max values
    best = max(v for v, n in s.items() if n == top_n)
    return top_n, best


@pytest.mark.parametrize(
    "bigrams",
    [
        [],
        ["a b"],
        ["a b", "a b", "c d"],
        ["c d", "a b", "c d", "a b"],          # tie: 'c d' wins (greater)
        ["z z", "a a", "a a", "z z"],          # tie: 'z z' wins
        ["m m"] * 5 + ["a a"] * 5 + ["z z"],   # tie 5-5: 'm m' wins over 'a a'
    ],
)
def test_top_run_matches_mode_with_desc_tiebreak(bigrams, spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(sorted(bigrams),)], "bg array<string>")
    row = df.select(Q._top_run(F.col("bg")).alias("t")).collect()[0]["t"]
    ref_n, ref_bg = _mode_reference(bigrams)
    assert row["best_n"] == ref_n
    assert row["best_bg"] == ref_bg


# ---------------------------------------------------------------------------
# _spread: adaptive parallelism floor
# ---------------------------------------------------------------------------

def test_spread_lifts_single_partition_input(spark):
    one = spark.range(100).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    spread = Q._spread(one)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # identity when already at/above the floor
    wide = spark.range(100).repartition(
        spark.sparkContext.defaultParallelism
    )
    assert Q._spread(wide) is wide
    # row set unchanged
    assert sorted(r["id"] for r in spread.collect()) == list(range(100))


# ---------------------------------------------------------------------------
# embedding_cosine_near_dup: chunked group-matmul crosses the 2048-row chunk
# boundary without losing or duplicating pairs
# ---------------------------------------------------------------------------

def test_cosine_group_matmul_chunk_boundary(spark, tmp_path):
    rng = np.random.RandomState(3)
    n = 2100  # one label group spanning the 2048-row chunk boundary
    base = rng.randn(8, 64)
    V = base[rng.randint(0, 8, n)] + 0.35 * rng.randn(n, 64)  # clustered
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "label": ["g"] * n,
            "embedding": [row.astype("float32") for row in V],
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    out = Q.embedding_cosine_near_dup(spark, str(tmp_path)).toPandas()
    # numpy truth with the same float64 cast + HALF_UP rounding contract
    Vd = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    nrm = np.sqrt(np.einsum("ij,ij->i", Vd, Vd))
    S = (Vd @ Vd.T) / np.outer(nrm, nrm)
    iu, ju = np.triu_indices(n, 1)
    raw = S[iu, ju]
    sim = np.sign(raw) * np.floor(np.abs(raw) * 10000.0 + 0.5) / 10000.0
    m = sim >= Q.COSINE_TAU
    truth = {(int(a), int(b)) for a, b in zip(iu[m], ju[m])}
    got = {(int(r.vec_id_a), int(r.vec_id_b)) for r in out.itertuples()}
    assert truth  # the fixture must actually produce pairs
    assert got == truth
    assert len(out) == len(got)  # no duplicate rows across chunks


# ---------------------------------------------------------------------------
# minhash exact-duplicate-set collapse: rep-mode output == brute-force truth
# on a duplicate-heavy corpus, including every expansion edge case
# ---------------------------------------------------------------------------

def test_minhash_rep_collapse_matches_brute_force(spark, tmp_path):
    """Duplicate ratio 4x forces the rep tier ON (gate: groups*2 <= docs) and
    the fixture covers the expansion edge cases: interleaved member ids
    (least/greatest ordering), identical text under DIFFERENT langs (groups
    separately, never pairs), a near-dup family across groups at jac 19/21
    (cross expansion must carry the rep-level jac to every member pair), and
    empty-token / NULL texts (excluded from intra cliques exactly as from the
    band join). Truth is an independent pure-Python brute force."""
    t20 = " ".join(f"tok{i}" for i in range(20))
    t20b = " ".join(f"tok{i}" for i in range(19)) + " other"  # jac 19/21
    base = [
        ("en", t20),
        ("en", t20b),
        ("en", "totally different words with no overlap at all here now"),
        ("de", t20),
        ("en", ""),
        ("en", None),
    ]
    rows = []
    doc_id = 0
    for _rep in range(4):  # 4 replicas, ids interleaved round-robin
        for lang, text in base:
            rows.append((doc_id, lang, "s0", text))
            doc_id += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"])
    pdf.to_parquet(tmp_path / "documents.parquet")

    # independent brute-force truth (the oracle SQL's semantics): distinct
    # space tokens, same-lang pairs, jac >= 0.9, jac rounded to 4 digits
    def toks(t):
        return set(filter(None, (t or "").lower().split(" ")))

    truth = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if rows[i][1] != rows[j][1]:
                continue
            a, b = toks(rows[i][3]), toks(rows[j][3])
            if not a or not b:
                continue  # empty sets: 0/0 jaccard is NULL, never a pair
            jac = len(a & b) / len(a | b)
            if jac >= 0.9:
                truth.add((rows[i][0], rows[j][0], round(jac, 4)))

    got = {
        (r.doc_id_a, r.doc_id_b, r.jac)
        for r in Q.minhash_lsh_near_dup(spark, str(tmp_path)).collect()
    }
    assert any(j == 1.0 for _, _, j in truth)      # intra cliques present
    assert any(j == 0.9048 for _, _, j in truth)   # cross near-dup present
    empty_ids = {r[0] for r in rows if r[3] in ("", None)}
    assert all(a not in empty_ids and b not in empty_ids for a, b, _ in got)
    assert got == truth


# ---------------------------------------------------------------------------
# semantic exact-duplicate-vector collapse: rep mode == full mode, including
# zero-norm and NULL vectors
# ---------------------------------------------------------------------------

def test_semantic_rep_collapse_matches_full_mode(spark, tmp_path):
    """Three interleaved replicas of each base vector force the rep tier ON
    (gate: distinct vectors * 2 <= rows, here 14 <= 20); n_hint forces the
    same corpus through full mode. The bases hold a near-duplicate pair (the cross
    expansion carries the rep pair's sim to every member pair) and an
    all-zero vector, whose cosine is 0/0: full mode emits no pair for it, so
    rep mode must not emit its clique at sim 1.0. Two NULL vectors pair with
    nothing in either mode."""
    rng = np.random.default_rng(11)
    dim = 8
    base = [rng.normal(size=dim) for _ in range(4)]
    base.append(base[0] + rng.normal(scale=0.05, size=dim))
    base.append(np.zeros(dim))
    vecs = [[float(x) for x in v] for _rep in range(3) for v in base]
    vecs[4:4] = [None]
    vecs.append(None)
    n_distinct = len(base) + 1
    assert 2 * n_distinct <= len(vecs)  # the rep gate engages
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    df.write.parquet(str(tmp_path / "embeddings.parquet"))

    def pairs(**kw):
        rows = Q.semantic_dedup_embeddings(spark, str(tmp_path), **kw).collect()
        out = [(r.vec_id_a, r.vec_id_b, r.sim) for r in rows]
        assert len(out) == len(set(out))
        return set(out)

    rep = pairs()
    full = pairs(n_hint=len(vecs))
    assert any(s == 1.0 for _, _, s in full)      # intra cliques present
    assert any(s < 1.0 for _, _, s in full)       # cross pairs present
    degenerate = {
        i for i, v in enumerate(vecs) if v is None or not any(v)
    }
    assert all(a not in degenerate and b not in degenerate for a, b, _ in rep)
    assert rep == full
