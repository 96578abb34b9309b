"""Near-dup blocking/scoring + connected components + the F1 gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.operators.blocking import (
    block_keys,
    blocking_products,
    candidate_pairs,
    oversized_blocks,
    with_signature,
)
from dedupe_archived_files_spark.operators.clustering import (
    cluster_summary,
    connected_components,
)
from dedupe_archived_files_spark.operators.extract import extract_pages
from dedupe_archived_files_spark.plans.pipeline import evaluate_f1, run_pipeline

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def result(spark, pages_dfs):
    pages, labeled, expected = pages_dfs
    res = run_pipeline(pages, CFG)
    res.labels.cache().count()
    return res


def test_minhash_estimates_jaccard(spark, pages_dfs):
    """Signature agreement ≈ true Jaccard on the planted near-dup pairs."""
    from dedupe_archived_files_spark.functions.minhash import estimated_jaccard, jaccard

    pages, labeled, _ = pages_dfs
    sig = with_signature(extract_pages(pages, CFG), CFG)
    near = labeled.filter(F.col("kind") == "near")
    a = sig.select(F.col("url").alias("url_a"), F.col("signature").alias("sig_a"),
                   F.col("shingle_set").alias("sh_a"))
    b = sig.select(F.col("url").alias("url_b"), F.col("signature").alias("sig_b"),
                   F.col("shingle_set").alias("sh_b"))
    rows = (
        near.join(a, "url_a").join(b, "url_b")
        .select(
            estimated_jaccard(F.col("sig_a"), F.col("sig_b"), CFG.minhash_perms).alias("est"),
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("true_j"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["est"] - r["true_j"]) < 0.15, r


def test_lsh_recall_on_planted_near_dups(spark, result, pages_dfs):
    """Every planted near-dup (Jaccard above tau by construction) survives
    blocking + verification — blocking must never drop a true match that
    verification would accept (reference J2-superset invariant). Pages with
    identical content are not paired: the exact channel links each of them
    to its group's min url by a star edge."""
    _, labeled, _ = pages_dfs
    edges = result.edges.select("url_a", "url_b", "channel").collect()
    got = {(r["url_a"], r["url_b"]) for r in edges}
    canonical = {r["url_b"]: r["url_a"] for r in edges if r["channel"] == "exact"}
    planted = labeled.filter(F.col("is_dup")).select("url_a", "url_b").collect()
    missing = [
        (a, b)
        for a, b in planted
        if (a, b) not in got and canonical.get(a, a) != canonical.get(b, b)
    ]
    assert not missing


def test_hard_negatives_rejected(spark, result, pages_dfs):
    """Same-template heavy edits and the quick-hash-collision pair are
    verified OUT (reference false-positive elimination,
    tests/test_scanner.py:378-411)."""
    _, labeled, _ = pages_dfs
    negs = labeled.filter(~F.col("is_dup")).select("url_a", "url_b")
    fp = negs.intersect(result.edges.select("url_a", "url_b")).count()
    assert fp == 0


def test_connected_components_simple_chain(spark):
    """a-b, b-c, d-e → components {a,b,c}, {d,e} (transitivity)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], ["url_a", "url_b"]
    )
    labels = {r["url"]: r["component"] for r in connected_components(edges, CFG).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_connected_components_path_graph(spark):
    """Long path exercises multi-iteration convergence (O(log n) rounds).
    cc_driver_threshold=0 forces the DISTRIBUTED large-star/small-star loop."""
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["url_a", "url_b"]
    )
    cfg = PipelineConfig(max_iterations=10, cc_driver_threshold=0)
    labels = connected_components(edges, cfg).collect()
    comps = {r["component"] for r in labels}
    assert comps == {"n000"}
    assert len(labels) == n + 1


def test_connected_components_raises_at_iteration_cap(spark):
    """The distributed loop must not hand back labels of an edge set that is
    still changing: one round cannot settle a 40-node path."""
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)], ["url_a", "url_b"]
    )
    cfg = PipelineConfig(max_iterations=1, cc_driver_threshold=0)
    with pytest.raises(RuntimeError, match="max_iterations=1"):
        connected_components(edges, cfg)


def test_cc_driver_and_distributed_paths_agree(spark):
    """The adaptive fast path (driver union-find) must be indistinguishable
    from the distributed loop."""
    import random

    rng = random.Random(7)
    edges = [(f"v{rng.randrange(200):03d}", f"v{rng.randrange(200):03d}") for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    fast = connected_components(df, PipelineConfig(cc_driver_threshold=10_000))
    dist = connected_components(df, PipelineConfig(cc_driver_threshold=0))
    a = sorted((r["url"], r["component"]) for r in fast.collect())
    b = sorted((r["url"], r["component"]) for r in dist.collect())
    assert a == b


def test_clusters_match_expected(spark, result, pages_dfs):
    """Final clusters == ground-truth clusters derived from the planting plan."""
    _, _, expected = pages_dfs
    got = result.clusters.select("url", "cluster_id")
    exp = expected.select("url", "cluster_id")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_f1_gate(spark, result, pages_dfs):
    """BASELINE.json: pairwise F1 >= 0.99 on labeled pairs."""
    _, labeled, _ = pages_dfs
    m = evaluate_f1(result.labels, labeled)
    assert m["f1"] >= 0.99, m


def test_hot_key_block_capped(spark, pages_dfs):
    """The planted hot normalized-URL key exceeds a small cap → reported as
    oversized and excluded from pair generation (north-rule skew handling)."""
    pages, _, _ = pages_dfs
    cfg = PipelineConfig(max_block_size=50)
    sig = with_signature(extract_pages(pages, cfg), cfg)
    keys = block_keys(sig, cfg)
    big = oversized_blocks(keys, cfg)
    hot = big.filter(F.col("sample_url").contains("hot.example.com")).collect()
    assert hot and hot[0]["n_rows"] >= 100
    # the pipeline-path report (blocking_products' second output, which
    # computes sample_url in a bounded second pass over only the over-cap
    # keys and decodes 1-byte channel codes back to names) must agree
    _, big2 = blocking_products(sig, cfg)
    hot2 = big2.filter(F.col("sample_url").contains("hot.example.com")).collect()
    assert hot2 and hot2[0]["n_rows"] == hot[0]["n_rows"]
    assert hot2[0]["channel"] == "url"
    # no candidate pair from the capped url channel block
    cand = candidate_pairs(sig, cfg)
    hot_pairs = cand.filter(
        F.col("url_a").startswith("https://hot.example.com")
        & F.col("url_b").startswith("https://hot.example.com")
        & (F.array_contains("channels", "url"))
    ).count()
    assert hot_pairs == 0


def test_cluster_summary_sizes(spark, result):
    sizes = {r["cluster_id"]: r["cluster_size"] for r in cluster_summary(result.labels).collect()}
    assert max(sizes.values()) >= 5  # the 5-copy exact group
