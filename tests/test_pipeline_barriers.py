"""run_pipeline's stage barriers: eager localCheckpoint pins that cut the plan
at each layer, checked for job count, plan shape and against the same layers
composed with persist() + count() barriers."""

from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.operators.blocking import blocking_products, candidate_pairs
from dedupe_archived_files_spark.operators.clustering import (
    connected_components,
    resolve_clusters,
)
from dedupe_archived_files_spark.operators.extract import extract_with_signature
from dedupe_archived_files_spark.operators.scoring import pair_features, verified_edges
from dedupe_archived_files_spark.plans.pipeline import exact_star_edges, run_pipeline
from dedupe_archived_files_spark.queries import _spread

CFG = PipelineConfig()
# jobs one run_pipeline launches on the synth corpus at local[4]: 22 with the
# pins (29 with persist() + count() barriers); 2 of margin for AQE
MAX_JOBS = 24


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _persist_barrier_pipeline(pages, cfg):
    """run_pipeline's layers composed with persist() + count() barriers, as
    the pipeline ran before the pins. Returns (clusters, edges, cached)."""
    full = extract_with_signature(_spread(pages, bytes_per_task=256 << 10), cfg)
    sig = full.drop("text", "signature").persist()
    n_docs = sig.count()
    cand, _ = blocking_products(sig, cfg, n_docs=n_docs)
    cand = cand.persist()
    cand.count()
    near = verified_edges(pair_features(sig, cand), cfg).select(
        "url_a", "url_b", "score", "channel"
    )
    edges = (
        near.unionByName(exact_star_edges(sig, cfg))
        .dropDuplicates(["url_a", "url_b"])
        .persist()
    )
    edges.count()
    clusters = resolve_clusters(connected_components(edges.select("url_a", "url_b"), cfg))
    return clusters, edges, (sig, cand, edges)


def test_pipeline_job_count_and_plan_leaves(spark, pages_dfs):
    """Each layer plans from the pinned output of the one before it: the
    scored frame's optimized plan holds neither the featurize UDF
    (ArrowEvalPython) nor a cached-table scan of it (InMemoryRelation), and
    the pins replace the candidate and edge count() jobs."""
    pages, _, _ = pages_dfs
    sc = spark.sparkContext
    group = "test-pipeline-barriers"
    sc.setJobGroup(group, "run_pipeline job count")
    try:
        r = run_pipeline(pages, CFG)
        r.clusters.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _jobs_in_group(spark, group)
    assert jobs <= MAX_JOBS, f"run_pipeline launched {jobs} jobs (at most {MAX_JOBS})"
    plan = r.scored._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "InMemoryRelation" not in plan
    # no candidate joins two pages of one exact-duplicate group: the exact
    # channel's star edges link those
    fh = r.pages_text.select("url", "full_hash")
    same = (
        r.candidates.join(fh.toDF("url_a", "fh_a"), "url_a")
        .join(fh.toDF("url_b", "fh_b"), "url_b")
        .filter(F.col("fh_a") == F.col("fh_b"))
        .count()
    )
    assert same == 0


def test_pins_match_persist_barriers(spark, pages_dfs):
    """Same clusters and the same (url_a, url_b) edge set whether the layers
    are separated by pins or by persist() barriers; without dropDuplicates
    the pinned edge table still holds each pair once (near and star edges
    are disjoint). The pipeline's candidates (kept keys broadcast, sized
    from n_docs) equal those of the planner's own join choice (no n_docs)."""
    pages, _, _ = pages_dfs
    r = run_pipeline(pages, CFG)
    got_clusters = sorted(tuple(x) for x in r.clusters.collect())
    got_edges = [tuple(x) for x in r.edges.select("url_a", "url_b").collect()]
    cand = r.candidates.collect()
    assert sorted(cand) == sorted(candidate_pairs(r.pages_text, CFG).collect())
    clusters, edges, cached = _persist_barrier_pipeline(pages, CFG)
    try:
        want_clusters = sorted(tuple(x) for x in clusters.collect())
        want_edges = {tuple(x) for x in edges.select("url_a", "url_b").collect()}
    finally:
        for df in cached:
            df.unpersist()
    assert got_clusters == want_clusters
    assert len(got_edges) == len(set(got_edges))
    assert set(got_edges) == want_edges
