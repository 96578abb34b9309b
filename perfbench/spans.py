"""Spans around calls into the program's layers, recorded from outside.

A span has a name, start, end and parent, plus the rows and Spark jobs and
stages it caused. Jobs are attributed through ``setJobGroup`` and read back
from ``statusTracker()``. Layer calls that build lazy plans are forced inside
their span (``count``/``collect``), so ``composed_pipeline`` rebuilds
``run_pipeline`` from the same public functions with one materialisation per
layer; the harness asserts it yields the same clusters.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    def _jobs_of(self, group: str) -> tuple[int, int]:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(jobs), len(stages)

    @contextmanager
    def span(self, name: str):
        self._n += 1
        rec = {
            "id": self._n,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{self._n}-{name}",
            "jobs": 0,
            "stages": 0,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            jobs, stages = self._jobs_of(rec["group"])
            rec["jobs"] += jobs
            rec["stages"] += stages
            if self._stack:
                parent = self._stack[-1]
                parent["jobs"] += rec["jobs"]
                parent["stages"] += rec["stages"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["s"] = rec["end"] - rec["start"]
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=float)


def composed_pipeline(tr: Tracer, pages, cfg) -> list:
    """``plans.pipeline.run_pipeline`` rebuilt from its layers' public
    functions, one span per layer. Returns the collected clusters."""
    from dedupe_archived_files_spark.operators.blocking import blocking_products
    from dedupe_archived_files_spark.operators.clustering import (
        connected_components,
        resolve_clusters,
    )
    from dedupe_archived_files_spark.operators.extract import extract_with_signature
    from dedupe_archived_files_spark.operators.scoring import pair_features, verified_edges
    from dedupe_archived_files_spark.plans.pipeline import exact_star_edges
    from dedupe_archived_files_spark.queries import _spread

    cached = []
    try:
        with tr.span("pipeline"):
            with tr.span("extract") as s:
                full = extract_with_signature(_spread(pages, bytes_per_task=256 << 10), cfg)
                sig = full.drop("text", "signature").persist()
                cached.append(sig)
                s["rows"] = n_docs = sig.count()
            with tr.span("blocking") as bspan:
                cand, big = blocking_products(sig, cfg, n_docs=n_docs)
                cand = cand.persist()
                cached.append(cand)
                bspan["candidates"] = cand.count()
                bspan["oversized"] = big.count()
            with tr.span("scoring") as s:
                near = (
                    verified_edges(pair_features(sig, cand), cfg)
                    .select("url_a", "url_b", "score", "channel")
                    .persist()
                )
                cached.append(near)
                s["edges"] = near.count()
            with tr.span("dedupe") as s:
                exact = exact_star_edges(sig, cfg).persist()
                cached.append(exact)
                s["star_edges"] = exact.count()
            with tr.span("clustering") as s:
                edges = near.unionByName(exact).dropDuplicates(["url_a", "url_b"]).persist()
                cached.append(edges)
                s["edges_in"] = edges.count()
                labels = connected_components(edges.select("url_a", "url_b"), cfg)
                rows = [tuple(r) for r in resolve_clusters(labels).collect()]
                s["clusters"] = len({r[1] for r in rows})
        # outside every span: candidates whose two pages share full_hash
        # (pairs the exact channel's star edges already link)
        fh = sig.select("url", "full_hash")
        bspan["redundant_pairs"] = (
            cand.join(fh.withColumnRenamed("url", "url_a").withColumnRenamed("full_hash", "fa"), "url_a")
            .join(fh.withColumnRenamed("url", "url_b").withColumnRenamed("full_hash", "fb"), "url_b")
            .filter(F.col("fa") == F.col("fb"))
            .count()
        )
        return rows
    finally:
        for df in cached:
            df.unpersist()


def files_under(root: str) -> dict:
    """path -> (inode, size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def store_writes(before: dict, after: dict, root: str) -> tuple[int, float]:
    """(bucket directories holding new or rewritten parquet, MiB written)."""
    new = [p for p, v in after.items() if before.get(p) != v]
    buckets = {
        os.path.dirname(os.path.relpath(p, root))
        for p in new
        if p.endswith(".parquet") and "__bucket=" in p
    }
    return len(buckets), sum(after[p][1] for p in new) / (1 << 20)
