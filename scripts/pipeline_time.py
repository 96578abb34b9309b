"""Time the end-to-end dedupe pipeline at a given parallelism level.

Usage: python scripts/pipeline_time.py <cores> [sf_dir] [runs]
Prints one JSON line: {"cores": N, "secs": S, "n_pages": P, "pages_per_sec": R}

One process per parallelism level: a SparkSession's master is fixed per JVM,
so the scaling comparison (local[8] vs local[32]) must fork.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import docs_as_pages, force  # noqa: E402
from dedupe_archived_files_spark.config import PipelineConfig  # noqa: E402
from dedupe_archived_files_spark.plans.pipeline import run_pipeline  # noqa: E402
from dedupe_archived_files_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    inp = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    # experiment overrides (scaling investigation): shuffle partition count
    # and arbitrary spark confs via env, so one-variable-at-a-time runs don't
    # need code edits
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", cores))
    extra_conf: dict[str, str] = {}
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra_conf[k.strip()] = v.strip()
    spark = get_spark(
        app_name=f"scaling_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_parts,
        extra_conf=extra_conf,
    )
    if inp.startswith("pages:"):
        # pre-materialized pages parquet (scaling_bench synthesizes one).
        # Repartition ONLY if the scan gives too few splits for the level —
        # an unconditional repartition re-shuffles the fat (html+text) input
        # inside every timed run, a fixed cost that mostly taxes the
        # high-core ratio.
        pages = spark.read.parquet(inp[len("pages:"):])
        if pages.rdd.getNumPartitions() < cores * 2:
            pages = pages.repartition(cores * 4)
    else:
        pages = docs_as_pages(spark, inp).repartition(cores * 4)
    n_pages = pages.count()
    cfg = PipelineConfig(tau_jaccard=0.9)

    # warm-up run (JIT/codegen/Arrow init/python-worker fleet), then timed
    # runs; report the best (steady-state throughput, the quantity that
    # scales with cores). run_pipeline pins its stage outputs with eager
    # localCheckpoints, which each run recomputes; the previous run's pins
    # are released once its result is dropped (clearCache() does not free
    # them). clearCache() still drops any frame the caller cached.
    force(run_pipeline(pages, cfg).clusters)
    all_runs: list[float] = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.time()
        force(run_pipeline(pages, cfg).clusters)
        all_runs.append(round(time.time() - t0, 3))
    best = min(all_runs)

    print(
        json.dumps(
            {
                "cores": cores,
                "secs": round(best, 3),
                # every run reported (not just the best): at this corpus size
                # the spread is %-level, which is exactly what makes these
                # numbers round-over-round comparable where sf0.1 is not
                "runs": all_runs,
                "spread": round((max(all_runs) - best) / best, 3),
                "n_pages": n_pages,
                "pages_per_sec": round(n_pages / best, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
