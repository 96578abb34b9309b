"""Extra benchmark harness for optimization work (guide §1.4): times each
declared query in ISOLATION with the noop sink, captures `.explain("formatted")`
plans, and writes full machine-readable JSON to a file (never relies on stdout
tail capture).

This file is NOT part of the frozen driver contract — `bench.py` stays the
measured artifact; numbers cited in OPTIMIZATION_r06.md name this harness.

Usage:
  python bench_extra.py [--sf-dir DIR] [--runs N] [--queries a,b,c]
                        [--explain-dir evidence/r06/plans] [--suffix _before]
                        [--out FILE.json]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dedupe_archived_files_spark import queries as Q
from dedupe_archived_files_spark.session import get_spark

ALL_QUERIES = [
    "exact_dup_groups_events",
    "exact_dup_clusters_documents",
    "minhash_lsh_near_dup",
    "simhash_hamming_pairs",
    "simhash_banded_near_dup",
    "connected_components_docs",
    "lang_id_documents",
    "quality_scores_documents",
    "token_counts_documents",
    "repetition_stats_documents",
    "dataset_split_documents",
    "decontaminate_documents",
    "stratified_sample_documents",
    "doc_fingerprints",
    "last_writer_wins_events",
    "group_stats_documents",
    "topk_chars_per_lang",
    "tumbling_window_counts",
    "embedding_topk_cosine",
    "embedding_ann_lsh",
    "embedding_ann_ivf",
    "embedding_ann_ivf2",
    "embedding_cosine_near_dup",
    "multimodal_binary_meta",
    "sessionize_events",
    "asof_join_events",
    "fingerprint_overlap_near_dup",
    "semantic_dedup_embeddings",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--queries", default="")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--plan-only", action="store_true")
    args = ap.parse_args()

    names = [q for q in args.queries.split(",") if q] or ALL_QUERIES
    spark = get_spark(app_name="bench_extra")
    sf_dir = args.sf_dir

    results: dict[str, dict] = {}
    for name in names:
        fn = getattr(Q, name)
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.explain_dir, f"{name}{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
        if args.plan_only:
            print(f"{name}: plan captured", flush=True)
            spark.catalog.clearCache()
            gc.collect()
            continue
        spark.catalog.clearCache()
        gc.collect()
        t0 = time.time()
        force(fn(spark, sf_dir))  # warm-up (JIT/Arrow init)
        warm = round(time.time() - t0, 3)
        runs = []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            gc.collect()
            t0 = time.time()
            force(fn(spark, sf_dir))
            runs.append(round(time.time() - t0, 3))
        results[name] = {"warm": warm, "runs": runs, "best": min(runs)}
        print(f"{name}: warm={warm} runs={runs}", flush=True)
        spark.sparkContext.setJobDescription(None)

    out = {
        "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "all"),
        "results": results,
        "total_best": round(sum(r["best"] for r in results.values()), 3),
    }
    payload = json.dumps(out, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(payload)
        print(f"written: {args.out}")
    print(payload)
    spark.stop()


if __name__ == "__main__":
    main()
