"""A warm run_pipeline op reuses the generated code of the one before it."""

from __future__ import annotations

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.plans.pipeline import run_pipeline
from dedupe_archived_files_spark.synth import corpus_to_spark


def _classes_compiled(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pipeline_compiles_no_class(spark, corpus):
    """The second of two identical ops compiles nothing: every class the
    first one generated is still in Spark's codegen cache. With the cache at
    Spark's default of 100 entries, below one op's working set, the second
    op compiles most of them again."""
    pages = corpus_to_spark(spark, corpus)[0]
    cfg = PipelineConfig()
    runs = []
    for _ in range(2):
        # each op starts from no cached frames, as a fresh op does
        spark.catalog.clearCache()
        before = _classes_compiled(spark)
        clusters = sorted(tuple(r) for r in run_pipeline(pages, cfg).clusters.collect())
        runs.append((clusters, _classes_compiled(spark) - before))
    (first, cold), (second, warm) = runs
    assert second == first
    assert cold > 0
    assert warm == 0, f"warm op compiled {warm} classes (cold op: {cold})"
