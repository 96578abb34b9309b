"""Stage 3 — score: candidate pairs → verified match edges.

The verification tier (reference J3, core/scanner.py:366-387: blocked
candidates are re-checked with the exact computation; false positives drop
out). Gates (a pair is kept iff ANY passes):

* exact full_hash equality             → score 1.0, channel 'exact'
* exact Jaccard over shingle sets      → keep >= cfg.tau_jaccard, channel 'minhash'
* SimHash Hamming distance             → keep <= cfg.max_hamming, channel 'simhash'

Reported features (never gates): Jaro-Winkler on normalized urls and on
titles (north rule "Jaro-Winkler similarity on titles/urls") — row-at-a-time
Python inside an Arrow batch, so they run ONLY on verified edges.

Every per-doc feature (shingle_set, simhash, norm_url, title) is precomputed
once in the extract stage and read here from the pinned stage output — this
stage never touches text/html (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.functions.minhash import jaccard
from dedupe_archived_files_spark.functions.simhash import hamming
from dedupe_archived_files_spark.functions.strings import jaro_winkler_udf
from dedupe_archived_files_spark.functions.text import normalize_url

_FEATURES = ("full_hash", "shingle_set", "simhash", "norm_url", "title")


def pair_features(pages_sig: DataFrame, candidates: DataFrame) -> DataFrame:
    """Join candidate pairs to per-doc features and compute pairwise scores.

    Features are joined ONLY for docs that appear in at least one candidate
    pair (left-semi prune) — post-blocking volume, not corpus volume; the
    reference's deferred-verification economics (P8, hasher.py:133-148: pay
    for the expensive hash only after a cheap-key collision). The feature
    payload is slim (hash arrays + longs); text/html never travel."""
    cand_urls = (
        candidates.select(F.col("url_a").alias("url"))
        .union(candidates.select(F.col("url_b").alias("url")))
        .distinct()
    )
    cols = ["url"]
    for c in _FEATURES:
        if c in pages_sig.columns:
            cols.append(c)
        elif c == "norm_url":
            cols.append(normalize_url(F.col("url")).alias("norm_url"))
        else:
            cols.append(F.lit(None).alias(c))
    feats = pages_sig.join(cand_urls, "url", "left_semi").select(*cols)

    fa = feats.select(
        F.col("url").alias("url_a"),
        F.col("full_hash").alias("fh_a"),
        F.col("shingle_set").alias("sh_a"),
        F.col("simhash").alias("sim_a"),
        F.col("norm_url").alias("nu_a"),
        F.col("title").alias("ti_a"),
    )
    fb = feats.select(
        F.col("url").alias("url_b"),
        F.col("full_hash").alias("fh_b"),
        F.col("shingle_set").alias("sh_b"),
        F.col("simhash").alias("sim_b"),
        F.col("norm_url").alias("nu_b"),
        F.col("title").alias("ti_b"),
    )
    return (
        candidates.join(fa, "url_a").join(fb, "url_b")
        .withColumn("exact_match", F.col("fh_a") == F.col("fh_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .withColumn(
            "hamming",
            F.when(
                F.col("sim_a").isNotNull() & F.col("sim_b").isNotNull(),
                hamming(F.col("sim_a"), F.col("sim_b")),
            ),
        )
        .select(
            "url_a", "url_b", "channels", "exact_match", "jaccard", "hamming",
            "nu_a", "nu_b", "ti_a", "ti_b",
        )
    )


def verified_edges(scored: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Keep pairs passing any verification gate; emit schema.EDGES-shaped rows.

    A quick-hash or LSH collision with low true similarity is dropped here —
    the reference's false-positive elimination (tests/test_scanner.py:378-411).
    The SimHash gate (hamming <= cfg.max_hamming) is an OR-channel: a pair of
    long docs whose few edits dilute below tau_jaccard can still verify via
    near-identical simhashes. Edge score for simhash-gated pairs is
    1 - hamming/64 (the fraction of agreeing fingerprint bits)."""
    keep = (
        F.col("exact_match")
        | (F.col("jaccard") >= F.lit(cfg.tau_jaccard))
        | (F.col("hamming").isNotNull() & (F.col("hamming") <= F.lit(cfg.max_hamming)))
    )
    # Jaro-Winkler (row-at-a-time Python inside an Arrow batch) runs ONLY on
    # verified edges — never on the full candidate set. Reported features,
    # not gates, so this is free precision at ~0 cost.
    return (
        scored.filter(keep)
        .withColumn("url_jw", jaro_winkler_udf(F.col("nu_a"), F.col("nu_b")))
        .withColumn(
            "title_jw",
            F.when(
                F.col("ti_a").isNotNull() & F.col("ti_b").isNotNull(),
                jaro_winkler_udf(F.col("ti_a"), F.col("ti_b")),
            ),
        )
        .select(
            "url_a",
            "url_b",
            F.when(F.col("exact_match"), F.lit(1.0))
            .when(F.col("jaccard") >= F.lit(cfg.tau_jaccard), F.col("jaccard"))
            .otherwise(1.0 - F.col("hamming").cast("double") / F.lit(64.0))
            .alias("score"),
            F.when(F.col("exact_match"), F.lit("exact"))
            .when(F.col("jaccard") >= F.lit(cfg.tau_jaccard), F.lit("minhash"))
            .otherwise(F.lit("simhash"))
            .alias("channel"),
            "url_jw",
            "title_jw",
        )
    )
