"""Stage 2 — block: pages_text → candidate pairs.

Multi-channel blocking (SURVEY.md §7.1 stage 2). Channels:

* ``exact``   — full_hash (reference J1 key). GUARANTEED channel: exact
  duplicates can never be lost by probabilistic blocking (the reference's
  J2-superset invariant, SURVEY.md §5).
* ``quick``   — quick_hash for large bodies (reference J2).
* ``url``     — normalized URL (re-crawl / mirror key).
* ``minhash`` — LSH band keys over token-shingle MinHash signatures.

Skew handling (north rule — the reference has none, SURVEY.md §4):

* oversized blocks (> cfg.max_block_size rows sharing one key) would generate
  O(n²) candidate pairs; they are CAPPED — dropped from pair generation and
  reported via `oversized_blocks` so lineage records what was skipped
  (standard LSH practice for template/boilerplate keys);
* blocks under the cap but above ``max_block_size / salt_buckets`` rows are
  SALTED: the member list is split into cells and each (cell_i, cell_j) grid
  pair becomes its own row, redistributed across the cluster before the
  quadratic pair explode — a near-cap block (2000 rows → ~2M pairs) no longer
  lands on one shuffle partition. Every cross-cell pair is still generated
  (grid covers i<=j), so salting NEVER drops a candidate (unit-tested).

The exact channel is exempt from both: identical content is resolved
group-wise (no pair explosion) by operators.dedupe.exact_duplicate_clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.functions.text import normalize_url
from dedupe_archived_files_spark.operators.extract import eligible

_CK_TYPE = "array<struct<channel:string,key:bigint>>"
_CK_TYPE_CODED = "array<struct<channel:tinyint,key:bigint>>"

# Channel names are 1-byte codes inside the blocking aggregation: the
# (channel, key) count agg runs over rows-x-bands rows (~19/doc), and a
# repeated 7-byte string per row is pure shuffle weight + per-group hash/
# compare cost at that volume. Codes decode back to names only on the
# bounded outputs (surviving pairs, oversized report).
CHANNELS = ("exact", "quick", "url", "minhash")
_CODE = {name: i + 1 for i, name in enumerate(CHANNELS)}


# bytes of one (tinyint, long) UnsafeRow — a null word and two 8-byte
# slots — the unit Spark sizes plans in for autoBroadcastJoinThreshold
_KEPT_ROW_BYTES = 24


def _decode(code_col: F.Column) -> F.Column:
    # built lazily — F.lit/F.array need an active SparkContext
    return F.element_at(
        F.array(*[F.lit(n) for n in CHANNELS]), code_col.cast("int")
    )


def with_signature(pages_text: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Add the unified feature columns (title/shingle_set/signature/band_keys/
    simhash/norm_url/sig_space) to an already-extracted pages_text frame.

    Calls the SAME featurizer as operators.extract.extract_with_signature
    (functions.minhash.featurize_texts) with extraction disabled — identical
    text always yields identical signatures/band keys on both paths, so rows
    from either are join-compatible (the one-signature-space guarantee; the
    sig_space stamp makes foreign checkpoints detectable)."""
    from dedupe_archived_files_spark.functions.minhash import (
        SIGNATURE_SPACE,
        make_featurize_udf,
    )

    fused = make_featurize_udf(
        cfg.shingle_size, cfg.minhash_perms, cfg.lsh_bands, with_extract=False
    )
    df = pages_text.withColumn(
        "_x", fused(F.lit(None).cast("binary"), F.col("text"))
    )
    df = (
        df.withColumn("title", F.col("_x.title"))
        .withColumn("shingle_set", F.col("_x.shingle_set"))
        .withColumn("signature", F.col("_x.signature"))
        .withColumn("band_keys", F.col("_x.band_keys"))
        .withColumn("simhash", F.col("_x.simhash"))
        .drop("_x")
        .withColumn("norm_url", normalize_url(F.col("url")))
        .withColumn("sig_space", F.lit(SIGNATURE_SPACE))
    )
    return df


def block_keys(
    pages_sig: DataFrame, cfg: PipelineConfig, coded: bool = False
) -> DataFrame:
    """One row per (url, channel, key) with key a 64-BIT LONG. Null keys drop.

    ``coded=True`` emits ``channel`` as a 1-byte code (see CHANNELS) instead
    of a string, plus each row's ``full_hash`` — the internal form
    blocking_products aggregates on (pair generation skips members with
    identical content); the public/default form keeps names for tests,
    scripts, and reports.

    ONE scan of the (pinned, column-pruned) signature frame and one
    explode — the per-channel union formulation scanned the stage output four
    times, which dominated the blocking stage's wall-clock at 400k pages.

    Keys are numeric: LSH band keys are native longs, and the string channels
    (md5 hex hashes, normalized urls) are folded through xxhash64. Grouping /
    shuffling / joining 30+ key rows per doc on 8-byte longs beats string
    keys by both shuffle bytes and hash-agg throughput. Folding is
    deterministic, so a true block never splits (no false negatives); a
    64-bit collision merging two blocks is harmless — every candidate pair is
    verified downstream (J3)."""
    base = pages_sig.filter(eligible(cfg))
    nu = F.col("norm_url") if "norm_url" in pages_sig.columns else normalize_url(F.col("url"))
    ck_type = _CK_TYPE_CODED if coded else _CK_TYPE

    def entry(channel: str, key) -> F.Column:
        tag = (
            F.lit(_CODE[channel]).cast("tinyint") if coded else F.lit(channel)
        )
        return F.struct(tag.alias("channel"), key.alias("key"))

    # Every channel is null-guarded: Spark's xxhash64 maps NULL input to the
    # seed constant (not NULL), so an unguarded fold would collapse ALL
    # null-keyed rows into one shared constant-key block per channel.
    arr = F.concat(
        F.coalesce(
            F.when(
                F.col("full_hash").isNotNull(),
                F.array(entry("exact", F.xxhash64(F.col("full_hash")))),
            ),
            F.lit([]).cast(ck_type),
        ),
        F.coalesce(
            F.when(
                F.col("quick_hash").isNotNull(),
                F.array(entry("quick", F.xxhash64(F.col("quick_hash")))),
            ),
            F.lit([]).cast(ck_type),
        ),
        F.coalesce(
            F.when(nu.isNotNull(), F.array(entry("url", F.xxhash64(nu)))),
            F.lit([]).cast(ck_type),
        ),
        F.coalesce(
            F.transform(F.col("band_keys"), lambda bk: entry("minhash", bk)),
            F.lit([]).cast(ck_type),
        ),
    )
    carry = ["url", "full_hash"] if coded else ["url"]
    return (
        base.select(*carry, F.explode(arr).alias("_ck"))
        .select(*carry, F.col("_ck.channel").alias("channel"), F.col("_ck.key").alias("key"))
        .filter(F.col("key").isNotNull())
    )


def oversized_blocks(keys: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Blocks whose row count exceeds the cap — excluded from pair generation,
    surfaced for lineage (north rule: caps must be logged, not silent).
    `sample_url` (min member) identifies the offending content class — more
    useful in a report than the opaque 64-bit key."""
    return (
        keys.groupBy("channel", "key")
        .agg(F.count("*").alias("n_rows"), F.min("url").alias("sample_url"))
        .filter(F.col("n_rows") > cfg.max_block_size)
    )


def candidate_pairs(
    pages_sig: DataFrame,
    cfg: PipelineConfig,
    channels: tuple[str, ...] = ("quick", "url", "minhash"),
    n_docs: int | None = None,
    restrict_urls: DataFrame | None = None,
    restrict_keys: DataFrame | None = None,
) -> DataFrame:
    """Distinct unordered candidate pairs (see blocking_products)."""
    return blocking_products(
        pages_sig,
        cfg,
        channels,
        n_docs=n_docs,
        restrict_urls=restrict_urls,
        restrict_keys=restrict_keys,
    )[0]


def blocking_products(
    pages_sig: DataFrame,
    cfg: PipelineConfig,
    channels: tuple[str, ...] = ("quick", "url", "minhash"),
    n_docs: int | None = None,
    restrict_urls: DataFrame | None = None,
    restrict_keys: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, oversized-block report) from ONE per-key count
    aggregation — both outputs hang off the same (channel, key) agg subtree,
    so a plan that evaluates them together shares the exchange
    (ReusedExchange) instead of re-scanning + re-exploding the key table.

    Physical shape: ONE shuffle of the key table. Keys are hash-aggregated
    into per-bucket member arrays (ObjectHashAggregate — no sort), singleton
    buckets are dropped inside the same pass, oversized buckets are capped,
    and pairs are emitted by a bounded double-explode within each bucket. The
    self-equi-join formulation costs two full sorts of the (rows × bands) key
    table — at 10^12 docs the most expensive shuffle in the pipeline; the
    bucket form never sorts and shuffles the key table exactly once.

    Skew (north rule "salted repartitioning for hot-key skew"): a bucket with
    n members explodes into ~n²/2 pairs inside ONE task. Buckets larger than
    ``cell = max_block_size / salt_buckets`` members are therefore split into
    ceil(n/cell) member slices and every (slice_i, slice_j) grid cell (i <= j)
    becomes its own row, redistributed by an explicit repartition on
    (channel, key, gi, gj) BEFORE the pair explode — the quadratic work of a
    near-cap block spreads over up to salt_buckets*(salt_buckets+1)/2 tasks.
    The grid covers every unordered member pair exactly once, so salting
    never loses a candidate (tested with a planted hot key).

    The exact channel is intentionally absent here: exact duplicates go
    through the group-wise path (no pairs), keeping the quadratic work
    bounded by cfg.max_block_size within probabilistic blocks only. For the
    same reason no pair of two pages with the same ``full_hash`` is emitted
    from ANY channel: the exact channel's star edges already link them (on
    mirror-heavy crawls about a third of all probabilistic pairs were such
    copies), so candidates — and the near edges verified from them — are
    disjoint from the star edges. Each bucket member carries its
    ``full_hash`` for this test; the string is compared, not a fold of it,
    so no near pair is lost to a hash collision.
    """
    cell = max(2, -(-cfg.max_block_size // max(1, cfg.salt_buckets)))  # ceil div
    codes = [_CODE[c] for c in channels]
    all_keys = block_keys(pages_sig, cfg, coded=True)
    if restrict_urls is not None or restrict_keys is not None:
        # Incremental scope (VERDICT r4 #1 / reference skip-unchanged,
        # core/scanner.py:119-134): pair generation is restricted to blocks
        # whose MEMBERSHIP the delta touched — blocks containing a restricted
        # (changed) url under its NEW keys, plus (``restrict_keys``) blocks
        # the changed url LEFT (its pre-change keys: those blocks shrank, so
        # a block that dropped back under the cap must be re-evaluated). A
        # pair with a changed member must share one of the changed member's
        # own keys, so this key-scope is exact: every pair touching a changed
        # url survives, and every block whose membership is unchanged — whose
        # pairs are already committed — is skipped BEFORE the count agg.
        # Shuffle/agg/pair volume drops from O(corpus keys) to O(members of
        # changed blocks); the remaining O(corpus) work is one map-side
        # column-pruned scan + a broadcast semi-join to FIND those members (a
        # real deployment can shortcut even that with an inverted key→url
        # index, which this layout is one groupBy away from).
        parts = []
        if restrict_urls is not None:
            parts.append(
                all_keys.join(restrict_urls.select("url"), "url", "left_semi")
                .select("channel", "key")
            )
        if restrict_keys is not None:
            # public (string-channel) key rows → internal 1-byte codes
            code_map = F.create_map(
                *[x for n, c in _CODE.items() for x in (F.lit(n), F.lit(c))]
            )
            parts.append(
                restrict_keys.select(
                    code_map[F.col("channel")].cast("tinyint").alias("channel"),
                    F.col("key").cast("bigint").alias("key"),
                )
            )
        changed_keys = parts[0]
        for p in parts[1:]:
            changed_keys = changed_keys.unionByName(p)
        changed_keys = changed_keys.distinct()
        all_keys = all_keys.join(changed_keys, ["channel", "key"], "left_semi")
    keys = all_keys.filter(F.col("channel").isin(codes))
    # NOT persisted: the two consumers (count agg + bucket probe) each
    # regenerate keys with one column-pruned scan of the cached signature
    # frame + an explode — cheaper than building a columnar cache of the
    # exploded key table (rows × bands string rows; measured 2x
    # candidate-stage wall at 1.2M pages). When the planner picks a shuffle
    # join over broadcast, the (channel, key) exchange is shared via
    # ReusedExchange and keys compute only once anyway.
    # count pre-filter: only keys with 2..cap members survive, so no member
    # list is ever BUILT for a singleton or a viral bucket — memory per group
    # stays bounded by cfg.max_block_size.
    # The counts agg is deliberately SLIM — count(*) over a (tinyint, long)
    # group key, nothing else. This is the pipeline's highest-cardinality
    # aggregation (rows × ~19 keys/doc, nearly all groups singletons), and
    # its per-partition hash tables must stay cache-resident: dragging the
    # old min(url) string through it roughly 3x'd the blocking stage at 2.4M
    # pages (measured 16-core: 88 s with strings vs ~30 s slim) and the
    # string channel added hash/compare cost per probe. Column pruning then
    # drops `url` from this subtree's scan entirely.
    # counts cover ALL channels (the oversized report includes exact-channel
    # viral groups, which pair generation is exempt from); kept re-applies the
    # channel filter for the probabilistic pair path
    # Partition the agg by DATA volume, not cores (``n_docs`` hint — the
    # pipeline passes its stage-barrier count; callers without one fall back
    # to spark.sql.shuffle.partitions). An explicit repartition on the group
    # key also lets the planner drop the map-side partial agg — worthless
    # here, since nearly every (channel, key) group has 1-2 rows, so partial
    # maps buffer ~the full input for ~no reduction.
    counts_in = all_keys
    if n_docs:
        n_keys_est = n_docs * (3 + cfg.lsh_bands)
        n_parts = -(-n_keys_est // cfg.agg_keys_per_partition)
        # only override when the data demands MORE partitions than the
        # session would use anyway — a user-specified repartition is exempt
        # from AQE coalescing, so forcing it on a small corpus would pin a
        # tiny agg to a fixed task count instead of letting AQE shrink it.
        # "Session default" = max(defaultParallelism, shuffle.partitions):
        # without the hint this agg shuffles into shuffle.partitions tasks,
        # so an override below THAT would REDUCE agg parallelism.
        spark = pages_sig.sparkSession
        try:
            session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            session_parts = 0
        session_parts = max(session_parts, spark.sparkContext.defaultParallelism)
        if n_parts > session_parts:
            counts_in = all_keys.repartition(n_parts, "channel", "key")
    counts = counts_in.groupBy("channel", "key").agg(F.count("*").alias("n_rows"))
    # Oversized report: sample_url (min member, identifies the content class)
    # is computed ONLY for keys over the cap — a bounded second pass (member
    # scan ⨝ the few oversized keys; AQE broadcasts the key side when small)
    # instead of a min(string) per group in the hot agg above. At web scale
    # the oversized set is template/boilerplate keys — even millions of them
    # keep this join slim (two longs + a count per row).
    over_keys = counts.filter(F.col("n_rows") > cfg.max_block_size)
    oversized = (
        all_keys.join(over_keys, ["channel", "key"])
        .groupBy("channel", "key", "n_rows")
        .agg(F.min("url").alias("sample_url"))
        .select(
            _decode(F.col("channel")).alias("channel"),
            "key",
            "n_rows",
            "sample_url",
        )
    )
    kept = (
        counts.filter(
            F.col("channel").isin(codes)
            & (F.col("n_rows") >= 2)
            & (F.col("n_rows") <= cfg.max_block_size)
        )
        .select("channel", "key")
    )
    # Broadcast kept when its bound fits the session's broadcast threshold:
    # every kept key has >= 2 of the n_keys_est key rows, so kept holds at
    # most half that many rows. Left to AQE, the choice raced: the count
    # agg's and the probe side's leaf shuffles run concurrently, and
    # whichever finished first was broadcast — one input, two plans, each
    # compiling its own classes. Above the bound AQE decides at run time.
    if n_docs:
        limit = (
            pages_sig.sparkSession._jsparkSession.sessionState()
            .conf()
            .autoBroadcastJoinThreshold()
        )
        if n_keys_est // 2 * _KEPT_ROW_BYTES <= limit:
            kept = F.broadcast(kept)
    buckets = (
        keys.join(kept, ["channel", "key"])
        .groupBy("channel", "key")
        .agg(F.collect_list(F.struct("url", "full_hash")).alias("members"))
        .withColumn("n", F.size("members"))
    )
    # full_hash hashes `text`, and a row without text is not eligible, so
    # the hash is never NULL here and inequality means different content
    new_content = F.col("a.full_hash") != F.col("b.full_hash")

    # small blocks: direct double-explode inside the bucket's own task
    small_pairs = (
        buckets.filter(F.col("n") <= cell)
        .select("channel", F.explode("members").alias("a"), "members")
        .select("channel", "a", F.explode("members").alias("b"))
        .filter((F.col("a.url") < F.col("b.url")) & new_content)
        .select(
            "channel", F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b")
        )
    )

    # salted blocks: slice the member list into cells, fan the (i, j) grid
    # out across the cluster, then explode pairs per cell
    nc = F.ceil(F.col("n") / F.lit(cell)).cast("int")
    grid = (
        buckets.filter(F.col("n") > cell)
        .select(
            "channel", "key", "members",
            F.explode(F.sequence(F.lit(0), nc - 1)).alias("gi"),
            nc.alias("nc"),
        )
        .select(
            "channel", "key", "members", "gi",
            F.explode(F.sequence(F.col("gi"), F.col("nc") - 1)).alias("gj"),
        )
        .select(
            "channel",
            "key",
            "gi",
            "gj",
            F.slice("members", F.col("gi") * cell + 1, cell).alias("ma"),
            F.slice("members", F.col("gj") * cell + 1, cell).alias("mb"),
        )
        .repartition(F.col("channel"), F.col("key"), F.col("gi"), F.col("gj"))
    )
    salted_pairs = (
        grid.select("channel", "gi", "gj", F.explode("ma").alias("a"), "mb")
        .select("channel", "gi", "gj", "a", F.explode("mb").alias("b"))
        # diagonal cells see both orders — keep a<b; off-diagonal cells see
        # each unordered pair once (disjoint slices) — canonicalize the order
        .filter((F.col("gi") != F.col("gj")) | (F.col("a.url") < F.col("b.url")))
        .filter((F.col("a.url") != F.col("b.url")) & new_content)
        .select(
            "channel",
            F.least("a.url", "b.url").alias("url_a"),
            F.greatest("a.url", "b.url").alias("url_b"),
        )
    )

    pairs = (
        small_pairs.unionByName(salted_pairs)
        .groupBy("url_a", "url_b")
        # decode 1-byte channel codes back to names on the bounded pair
        # output; array_sort on the names keeps the public schema and
        # ordering identical to the string-channel formulation
        .agg(
            F.array_sort(F.collect_set(_decode(F.col("channel")))).alias(
                "channels"
            )
        )
    )
    return pairs, oversized
