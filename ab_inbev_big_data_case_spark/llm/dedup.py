"""Deduplication stack: exact, MinHash-LSH, SimHash, n-gram Jaccard.

All four standard dedup flavors for training-data curation, each a pure
DataFrame pipeline over the portable hash (``functions.text``):

- **exact**: sha256 content hash → group. One shuffle on the hash.
- **MinHash-LSH**: shingle → per-seed affine min-hash signature → band
  buckets → candidate pairs from equi-join on (band, band_sig). At 100 TB
  the candidate join is the whole point: near-dup detection without the
  O(n²) pair scan — only same-bucket docs ever meet, and the band join is a
  plain shuffled equi-join AQE can handle.
- **SimHash**: per-bit signed vote over token hashes → compact bit
  signature; hamming-adjacent signatures are near-dups.
- **n-gram Jaccard**: exact shingle-set overlap via shingle-equijoin —
  quadratic in shared shingles, used as the verifier behind MinHash's
  candidates (classic candidate→verify split).

MinHash math: shingle hash h is reduced mod P=1e9+7; seed i applies the
affine permutation ``(2i+1)·h + 104729·i mod P`` (odd multiplier, so it's a
bijection on Z_P); the signature is the per-seed min. All arithmetic stays
below 2^63 so Spark and DuckDB agree bit-for-bit.

DuckDB twins (plain-text CTEs, the one SQL form of each chain every oracle
uses): ``shingle_set_sql`` → ``sh(doc_id, shingle)``; ``MINHASH_SIG_SQL`` →
``sig(doc_id, seed, minhash)`` (8 seeds); ``LSH_BANDS_SQL`` →
``bands(doc_id, band, band_sig)`` (4 bands × 2 rows); ``KEPT_BANDS_SQL`` →
``kept_bands``, the buckets of 2..``LSH_MAX_BUCKET_OCCUPANCY`` occupants;
``lsh_pairs_sql`` → the candidate pairs of :func:`lsh_candidate_pairs`;
``simhash_sig_sql`` → the 60-bit 3-shingle :func:`simhash`; and
``simhash_band_pairs_sql`` → its four 15-bit bands ``sbands(doc_id, b, bv)``
and band-sharing pairs ``scand(id1, id2)`` (Charikar 2002; Manku et al.
2007).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.operators.graph import basket_pairs
from ab_inbev_big_data_case_spark.operators.lineage import cut
from ab_inbev_big_data_case_spark.operators.partitioning import spread
from ab_inbev_big_data_case_spark.functions.text import (
    HASH_MOD,
    shingles,
    shingles_sql,
    token_hash64,
    token_hash64_sql,
    token_hash_mod,
    token_hash_mod_sql,
    tokens,
)


#: Production per-bucket occupancy cap for MinHash-LSH band buckets (r13:
#: threaded through the FAMILY ROOT after the sf1->sf10 audit measured 95x
#: candidate growth for 10x docs on the uncapped join — bucket occupancy
#: grows ~linearly once content density saturates, so uncapped pair fan-out
#: is Σocc² = quadratic). A band bucket with more than this many occupants
#: is boilerplate pooling, not near-dup signal; dropping it bounds per-bucket
#: pairs at occ*cap = linear. Mirrored in every consumer oracle via the
#: kept_bands CTE (``KEPT_BANDS_SQL``).
LSH_MAX_BUCKET_OCCUPANCY = 64


def content_hash(df: DataFrame, text_col: str, out_col: str = "content_hash") -> DataFrame:
    """Exact-dedup key: sha256 of the raw text (glue/etl_api.py:31's dedup
    generalized to content identity)."""
    return df.withColumn(out_col, F.sha2(F.col(text_col), 256))


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-row exact-dup accounting: content hash, #copies of that content,
    and whether this row is the canonical (min-id) survivor."""
    hashed = content_hash(df, text_col)
    w = Window.partitionBy("content_hash")
    return hashed.select(
        id_col,
        "content_hash",
        F.count("*").over(w).alias("n_copies"),
        (F.col(id_col) == F.min(id_col).over(w)).cast("int").alias("is_canonical"),
    )


def shingle_set(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct n-token shingles per doc: (id, shingle) rows.

    ``spread`` first: shingling cost is rows x tokens, not bytes — a
    single-file scan partition would serialize it on one core."""
    df = spread(df)
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), n))).alias("shingle"),
    )


def minhash_signatures_wide(
    shingle_df: DataFrame, id_col: str, n_hashes: int = 8
) -> DataFrame:
    """Wide MinHash signature: one row per id with columns minhash_0..n-1.

    All seeds are computed as parallel min-aggregations over the SAME
    shingle rows — one shuffle on ``id``, no row multiplication. (The naive
    formulation crossJoins a seeds table, inflating the shuffle n_hashes×;
    at 100 TB that's n_hashes× the map output for zero benefit.)
    """
    hashed = shingle_df.withColumn("h9", token_hash_mod(F.col("shingle")))
    aggs = [
        F.min(((2 * i + 1) * F.col("h9") + 104729 * i) % F.lit(HASH_MOD)).alias(
            f"minhash_{i}"
        )
        for i in range(n_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    shingle_df: DataFrame, id_col: str, n_hashes: int = 8
) -> DataFrame:
    """(id, seed, minhash) signature rows — the narrow/tall view of
    :func:`minhash_signatures_wide` (one stack/unpivot, no extra shuffle)."""
    wide = minhash_signatures_wide(shingle_df, id_col, n_hashes)
    stack_expr = ", ".join(f"{i}L, minhash_{i}" for i in range(n_hashes))
    return wide.select(
        F.col(id_col),
        F.expr(f"stack({n_hashes}, {stack_expr}) AS (seed, minhash)"),
    )


def lsh_band_buckets_wide(
    wide_sig: DataFrame, id_col: str, n_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Band buckets (id, band, band_sig) straight from the wide signature —
    pure projection + one stack, NO shuffle.

    band_sig packs the band's minhashes into one int64: position r in the
    band is weighted P^(rows_per_band-1-r), i.e. m0·P + m1 for the default
    rows_per_band=2 — injective since each minhash < P. rows_per_band > 2 is
    rejected: the leading weight P^2 ≈ 2^60 would overflow int64, and
    degrading the tail weights to 1 silently makes the sum order-insensitive
    (false bucket collisions). Use more/narrower bands instead."""
    if rows_per_band > 2:
        raise ValueError(
            "rows_per_band > 2 cannot be packed injectively into int64 "
            "(P^2 term overflows); use rows_per_band <= 2 with more bands"
        )
    n_bands = n_hashes // rows_per_band
    terms = []
    for b in range(n_bands):
        sig_expr = " + ".join(
            f"minhash_{b * rows_per_band + r} * "
            + ("1000000007" if r == 0 else "1")
            for r in range(rows_per_band)
        )
        terms.append(f"{b}L, {sig_expr}")
    return wide_sig.select(
        F.col(id_col),
        F.expr(f"stack({n_bands}, {', '.join(terms)}) AS (band, band_sig)"),
    )


def pairs_within_groups(
    df: DataFrame,
    id_col: str,
    group_cols: list[str],
    max_group_size: int | None = None,
) -> DataFrame:
    """Distinct (id1, id2) pairs (id1 < id2) co-occurring in any group.

    The groups are the baskets of ``operators.graph.basket_pairs`` (one
    aggregation, no group-key self-join, so the upstream that produced
    ``df`` is computed once). Group occupancy must be small (LSH buckets
    are, by construction); pair fan-out is occupancy² and a degenerate
    hot group concentrates in one row — pass ``max_group_size`` to drop
    such groups outright (a bucket with thousands of occupants carries
    boilerplate, not near-dup signal).

    What the cap bounds: the QUADRATIC pair fan-out — the actual OOM/runtime
    vector at 100 TB. Collection state stays LINEAR in group size (the
    occupant set of a mega-group is buffered once before the size filter
    drops it: ~8 MB per million ids — survivable where occupancy² is not).
    Callers needing bounded collection state too must pre-filter via a
    separate count aggregate, at the price of running the upstream pipeline
    twice (no subtree reuse under BroadcastExchange).
    """
    grouped = df.withColumn("__group", F.struct(*group_cols))
    return (
        basket_pairs(grouped, "__group", id_col, max_group_size)
        .select(F.col("u").alias("id1"), F.col("v").alias("id2"))
        .distinct()
    )


def lsh_delta_candidate_pairs(
    buckets: DataFrame,
    id_col: str,
    new_flag_col: str,
    max_bucket_occupancy: int | None = None,
) -> DataFrame:
    """Incremental-ingest LSH candidates: pairs sharing a band bucket where
    AT LEAST ONE side is newly arrived — the already-indexed × already-
    indexed quadrant is never emitted (it was deduped when those docs
    arrived).

    This is the daily-ingest shape of corpus dedup at 100 TB: the indexed
    side's band buckets are persisted state (recomputed here only because
    fixtures are plain files — on a cluster they come off the stored
    index), and per-bucket pair fan-out is occupancy × new-occupancy, not
    occupancy², so a day's delta costs O(|delta| × bucket occupancy)
    regardless of total corpus size. Same single-aggregation formulation
    as :func:`pairs_within_groups` (no self-join, no double-materialized
    upstream), same occupancy cap against degenerate buckets; the
    old×old exclusion happens inside the pair lambda, so excluded pairs
    are never materialized anywhere.
    """
    occupants = (
        buckets.groupBy("band", "band_sig")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("id"),
                        F.col(new_flag_col).cast("int").alias("is_new"),
                    )
                )
            ).alias("occ")
        )
        .filter(F.size("occ") >= 2)
        # buckets with no new occupant produce nothing: drop them before
        # the quadratic lambda (the overwhelming majority on a daily delta)
        .filter(F.exists("occ", lambda s: s["is_new"] == 1))
    )
    if max_bucket_occupancy is not None:
        occupants = occupants.filter(F.size("occ") <= max_bucket_occupancy)
    n = F.size("occ")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.filter(
                F.transform(
                    F.sequence(i + 1, n - 1),
                    lambda j: F.struct(
                        F.get(F.col("occ"), i)["id"].alias("id1"),
                        F.get(F.col("occ"), j)["id"].alias("id2"),
                        (
                            F.get(F.col("occ"), i)["is_new"]
                            + F.get(F.col("occ"), j)["is_new"]
                        ).alias("n_new_sides"),
                    ),
                ),
                lambda p: p["n_new_sides"] >= 1,
            ),
        )
    )
    return (
        occupants.select(F.explode(combos).alias("p"))
        .select("p.id1", "p.id2", "p.n_new_sides")
        .distinct()
    )


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str, max_bucket_occupancy: int | None = None
) -> DataFrame:
    """Near-dup candidates: doc pairs sharing any band bucket (id1 < id2).

    Grouping is on the COMPOSITE (band, band_sig): band alone has only
    #bands distinct values, so grouping on it would pool the whole corpus
    into #bands cells (corpus²/#bands pair fan-out) — the exact blow-up LSH
    exists to avoid. Per composite bucket, fan-out is occupancy², i.e.
    proportional to true duplicate density. Pair generation via
    :func:`pairs_within_groups` (single-pass, no self-join).
    """
    return pairs_within_groups(
        buckets, id_col, ["band", "band_sig"], max_group_size=max_bucket_occupancy
    )


def ngram_jaccard_pairs(
    shingle_df: DataFrame, id_col: str, threshold: float, max_shingle_df: int | None = None
) -> DataFrame:
    """Exact shingle-set Jaccard for pairs sharing >=1 shingle.

    (id1, id2, jaccard) with jaccard >= threshold. The shingle equi-join only
    materializes pairs that share content — disjoint docs never meet.

    Scale guard: the join fans out quadratically per shingle VALUE, so a
    stop-shingle appearing in k docs contributes k² rows. ``max_shingle_df``
    drops shingles above that document frequency before the join (slightly
    perturbing jaccard — which is why it's opt-in and the oracle-checked
    query leaves it off; in a 100 TB corpus the cap, or MinHash-LSH
    prefiltering as in ``near_dup_dedup_corpus``, is mandatory).
    """
    if max_shingle_df is not None:
        df_counts = shingle_df.groupBy("shingle").agg(
            F.count("*").alias("__shingle_df")
        )
        shingle_df = (
            shingle_df.join(
                F.broadcast(df_counts.filter(F.col("__shingle_df") > max_shingle_df)),
                "shingle",
                "left_anti",
            )
        )
    sizes = shingle_df.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    # self-join on an int64 shingle id, not the shingle string: the text is
    # never an output, so the internal deterministic xxhash64 stands in —
    # halves the shuffle bytes of the widest join in the dedup stack; a
    # (astronomically unlikely) collision inflates n_inter and FAILS the
    # oracle rather than passing silently
    hashed = shingle_df.select(F.col(id_col), F.xxhash64("shingle").alias("__sid"))
    a = hashed.select(F.col(id_col).alias("id1"), "__sid")
    b = hashed.select(F.col(id_col).alias("id2"), "__sid")
    inter = (
        a.join(b, "__sid")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    # sizes is one row PER DOCUMENT — never broadcast-hint it (executor OOM
    # at corpus scale); plain equi-joins, AQE broadcasts when truly small
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def jaccard_verify_candidates(
    cand: DataFrame, shingle_df: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-Jaccard computed ONLY for the given candidate pairs —
    the verify half of candidate→verify dedup, with the cost the docstrings
    promise: Σ_cand |shingles(id1)| join rows, LINEAR in candidate count.

    Why this exists (r6 sf1 curve): ``ngram_jaccard_pairs(...)
    .join(cand, left_semi)`` — the old formulation in the corpus-dedup
    queries — computes the corpus-wide Σdf² shingle self-join FIRST and
    filters after; Catalyst cannot push a pair-level semi-join below the
    self-join's aggregate, so the quadratic work happens anyway. Here the
    candidate list drives the join: explode each pair by id1's shingles,
    equi-join on (id2, shingle) to count intersections, then the same
    rounded-Jaccard filter as :func:`ngram_jaccard_pairs` (identical
    arithmetic, so swapping formulations never changes the verified set).
    """
    hashed = shingle_df.select(
        F.col(id_col), F.xxhash64("shingle").alias("__sid")
    )
    sizes = shingle_df.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = hashed.select(F.col(id_col).alias("id1"), "__sid")
    b = hashed.select(F.col(id_col).alias("id2"), "__sid")
    inter = (
        cand.select("id1", "id2")
        .join(a, "id1")
        .join(b, ["id2", "__sid"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    # per-document tables: plain equi-joins, AQE decides broadcasts
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def containment_pairs(
    shingle_df: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directional shingle containment C(A|B) = |A∩B|/|A| for pairs sharing
    ≥1 shingle: (id1, id2, cont1, cont2), kept when either direction ≥
    threshold.

    The asymmetric companion to ``ngram_jaccard_pairs`` — quote-inclusion
    and partial-copy detection where Jaccard under-scores a small doc
    embedded in a large one (near-containment dedup keeps the superset
    doc). Identical join topology: hashed-shingle-id equi-join, so the same
    scale guard applies and is threaded through here: ``max_shingle_df``
    drops shingles shared by more than that many docs BEFORE the self-join
    (a stop-shingle in k docs otherwise contributes k² candidate rows).
    Containment is then measured over the kept shingles — sizes are
    computed after the cap so cont stays a true ratio of the compared sets.

    The per-doc sizes joins are deliberately NOT broadcast-hinted: sizes
    has one row per document, which at corpus scale is an executor-OOM
    broadcast; they are plain equi-joins on the pair ids and AQE may still
    choose broadcast when the input is actually small."""
    if max_shingle_df is not None:
        df_counts = shingle_df.groupBy("shingle").agg(
            F.count("*").alias("__shingle_df")
        )
        shingle_df = shingle_df.join(
            F.broadcast(df_counts.filter(F.col("__shingle_df") > max_shingle_df)),
            "shingle",
            "left_anti",
        )
    sizes = shingle_df.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    hashed = shingle_df.select(F.col(id_col), F.xxhash64("shingle").alias("__sid"))
    a = hashed.select(F.col(id_col).alias("id1"), "__sid")
    b = hashed.select(F.col(id_col).alias("id2"), "__sid")
    inter = (
        a.join(b, "__sid")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .withColumn("cont1", F.round(F.col("n_inter") / F.col("n1"), 4))
        .withColumn("cont2", F.round(F.col("n_inter") / F.col("n2"), 4))
        .filter((F.col("cont1") >= threshold) | (F.col("cont2") >= threshold))
        .select("id1", "id2", "cont1", "cont2")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 16,
    shingle_n: int | None = None,
) -> DataFrame:
    """SimHash signature per doc: per-bit majority vote over distinct-token
    hashes, packed into an int (id, simhash).

    ``shingle_n`` switches the voting features from distinct unigrams to
    distinct n-token shingles — the right granularity for document
    NEAR-DUP detection (unigram sets collide for any two docs sharing a
    vocabulary; word ORDER is what separates a near-copy from a same-topic
    doc — measured on the fixture corpus: unigram radius-3 pairs ≈ 18.7k
    vs 25 true Jaccard-0.5 near-dups, shingle radius-3 pairs track the
    true set).

    Two shuffles ((id,bit) then id), both pre-combined map-side; bits table
    is broadcast.
    """
    # unigram voting: no spread() — tokenize is cheap per row and the
    # repartition shuffle of the text bodies costs more than it saves
    # (measured 5x at sf0.1). SHINGLE voting flips that economics: ~240
    # sha256 hashes per row dominate, and the fixture's single-row-group
    # scan serializes them onto one task — spread() first (same call
    # shingle_set makes; measured 3.6 s -> 0.6 s signature at sf0.1)
    feats = tokens(F.col(text_col))
    src = df
    if shingle_n is not None:
        feats = shingles(feats, shingle_n)
        src = spread(df)
    toks = src.select(
        F.col(id_col), F.explode(F.array_distinct(feats)).alias("tok")
    ).withColumn("h", token_hash64(F.col("tok")))
    # all bit-votes as parallel aggregations over the same token rows: ONE
    # shuffle on id, no n_bits× row inflation (the crossJoin-a-bits-table
    # formulation multiplies the shuffle 16×)
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(F.expr(f"(shiftright(h, {j}) % 2) * 2 - 1")).alias(f"v_{j}")
            for j in range(n_bits)
        ]
    )
    packed = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN {1 << j}L ELSE 0L END)" for j in range(n_bits)
    )
    return votes.select(F.col(id_col), F.expr(packed).alias("simhash"))


def chunk_dup_stats(
    df: DataFrame, id_col: str, text_col: str, chunk_len: int = 8
) -> DataFrame:
    """Cross-document duplicate-chunk ratio (the CCNet/C4 line-dedup shape,
    recast over fixed-length token chunks since the fixture corpus has no
    newlines): split each doc into non-overlapping ``chunk_len``-token
    chunks, find chunks whose document frequency is ≥ 2, and score each doc
    by the fraction of its chunks that are cross-doc duplicates.

    Scale shape: chunk df is a grouped count over distinct (doc, chunk) —
    one shuffle on the chunk key — and the join-back only carries the df ≥ 2
    subset (duplicated chunks are the rare tail of the distribution), which
    AQE will broadcast when it is small. No all-pairs comparison anywhere.
    """
    toks = tokens(F.col(text_col))
    n_chunks = F.floor(F.size(toks) / chunk_len).cast("int")
    chunk_at = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, i * chunk_len + 1, chunk_len)
    )
    exploded = (
        df.filter(F.size(toks) >= chunk_len)
        .select(
            F.col(id_col),
            F.explode(F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk_at)).alias(
                "chunk"
            ),
        )
    )
    totals = exploded.groupBy(id_col).agg(F.count("*").alias("n_chunks"))
    dfreq = (
        exploded.distinct()
        .groupBy("chunk")
        .agg(F.count("*").alias("chunk_df"))
        .filter(F.col("chunk_df") >= 2)
    )
    dup = exploded.join(dfreq, "chunk").groupBy(id_col).agg(
        F.count("*").alias("n_dup")
    )
    return totals.join(dup, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup_chunks"),
        F.round(F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_chunks"), 4).alias(
            "dup_chunk_ratio"
        ),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Exact token-set Jaccard join via PREFIX FILTERING (PPJoin family,
    Xiao et al. 2008): order every doc's distinct tokens by global
    document frequency (rarest first, ties by token), keep only the first
    ``|d| - ceil(t·|d|) + 1`` tokens as the signature prefix, and generate
    candidates from a self-equi-join on PREFIX tokens only. The filter is
    LOSSLESS for jaccard ≥ t: two sets with that similarity must overlap
    within their prefixes under any shared total token order — so the
    result equals the exact all-pairs join, which is what the oracle
    computes.

    Why this scales where the naive token self-join does not: stop tokens
    sit at the END of the frequency ordering and fall outside every
    prefix, so the quadratic fan-out a shared stop token causes in the
    raw join simply never materializes — candidate volume tracks RARE
    token co-occurrence. Verification joins the candidate pairs back to
    the full token sets (fan-out bounded by candidates × doc size), and
    the df table joins plain (vocabulary grows with the corpus — no
    broadcast hint, AQE decides).
    """
    from ab_inbev_big_data_case_spark.functions.text import tokens

    toks = cut(
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        ),
        "prefix_filter_jaccard_pairs.toks",
    )  # 4 consumers: dfreq, ranked, sizes, tsets
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "tok")
    sizes = toks.groupBy("__id").agg(F.count("*").alias("__sz"))
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, "__id")
    )
    # Pin the self-join's width EXPLICITLY: its input is ~1 MB of prefix
    # tokens, so AQE coalesces the exchange to ONE partition — and the
    # join's candidate fan-out then runs on one core (measured: a single
    # 105 s task at sf0.1 under a 1 MB shuffle read). A user repartition by
    # the join key is respected by AQE, co-partitions both sides of the
    # self-join (no extra exchange), and scales with the scheduler width.
    par = df.sparkSession.sparkContext.defaultParallelism
    prefix = ranked.filter(
        F.col("__rn") <= F.col("__sz") - F.ceil(threshold * F.col("__sz")) + 1
    ).select("__id", "tok", "__rn", "__sz").repartition(par, "tok")
    p1 = prefix.select(
        F.col("__id").alias("id1"), "tok",
        F.col("__rn").alias("__p1"), F.col("__sz").alias("__n1"),
    )
    p2 = prefix.select(
        F.col("__id").alias("id2"), "tok",
        F.col("__rn").alias("__p2"), F.col("__sz").alias("__n2"),
    )
    # POSITIONAL filter (the PPJoin refinement over the plain prefix
    # filter, Xiao et al. 2008 §3.2): a shared prefix token at positions
    # (p1, p2) bounds the overlap by 1 + min(n1−p1, n2−p2) (all common
    # tokens sit at or after the first shared one in the shared order),
    # and jaccard ≥ t needs overlap ≥ ceil(t/(1+t)·(n1+n2)). A qualifying
    # pair always passes at its FIRST shared prefix token, so keeping
    # pairs where ANY shared token passes is lossless under exactly the
    # premise the prefix filter itself assumes — and it prunes the
    # template-token pair fan-out the plain filter lets through
    # (measured: the fixture's hottest prefix token sits in 3,854 docs;
    # raw token-pair volume 112.6 M at sf0.1, a 595 MB candidate shuffle).
    ubound = 1 + F.least(
        F.col("__n1") - F.col("__p1"), F.col("__n2") - F.col("__p2")
    )
    # ceil over DOUBLES can overshoot by 1 when t/(1+t)·(n1+n2) is an exact
    # integer and the float product lands epsilon ABOVE it (ADVICE r15:
    # t=0.8 at n1+n2=63, t=0.9 at 133, ... — falsely pruning pairs whose
    # jaccard equals the threshold exactly). Subtract 1e-6 before the ceil:
    # the fp error of the product is < ~1e-9·(n1+n2) ≤ 0.5e-6 for set sizes
    # up to 2^31, so exact-integer values still ceil to themselves, while a
    # genuinely fractional value for any rational threshold p/q sits
    # ≥ 1/(p+q) above its floor — unaffected for all q+p < ~6·10^5.
    minov = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("__n1") + F.col("__n2"))
        - F.lit(1e-6)
    )
    cands = (
        p1.join(p2, "tok")
        .filter((F.col("id1") < F.col("id2")) & (ubound >= minov))
        .select("id1", "id2")
        .distinct()
        .repartition(par, "id1")  # same width pinning for the verify join
    )
    # Verify IN-ROW: attach each side's (bounded, per-doc) distinct token
    # set once and count the intersection with array_intersect, instead of
    # fanning every candidate pair out to a pair×token join and counting
    # matches (two equi-joins of pairs × doc-size rows). Same integers:
    # |tokens(d1) ∩ tokens(d2)| either way.
    tsets = toks.groupBy("__id").agg(
        F.collect_list("tok").alias("__ts"), F.count("*").alias("__n")
    )
    a1 = tsets.select(
        F.col("__id").alias("id1"), F.col("__ts").alias("__ts1"),
        F.col("__n").alias("__n1"),
    )
    a2 = tsets.select(
        F.col("__id").alias("id2"), F.col("__ts").alias("__ts2"),
        F.col("__n").alias("__n2"),
    )
    return (
        cands.join(a1, "id1")
        .join(a2, "id2")
        .withColumn("__ni", F.size(F.array_intersect("__ts1", "__ts2")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__ni") / (F.col("__n1") + F.col("__n2") - F.col("__ni")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def dup_span_stats(
    df: DataFrame, id_col: str, text_col: str, span_len: int = 8
) -> DataFrame:
    """Exact-substring duplication coverage at ``span_len``-token span
    granularity (Lee et al. 2021, arXiv:2107.06499, the dedup that chunk
    dedup under-counts): every OVERLAPPING span occurring in ≥ 2 documents
    marks its token interval, the per-doc intervals are unioned, and the
    covered-token ratio reported.

    Interval union without a per-token explode: spans sort by start within
    each doc; a running ``max(end)`` over the PRECEDING rows detects chain
    breaks (``start >= running_end`` opens a new run), a cumulative sum of
    break flags labels the runs, and each run's union length is
    ``max(end) − min(start)`` — valid because inside a run every interval
    starts before the running coverage end, so the run is gap-free. Both
    windows are PARTITIONED BY doc: state per task is one document's spans
    at any corpus size. Span identity shuffles as the portable int64 hash,
    not the span text (same key-narrowing as the Jaccard verify join).
    """
    toks = tokens(F.col(text_col))
    t = df.select(F.col(id_col), toks.alias("toks"))
    sph = t.select(
        id_col, F.posexplode(shingles(F.col("toks"), span_len)).alias("pos", "span")
    ).select(id_col, "pos", token_hash64(F.col("span")).alias("h"))
    dfreq = (
        sph.groupBy("h")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    dup = sph.join(dfreq, "h").select(
        id_col, "pos", (F.col("pos") + span_len).alias("fin")
    )
    wprev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = (
        dup.withColumn("pmax", F.max("fin").over(wprev))
        .withColumn(
            "newg",
            F.when(
                F.col("pmax").isNull() | (F.col("pos") >= F.col("pmax")), 1
            ).otherwise(0),
        )
        .withColumn("grp", F.sum("newg").over(wcum))
    )
    runs = grouped.groupBy(id_col, "grp").agg(
        F.count("*").alias("n_spans"), (F.max("fin") - F.min("pos")).alias("cov")
    )
    perdoc = runs.groupBy(id_col).agg(
        F.sum("n_spans").alias("n_dup_spans"), F.sum("cov").alias("covered")
    )
    tot = t.select(id_col, F.size("toks").cast("long").alias("n_tokens"))
    return tot.join(perdoc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
        F.round(F.coalesce("covered", F.lit(0)) / F.col("n_tokens"), 4).alias(
            "dup_token_ratio_r"
        ),
    )


# ---------------------------------------------------------- DuckDB twins


def shingle_set_sql(src: str = "documents") -> str:
    """Twin of :func:`shingle_set` (n = 3): CTEs ``toksrc`` and
    ``sh(doc_id, shingle)`` over ``src``, a relation with ``doc_id`` and
    ``text``."""
    return f"""
    toksrc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
    sh AS (
        SELECT doc_id, unnest(list_distinct({shingles_sql("toks")})) AS shingle
        FROM toksrc
    )"""


#: Twin of :func:`minhash_signatures` over ``sh``: CTEs ``hashed`` and
#: ``sig(doc_id, seed, minhash)``, 8 seeds.
MINHASH_SIG_SQL = f"""
    hashed AS (SELECT doc_id, {token_hash_mod_sql("shingle")} AS h9 FROM sh),
    sig AS (
        SELECT doc_id, seed,
               min(((2*seed + 1) * h9 + 104729 * seed) % {HASH_MOD}) AS minhash
        FROM hashed CROSS JOIN range(8) t(seed)
        GROUP BY 1, 2
    )"""

#: Twin of :func:`lsh_band_buckets_wide` (8 hashes, 2 rows per band) over
#: ``sig``: CTE ``bands(doc_id, band, band_sig)``.
LSH_BANDS_SQL = f"""
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               sum(minhash * (CASE WHEN seed % 2 = 0 THEN {HASH_MOD} ELSE 1 END)) AS band_sig
        FROM sig GROUP BY 1, 2
    )"""

#: The occupancy cap of :func:`lsh_candidate_pairs` over ``bands``: CTEs
#: ``bsize`` and ``kept_bands(doc_id, band, band_sig)``, the buckets with
#: 2..``LSH_MAX_BUCKET_OCCUPANCY`` occupants.
KEPT_BANDS_SQL = f"""
    bsize AS (SELECT band, band_sig, count(*) AS n_occ FROM bands GROUP BY 1, 2),
    kept_bands AS (
        SELECT b.doc_id, b.band, b.band_sig
        FROM bands b JOIN bsize z ON z.band = b.band AND z.band_sig = b.band_sig
        WHERE z.n_occ BETWEEN 2 AND {LSH_MAX_BUCKET_OCCUPANCY}
    )"""


def lsh_pairs_sql(name: str, a: str = "id1", b: str = "id2") -> str:
    """Twin of :func:`lsh_candidate_pairs` over ``kept_bands``: CTE
    ``name(a, b)`` of the distinct doc pairs (a < b) sharing a kept band
    bucket. Materialized, as the connected-components oracles read it once
    per round."""
    return f"""
    {name} AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS {a}, y.doc_id AS {b}
        FROM kept_bands x JOIN kept_bands y
          ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id
    )"""


def simhash_sig_sql(name: str = "sig") -> str:
    """Twin of ``simhash(df, id, text, 60, shingle_n=3)`` over ``sh``: CTEs
    ``sh_h``, ``votes`` and ``name(doc_id, s)`` (``ssig`` beside the MinHash
    ``sig``)."""
    return f"""
    sh_h AS (SELECT doc_id, {token_hash64_sql("shingle")} AS h FROM sh),
    votes AS (
        SELECT doc_id, bit, sum(((h >> bit::INT) % 2) * 2 - 1) AS net_vote
        FROM sh_h CROSS JOIN range(60) t(bit)
        GROUP BY 1, 2
    ),
    {name} AS (
        SELECT doc_id,
               sum(CASE WHEN net_vote > 0
                        THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT AS s
        FROM votes GROUP BY 1
    )"""


def simhash_band_pairs_sql(sig: str = "sig") -> str:
    """The SimHash band split over the signature CTE ``sig``: CTEs
    ``sbands(doc_id, b, bv)`` — four 15-bit bands of the 60-bit signature —
    and ``scand(id1, id2)``, the distinct doc pairs sharing a band value."""
    return f"""
    sbands AS (
        SELECT doc_id, b, (s >> (15 * b)::INT) & 32767 AS bv
        FROM {sig} CROSS JOIN range(4) t(b)
    ),
    scand AS (
        SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
        FROM sbands x JOIN sbands y
          ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
    )"""
