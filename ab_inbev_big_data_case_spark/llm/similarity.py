"""Embedding similarity search: brute-force cosine top-k, random-hyperplane
LSH ANN and IVF (inverted-file) ANN, each with its DuckDB twin.

Vectors are ``array<float>`` columns; all arithmetic is done JVM-side with
array lambdas (``zip_with``/``aggregate``/``transform``) after casting each
element to double — explicit left-to-right double accumulation, which both
Spark and DuckDB reproduce exactly (needed for oracle checks).

Quantize before rank: every cosine is rounded to 3 decimals before any
ordering decision, and every ranking breaks ties on the id (candidates by
``cosine DESC NULLS LAST, cand_id``, probed cells by ``cell_id``). Two FP
implementations may disagree at the last ulp; rounded, they agree, so top-k
sets, ranks and the recalls built on them are identical in both engines.

Scale posture:
- **brute force** is O(|Q|·|C|) with the candidate side broadcast when the
  query set is small — correct baseline, and actually optimal when Q is tiny.
- **random-hyperplane LSH** buckets vectors by sign patterns; search joins
  query buckets to candidate buckets (equi-join on the bucket id) so only
  same-bucket vectors are compared. Hyperplane coefficients are generated by
  integer arithmetic (no RNG) so the bucketing is reproducible anywhere.
- **IVF** assigns every vector to its nearest of K centroids (corpus rows
  picked by an id modulus, K ≈ √N or capped); a query probes its
  ``n_probe`` nearest cells and meets only the vectors assigned there.

The retrieval audit ranks one fixed query sample (:func:`audit_query`,
``AUDIT_QUERY_SQL``) exactly and through each ANN index. Its DuckDB twins
are CTE generators, plain text that the query oracles compose — each an
independent DuckDB formulation, never a call into Spark:

- :func:`cosine_topk_sql` — the brute-force top-k of :func:`cosine_topk`;
- :func:`lsh_ranked_sql` — every LSH bucket-mate of
  :func:`ann_lsh_search`, ranked;
- :func:`ivf_candidates_sql` — the probed candidates of
  :func:`ivf_candidates`, which :func:`ivf_search` ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.operators.partitioning import spread
from ab_inbev_big_data_case_spark.operators.lineage import cut


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def audit_query(vid: Column) -> Column:
    """The retrieval audit's fixed query sample: every 50th id below 500
    (``AUDIT_QUERY_SQL`` in the oracles)."""
    return (vid % 50 == 0) & (vid < 500)


AUDIT_QUERY_SQL = "vec_id % 50 = 0 AND vec_id < 500"


def with_l2_norm(df: DataFrame, vec_col: str, out_col: str = "l2_norm") -> DataFrame:
    return df.withColumn(out_col, _norm(F.col(vec_col)))


def cosine_pairs_hof(
    queries: DataFrame,
    candidates: DataFrame,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
    round_to: int = 3,
) -> DataFrame:
    """Reference JVM implementation of the all-pairs cosine (broadcast
    crossJoin + array-lambda dot). Kept as the executable semantics spec:
    :func:`cosine_pairs` (the vectorized fast path) must produce IDENTICAL
    output — pinned by ``tests/test_llm.py::test_cosine_pairs_vectorized_
    identity``."""
    # norms are computed ONCE per input row, before the pair join — inside
    # the join they'd be re-evaluated per pair (|Q|× for candidates)
    q = F.broadcast(
        queries.select(
            F.col(q_id).alias("query_id"),
            F.col(q_vec).alias("__qv"),
            _norm(F.col(q_vec)).alias("__qn"),
        )
    )
    c = candidates.select(
        F.col(c_id).alias("cand_id"),
        F.col(c_vec).alias("__cv"),
        _norm(F.col(c_vec)).alias("__cn"),
    )
    return (
        c.crossJoin(q)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(
                _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
                round_to,
            ).alias("cosine"),
        )
    )


def cosine_pairs(
    queries: DataFrame,
    candidates: DataFrame,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
    round_to: int = 3,
) -> DataFrame:
    """All (query, candidate) cosine similarities, query side broadcast.

    Cosine is rounded to ``round_to`` decimals *inside* the operator: rank
    stability across engines/architectures requires quantizing before any
    ordering decision (two FP implementations may disagree at the last ulp).

    Execution (r11): same Arrow-batched numpy pattern as
    :func:`ivf_assign` — the query side is Q-bounded (it was already the
    broadcast side of the crossJoin), collected once and shipped via
    ``sc.broadcast``; each candidate batch computes the full |batch|×Q
    block with the identical left-to-right rank-1-update accumulation and
    HALF_UP rounding (see ``_round_half_up_np``), so output is
    bit-identical to :func:`cosine_pairs_hof` (identity-tested per SF)
    at ~10× less per-pair cost than the array-lambda fold. ``spread()``
    rebalances the candidate scan because cost is rows×Q×dim, not bytes.
    """
    import numpy as np
    import pandas as pd

    q_type = queries.schema[q_id].dataType.simpleString()
    c_type = candidates.schema[c_id].dataType.simpleString()
    out_schema = f"query_id {q_type}, cand_id {c_type}, cosine double"

    q_rows = queries.select(
        F.col(q_id).alias("query_id"), F.col(q_vec).alias("qv")
    ).collect()  # Q-bounded: the documented broadcast-side envelope
    if not q_rows:
        # ADVICE r11: an empty query set collects to a 1-D empty array and
        # the (nq, dim) unpack would raise — the hof twin returns an empty
        # DataFrame here, so mirror that with the declared schema.
        return queries.sparkSession.createDataFrame([], out_schema)
    q_rows.sort(key=lambda r: r["query_id"])
    # Native-dtype ids (no int64 coercion): string/decimal query ids must
    # round-trip unchanged, exactly as the hof twin handled them.
    qids = np.array([r["query_id"] for r in q_rows])
    qm = np.array(
        [[float(x) for x in r["qv"]] for r in q_rows], dtype=np.float64
    )
    nq, dim = qm.shape
    qn = np.zeros(nq, dtype=np.float64)
    for k in range(dim):  # left-to-right fold, mirrors _norm exactly
        qn += qm[:, k] * qm[:, k]
    qn = np.sqrt(qn)
    bc = queries.sparkSession.sparkContext.broadcast((qids, qm, qn))

    def score(batches):
        b_qids, b_qm, b_qn = bc.value
        kk, d = b_qm.shape
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]],
                dtype=np.float64,
            )
            n_r = len(pdf)
            dot = np.zeros((n_r, kk), dtype=np.float64)
            nv = np.zeros(n_r, dtype=np.float64)
            for k in range(d):  # same index-order accumulation as the fold
                dot += np.outer(x[:, k], b_qm[:, k])
                nv += x[:, k] * x[:, k]
            nv = np.sqrt(nv)
            cos = dot / (b_qn[None, :] * nv[:, None])
            r = _round_half_up_np(cos, round_to)
            cids = pdf["cand_id"].values
            keep = cids[:, None] != b_qids[None, :]
            ci, qi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": b_qids[qi],
                    "cand_id": cids[ci],
                    "cosine": r[ci, qi],
                }
            )

    return spread(
        candidates.select(
            F.col(c_id).alias("cand_id"), F.col(c_vec).alias("__v")
        )
    ).mapInPandas(score, out_schema)


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
    k: int,
) -> DataFrame:
    """Brute-force top-k: (query_id, cand_id, cosine, rank), ranked per
    query on (rounded cosine desc, cand_id)."""
    from pyspark.sql import Window

    sims = cosine_pairs(queries, candidates, q_id, c_id, q_vec, c_vec)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def lsh_hyperplane(i: int, j: int) -> int:
    """Deterministic hyperplane coefficient in [-998, 998], derived from
    sha256 so planes are mutually independent (a linear-congruential formula
    here produces correlated planes and collapses ANN recall — measured 6%
    vs ~46% theoretical on the fixture corpus). Computed once in Python and
    embedded as literals in both the Spark plan and the SQL oracle."""
    import hashlib

    digest = hashlib.sha256(f"plane:{i}:{j}".encode()).digest()
    return int.from_bytes(digest[:4], "big") % 1997 - 998


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int | None = None,
    spread_input: bool = False,
) -> DataFrame:
    """Multi-table LSH buckets: (vec_id, tbl, bucket).

    Classic multi-table random-hyperplane LSH: ``n_tables`` independent hash
    tables of ``n_planes`` sign-bits each (plane index t·n_planes+i keeps
    tables independent). Few planes per table keeps buckets dense (high
    recall); multiple tables drive the miss probability down exponentially —
    P(miss) = (1-p^b)^L for bit-agreement p.

    Computed as one array-lambda expression per plane — no explode, no
    shuffle; a narrow map over the vectors.

    ``dim`` is the embedding dimensionality; pass it explicitly (array
    schemas don't carry length). The ``None`` fallback peeks at one row —
    cheap, but it is an extra Spark job per call, so callers on a hot path
    should always supply it.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    # spread_input now defaults OFF: A/B at sf0.1 showed the repartition
    # shuffle costs more than the plane projections it parallelizes
    # (1.18s -> 0.49s without). Callers with genuinely pathological
    # single-partition + huge-dim inputs can still opt in.
    if spread_input:
        df = spread(df)
    # All n_tables buckets in ONE projection, unpivoted with stack: a single
    # scan and a single (narrow) generate — the union-of-selects formulation
    # re-scans the input once per table and quadruples the plan/codegen cost.
    # The whole expression is assembled as ONE SQL string parsed JVM-side:
    # composing it Column-by-Column makes n_tables·n_planes py4j round trips
    # for the lambda builders, and that driver-side chatter (~2s per fresh
    # plan) dwarfed execution (~1s) at fixture scale. Same Catalyst plan.
    def plane_sql(g: int) -> str:
        arr = ", ".join(f"CAST({float(lsh_hyperplane(g, j))} AS DOUBLE)" for j in range(dim))
        return (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            "(x, h) -> CAST(x AS DOUBLE) * h), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    buckets = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN {plane_sql(t * n_planes + i)} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )
        buckets.append(f"CAST({t} AS BIGINT), CAST({bits} AS BIGINT)")
    stack_sql = f"stack({n_tables}, {', '.join(buckets)}) AS (tbl, bucket)"
    return df.select(F.col(id_col).alias("vec_id"), F.expr(stack_sql))


def ann_lsh_search(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter,
    n_planes: int = 4,
    n_tables: int = 4,
    min_cosine: float = 0.0,
    dim: int | None = None,
) -> DataFrame:
    """ANN: compare queries only to candidates sharing a bucket in ANY table.

    Candidate generation is a (tbl, bucket) equi-join + distinct — the
    O(|Q|·N) cross join shrinks to same-bucket pairs; cosine is computed once
    per distinct candidate pair. Recall/cost is tuned by (n_planes,
    n_tables) per the P(miss) formula on :func:`hyperplane_buckets`.
    """
    buckets = hyperplane_buckets(df, id_col, vec_col, n_planes, n_tables, dim=dim)
    # Query-side buckets from a FILTERED scan, not by filtering `buckets`:
    # the query predicate pushes into the parquet scan, so the n_tables×
    # n_planes dot-product projection runs over |Q| rows — filtering the
    # corpus-wide bucket set would evaluate the full projection a second
    # time just to keep |Q| rows of it.
    qb = hyperplane_buckets(
        df.filter(query_filter(F.col(id_col))),
        id_col,
        vec_col,
        n_planes,
        n_tables,
        dim=dim,
        spread_input=False,  # |Q| rows — a repartition here is pure overhead
    ).select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    cand_pairs = (
        buckets.withColumnRenamed("vec_id", "cand_id")
        .join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    vecs = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),  # once per vector, not per pair
    )
    qv = vecs.select(
        F.col("__id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    cv = vecs.select(
        F.col("__id").alias("cand_id"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    return (
        cand_pairs.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(
                _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
                3,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def sqrt_centroid_modulus(n: int) -> int:
    """Centroid-selection modulus for the √N nlist rule: selecting ids with
    ``id % m == 0`` where m = floor(√N) yields K ≈ √N centroids.

    WHY √N and not a fixed fraction: the coarse assignment is brute
    N×K scoring, within-cell verification is Σ|cell|² ≈ N²/K — K ∝ N makes
    the first quadratic (measured 47× wall for 10× data on the r6 sf1
    curve), K constant makes the second quadratic; K = √N balances both at
    N^1.5, the standard IVF sizing (FAISS nlist guidance). ``n`` is the
    corpus row count (one ``count()``, a parquet-metadata read — the same
    cardinality estimate any index build step needs).
    """
    import math

    return max(1, math.isqrt(n))


def capped_centroid_modulus(n: int, nlist_cap: int = 65536) -> int:
    """Centroid-selection modulus for the CAPPED nlist rule:
    K = min(⌊√N⌋, nlist_cap), i.e. m = max(⌊√N⌋, ⌈N / nlist_cap⌉).

    WHY a cap exists (VERDICT r11 item 8): the √N rule makes the coarse
    assignment N·K = N^1.5 multiply-adds — absorbed by numpy at fixture
    scale, absorbed by NO engine at 10¹¹ vectors (the 100 TB envelope,
    where √N ≈ 3·10⁵ centroids × N rows is ~10¹⁶·dim FLOPs). Production
    IVF (FAISS guidance) caps nlist at a fixed budget (2¹⁶ is customary),
    accepting larger cells — E[|cell|] = N/K grows linearly past the cap,
    which is what ``ivf_balance_report``'s capped regime row measures.
    Past the cap the right structure is a hierarchical quantizer (IVF on
    top of IVF); the assignment operator here is unchanged by that — it
    just runs once per level. ``n`` is the corpus row count.
    """
    import math

    return max(1, math.isqrt(n), -(-n // nlist_cap))


def _round_half_up_np(cos, round_to: int = 3):
    """Vectorized replica of Spark's ``round(double, n)`` =
    BigDecimal(shortest-repr).setScale(n, HALF_UP): floor(|x|·10ⁿ + 0.5)
    fast path, with a ``decimal.Decimal(repr(x))`` slow path for entries
    within 1e-9 of a .5 boundary (shortest-repr drift vs the binary value
    is ≤ ~1e-13 at |x| ≤ 1, so 1e-9 over-covers). NaN passes through."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    scale = float(10**round_to)
    quant = Decimal(1).scaleb(-round_to)
    t = np.abs(cos) * scale
    r = np.sign(cos) * (np.floor(t + 0.5) / scale)
    risky = np.abs(t - np.floor(t) - 0.5) < 1e-9
    if risky.any():
        for idx in np.argwhere(risky):
            key = tuple(idx)
            r[key] = float(
                Decimal(repr(float(cos[key]))).quantize(
                    quant, rounding=ROUND_HALF_UP
                )
            )
    return r


def ivf_assign_hof(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_filter,
    round_to: int = 3,
) -> DataFrame:
    """Reference JVM implementation of the IVF coarse-quantizer assignment
    (broadcast crossJoin + array-lambda cosine + struct-max argmax). Kept as
    the executable semantics spec: :func:`ivf_assign` (the vectorized fast
    path every query uses) must produce IDENTICAL output — pinned by
    ``tests/test_llm.py::test_ivf_assign_vectorized_identity``.

    The argmax is a struct-max aggregate, not a window: partial (map-side)
    combine collapses the N·K scored rows back to N *before* the shuffle,
    where a row_number window would shuffle all N·K. Semantics equal
    row_number over (cosine DESC, cell_id ASC) = 1 — the struct orders by
    (cosine, -cell_id) lexicographically — which is what the oracle states.
    """
    cents = F.broadcast(
        df.filter(centroid_filter(F.col(id_col))).select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("__cv"),
            _norm(F.col(vec_col)).alias("__cn"),
        )
    )
    vecs = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    scored = vecs.crossJoin(cents).select(
        "vec_id",
        "cell_id",
        F.round(
            _dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn")),
            round_to,
        ).alias("__cos"),
    )
    best = F.max(F.struct(F.col("__cos").alias("c"), (-F.col("cell_id")).alias("nc")))
    return scored.groupBy("vec_id").agg((-best.getField("nc")).alias("cell_id"))


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_filter,
    round_to: int = 3,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid.

    Returns (vec_id, cell_id) where cell_id is the id of the nearest
    centroid by rounded cosine (ties broken by centroid id — quantize-before-
    rank, same discipline as :func:`cosine_topk`).

    ``centroid_filter`` selects the centroid rows out of the corpus itself
    (deterministic subset). At scale the centroid set would come from a
    sampled k-means; the assignment plumbing — K centroids shipped to every
    executor, one narrow pass over N vectors, argmax per row — is identical
    either way.

    Execution: Arrow-batched ``mapInPandas``. The N×K scoring is the cost
    center of every IVF query (measured 18 s of the 21 s sf1
    ``semdedup_corpus`` wall in the r11 profile — the array-lambda fold
    evaluates at ~6 µs per pair, so 2.8 M pairs × 64 dims swamps the plan);
    a numpy rank-1-update loop does the identical arithmetic at BLAS speed
    and, because each input partition maps straight to (vec_id, cell_id),
    the assignment now needs ZERO shuffle (the struct-max agg shuffled N
    rows). Centroids ride an explicit ``sc.broadcast`` — K = O(√N) by the
    nlist rule (~3·10⁵ rows × dim doubles ≈ 150 MB at N = 10¹¹, the 100 TB
    envelope; beyond that the quantizer becomes hierarchical and this
    operator is unchanged). The centroid ``collect()`` is K-bounded —
    dimension-table-sized, never fact-sized.

    Exactness (pinned by ``test_ivf_assign_vectorized_identity`` against
    :func:`ivf_assign_hof` at every fixture SF): the JVM path folds
    ``aggregate(zip_with(x, y, *), 0.0, +)`` left-to-right in doubles; the
    numpy path accumulates the same products in the same index order via
    rank-1 updates (one ``+=`` per dimension), so every intermediate double
    is bit-identical — a BLAS matmul's pairwise summation would NOT be.
    Rounding mirrors Spark's ``round(double, n)`` = BigDecimal(shortest
    repr).setScale(n, HALF_UP): the vectorized floor(t+0.5) fast path is
    exact except within 1e-9 of a .5 boundary (shortest-repr drift is
    ≤ ~1e-13 at this magnitude), where the slow path recomputes through
    ``decimal.Decimal(repr(x))`` — the exact BigDecimal.valueOf semantics.
    NaN cosines (zero-norm vectors) map to +inf before the argmax so the
    'NaN greatest, ties to min cell_id' Spark ordering is preserved.
    """
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    cent_rows = (
        df.filter(centroid_filter(F.col(id_col)))
        .select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cv"))
        .collect()
    )  # K-bounded (K = O(√N) centroids): audited in test_source_guards
    if not cent_rows:
        # ADVICE r11: an empty centroid set collects to a 1-D empty array
        # and the (n_k, dim) unpack would raise — the hof twin returned an
        # empty DataFrame here, so mirror that with the declared schema.
        return df.sparkSession.createDataFrame(
            [], f"vec_id {id_type}, cell_id {id_type}"
        )
    cent_rows.sort(key=lambda r: r["cell_id"])
    # Native-dtype ids (no int64 coercion): non-integer id columns must
    # round-trip unchanged, exactly as the hof twin handled them.
    ids = np.array([r["cell_id"] for r in cent_rows])
    cmat = np.array([[float(x) for x in r["cv"]] for r in cent_rows], dtype=np.float64)
    n_k, dim = cmat.shape
    cn = np.zeros(n_k, dtype=np.float64)
    for k in range(dim):  # left-to-right fold, mirrors _norm exactly
        cn += cmat[:, k] * cmat[:, k]
    cn = np.sqrt(cn)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, cmat, cn))

    def score(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        b_ids, b_c, b_cn = bc.value
        kk, d = b_c.shape
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]],
                dtype=np.float64,
            )
            dot = np.zeros((len(pdf), kk), dtype=np.float64)
            nv = np.zeros(len(pdf), dtype=np.float64)
            for k in range(d):  # same index-order accumulation as the fold
                dot += np.outer(x[:, k], b_c[:, k])
                nv += x[:, k] * x[:, k]
            nv = np.sqrt(nv)
            cos = dot / (nv[:, None] * b_cn[None, :])
            r = _round_half_up_np(cos, round_to)
            rr = np.where(np.isnan(r), np.inf, r)
            best = np.argmax(rr, axis=1)  # first max ⇒ min cell_id on ties
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "cell_id": b_ids[best]}
            )

    # spread(): the scorer's cost is rows × K × dim, not bytes — a small
    # parquet (one scan partition) would serialize all the numpy work on
    # one core (measured 12.0× sf1→sf10 before; scan-partition bound)
    return spread(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
    ).mapInPandas(score, f"vec_id {id_type}, cell_id {id_type}")


def _assign_to_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell_id) nearest-centroid assignment by rounded cosine,
    ties to the smaller cell id — same struct-max argmax as
    :func:`ivf_assign` but against an arbitrary centroid DataFrame
    (cell_id, __cv, __cn), so recomputed k-means centroids can feed it."""
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        F.round(
            _dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn")), 3
        ).alias("__cos"),
    )
    best = F.max(F.struct(F.col("__cos").alias("c"), (-F.col("cell_id")).alias("nc")))
    return scored.groupBy("vec_id").agg((-best.getField("nc")).alias("cell_id"))


def kmeans_rounds(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seed_filter,
    n_rounds: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-round (spherical) k-means: deterministic seed centroids from
    the corpus itself, then ``n_rounds`` of assign → elementwise-mean
    recompute, all as one unrolled lineage — no driver-side iteration or
    collect, the same fixed-round pattern as min-label connected
    components (operators/graph.py:connected_components).

    Returns (assignments, centroids): assignments (vec_id, cell_id) from
    the FINAL round's argmax against the last recomputed centroids;
    centroids (cell_id, __cv, __cn). Per round the plan is: broadcast-K
    crossJoin + map-side struct-max argmax (N·K collapses before the
    shuffle), then a (cell, coord)-keyed mean whose width is K·dim —
    centroid state is bounded by K regardless of corpus size. Recomputed
    coordinates are rounded to 6 decimals so downstream rounded-cosine
    comparisons start from engine-exact inputs (the mean is the one step
    where summation order differs across engines).

    Cosine assignment + plain elementwise mean = spherical k-means: the
    rounded-cosine argmax is scale-invariant, so normalizing the mean
    would not change any assignment and is skipped.
    """
    vecs = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    cents = df.filter(seed_filter(F.col(id_col))).select(
        F.col(id_col).alias("cell_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    assign = _assign_to_centroids(vecs, cents)
    for _ in range(n_rounds - 1):
        coords = assign.join(vecs, "vec_id").select(
            "cell_id", F.posexplode("__v").alias("pos", "val")
        )
        means = coords.groupBy("cell_id", "pos").agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("av")
        )
        cents = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "av"))),
                lambda s: s.getField("av"),
            ).alias("__cv")
        )
        cents = cents.withColumn("__cn", _norm(F.col("__cv")))
        assign = _assign_to_centroids(vecs, cents)
    return assign, cents


def ivf_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter,
    centroid_filter,
    n_probe: int,
) -> DataFrame:
    """IVF ANN candidates: each query probes its ``n_probe`` nearest cells
    and meets only the vectors assigned there — the inverted-file
    alternative to the hyperplane-LSH path (:func:`ann_lsh_search`).

    Returns (query_id, cand_id, probe_rank, cosine), where probe_rank is
    the rank of the candidate's cell in the query's probe list (1 =
    nearest). Probe lists nest, so the candidates of any smaller probe
    count are the rows with ``probe_rank <= n``. Candidate generation is an
    equi-join on cell_id (probe lists × cell assignment), so compared-pair
    count is |Q|·n_probe·avg_cell_size instead of |Q|·N.
    """
    from pyspark.sql import Window

    assign = ivf_assign(df, id_col, vec_col, centroid_filter)
    queries = df.filter(query_filter(F.col(id_col)))
    # probe lists: top-n_probe cells per query by centroid cosine. Built
    # inline (not via cosine_topk) because a query that IS a centroid must
    # still probe its own cell — cosine_topk excludes the self pair.
    cents = F.broadcast(
        df.filter(centroid_filter(F.col(id_col))).select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("__cv"),
            _norm(F.col(vec_col)).alias("__cn"),
        )
    )
    q_scored = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
        .crossJoin(cents)
        .select(
            "query_id",
            "cell_id",
            F.round(
                _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 3
            ).alias("__cos"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("cell_id"))
    probes = (
        q_scored.withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= n_probe)
        .select("query_id", "cell_id", "probe_rank")
    )
    cand = (
        assign.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), "probe_rank")
        .distinct()
    )
    vecs = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    qv = vecs.select(
        F.col("__id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    cv = vecs.select(
        F.col("__id").alias("cand_id"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    return (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select(
            "query_id",
            "cand_id",
            "probe_rank",
            F.round(
                _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
                3,
            ).alias("cosine"),
        )
    )


def ivf_search(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter,
    centroid_filter,
    n_probe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF ANN top-k: (query_id, cand_id, cosine, rank) over
    :func:`ivf_candidates`, ranked per query on (cosine desc, cand_id).
    Recall is tuned by n_probe."""
    from pyspark.sql import Window

    cand = ivf_candidates(df, id_col, vec_col, query_filter, centroid_filter, n_probe)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def recall_at_k(exact: DataFrame, found: DataFrame) -> DataFrame:
    """Recall of a ranked list against the exact one, per query:
    (query_id, n_exact, n_hits, recall_r) — how many of ``exact``'s
    (query_id, cand_id) rows ``found`` also holds. ``recall_at_k_sql`` is
    the DuckDB twin."""
    hits = found.select("query_id", "cand_id", F.lit(1).alias("hit"))
    return (
        exact.select("query_id", "cand_id")
        .join(hits, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.count("*"), 4).alias("recall_r"),
        )
    )


# ------------------------------------------------------------ DuckDB twins
#
# The oracle side of the operators above, over the ``embeddings`` table.

_DOT = """(SELECT sum(a * b) FROM (SELECT unnest({x})::DOUBLE AS a, unnest({y})::DOUBLE AS b) z)"""
_NORM = """sqrt((SELECT sum(a * a) FROM (SELECT unnest({x})::DOUBLE AS a) z{tag}))"""


def _cosine_sql(x: str, y: str) -> str:
    """Rounded cosine of two array expressions, as every ranking uses it."""
    return (
        f"round({_DOT.format(x=x, y=y)} / "
        f"({_NORM.format(x=x, tag='x')} * {_NORM.format(x=y, tag='y')}), 3)"
    )


# Multi-table LSH: 4 tables × 4 planes; global plane index g = tbl*4 + il.
# Coefficients are sha256-derived in Python (lsh_hyperplane) and inlined as
# one flat 16×64 literal so Spark and DuckDB share them.
_PLANES_FLAT = "[" + ",".join(
    str(lsh_hyperplane(g, j)) for g in range(16) for j in range(64)
) + "]"

_BUCKET_SQL = f"""
    planes AS (
        SELECT (r // 64) AS g, (r % 64) AS j, ({_PLANES_FLAT})[r + 1] AS h
        FROM range(1024) t(r)
    ),
    proj AS (
        SELECT e.vec_id, p.g // 4 AS tbl, p.g % 4 AS il,
               sum(e.embedding[p.j + 1]::DOUBLE * p.h::DOUBLE) AS proj
        FROM embeddings e CROSS JOIN planes p
        GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT vec_id, tbl,
               sum(CASE WHEN proj > 0 THEN (1::BIGINT << il::INT) ELSE 0 END)::BIGINT AS bucket
        FROM proj
        GROUP BY 1, 2
    )
"""

# IVF centroid moduli (see sqrt_centroid_modulus / capped_centroid_modulus).
# The √N rule: m = floor(√N) selects K ≈ √N centroids. K must NOT be a
# fixed fraction of N: the r6 sf1 scale curve measured the old `% 29` rule
# (K ∝ N) at 47× wall-clock for 10× data — the brute nearest-centroid
# assignment is N×K work, so K ∝ N makes it quadratic.
_SQRT_MOD_SQL = (
    "(SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"
)
# The capped rule (VERDICT r11 item 8): K = min(⌊√N⌋, cap), so
# m = max(⌊√N⌋, ⌈N/cap⌉). cap=16 BINDS at every fixture SF (√N ≥ 24 even
# at sf0.001), standing in for the FAISS-style 2¹⁶ ceiling that binds at
# the 10¹¹-vector / 100 TB envelope — same regime, fixture-visible.
_NLIST_CAP = 16
_CAP_MOD_SQL = (
    f"(SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT),"
    f" CAST(ceil(count(*) / {_NLIST_CAP}.0) AS BIGINT)) FROM embeddings)"
)


def _ivf_assign_sql(mod_sql: str, suffix: str = "") -> str:
    """Twin of :func:`ivf_assign`: the CTEs ``cents<suffix>(cell_id, cv)``,
    ``scored<suffix>`` and ``assign<suffix>(vec_id, cell_id)``. The argmax is
    a row_number window here; the Spark side computes the same thing
    (highest rounded cosine, ties to the smaller cell id) in numpy."""
    return f"""
    cents{suffix} AS (
        SELECT vec_id AS cell_id, embedding AS cv FROM embeddings
        WHERE vec_id % {mod_sql} = 0
    ),
    scored{suffix} AS (
        SELECT e.vec_id, c.cell_id, {_cosine_sql('e.embedding', 'c.cv')} AS cos
        FROM embeddings e CROSS JOIN cents{suffix} c
    ),
    assign{suffix} AS (
        SELECT vec_id, cell_id FROM (
            SELECT vec_id, cell_id, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC NULLS LAST, cell_id) AS rn
            FROM scored{suffix}
        ) WHERE rn = 1
    )"""


_IVF_ASSIGN_SQL = _ivf_assign_sql(_SQRT_MOD_SQL)


def cosine_topk_sql(cte: str, k: int, vec: str = "embedding") -> str:
    """Twin of :func:`cosine_topk` over the audit sample: the CTE
    ``<cte>(query_id, cand_id, cosine, rk)``, each sample query's k nearest
    other vectors by brute force. ``vec`` is the vector expression ranked
    (``embedding[1:32]`` ranks a prefix)."""
    return f"""
    {cte} AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, cand_id) AS rk
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                       {_cosine_sql('q.v', 'c.v')} AS cosine
                FROM (SELECT vec_id, {vec} AS v FROM embeddings
                      WHERE {AUDIT_QUERY_SQL}) q,
                     (SELECT vec_id, {vec} AS v FROM embeddings) c
                WHERE c.vec_id != q.vec_id
            )
        ) WHERE rk <= {k}
    )"""


def lsh_ranked_sql(cte: str) -> str:
    """Twin of the audit's :func:`ann_lsh_search` (4 tables × 4 planes, no
    cosine floor): ``_BUCKET_SQL``'s CTEs and ``<cte>(query_id, cand_id,
    cosine, rk)``, every bucket-mate of each sample query ranked by
    (cosine DESC NULLS LAST, cand_id). Callers keep ``rk <= k``."""
    return f"""{_BUCKET_SQL},
    {cte} AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, cand_id) AS rk
        FROM (
            SELECT p.query_id, p.cand_id,
                   {_cosine_sql('x.embedding', 'y.embedding')} AS cosine
            FROM (
                SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS cand_id
                FROM (SELECT * FROM buckets WHERE {AUDIT_QUERY_SQL}) qb
                JOIN buckets cb USING (tbl, bucket)
                WHERE cb.vec_id != qb.vec_id
            ) p
            JOIN embeddings x ON x.vec_id = p.query_id
            JOIN embeddings y ON y.vec_id = p.cand_id
        )
    )"""


def ivf_candidates_sql(cte: str, n_probe: int, mod_sql: str) -> str:
    """Twin of :func:`ivf_candidates` over the audit sample, centroids the
    ids divisible by ``mod_sql`` (``_SQRT_MOD_SQL`` or ``_CAP_MOD_SQL``):
    the assignment CTEs suffixed ``_<cte>`` and ``<cte>(query_id, cand_id,
    probe_rank, cosine)``. Callers rank from it."""
    return f"""{_ivf_assign_sql(mod_sql, '_' + cte)},
    {cte} AS (
        SELECT p.query_id, p.cand_id, p.probe_rank,
               {_cosine_sql('x.embedding', 'y.embedding')} AS cosine
        FROM (
            SELECT DISTINCT pr.query_id, a.vec_id AS cand_id, pr.probe_rank
            FROM (
                SELECT * FROM (
                    SELECT q.vec_id AS query_id, c.cell_id, row_number() OVER (
                        PARTITION BY q.vec_id
                        ORDER BY {_cosine_sql('q.embedding', 'c.cv')} DESC NULLS LAST,
                                 c.cell_id) AS probe_rank
                    FROM (SELECT * FROM embeddings WHERE {AUDIT_QUERY_SQL}) q
                    CROSS JOIN cents_{cte} c
                ) WHERE probe_rank <= {n_probe}
            ) pr
            JOIN assign_{cte} a USING (cell_id)
            WHERE a.vec_id != pr.query_id
        ) p
        JOIN embeddings x ON x.vec_id = p.query_id
        JOIN embeddings y ON y.vec_id = p.cand_id
    )"""


def recall_at_k_sql(exact: str, found: str) -> str:
    """Twin of :func:`recall_at_k`: the final SELECT over two CTEs of
    (query_id, cand_id) rows."""
    return f"""
    SELECT e.query_id,
           count(*) AS n_exact,
           count(f.cand_id) AS n_hits,
           round(count(f.cand_id) * 1.0 / count(*), 4) AS recall_r
    FROM {exact} e
    LEFT JOIN {found} f ON f.query_id = e.query_id AND f.cand_id = e.cand_id
    GROUP BY e.query_id"""


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup: LSH-bucketed candidate pairs,
    cosine >= threshold verification, keep the lower id of each duplicate
    pair (canonical member).

    The embedding-space twin of the MinHash text path
    (llm.dedup.near_dup_dedup): candidates come from the bucketed equi-join
    (cost ∝ bucket occupancy², never corpus²), exact cosine runs only on
    candidates, and the final anti-join drops verified duplicates.
    """
    from ab_inbev_big_data_case_spark.llm.dedup import pairs_within_groups

    buckets = hyperplane_buckets(df, id_col, vec_col, n_planes, n_tables, dim=dim)
    # single-pass pair generation — a bucket self-join would compute the
    # hyperplane projection over the whole corpus twice
    cand = pairs_within_groups(buckets, "vec_id", ["tbl", "bucket"])
    vecs = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    v1 = vecs.select(
        F.col("__id").alias("id1"), F.col("__v").alias("__v1"), F.col("__n").alias("__n1")
    )
    v2 = vecs.select(
        F.col("__id").alias("id2"), F.col("__v").alias("__v2"), F.col("__n").alias("__n2")
    )
    dupes = (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .filter(
            F.round(
                _dot(F.col("__v1"), F.col("__v2")) / (F.col("__n1") * F.col("__n2")), 3
            )
            >= threshold
        )
        .select(F.col("id2").alias(id_col))
        .distinct()
    )
    return df.join(dupes, id_col, "left_anti").select(id_col)


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the storage/IO side of
    embedding pipelines: 4× smaller vectors for ANN shards): scale = max |x|,
    q_i = floor(x_i·127/scale + 0.5), plus the max reconstruction error.

    Quantization uses the portable ``floor(v + 0.5)`` form (not round) so the
    half-way ties are engine-stable, and every element is cast float→double
    (exact) before arithmetic so Spark and DuckDB compute identical IEEE
    doubles. Narrow per-row math — no shuffle, no UDF."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    with_scale = df.select(
        F.col(id_col),
        x.alias("_x"),
        F.array_max(F.transform(x, F.abs)).alias("_scale"),
    )
    s = F.col("_scale")
    quant = lambda v: F.floor(v * 127.0 / s + 0.5)  # noqa: E731
    return with_scale.filter(s > 0).select(
        id_col,
        F.round(s, 6).alias("scale_r"),
        F.transform(F.col("_x"), lambda v: quant(v).cast("int")).alias("q"),
        F.round(
            F.array_max(
                F.transform(F.col("_x"), lambda v: F.abs(v - quant(v) * s / 127.0))
            ),
            6,
        ).alias("max_err_r"),
    )


def semdedup_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    centroid_filter,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse-cluster embeddings with the IVF
    quantizer, generate candidate pairs only WITHIN each cell, verify by
    exact rounded cosine, keep the lower id of each duplicate pair.

    Published shape (Abbas et al. 2023, arXiv:2303.09540): near-duplicates
    in embedding space land in the same k-means cluster, so the O(n²)
    comparison shrinks to Σ |cell|² — the cluster count is the knob that
    trades recall for cost. ``max_cell_size`` drops boilerplate mega-cells
    outright (they carry duplication of the trivial kind, not near-dup
    signal), which also caps the per-group quadratic term.

    Execution (r11): the verify stage is ONE ``applyInPandas`` over cells —
    a single shuffle of (vec_id, vector) keyed by cell_id, then an in-group
    numpy Gram computation replacing the old pair-explode + two vector
    joins + per-pair array-lambda cosine (measured ~11 s of the sf1 wall).
    Arithmetic is bit-identical to the JVM fold (same rank-1-update
    index-order accumulation and HALF_UP rounding as :func:`ivf_assign` —
    the Gram diagonal reproduces ``_norm`` exactly), and NaN cosines are
    treated as greatest, matching both engines' NaN semantics. Per-group
    memory is cap-bounded (≤ max_cell_size vectors); with the cap unset the
    group is still one IVF cell, the operator's documented envelope. A doc
    belongs to exactly one cell, so the per-cell dup lists are already
    globally distinct.
    """
    import numpy as np
    import pandas as pd

    cells = ivf_assign(df, id_col, vec_col, centroid_filter)
    id_type = df.schema[id_col].dataType.simpleString()
    joined = cells.join(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")),
        "vec_id",
    )

    cap = max_cell_size
    thr = float(threshold)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame({"vec_id": pdf["vec_id"].iloc[:0]})
        if n < 2 or (cap is not None and n > cap):
            return empty
        pdf = pdf.sort_values("vec_id")
        x = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["__v"]],
            dtype=np.float64,
        )
        g = np.zeros((n, n), dtype=np.float64)
        for k in range(x.shape[1]):  # same index-order accumulation as _dot
            g += np.outer(x[:, k], x[:, k])
        nv = np.sqrt(np.diagonal(g))  # diag accumulates exactly like _norm
        cos = g / (nv[:, None] * nv[None, :])
        r = _round_half_up_np(cos, 3)
        mask = np.where(np.isnan(r), np.inf, r) >= thr  # NaN greatest
        dup = np.any(np.triu(mask, 1), axis=0)  # id2 of any (id1 < id2) pair
        return pd.DataFrame({"vec_id": pdf["vec_id"].values[dup]})

    dupes = (
        joined.groupBy("cell_id")
        .applyInPandas(verify, f"vec_id {id_type}")
        .withColumnRenamed("vec_id", id_col)
    )
    return df.join(dupes, id_col, "left_anti").select(id_col)


def gram_matrix_fixed_point(
    df: DataFrame, vec_col: str, dim: int, scale: int = 1000
) -> DataFrame:
    """Distributed Gram matrix X'X over an embedding column — the covariance/
    whitening-prep primitive (PCA, ZCA, mean-centering all start here).

    Components are fixed-point quantized first (q = floor(x*scale + 0.5),
    int64), so every engine — Spark, numpy partials, the DuckDB oracle —
    accumulates IDENTICAL integers: no floating-point summation-order
    divergence, bit-exact at any partitioning. (Error vs the real-valued
    gram is bounded by the quantization step; callers wanting floats divide
    by scale² after.)

    100 TB shape: each input partition collapses to ONE dim×dim int64
    partial (an Arrow-batched numpy ``X.T @ X`` — the only Python in the
    pipeline, and it is BLAS batch work, not per-row), so the shuffle moves
    n_partitions rows of dim² longs, never the data. The final elementwise
    sum explodes only those partials: dim²·n_partitions rows, trivial.

    Returns (i, j, gram_q) — dim² rows, gram_q = Σ q_i·q_j.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def partials(batches):
        import numpy as np

        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf):
                x = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
                )
                q = np.floor(x * float(scale) + 0.5).astype(np.int64)
                acc += q.T @ q
                seen = True
        if seen:
            yield pd.DataFrame({"g": [acc.ravel().tolist()]})

    part = df.select(F.col(vec_col).alias("__v")).mapInPandas(
        partials, "g array<long>"
    )
    idx = F.col("pos")
    return (
        part.select(F.posexplode("g").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("gram_q"))
        .select(
            (idx / dim).cast("int").alias("i"),
            (idx % dim).cast("int").alias("j"),
            "gram_q",
        )
    )


def sparse_tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_pred,
    n: int = 4,
    k: int = 5,
    idf_scale: int = 100_000,
    max_df: int | None = None,
) -> DataFrame:
    """Sparse-vector cosine top-k over n-gram TF-IDF via an INVERTED INDEX:
    (query_id, cand_id, cosine, rank) for the k nearest candidates of each
    doc matching ``query_pred``.

    The scale story is the inverted index: candidates materialize from an
    equi-join on the term key, so only documents SHARING a term ever meet —
    never the corpus×corpus cross product the dense formulation needs
    (``cosine_topk``). Posting-list length is the quadratic knob: a term in
    df documents fans out df×|queries| rows, so stop-terms dominate;
    ``max_df`` drops them before the join (cheap and principled — their idf
    weight is near zero anyway). Since r6 the oracle-checked query runs
    WITH the cap (max_df=1000) and the oracle mirrors it in its idf CTE —
    parity means matching results, and a capped oracle matches a capped
    query; the uncapped join measured quadratic on the sf1 curve.

    Determinism: weights are INTEGER (cnt * (idf_scale div df) — a floor-div
    idf, monotone in df), so dot products are exact int64 sums with no
    float summation-order sensitivity; the only floats are the two norms
    (IEEE sqrt of exact ints) and one division, identical in every engine;
    cosine is quantized to 4 decimals before ranking, ties broken on
    cand_id (quantize-before-rank, as everywhere in this engine).
    """
    from pyspark.sql import Window

    from ab_inbev_big_data_case_spark.functions.text import shingles, tokens
    from ab_inbev_big_data_case_spark.operators.partitioning import spread

    grams = cut(
        spread(df).select(
            F.col(id_col).alias("doc"),
            F.explode(shingles(tokens(F.col(text_col)), n)).alias("__g"),
        )
        # shuffle an int64 term id, not the term string: the gram text is
        # never an output, so the (internal, deterministic) xxhash64 stands
        # in for it — ~2^-47 corpus-level collision odds at 255k terms,
        # and a collision would surface as an oracle mismatch, not silence
        .select("doc", F.xxhash64("__g").alias("gram"))
        .groupBy("doc", "gram")
        .agg(F.count("*").alias("cnt")),
        # grams feeds both the idf aggregate and the weight join; w below
        # feeds three consumers (norms, query postings, corpus postings).
        # Uncut, the tokenize→shingle→count pipeline runs once PER consumer
        # (~5 corpus scans, 46 exchanges measured) — at 100 TB this seam
        # is the inverted-index layer write.
        "sparse_tfidf_topk.grams",
    )
    idf = grams.groupBy("gram").agg(
        (F.lit(idf_scale) / F.count("*")).cast("long").alias("idfq"),
        F.count("*").alias("df"),
    )
    if max_df is not None:
        idf = idf.filter(F.col("df") <= max_df)
    # w is NOT checkpointed: with the gram pipeline cached above, its three
    # consumers re-derive it via one cheap long-key join each — measured
    # faster (2.4s vs 3.2s at sf0.1) than materializing 255k rows
    w = grams.join(idf, "gram").select(
        "doc", "gram", (F.col("cnt") * F.col("idfq")).alias("w")
    )
    norms = w.groupBy("doc").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    qw = w.filter(query_pred(F.col("doc"))).select(
        F.col("doc").alias("query_id"), "gram", F.col("w").alias("wq")
    )
    dots = (
        qw.join(w.select(F.col("doc").alias("cand_id"), "gram", F.col("w").alias("wd")),
                "gram")
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum(F.col("wq") * F.col("wd")).alias("dot"))
    )
    nq = norms.select(F.col("doc").alias("query_id"), F.col("nrm").alias("nq"))
    nd = norms.select(F.col("doc").alias("cand_id"), F.col("nrm").alias("nd"))
    scored = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nd, "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(F.col("dot") / (F.col("nq") * F.col("nd")), 4).alias("cosine"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def pca_project(
    df: DataFrame, id_col: str, vec_col: str, dim: int, k: int = 2, scale: int = 1000
) -> DataFrame:
    """Project embeddings onto their top-k principal axes: (id, pc_0..pc_{k-1}).

    Two-phase like every scalable PCA: (1) the distributed fixed-point Gram
    matrix (:func:`gram_matrix_fixed_point` — one pass, dim² int64 state),
    (2) an eigendecomposition of that dim×dim matrix on the driver. The
    collect here is NOT a data collect: it pulls the finished dim² aggregate
    (the sketch), the same size at 100 TB as at 1 MB — the standard
    driver-side step of distributed PCA (Spark MLlib's RowMatrix does the
    same). Eigenvectors are sign-fixed (largest-|component| positive) so the
    projection is deterministic; the per-row projection is a narrow codegen
    expression, no shuffle.
    """
    import numpy as np

    g = np.zeros((dim, dim), dtype=np.float64)
    for r in gram_matrix_fixed_point(df, vec_col, dim, scale).collect():
        g[r["i"], r["j"]] = r["gram_q"]
    g /= float(scale) * float(scale)
    vals, vecs = np.linalg.eigh(g)          # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    axes = vecs[:, order]                    # dim × k
    for j in range(k):
        imax = int(np.argmax(np.abs(axes[:, j])))
        if axes[imax, j] < 0:
            axes[:, j] = -axes[:, j]
    cols = [F.col(id_col)]
    for j in range(k):
        expr = None
        for i in range(dim):
            term = F.element_at(F.col(vec_col), i + 1) * float(axes[i, j])
            expr = term if expr is None else expr + term
        cols.append(F.round(expr, 6).alias(f"pc_{j}"))
    return df.select(*cols)
