"""LLM-corpus curation operators (rounds 4–5): DSIR importance weighting
(arXiv:2302.03169), bigram and Stupid-Backoff language-model scoring, BPE
merge-step pair counting, directional shingle containment, spherical
k-means, Johnson–Lindenstrauss random projection, and product
quantization.

These extend the §2.2 LLM-pipeline family (queries/llm.py) with the
data-selection and tokenizer-construction steps a pretraining pipeline
runs between dedup and assembly. Same conventions: portable sha256 hash
mirrored in the DuckDB oracle, no Python in the hot path, and broadcast
hints only on provably bounded tables (fixed-width hashed buckets, 1-row
totals) — corpus-growing tables (bigram vocab, per-doc sizes) join plain
and let AQE decide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_inbev_big_data_case_spark.functions.text import (
    shingles,
    shingles_sql,
    token_hash64,
    token_hash64_sql,
    tokens,
)
from ab_inbev_big_data_case_spark.llm.dedup import (
    KEPT_BANDS_SQL,
    LSH_BANDS_SQL,
    MINHASH_SIG_SQL,
    containment_pairs,
    lsh_pairs_sql,
    shingle_set,
    shingle_set_sql,
)
from ab_inbev_big_data_case_spark.llm.similarity import (
    _DOT,
    _NORM,
    audit_query,
    cosine_topk,
    cosine_topk_sql,
    kmeans_rounds,
)
from ab_inbev_big_data_case_spark.operators.graph import (
    connected_components,
    connected_components_sql,
)
from ab_inbev_big_data_case_spark.operators.relational import prefix_sums
from ab_inbev_big_data_case_spark.registry import register
from ab_inbev_big_data_case_spark.sources.readers import const_df, table
from ab_inbev_big_data_case_spark.operators.lineage import cut

# DSIR hashed-feature space size (the paper uses 10k buckets for hashed
# unigrams; collisions are part of the estimator, not an error)
_DSIR_BUCKETS = 10_000
_DSIR_TARGET = ("src1", "src2", "src3")


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    bt AS (
        SELECT doc_id, source, ({token_hash64_sql('tok')} % {_DSIR_BUCKETS}) AS bkt
        FROM toks
    ),
    cnt AS (
        SELECT bkt, count(*) AS n_raw,
               count(*) FILTER (WHERE source IN {_DSIR_TARGET}) AS n_tgt
        FROM bt GROUP BY 1
    ),
    tot AS (SELECT sum(n_raw) AS nr, sum(n_tgt) AS nt FROM cnt)
    SELECT bt.doc_id, count(*) AS n_tokens,
           round(avg(ln(((c.n_tgt + 1.0) / (t.nt + {_DSIR_BUCKETS})) /
                        ((c.n_raw + 1.0) / (t.nr + {_DSIR_BUCKETS})))), 4)
               AS dsir_weight_r
    FROM bt JOIN cnt c USING (bkt) CROSS JOIN tot t
    GROUP BY bt.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (arXiv:2302.03169): per-doc importance weight =
    mean log-ratio of target vs raw token probability over hashed unigram
    features (10k buckets, add-1 smoothing). Target distribution = the
    curated sources; raw = whole corpus. One token pass builds BOTH
    distributions (filtered aggs share the groupBy), the bucket table
    broadcasts back — two shuffles at any corpus size, and the feature
    space is fixed-width so state never grows with the corpus."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("bkt", token_hash64(F.col("tok")) % _DSIR_BUCKETS)
    cnt = toks.groupBy("bkt").agg(
        F.count("*").alias("n_raw"),
        F.count(F.when(F.col("source").isin(*_DSIR_TARGET), 1)).alias("n_tgt"),
    )
    tot = cnt.agg(
        F.sum("n_raw").cast("double").alias("nr"),
        F.sum("n_tgt").cast("double").alias("nt"),
    )
    return (
        toks.join(F.broadcast(cnt), "bkt")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        ((F.col("n_tgt") + 1.0) / (F.col("nt") + _DSIR_BUCKETS))
                        / ((F.col("n_raw") + 1.0) / (F.col("nr") + _DSIR_BUCKETS))
                    )
                ),
                4,
            ).alias("dsir_weight_r"),
        )
    )


@register(
    "bigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (SELECT doc_id, unnest({shingles_sql("toks", 2)}) AS bigram FROM t),
    btab AS (SELECT bigram, count(*) AS n_big FROM bg GROUP BY 1),
    ptab AS (
        SELECT split_part(bigram, ' ', 1) AS pre, count(*) AS n_pre
        FROM bg GROUP BY 1
    )
    SELECT bg.doc_id, count(*) AS n_bigrams,
           round(avg(-ln(b.n_big * 1.0 / p.n_pre)), 4) AS avg_neg_logprob_bi
    FROM bg
    JOIN btab b USING (bigram)
    JOIN ptab p ON p.pre = split_part(bg.bigram, ' ', 1)
    GROUP BY bg.doc_id
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: per-doc average −log p(wᵢ | wᵢ₋₁) under
    corpus MLE bigram probabilities (the natural upgrade of
    ``unigram_logprob_score``; KenLM-style scoring without the KenLM
    binary). Bigram and prefix frequency tables come from the same
    exploded-bigram rows and join back on their grouping keys — the hot
    path is one explode plus three shuffles (bigram tf, prefix tf,
    per-doc avg), none keyed on the raw text."""
    d = table(spark, sf_dir, "documents")
    # token array materialized in its own projection (inlining the split
    # into the shingle lambda re-splits the text once per F.get — measured
    # 10x on the sf1 explode); the three consumers of the explode (bigram
    # tf, prefix tf, score join) share one cut
    toked = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    bg = cut(
        toked.select(
            "doc_id", F.explode(shingles(F.col("toks"), 2)).alias("bigram")
        )
        .withColumn("pre", F.substring_index("bigram", " ", 1)),
        "bigram_lm_score.bg",
    )
    btab = bg.groupBy("bigram").agg(F.count("*").alias("n_big"))
    ptab = bg.groupBy("pre").agg(F.count("*").alias("n_pre"))
    # no broadcast hints: the bigram vocabulary grows ~linearly with corpus
    # size, so forcing btab/ptab executor-resident is an OOM at scale — the
    # joins shuffle on bigram/pre (already the grouping keys) and AQE picks
    # broadcast only when the tables actually fit
    return (
        bg.join(btab, "bigram")
        .join(ptab, "pre")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(F.col("n_big") / F.col("n_pre"))), 4).alias(
                "avg_neg_logprob_bi"
            ),
        )
    )


@register(
    "kneser_ney_bigram_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (SELECT doc_id, unnest({shingles_sql("toks", 2)}) AS bigram FROM t),
    btab AS (
        SELECT bigram, split_part(bigram, ' ', 1) AS pre,
               split_part(bigram, ' ', 2) AS w, count(*) AS n_big
        FROM bg GROUP BY 1, 2, 3
    ),
    ptab AS (
        SELECT pre, sum(n_big) AS n_pre, count(*) AS n_follow
        FROM btab GROUP BY 1
    ),
    cont AS (SELECT w, count(*) AS n_precede FROM btab GROUP BY 1),
    tot AS (SELECT count(*) AS n_types FROM btab)
    SELECT bg.doc_id, count(*) AS n_bigrams,
           round(avg(-ln(
               greatest(b.n_big - 0.75, 0) / p.n_pre
               + 0.75 * p.n_follow / p.n_pre
                 * (c.n_precede * 1.0 / t.n_types)
           )), 4) AS avg_neg_logprob_kn
    FROM bg
    JOIN btab b USING (bigram)
    JOIN ptab p ON p.pre = split_part(bg.bigram, ' ', 1)
    JOIN cont c ON c.w = split_part(bg.bigram, ' ', 2)
    CROSS JOIN tot t
    GROUP BY bg.doc_id
    """,
)
def kneser_ney_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram score per document (Kneser & Ney
    1995; Chen & Goodman 1998 eq. 4.17, fixed discount D=0.75):
    P(w|v) = max(c(v,w)−D, 0)/c(v·) + D·N₁₊(v·)/c(v·) · N₁₊(·w)/N₁₊(··).
    The MLE bigram LM (``bigram_lm_score``) assigns probability ∝ raw
    continuation frequency, so boilerplate that repeats one frequent
    continuation ("san francisco") scores as fluent; KN's continuation
    probability counts DISTINCT left contexts, the canonical fix — and
    the delta between the two scores is itself a templatedness signal
    for curation. Every count is an exact integer; D=0.75 is exact in
    binary; the per-doc mean of −ln p is the one float reduction, rounded
    to 4 (the green ``bigram_lm_score`` determinism envelope).

    Scale shape: ONE corpus explode pass — the token array is
    materialized in its own projection (inlining ``tokens(text)`` into
    the shingle lambda re-evaluates the split once per F.get: measured
    40 s vs 4 s for the sf1 explode; Catalyst collapses projections but
    keeps a multi-referenced non-cheap alias as a real column) and the
    exploded stream is lazily checkpointed (the bm25/novelty
    shared-layer pattern) so the type-table build AND the per-doc score
    join reuse it instead of each re-exploding the corpus. The type
    build's shuffle is map-side combined down to vocabulary size and the
    per-doc average's partial agg compresses to doc count, so the one
    full-stream shuffle is the score join. (A per-(doc, bigram)
    pre-aggregation layer was measured ~3x SLOWER at sf1: within-doc
    bigram repetition is ~1 on real short docs, so the extra full-stream
    shuffle buys no compression.) Every vocabulary shuffle is keyed on
    bigram/prefix/continuation, none on raw text; no broadcast hints
    (vocabulary grows with the corpus, AQE decides)."""
    d = table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    bg = cut(
        toked.select(
            "doc_id", F.explode(shingles(F.col("toks"), 2)).alias("bigram")
        ),
        "kneser_ney_bigram_score.bg",
    )
    # every count the KN formula needs is keyed by the bigram TYPE: n_pre
    # = Σ n_big over the prefix, N₁₊(v·)/N₁₊(·w) = type counts per
    # prefix/continuation. So the per-type probability assembles entirely
    # on the (much smaller) type table; the naive shape (three full-stream
    # joins + two full-stream DISTINCTs, what the oracle runs) costs the
    # same answer three token-stream shuffles more.
    # pre/w split per TYPE, not per token-stream row
    btab = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("n_big"))
        .withColumn("pre", F.substring_index("bigram", " ", 1))
        .withColumn("w", F.substring_index("bigram", " ", -1))
    )
    ptab = btab.groupBy("pre").agg(
        F.sum("n_big").alias("n_pre"),
        F.count("*").alias("n_follow"),
    )
    cont = btab.groupBy("w").agg(F.count("*").alias("n_precede"))
    tot = btab.agg(F.count("*").alias("n_types"))
    p_kn = (
        F.greatest(F.col("n_big") - 0.75, F.lit(0)) / F.col("n_pre")
        + F.lit(0.75)
        * F.col("n_follow")
        / F.col("n_pre")
        * (F.col("n_precede") * 1.0 / F.col("n_types"))
    )
    scored = (
        btab.join(ptab, "pre")
        .join(cont, "w")
        .crossJoin(F.broadcast(tot))
        .select("bigram", (-F.log(p_kn)).alias("nll"))
    )
    return (
        bg.join(scored, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("avg_neg_logprob_kn"),
        )
    )


@register(
    "bpe_pair_counts",
    oracle="""
    WITH wf AS (
        SELECT word, count(*) AS n_w
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY 1
    ),
    pairs AS (
        SELECT substr(word, i, 2) AS pair, n_w
        FROM (
            SELECT word, n_w, unnest(range(1, length(word))) AS i
            FROM wf WHERE length(word) >= 2
        )
    )
    SELECT pair, sum(n_w)::BIGINT AS n_occ
    FROM pairs GROUP BY 1
    ORDER BY n_occ DESC, pair
    LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge iteration's pair statistics: corpus-weighted adjacent
    character-pair counts, top 20. The tokenizer-training trick that makes
    this scale: pairs are counted over the DISTINCT-WORD frequency table
    (Heaps'-law small), not the token stream — the corpus is touched once
    for word counts and never again, so 100 TB of text reduces to a
    vocabulary-sized pair aggregation."""
    d = table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_w"))
    )
    pairs = wf.filter(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n_w",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n_w").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "pair")
        .limit(20)
    )


# doc-frequency cap for the containment self-join: shingles shared by more
# docs than this are dropped before pairing (each contributes df² candidate
# rows). Applied identically in Spark and the oracle, so results match.
_CONT_MAX_DF = 100


@register(
    "containment_pairs",
    oracle=f"""
    WITH {shingle_set_sql()},
    kept AS (
        SELECT sh.doc_id, sh.shingle FROM sh
        JOIN (SELECT shingle FROM sh GROUP BY 1
              HAVING count(*) <= {_CONT_MAX_DF}) k USING (shingle)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           round(n_inter * 1.0 / sa.n_sh, 4) AS cont1,
           round(n_inter * 1.0 / sb.n_sh, 4) AS cont2
    FROM inter
    JOIN sizes sa ON sa.doc_id = id1
    JOIN sizes sb ON sb.doc_id = id2
    WHERE round(n_inter * 1.0 / sa.n_sh, 4) >= 0.5
       OR round(n_inter * 1.0 / sb.n_sh, 4) >= 0.5
    """,
)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment (|A∩B|/|A| and /|B|) for doc pairs
    sharing content — catches a small doc quoted inside a large one, which
    symmetric Jaccard under-scores. Same hashed-shingle equi-join topology
    as the Jaccard verifier (llm/dedup.py:containment_pairs), with the
    doc-frequency cap threaded through (stop-shingles shared by more than
    ``_CONT_MAX_DF`` docs are dropped before the self-join; the oracle
    applies the identical cap, so this is exact, not approximate,
    parity)."""
    d = table(spark, sf_dir, "documents")
    return containment_pairs(
        shingle_set(d, "doc_id", "text", 3), "doc_id", 0.5,
        max_shingle_df=_CONT_MAX_DF,
    )


# --------------------------------------------------------------- k-means

_KM_ASSIGN = """
    {out} AS (
        SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id, row_number() OVER (
                PARTITION BY e.vec_id ORDER BY
                round({dot} / ({vn} * {cn}), 3) DESC NULLS LAST, c.cell_id) AS rn
            FROM embeddings e CROSS JOIN {cents} c
        ) WHERE rn = 1
    )
"""


@register(
    "kmeans_cells",
    oracle=f"""
    WITH c0 AS (
        SELECT vec_id AS cell_id, list_transform(embedding, v -> v::DOUBLE) AS cv
        FROM embeddings WHERE vec_id % 61 = 0
    ),
    {_KM_ASSIGN.format(out='a1', cents='c0',
                       dot=_DOT.format(x='e.embedding', y='c.cv'),
                       vn=_NORM.format(x='e.embedding', tag='v'),
                       cn=_NORM.format(x='c.cv', tag='c'))},
    coords AS (
        SELECT cell_id,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {{'i': i, 'v': embedding[i]::DOUBLE}})) AS u
        FROM a1 JOIN embeddings USING (vec_id)
    ),
    cm AS (
        SELECT cell_id, u.i AS i, round(avg(u.v), 6) AS av
        FROM coords GROUP BY 1, 2
    ),
    c1 AS (SELECT cell_id, list(av ORDER BY i) AS cv FROM cm GROUP BY 1),
    {_KM_ASSIGN.format(out='a2', cents='c1',
                       dot=_DOT.format(x='e.embedding', y='c.cv'),
                       vn=_NORM.format(x='e.embedding', tag='v'),
                       cn=_NORM.format(x='c.cv', tag='c'))}
    SELECT g.cell_id, g.n_members,
           round(sqrt(list_sum(list_transform(c1.cv, x -> x * x))), 4)
               AS centroid_norm_r
    FROM (SELECT cell_id, count(*) AS n_members FROM a2 GROUP BY 1) g
    JOIN c1 USING (cell_id)
    """,
)
def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fixed rounds of spherical k-means over the embedding corpus
    (deterministic seeds vec_id % 61 = 0): assign → elementwise-mean
    recompute → reassign, one unrolled lineage with no driver iteration
    (llm/similarity.py:kmeans_rounds). Output: final cell sizes + the
    recomputed centroid norms. The iterative-ML companion to the one-shot
    IVF quantizer — per round, broadcast-K argmax collapses N·K map-side
    and centroid state stays K·dim regardless of corpus size."""
    e = table(spark, sf_dir, "embeddings")
    assign, cents = kmeans_rounds(
        e, "vec_id", "embedding", lambda vid: vid % 61 == 0, n_rounds=2
    )
    sizes = assign.groupBy("cell_id").agg(F.count("*").alias("n_members"))
    norms = cents.select(
        "cell_id", F.round(F.col("__cn"), 4).alias("centroid_norm_r")
    )
    return sizes.join(norms, "cell_id").select(
        "cell_id", "n_members", "centroid_norm_r"
    )


@register(
    "backoff_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (SELECT doc_id, unnest({shingles_sql("toks", 2)}) AS bigram FROM t),
    bx AS (
        SELECT doc_id, bigram,
               split_part(bigram, ' ', 1) AS pre,
               split_part(bigram, ' ', 2) AS w2
        FROM bg
    ),
    toks1 AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    uc AS (SELECT tok, count(*) AS n_u FROM toks1 GROUP BY 1),
    tot AS (SELECT count(*) AS t FROM toks1),
    btab AS (
        SELECT bigram, count(*) AS n_big FROM bg
        GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT bx.doc_id, count(*) AS n_bigrams,
           sum(CASE WHEN b.n_big IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_backoff,
           round(avg(-ln(CASE WHEN b.n_big IS NOT NULL
                              THEN b.n_big * 1.0 / up.n_u
                              ELSE 0.4 * uw.n_u / t.t END)), 4)
               AS avg_neg_logprob_sb
    FROM bx
    LEFT JOIN btab b USING (bigram)
    JOIN uc up ON up.tok = bx.pre
    JOIN uc uw ON uw.tok = bx.w2
    CROSS JOIN tot t
    GROUP BY 1
    """,
)
def backoff_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff LM scoring (Brants et al. 2007, "Large Language
    Models in Machine Translation"): S(w|prev) = c(prev w)/c(prev) when the
    bigram survives min-count pruning (count ≥ 2), else α·c(w)/N with
    α = 0.4 — the web-scale scoring rule that needs no discounting pass.
    Per doc: bigram count, how many bigrams backed off, and the average
    negative log score.

    Scale shape mirrors ``bigram_lm_score`` post-fix: the bigram and
    unigram vocabulary tables grow with the corpus, so they join PLAIN on
    their grouping keys (no broadcast hints — AQE decides); the only
    forced broadcast is the 1-row token total. Min-count pruning is itself
    the production memory guard: singleton bigrams (the Heaps-law long
    tail, typically >50% of the table) never enter the model."""
    d = table(spark, sf_dir, "documents")
    # token array in its own projection (inline split re-evaluates per
    # F.get in the shingle lambda — the measured 10x); the pruned-bigram
    # table and the score join share the cut explode
    toked = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    bg = cut(
        toked.select(
            "doc_id", F.explode(shingles(F.col("toks"), 2)).alias("bigram")
        )
        .withColumn("pre", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1)),
        "backoff_lm_score.bg",
    )
    toks1 = d.select(F.explode(F.split("text", " ")).alias("tok"))
    # the unigram vocabulary feeds THREE consumers (prefix counts, word
    # counts, token total)
    uc = cut(
        toks1.groupBy("tok")
        .agg(F.count("*").alias("n_u")),
        "backoff_lm_score.uc",
    )
    # token total = Σ unigram counts — read off the tiny vocabulary table
    # instead of a second pass over the token stream
    tot = uc.agg(F.sum("n_u").cast("double").alias("t"))
    btab = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("n_big"))
        .filter(F.col("n_big") >= 2)
    )
    up = uc.select(F.col("tok").alias("pre"), F.col("n_u").alias("n_pre"))
    uw = uc.select(F.col("tok").alias("w2"), F.col("n_u").alias("n_w2"))
    score = F.when(
        F.col("n_big").isNotNull(), F.col("n_big") / F.col("n_pre")
    ).otherwise(0.4 * F.col("n_w2") / F.col("t"))
    return (
        bg.join(btab, "bigram", "left")
        .join(up, "pre")
        .join(uw, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("n_big").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_backoff"),
            F.round(F.avg(-F.log(score)), 4).alias("avg_neg_logprob_sb"),
        )
    )


# ------------------------------------------------- JL random projection

# Deterministic ±1 projection matrix (Achlioptas 2003: a Rademacher matrix
# satisfies the Johnson–Lindenstrauss lemma): signs come from the portable
# sha256 hash of "rp:i:j", computed ONCE here and embedded as literals in
# BOTH the Spark plan and the oracle SQL — identical by construction, and
# the per-row work is a pure dot product, no hashing.
_RP_IN, _RP_OUT = 64, 16


def _rp_sign(i: int, j: int) -> float:
    import hashlib

    h = int(hashlib.sha256(f"rp:{i}:{j}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


_RP_SIGNS = [[_rp_sign(i, j) for i in range(_RP_IN)] for j in range(_RP_OUT)]


def _rp_oracle() -> str:
    comps = []
    for j in range(_RP_OUT):
        lit = "[" + ",".join(repr(s) for s in _RP_SIGNS[j]) + "]::DOUBLE[]"
        comps.append(
            f"(list_sum(list_transform(range(1, {_RP_IN + 1}), "
            f"i -> embedding[i]::DOUBLE * ({lit})[i])) / 4.0) AS y{j}"
        )
    ynorm = "sqrt(" + " + ".join(f"y{j} * y{j}" for j in range(_RP_OUT)) + ")"
    return f"""
    WITH p AS (
        SELECT vec_id, embedding, {', '.join(comps)}
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, y0, {ynorm} AS yn,
               sqrt(list_sum(list_transform(embedding,
                    x -> x::DOUBLE * x::DOUBLE))) AS xn
        FROM p
    )
    SELECT vec_id, round(y0, 4) AS y0_r, round(yn / xn, 4) AS norm_ratio_r
    FROM n
    """


@register("random_projection_stats", oracle=_rp_oracle())
def random_projection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project 64-dim
    embeddings to 16 dims through a deterministic Rademacher (±1/√k) sign
    matrix; emit the first projected coordinate and the norm-preservation
    ratio ‖y‖/‖x‖ per vector (the JL guarantee says the ratio concentrates
    around 1 — pytest pins the distribution).

    Scale shape: the matrix is a PLAN CONSTANT (64×16 sign literals —
    folded by Catalyst, zero bytes shuffled), and each output coordinate
    is a zip_with/aggregate dot product inside whole-stage codegen — the
    whole operator is a narrow projection that rides the scan, the
    standard pre-step that makes downstream ANN/clustering 4× cheaper
    per vector at 100 TB."""
    import math

    e = table(spark, sf_dir, "embeddings")
    comps = [
        (
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(s) for s in _RP_SIGNS[j]]),
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / math.sqrt(_RP_OUT)
        ).alias(f"y{j}")
        for j in range(_RP_OUT)
    ]
    proj = e.select("vec_id", "embedding", *comps)
    ynorm = F.sqrt(sum(F.col(f"y{j}") * F.col(f"y{j}") for j in range(_RP_OUT)))
    xnorm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    return proj.select(
        "vec_id",
        F.round(F.col("y0"), 4).alias("y0_r"),
        F.round(ynorm / xnorm, 4).alias("norm_ratio_r"),
    )


# ------------------------------------------------ product quantization

_PQ_M, _PQ_SUB = 4, 16  # 4 subspaces x 16 dims over the 64-dim embeddings

_PQ_DUCK = f"""
    WITH sub AS (SELECT unnest([0, 1, 2, 3]) AS s),
    seeds AS (
        SELECT vec_id AS cell_id, embedding AS cemb
        FROM embeddings WHERE vec_id % 97 = 0
    ),
    scored AS (
        SELECT e.vec_id, sub.s, c.cell_id,
               round(list_sum(list_transform(range(1, {_PQ_SUB + 1}), i ->
                   (e.embedding[sub.s * {_PQ_SUB} + i]::DOUBLE
                    - c.cemb[sub.s * {_PQ_SUB} + i]::DOUBLE)
                   * (e.embedding[sub.s * {_PQ_SUB} + i]::DOUBLE
                      - c.cemb[sub.s * {_PQ_SUB} + i]::DOUBLE))), 3) AS d
        FROM embeddings e CROSS JOIN sub CROSS JOIN seeds c
    ),
    best AS (
        SELECT vec_id, s, cell_id, d,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, cell_id) AS rn
        FROM scored
    )
    SELECT vec_id,
           max(CASE WHEN s = 0 THEN cell_id END) AS c0,
           max(CASE WHEN s = 1 THEN cell_id END) AS c1,
           max(CASE WHEN s = 2 THEN cell_id END) AS c2,
           max(CASE WHEN s = 3 THEN cell_id END) AS c3,
           round(sum(d), 3) AS err_r
    FROM best WHERE rn = 1
    GROUP BY vec_id
"""


def _pq_slices(df: DataFrame, id_out: str, vec_out: str) -> DataFrame:
    """(id, s, subvector) long form: subspace index exploded in-row."""
    subs = F.array(*[F.lit(i) for i in range(_PQ_M)])
    return df.select(
        F.col(df.columns[0]).alias(id_out), F.explode(subs).alias("s"), "embedding"
    ).select(
        id_out,
        "s",
        F.slice("embedding", F.col("s") * _PQ_SUB + 1, _PQ_SUB).alias(vec_out),
    )


def _pq_l2(a: str, b: str):
    """Rounded squared-L2 between two subvector columns (codegen'd)."""
    return F.round(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        3,
    )


def _pq_codebook(e: DataFrame) -> DataFrame:
    """(cell_id, s, cv): the m·K subspace codebook from the seed rule."""
    return _pq_slices(
        e.filter(F.col("vec_id") % 97 == 0).select(
            F.col("vec_id").alias("cell_id"), "embedding"
        ),
        "cell_id",
        "cv",
    )


def _pq_assign(e: DataFrame) -> DataFrame:
    """(vec_id, s, d, c): per-subspace nearest codebook cell via broadcast
    codebook + map-side min-of-struct argmin (the ivf_assign shape)."""
    esub = _pq_slices(e.select("vec_id", "embedding"), "vec_id", "ev")
    best = (
        esub.join(F.broadcast(_pq_codebook(e)), "s")
        .select(
            "vec_id",
            "s",
            F.struct(
                _pq_l2("ev", "cv").alias("d"), F.col("cell_id").alias("c")
            ).alias("dc"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("dc").alias("m"))
    )
    return best.select(
        "vec_id", "s", F.col("m.d").alias("d"), F.col("m.c").alias("c")
    )


@register("pq_codes", oracle=_PQ_DUCK)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each 64-dim vector
    into 4 subvectors of 16 dims, assign each to its nearest codebook
    centroid (deterministic seeds vec_id % 97, L2, ties to the lower cell
    id), emit the 4-code word plus the total quantization error. PQ codes
    compress N·64 floats to N·4 small ints — the memory layout that lets a
    100 TB ANN index hold its whole database in RAM and score candidates
    via 4 table lookups (ADC) instead of 64 multiplies.

    Scale shape: ONE corpus pass — subspace index exploded in-row (×4),
    codebook broadcast (K·m rows by construction), distances are codegen'd
    zip_with/aggregate arithmetic, and the argmin is a map-side-combined
    min-of-struct aggregate (same N·K-collapse as ``ivf_assign``), never a
    window over the scored rows."""
    e = table(spark, sf_dir, "embeddings")
    return (
        _pq_assign(e)
        .groupBy("vec_id")
        .agg(
            *[
                F.max(F.when(F.col("s") == i, F.col("c"))).alias(f"c{i}")
                for i in range(_PQ_M)
            ],
            F.round(F.sum("d"), 3).alias("err_r"),
        )
    )


_ADC_DUCK = f"""
    WITH sub AS (SELECT unnest([0, 1, 2, 3]) AS s),
    seeds AS (
        SELECT vec_id AS cell_id, embedding AS cemb
        FROM embeddings WHERE vec_id % 97 = 0
    ),
    scored AS (
        SELECT e.vec_id, sub.s, c.cell_id,
               round(list_sum(list_transform(range(1, {_PQ_SUB + 1}), i ->
                   (e.embedding[sub.s * {_PQ_SUB} + i]::DOUBLE
                    - c.cemb[sub.s * {_PQ_SUB} + i]::DOUBLE)
                   * (e.embedding[sub.s * {_PQ_SUB} + i]::DOUBLE
                      - c.cemb[sub.s * {_PQ_SUB} + i]::DOUBLE))), 3) AS d
        FROM embeddings e CROSS JOIN sub CROSS JOIN seeds c
    ),
    codes AS (
        SELECT vec_id, s, cell_id AS code FROM (
            SELECT vec_id, s, cell_id,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, cell_id) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    dt AS (
        SELECT q.vec_id AS qid, sc.s, sc.cell_id, sc.d
        FROM scored sc JOIN (SELECT vec_id FROM embeddings
                             WHERE vec_id % 83 = 0) q
          ON sc.vec_id = q.vec_id
    ),
    adc AS (
        SELECT dt.qid, codes.vec_id, round(sum(dt.d), 3) AS adc_r
        FROM codes JOIN dt ON dt.s = codes.s AND dt.cell_id = codes.code
        GROUP BY 1, 2
    )
    SELECT qid, rank, vec_id, adc_r FROM (
        SELECT qid, vec_id, adc_r,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_r, vec_id) AS rank
        FROM adc
    ) WHERE rank <= 5
"""


@register("pq_adc_search", oracle=_ADC_DUCK)
def pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k over the PQ index: each
    query precomputes a per-subspace distance TABLE to the codebook (m·K
    entries), and every corpus vector's approximate distance is then the
    sum of 4 table lookups keyed by its PQ code — no query ever touches a
    raw corpus vector. This is the scoring half of the IVF-PQ index
    (Jégou et al. 2011) that powers billion-vector search.

    Scale shape: distance tables are Q·m·K rows — broadcast by
    construction (queries arrive in bounded batches, the codebook is
    fixed) — so the corpus side is ONE equi-join on (subspace, code)
    against its 4-row-per-vector code table followed by a map-side-
    combined sum; top-k runs per-query (partitioned window). The exact
    distance never enters: that is the point — rerank survivors with
    ``cosine_topk`` when recall demands it."""
    e = table(spark, sf_dir, "embeddings")
    codes = _pq_assign(e).select("vec_id", "s", F.col("c").alias("code"))
    q = e.filter(F.col("vec_id") % 83 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    qsub = _pq_slices(q, "qid", "qv")
    dt = qsub.join(F.broadcast(_pq_codebook(e)), "s").select(
        "qid", "s", F.col("cell_id").alias("code"), _pq_l2("qv", "cv").alias("d")
    )
    adc = (
        codes.join(F.broadcast(dt), ["s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("d"), 3).alias("adc_r"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy("adc_r", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "rank", "vec_id", "adc_r")
    )


@register(
    "prefix_filter_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ni
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           round(ni * 1.0 / (s1.n + s2.n - ni), 4) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE round(ni * 1.0 / (s1.n + s2.n - ni), 4) >= 0.5
    """,
)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set similarity join via prefix filtering (PPJoin
    family): candidates come only from RARE-token prefix collisions, yet
    the result provably equals the exact all-pairs Jaccard join — which is
    precisely what the oracle computes, so the hash match certifies the
    filter lossless, not just plausible. The subquadratic complement to
    MinHash-LSH: no signatures, no probabilistic recall — the stop-token
    quadratic is avoided by CONSTRUCTION (frequent tokens fall outside
    every prefix). See ``llm/dedup.py:prefix_filter_jaccard_pairs``."""
    from ab_inbev_big_data_case_spark.llm.dedup import prefix_filter_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(d, "doc_id", "text", 0.5)


@register(
    "lexical_diversity",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1, 2
    )
    SELECT doc_id,
           sum(c)::BIGINT AS n_tokens,
           count(*) AS n_distinct,
           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
           round(count(*) * 1.0 / sum(c), 4) AS ttr_r,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS hapax_r
    FROM tf GROUP BY 1
    """,
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical diversity: type-token ratio and hapax-legomenon rate
    — the cheap statistical signals curation pipelines use to separate
    natural prose from keyword stuffing / boilerplate (low TTR) and OCR
    noise (abnormally high hapax rate).

    Two aggregates over one explode: per-(doc, token) counts, then per-doc
    rollup — both map-side combined, both keyed on the doc, no joins."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(F.count("*") / F.sum("c"), 4).alias("ttr_r"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / F.count("*"), 4
        ).alias("hapax_r"),
    )


@register(
    "zipf_fit",
    oracle="""
    WITH wf AS (
        SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1
        ORDER BY n DESC, tok
        LIMIT 1000
    ),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM wf
    )
    SELECT count(*) AS n_vocab,
           round(regr_slope(ln(n), ln(rnk)), 4) AS zipf_slope_r,
           round(regr_r2(ln(n), ln(rnk)), 4) AS zipf_r2_r
    FROM ranked
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of log-frequency on
    log-rank for the top-1000 words (natural text gives slope ≈ −1 with
    high R²; synthetic or templated corpora — like this fixture — deviate,
    which is exactly what the diagnostic detects).

    Scale shape: the corpus collapses to word counts in one partial+final
    aggregate; the rank window runs AFTER a TakeOrderedAndProject top-K, so
    the only partitionless window is over a bounded K-row spine (the
    documented tiny-spine class — never the vocabulary, which grows with
    the corpus). The fit itself is the associative regr_* moments."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(1000)
    )
    ranked = wf.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("n").desc(), "tok"))
    )
    ranked = ranked.select(F.log("n").alias("ln_n"), F.log("rnk").alias("ln_r"))
    return ranked.agg(
        F.count("*").alias("n_vocab"),
        F.round(F.expr("regr_slope(ln_n, ln_r)"), 4).alias("zipf_slope_r"),
        F.round(F.expr("regr_r2(ln_n, ln_r)"), 4).alias("zipf_r2_r"),
    )


# ------------------------------------------------- duplicated-span coverage

_SPAN_N = 8

# Overlapping 8-token spans with their start positions, hashed portably so
# the df≥2 shuffle moves int64 keys instead of 8-token strings (the same
# key-narrowing as the Jaccard verify join). Oracle mirrors the hash.
_SPAN_CTE = f"""
    toksrc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sp AS (
        SELECT doc_id,
               unnest(range(0, greatest(len(toks) - {_SPAN_N} + 1, 0)))
                   AS pos
        FROM toksrc
    ),
    sph AS (
        SELECT s.doc_id, s.pos,
               {token_hash64_sql(f"array_to_string(list_slice(t.toks, s.pos + 1, s.pos + {_SPAN_N}), ' ')")}
                   AS h
        FROM sp s JOIN toksrc t ON t.doc_id = s.doc_id
    )
"""

_DUP_SPAN_SQL = f"""
    WITH {_SPAN_CTE},
    dfreq AS (
        SELECT h FROM sph GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    dup AS (
        SELECT s.doc_id, s.pos, s.pos + {_SPAN_N} AS fin
        FROM sph s JOIN dfreq USING (h)
    ),
    marked AS (
        SELECT doc_id, pos, fin,
               max(fin) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pmax
        FROM dup
    ),
    grouped AS (
        SELECT doc_id, pos, fin,
               sum(CASE WHEN pmax IS NULL OR pos >= pmax THEN 1 ELSE 0 END)
                   OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS grp
        FROM marked
    ),
    runs AS (
        SELECT doc_id, grp,
               count(*) AS n_spans,
               max(fin) - min(pos) AS cov
        FROM grouped GROUP BY 1, 2
    ),
    perdoc AS (
        SELECT doc_id, sum(n_spans) AS n_dup_spans, sum(cov) AS covered
        FROM runs GROUP BY 1
    )
    SELECT t.doc_id,
           len(t.toks)::BIGINT AS n_tokens,
           coalesce(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
           coalesce(p.covered, 0)::BIGINT AS covered_tokens,
           round(coalesce(p.covered, 0) * 1.0 / len(t.toks), 4)
               AS dup_token_ratio_r
    FROM toksrc t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
"""


@register("dup_span_coverage", oracle=_DUP_SPAN_SQL)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2021,
    arXiv:2107.06499, approximated at 8-token span granularity): every
    OVERLAPPING 8-token span that appears in ≥2 documents marks the
    interval [pos, pos+8); per document the marked intervals are merged
    (interval union) and the covered-token ratio reported. Finer than
    ``chunk_dedup_ratio``'s disjoint chunks: a duplicated passage straddling
    a chunk boundary is invisible there but fully covered here.

    Scale shape: span keys shuffle as portable int64 hashes, the df≥2
    doc-frequency pass is one aggregate, and the interval union is the
    classic sweep — a running ``max(end)`` over a window PARTITIONED BY
    doc (state per task = one document's spans). A span chain where each
    interval starts before the running coverage end merges into one run,
    so union length is ``max(end) − min(start)`` per run — no per-token
    explode, coverage is computed from O(spans) rows (see
    ``llm.dedup.dup_span_stats``)."""
    from ab_inbev_big_data_case_spark.llm.dedup import dup_span_stats

    d = table(spark, sf_dir, "documents")
    return dup_span_stats(d, "doc_id", "text", _SPAN_N)


# ----------------------------------------------------- shard assignment

_N_SHARDS = 16

_SHARD_SQL = f"""
    WITH a AS (
        SELECT ({token_hash64_sql("doc_id::VARCHAR")} % {_N_SHARDS}) AS shard_id,
               len(string_split(text, ' ')) AS n_toks
        FROM documents
    ),
    g AS (
        SELECT shard_id, count(*) AS n_docs,
               sum(n_toks)::BIGINT AS n_tokens
        FROM a GROUP BY 1
    ),
    t AS (SELECT sum(n_tokens) AS total FROM g)
    SELECT g.shard_id, g.n_docs, g.n_tokens,
           round(g.n_tokens * {_N_SHARDS} * 1.0 / t.total, 4) AS load_ratio_r
    FROM g CROSS JOIN t
"""


@register("shard_assignment", oracle=_SHARD_SQL)
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: docs hash into 16 shards by
    portable id hash (the reproducible global shuffle every pretraining run
    needs — reshuffling the corpus must not depend on input file order or
    partition layout), with per-shard doc/token counts and the token-load
    ratio against the ideal uniform share.

    One grouped aggregate on the 16-value shard key; the normalizer is a
    broadcast 1-row total. At 100 TB the shard id doubles as the write
    partition key, so the same expression drives ``partitionBy`` output."""
    d = table(spark, sf_dir, "documents")
    a = d.select(
        F.pmod(
            token_hash64(F.col("doc_id").cast("string")), F.lit(_N_SHARDS)
        ).alias("shard_id"),
        F.size(F.split("text", " ")).alias("n_toks"),
    )
    g = a.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    t = g.agg(F.sum("n_tokens").cast("double").alias("total"))
    return g.crossJoin(F.broadcast(t)).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * _N_SHARDS / F.col("total"), 4).alias(
            "load_ratio_r"
        ),
    )


# ------------------------------------------ MinHash estimator accuracy

_MINHASH_ACC_SQL = f"""
    WITH {shingle_set_sql()}, {MINHASH_SIG_SQL}, {LSH_BANDS_SQL}, {KEPT_BANDS_SQL},
    {lsh_pairs_sql("cand")},
    est AS (
        SELECT c.id1, c.id2,
               avg((sa.minhash = sb.minhash)::INT) AS est_j
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id1
        JOIN sig sb ON sb.doc_id = c.id2 AND sb.seed = sa.seed
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT c.id1, c.id2, count(s2.doc_id) AS n_inter
        FROM cand c
        LEFT JOIN sh s1 ON s1.doc_id = c.id1
        LEFT JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
        GROUP BY 1, 2
    )
    SELECT e.id1, e.id2,
           round(e.est_j, 4) AS est_jaccard_r,
           round(i.n_inter * 1.0 /
                 (za.n_sh + zb.n_sh - i.n_inter), 4) AS exact_jaccard_r,
           round(abs(e.est_j - i.n_inter * 1.0 /
                 (za.n_sh + zb.n_sh - i.n_inter)), 4) AS abs_err_r
    FROM est e
    JOIN inter i ON i.id1 = e.id1 AND i.id2 = e.id2
    JOIN sizes za ON za.doc_id = e.id1
    JOIN sizes zb ON zb.doc_id = e.id2
"""


@register("minhash_estimator_accuracy", oracle=_MINHASH_ACC_SQL)
def minhash_estimator_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: for every LSH candidate pair, the
    MinHash-estimated Jaccard (fraction of agreeing signature components)
    against the EXACT shingle Jaccard, plus the absolute error — the
    estimator-vs-truth audit that sizes how many signature rows a target
    precision needs (the same make-the-approximation-checkable discipline
    as ``approx_count_distinct``'s within-tolerance oracle).

    Scale shape: estimates come from the wide signature join on the
    CANDIDATE pairs only (LSH already pruned the corpus); the exact side
    prunes the shingle table to candidate docs with semi-joins before the
    intersection join, so the expensive exact computation runs on
    O(candidates), never O(corpus²)."""
    from ab_inbev_big_data_case_spark.llm.dedup import (
        LSH_MAX_BUCKET_OCCUPANCY,
        lsh_band_buckets_wide,
        lsh_candidate_pairs,
        minhash_signatures_wide,
    )

    d = table(spark, sf_dir, "documents")
    sh = shingle_set(d, "doc_id", "text", 3)
    sigw = minhash_signatures_wide(sh, "doc_id", 8)
    cand = lsh_candidate_pairs(
        lsh_band_buckets_wide(sigw, "doc_id", 8, 2),
        "doc_id",
        max_bucket_occupancy=LSH_MAX_BUCKET_OCCUPANCY,
    )
    sa = sigw.select(
        F.col("doc_id").alias("id1"),
        *[F.col(f"minhash_{i}").alias(f"a{i}") for i in range(8)],
    )
    sb = sigw.select(
        F.col("doc_id").alias("id2"),
        *[F.col(f"minhash_{i}").alias(f"b{i}") for i in range(8)],
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(8)
    )
    est = (
        cand.join(sa, "id1")
        .join(sb, "id2")
        .select("id1", "id2", (n_agree / F.lit(8.0)).alias("est_j"))
    )
    ids = (
        cand.select(F.col("id1").alias("doc_id"))
        .union(cand.select("id2"))
        .distinct()
    )
    shc = sh.join(ids, "doc_id", "left_semi")
    s1 = shc.select(F.col("doc_id").alias("id1"), "shingle")
    s2 = shc.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        cand.join(s1, "id1")
        .join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    exact = (
        cand.join(inter, ["id1", "id2"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .join(sizes.select(F.col("doc_id").alias("id1"),
                           F.col("n_sh").alias("na")), "id1")
        .join(sizes.select(F.col("doc_id").alias("id2"),
                           F.col("n_sh").alias("nb")), "id2")
        .select(
            "id1",
            "id2",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("exact_j"),
        )
    )
    return (
        est.join(exact, ["id1", "id2"])
        .select(
            "id1",
            "id2",
            F.round("est_j", 4).alias("est_jaccard_r"),
            F.round("exact_j", 4).alias("exact_jaccard_r"),
            F.round(F.abs(F.col("est_j") - F.col("exact_j")), 4).alias(
                "abs_err_r"
            ),
        )
    )


# ------------------------------------------------- BPE merge application

_BPE_ROUNDS = 3
_BPE_VOCAB = 300

# Char-spacing a word: insert a space after every char, then trim. The
# same regex works in both engines (DuckDB needs the 'g' flag arg, Spark
# replaces globally by default).
_BPE_W0 = f"""
    tw AS (
        SELECT word, cnt FROM (
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents
            ) GROUP BY 1
            ORDER BY cnt DESC, word LIMIT {_BPE_VOCAB}
        )
    ),
    w0 AS (
        SELECT word, cnt,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq
        FROM tw
    )
"""


def _bpe_round_sql(i: int) -> str:
    prev, cur = f"w{i}", f"w{i + 1}"
    return f"""
    p{i} AS (
        SELECT pair, sum(cnt)::BIGINT AS n FROM (
            SELECT cnt,
                   unnest(list_transform(
                       range(1, len(string_split(seq, ' '))),
                       j -> string_split(seq, ' ')[j] || ' ' ||
                            string_split(seq, ' ')[j + 1])) AS pair
            FROM {prev}
        ) GROUP BY 1
    ),
    b{i} AS (SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1),
    {cur} AS (
        SELECT w.word, w.cnt,
               trim(replace(' ' || w.seq || ' ',
                            ' ' || b.pair || ' ',
                            ' ' || replace(b.pair, ' ', '') || ' ')) AS seq
        FROM {prev} w CROSS JOIN b{i} b
    ),
    s{i} AS (
        SELECT round(sum(len(string_split(seq, ' ')) * cnt) * 1.0
                     / sum(cnt), 4) AS avg_tokens
        FROM {cur}
    )"""


_BPE_APPLY_SQL = (
    "WITH "
    + _BPE_W0
    + ","
    + ",".join(_bpe_round_sql(i) for i in range(_BPE_ROUNDS))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i + 1}::BIGINT AS merge_round, b{i}.pair AS merged_pair, "
        f"b{i}.n AS pair_weight, s{i}.avg_tokens AS avg_tokens_after_r "
        f"FROM b{i} CROSS JOIN s{i}"
        for i in range(_BPE_ROUNDS)
    )
)


@register("bpe_apply_merges", oracle=_BPE_APPLY_SQL)
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer construction, merge-application half (completes
    ``bpe_pair_counts``): three unrolled merge rounds over the top-300
    word table — count weighted symbol bigrams, pick the heaviest pair
    (count DESC, pair ASC tiebreak), splice it into every word's symbol
    sequence, repeat. Emits each round's chosen merge and the
    tokens-per-word compression it bought.

    Scale shape: the whole loop runs on the DISTINCT-word table (Heaps'
    law: grows sublinearly with the corpus), never the token stream; the
    winning pair is a broadcast 1-row aggregate per round and rounds are
    UNROLLED lineage (no driver iteration — same shape as ``kmeans_cells``
    and ``khop_reachability``). Merge splicing is string replace over the
    padded sequence — both engines scan left-to-right non-overlapping, so
    a run like "a a a" merges its first pair only, deterministically."""
    d = table(spark, sf_dir, "documents")
    tw = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(_BPE_VOCAB)
    )
    w = tw.withColumn(
        "seq", F.trim(F.regexp_replace("word", "(.)", "$1 "))
    )
    out_rows = []
    for i in range(_BPE_ROUNDS):
        toks = F.split("seq", " ")
        pairs = (
            w.select(
                "cnt", F.explode(shingles(toks, 2)).alias("pair")
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("n"))
        )
        best = pairs.orderBy(F.col("n").desc(), "pair").limit(1)
        w = (
            w.crossJoin(F.broadcast(best))
            .select(
                "word",
                "cnt",
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                        F.concat(
                            F.lit(" "),
                            F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                            F.lit(" "),
                        ),
                    )
                ).alias("seq"),
            )
        )
        stat = w.agg(
            F.round(
                F.sum(F.size(F.split("seq", " ")) * F.col("cnt"))
                / F.sum("cnt"),
                4,
            ).alias("avg_tokens")
        )
        out_rows.append(
            best.crossJoin(F.broadcast(stat)).select(
                F.lit(i + 1).cast("long").alias("merge_round"),
                F.col("pair").alias("merged_pair"),
                F.col("n").alias("pair_weight"),
                F.col("avg_tokens").alias("avg_tokens_after_r"),
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------- PMI collocations

_PMI_MIN_COUNT = 5

_PMI_SQL = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    uni AS (SELECT w, count(*) AS n_w FROM toks GROUP BY 1),
    bg AS (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               count(*) AS n_xy
        FROM (
            SELECT unnest({shingles_sql("string_split(text, ' ')", 2)}) AS bigram
            FROM documents
        )
        GROUP BY 1, 2
        HAVING count(*) >= {_PMI_MIN_COUNT}
    ),
    tot AS (SELECT sum(n_xy) AS n FROM (
        SELECT count(*) AS n_xy FROM (
            SELECT unnest({shingles_sql("string_split(text, ' ')", 2)}) AS bigram
            FROM documents
        ) GROUP BY bigram
    ))
    SELECT bg.w1, bg.w2, bg.n_xy,
           round(ln(bg.n_xy * 1.0 * t.n / (u1.n_w * 1.0 * u2.n_w)), 4)
               AS pmi_r
    FROM bg
    JOIN uni u1 ON u1.w = bg.w1
    JOIN uni u2 ON u2.w = bg.w2
    CROSS JOIN tot t
    ORDER BY pmi_r DESC, bg.w1, bg.w2
    LIMIT 20
"""


@register("collocations_pmi", oracle=_PMI_SQL)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction via pointwise mutual information:
    PMI(x,y) = ln(c(x,y)·N / (c(x)·c(y))) over adjacent-token bigrams,
    min-count-5 pruned (rare pairs have unreliable, inflated PMI — the
    standard Church & Hanks 1990 guard). The "which words glue together"
    counterpart to ``log_odds_terms``' "which words distinguish
    corpora".

    Scale shape: the same exploded-bigram rows as ``bigram_lm_score``
    feed the pair counts; unigram joins are plain equi-joins on the word
    key (vocab grows with corpus — no broadcast hints, AQE decides); the
    bigram total is a broadcast 1-row aggregate and the top-20 ranks the
    ROUNDED score with word tiebreaks (TakeOrderedAndProject)."""
    d = table(spark, sf_dir, "documents")
    bg_rows = d.select(
        F.explode(shingles(tokens(F.col("text")), 2)).alias("bigram")
    ).select(
        F.substring_index("bigram", " ", 1).alias("w1"),
        F.substring_index("bigram", " ", -1).alias("w2"),
    )
    uni = d.select(
        F.explode(tokens(F.col("text"))).alias("w")
    ).groupBy("w").agg(F.count("*").alias("n_w"))
    bg = (
        bg_rows.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= _PMI_MIN_COUNT)
    )
    tot = bg_rows.agg(F.count("*").alias("n"))
    pmi = (
        bg.join(uni.withColumnRenamed("w", "w1"), "w1")
        .withColumnRenamed("n_w", "n_w1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .withColumnRenamed("n_w", "n_w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_xy",
            F.round(
                F.log(
                    F.col("n_xy")
                    * F.col("n")
                    / (F.col("n_w1") * F.col("n_w2")).cast("double")
                ),
                4,
            ).alias("pmi_r"),
        )
    )
    return pmi.orderBy(F.col("pmi_r").desc(), "w1", "w2").limit(20)


# ---------------------------------------------------- Heaps' law fit

from pyspark.sql import Window  # noqa: E402

_HEAPS_CKPTS = 20

_HEAPS_SQL = f"""
    WITH nd AS (SELECT count(*) AS n_docs FROM documents),
    toksrc0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    toks AS (SELECT doc_id, unnest({shingles_sql("tk")}) AS w FROM toksrc0),
    tokck AS (
        SELECT least(doc_id * {_HEAPS_CKPTS} // n.n_docs + 1,
                     {_HEAPS_CKPTS}) AS ck,
               count(*) AS n_toks
        FROM toks CROSS JOIN nd n GROUP BY 1
    ),
    fw AS (SELECT w, min(doc_id) AS fd FROM toks GROUP BY 1),
    newck AS (
        SELECT least(fw.fd * {_HEAPS_CKPTS} // n.n_docs + 1,
                     {_HEAPS_CKPTS}) AS ck, count(*) AS n_new
        FROM fw CROSS JOIN nd n GROUP BY 1
    ),
    joined AS (
        SELECT coalesce(t.ck, x.ck) AS ck,
               coalesce(t.n_toks, 0) AS n_toks,
               coalesce(x.n_new, 0) AS n_new
        FROM tokck t FULL JOIN newck x ON x.ck = t.ck
    ),
    spine AS (
        SELECT ck,
               sum(n_toks) OVER (ORDER BY ck
                                 ROWS UNBOUNDED PRECEDING) AS cum_toks,
               sum(n_new) OVER (ORDER BY ck
                                ROWS UNBOUNDED PRECEDING) AS cum_vocab
        FROM joined
    )
    SELECT count(*) AS n_checkpoints,
           max(cum_toks)::BIGINT AS total_tokens,
           max(cum_vocab)::BIGINT AS total_vocab,
           round(regr_slope(ln(cum_vocab), ln(cum_toks)), 4) AS beta_r,
           round(exp(regr_intercept(ln(cum_vocab), ln(cum_toks))), 4) AS k_r
    FROM spine
"""


@register("heaps_law_fit", oracle=_HEAPS_SQL)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β of DISTINCT-3-GRAM growth against
    corpus size, measured at 20 fixed checkpoints along the doc_id
    order — the empirical law behind every "counts over the distinct
    n-gram table, not the token stream" design note in this repo
    (``bpe_pair_counts``, ``chunk_dedup_ratio``): β < 1 is WHY those
    tables stay sublinear. The unit is shingles, not words, because
    the synthetic corpus has a closed 31-word vocabulary — word-level
    V(n) saturates at the first checkpoint (β = 0), while the 3-gram
    space exhibits the real sublinear growth the design notes rely on.

    Scale shape: the checkpoint id is a FIXED-width bucket of doc_id
    (20 buckets regardless of corpus size — broadcast 1-row doc count),
    cumulative vocabulary reduces to first-seen (min doc_id per word →
    bucket → cumsum on the 20-row spine, the ``cumulative_unique_users``
    trick), cumulative tokens is a grouped sum + the same tiny-spine
    cumsum, and the log-log fit is one regr_* moment aggregate over 20
    rows."""
    d = table(spark, sf_dir, "documents")
    nd = d.agg(F.count("*").alias("n_docs"))
    # fan the doc rows out BEFORE the shingle explode: the single-file scan
    # is one task, so both consumers of `toks` (token counts + first-seen)
    # each ran the whole explode serially (two ~3.2 s one-task stages at
    # sf0.1 — guide §2.6); a round-robin exchange of the raw docs is far
    # cheaper than either serial explode or caching the exploded stream
    toks = d.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), 3)).alias("w")
    )

    def ck(col):
        return F.least(
            F.floor(col * _HEAPS_CKPTS / F.col("n_docs")) + 1,
            F.lit(_HEAPS_CKPTS),
        ).cast("long")

    tokck = (
        toks.crossJoin(F.broadcast(nd))
        .groupBy(ck(F.col("doc_id")).alias("ck"))
        .agg(F.count("*").alias("n_toks"))
    )
    fw = toks.groupBy("w").agg(F.min("doc_id").alias("fd"))
    newck = (
        fw.crossJoin(F.broadcast(nd))
        .groupBy(ck(F.col("fd")).alias("ck"))
        .agg(F.count("*").alias("n_new"))
    )
    w = Window.orderBy("ck").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine = (
        tokck.join(newck, "ck", "full")
        .select(
            "ck",
            F.coalesce("n_toks", F.lit(0)).alias("n_toks"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(  # 20-row checkpoint spine: bounded by construction
            "ck",
            F.sum("n_toks").over(w).alias("cum_toks"),
            F.sum("n_new").over(w).alias("cum_vocab"),
        )
    )
    return spine.agg(
        F.count("*").alias("n_checkpoints"),
        F.max("cum_toks").cast("long").alias("total_tokens"),
        F.max("cum_vocab").cast("long").alias("total_vocab"),
        F.round(
            F.expr("regr_slope(ln(cum_vocab), ln(cum_toks))"), 4
        ).alias("beta_r"),
        F.round(
            F.exp(F.expr("regr_intercept(ln(cum_vocab), ln(cum_toks))")), 4
        ).alias("k_r"),
    )


# ------------------------------------------- importance-weight ESS audit

_ESS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    bt AS (
        SELECT doc_id, source, ({token_hash64_sql('tok')} % {_DSIR_BUCKETS}) AS bkt
        FROM toks
    ),
    cnt AS (
        SELECT bkt, count(*) AS n_raw,
               count(*) FILTER (WHERE source IN {_DSIR_TARGET}) AS n_tgt
        FROM bt GROUP BY 1
    ),
    tot AS (SELECT sum(n_raw) AS nr, sum(n_tgt) AS nt FROM cnt),
    dw AS (
        SELECT bt.doc_id,
               round(avg(ln(((c.n_tgt + 1.0) / (t.nt + {_DSIR_BUCKETS})) /
                            ((c.n_raw + 1.0) / (t.nr + {_DSIR_BUCKETS})))), 4)
                   AS lw
        FROM bt JOIN cnt c USING (bkt) CROSS JOIN tot t
        GROUP BY bt.doc_id
    ),
    wq AS (
        SELECT CAST(floor(exp(lw) * 1000000 + 0.5) AS BIGINT) AS w
        FROM dw
    )
    SELECT count(*) AS n_docs,
           round(pow(sum(CAST(w AS DECIMAL(38,0)))::DOUBLE, 2)
                 / sum(CAST(w AS DECIMAL(38,0))
                       * CAST(w AS DECIMAL(38,0)))::DOUBLE, 2) AS ess_r,
           round(pow(sum(CAST(w AS DECIMAL(38,0)))::DOUBLE, 2)
                 / sum(CAST(w AS DECIMAL(38,0))
                       * CAST(w AS DECIMAL(38,0)))::DOUBLE / count(*), 4)
               AS ess_frac_r
    FROM wq
"""


@register("importance_weight_ess", oracle=_ESS_SQL)
def importance_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the DSIR importance weights:
    ESS = (Σw)²/Σw² with w = exp(per-doc log-weight) — the one number
    that says whether importance reweighting kept a corpus or silently
    collapsed it onto a handful of documents (ESS/n near 1: benign;
    near 1/n: the 'weighted corpus' is really a few docs). The audit to
    run before trusting any ``dsir_importance_weights``-based
    selection.

    Scale shape: rides the DSIR lineage (fixed 10k-bucket state), then
    weights quantize to fixed-point integers (portable floor-ties) so
    Σw and Σw² accumulate EXACTLY in DECIMAL(38,0) — double sums of
    exp() values are summation-order-dependent across engines (the
    ``price_volume_mix`` lesson); the two ratios cast to double at the
    end on identical trees."""
    dw = dsir_importance_weights(spark, sf_dir).select(
        F.floor(F.exp(F.col("dsir_weight_r")) * 1_000_000 + 0.5)
        .cast("long")
        .alias("w")
    )
    wd = F.col("w").cast("decimal(38,0)")
    return dw.agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.pow(F.sum(wd).cast("double"), 2)
            / F.sum(wd * wd).cast("double"),
            2,
        ).alias("ess_r"),
        F.round(
            F.pow(F.sum(wd).cast("double"), 2)
            / F.sum(wd * wd).cast("double")
            / F.count("*"),
            4,
        ).alias("ess_frac_r"),
    )


# ------------------------------------- feature-hash collision audit

_HASHCOLL_SQL = f"""
    WITH toks AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    b AS (
        SELECT ({token_hash64_sql('tok')} % {_DSIR_BUCKETS}) AS bkt, count(*) AS n
        FROM toks GROUP BY 1
    )
    SELECT (SELECT count(*) FROM toks) AS n_terms,
           count(*) AS n_occupied,
           sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS n_colliding,
           round(sum(CASE WHEN n > 1 THEN n ELSE 0 END)
                 * 1.0 / (SELECT count(*) FROM toks), 4) AS collision_frac_r,
           max(n)::BIGINT AS max_bucket
    FROM b
"""


@register("feature_hash_collision_audit", oracle=_HASHCOLL_SQL)
def feature_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision audit of the 10k-bucket hashed-feature space DSIR
    scores against: how many distinct terms share a bucket, the
    colliding-term fraction, and the hottest bucket — the number that
    says whether 'collisions are part of the estimator' (the DSIR
    paper's stance) is a rounding error or a distortion on THIS
    vocabulary. Read beside ``dsir_importance_weights``.

    Scale shape: distinct terms (Heaps-sublinear) → one grouped count
    on the FIXED 10k-bucket key → 1-row aggregate; state bounded by
    the bucket space at any corpus size."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .withColumn("bkt", token_hash64(F.col("tok")) % _DSIR_BUCKETS)
    )
    n_terms = toks.agg(F.count("*").alias("n_terms"))
    b = toks.groupBy("bkt").agg(F.count("*").alias("n"))
    coll = F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
    return (
        b.agg(
            F.count("*").alias("n_occupied"),
            coll.cast("long").alias("n_colliding"),
            F.max("n").cast("long").alias("max_bucket"),
        )
        .crossJoin(F.broadcast(n_terms))
        .select(
            "n_terms",
            "n_occupied",
            "n_colliding",
            F.round(F.col("n_colliding") / F.col("n_terms"), 4).alias(
                "collision_frac_r"
            ),
            "max_bucket",
        )
    )


# ------------------------------------------- winnowing fingerprint selection

_WIN_K = 4  # tokens per k-gram
_WIN_W = 4  # k-gram hashes per winnowing window
_POS_PACK = 1 << 20  # pos packs into the low 20 bits of the selection key

#: k-grams hash to the top 40 of token_hash64's 60 bits, so the packed
#: (hash, reversed-pos) selection key h·2^20 + (2^20−1−pos) stays inside int64

_WINNOW_SQL = f"""
    WITH toksrc AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    base AS (
        SELECT doc_id, toks, len(toks) - {_WIN_K - 1} AS nk
        FROM toksrc WHERE len(toks) - {_WIN_K - 1} >= {_WIN_W}
    ),
    kg AS (
        SELECT doc_id, nk, toks, unnest(range(0, nk)) AS pos FROM base
    ),
    kgh AS (
        SELECT doc_id, nk, pos,
               ({token_hash64_sql(f"array_to_string(list_slice(toks, pos + 1, pos + {_WIN_K}), ' ')")} >> 20)
                   AS h
        FROM kg
    ),
    wins AS (
        SELECT doc_id,
               h * {_POS_PACK} + ({_POS_PACK - 1} - pos) AS comb,
               unnest(range(greatest(pos - {_WIN_W - 1}, 0),
                            least(pos, nk - {_WIN_W}) + 1)) AS wp
        FROM kgh
    ),
    sel AS (SELECT doc_id, wp, min(comb) AS c FROM wins GROUP BY 1, 2),
    fp AS (
        SELECT DISTINCT doc_id,
               c // {_POS_PACK} AS h,
               {_POS_PACK - 1} - (c % {_POS_PACK}) AS pos
        FROM sel
    ),
    docfp AS (SELECT DISTINCT doc_id, h FROM fp),
    dfr AS (SELECT h, count(*) AS df FROM docfp GROUP BY 1),
    tot AS (
        SELECT count(*) AS n_docs, sum(nk) AS n_kgrams FROM base
    ),
    fps AS (SELECT count(*) AS n_sel FROM fp),
    dfa AS (
        SELECT count(*) AS n_distinct_fp,
               sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_shared_fp,
               CAST(sum(CAST(df AS HUGEINT) * (df - 1) / 2) AS BIGINT)
                   AS n_cand_pairs
        FROM dfr
    )
    SELECT t.n_docs::BIGINT AS n_docs,
           t.n_kgrams::BIGINT AS n_kgrams,
           f.n_sel::BIGINT AS n_sel_positions,
           round(f.n_sel * 1.0 / t.n_kgrams, 6) AS density_r,
           d.n_distinct_fp::BIGINT AS n_distinct_fp,
           d.n_shared_fp::BIGINT AS n_shared_fp,
           d.n_cand_pairs
    FROM tot t CROSS JOIN fps f CROSS JOIN dfa d
"""


@register("winnowing_fingerprints", oracle=_WINNOW_SQL)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): hash every 4-token k-gram, slide a
    4-hash window, keep the RIGHTMOST MINIMUM of each window. The
    selected set guarantees any shared run of ≥ w+k−1 tokens between
    two documents shares a fingerprint — a positional, guarantee-backed
    alternative to MinHash's probabilistic sketches, reported here as
    the corpus audit row (selection density vs the theoretical 2/(w+1),
    shared-fingerprint count, and the candidate-pair mass an index on
    these fingerprints would generate).

    Scale shape: the rightmost-min-per-window argmax is ONE grouped
    min() — each k-gram hash packs into h·2^20 + (2^20−1−pos), so
    lexicographic integer min picks (smallest hash, largest pos)
    exactly; no window function, no per-window sort. Fan-out is a fixed
    ≤w rows per k-gram (the window-membership explode — same bounded
    economics as ``dup_span_coverage``'s 8-gram spans), candidate PAIRS
    are never materialized (the audit sums df·(df−1)/2 over the
    doc-frequency table in DECIMAL). The 20-bit position pack caps docs
    at 1M tokens — a pretraining corpus chunks long docs upstream
    (``doc_chunk_overlap``) before fingerprinting.

    Cites ``/root/reference/glue/etl_api.py:31-36`` (dedup intent) —
    the reference dedups on exact column equality; winnowing is the
    standard positional near-dup fingerprint for text at scale.
    """
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        "toks",
        (F.size("toks") - (_WIN_K - 1)).alias("nk"),
    )
    base = t.filter(F.col("nk") >= _WIN_W)
    kg = base.select(
        "doc_id",
        "nk",
        F.posexplode(shingles(F.col("toks"), _WIN_K)).alias("pos", "kgram"),
    )
    kgh = kg.select(
        "doc_id",
        "nk",
        "pos",
        F.shiftright(token_hash64(F.col("kgram")), 20).alias("h"),
    )
    wins = kgh.select(
        "doc_id",
        (F.col("h") * _POS_PACK + (F.lit(_POS_PACK - 1) - F.col("pos"))).alias(
            "comb"
        ),
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - (_WIN_W - 1), F.lit(0)),
                F.least(F.col("pos"), F.col("nk") - _WIN_W),
            )
        ).alias("wp"),
    )
    sel = wins.groupBy("doc_id", "wp").agg(F.min("comb").alias("c"))
    fp = sel.select(
        "doc_id",
        F.expr(f"c div {_POS_PACK}").alias("h"),
        (F.lit(_POS_PACK - 1) - F.col("c") % _POS_PACK).alias("pos"),
    ).distinct()
    docfp = fp.select("doc_id", "h").distinct()
    dfr = docfp.groupBy("h").agg(F.count("*").alias("df"))
    tot = base.agg(
        F.count("*").alias("n_docs"), F.sum("nk").cast("long").alias("n_kgrams")
    )
    fps = fp.agg(F.count("*").alias("n_sel"))
    dfa = dfr.agg(
        F.count("*").alias("n_distinct_fp"),
        F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_shared_fp"),
        F.sum(F.col("df").cast("decimal(19,0)") * (F.col("df") - 1) / 2)
        .cast("long")
        .alias("n_cand_pairs"),
    )
    return (
        tot.crossJoin(F.broadcast(fps))
        .crossJoin(F.broadcast(dfa))
        .select(
            "n_docs",
            "n_kgrams",
            F.col("n_sel").alias("n_sel_positions"),
            F.round(F.col("n_sel") / F.col("n_kgrams"), 6).alias("density_r"),
            "n_distinct_fp",
            "n_shared_fp",
            "n_cand_pairs",
        )
    )


# ---------------------------------------------- bigram entropy rate

_ENTRATE_SQL = f"""
    WITH bg AS (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               count(*) AS n12
        FROM (
            SELECT unnest({shingles_sql("string_split(text, ' ')", 2)}) AS bigram
            FROM documents
        )
        GROUP BY 1, 2
    ),
    m1 AS (SELECT w1, sum(n12) AS n1 FROM bg GROUP BY 1),
    m2 AS (SELECT w2, sum(n12) AS n2 FROM bg GROUP BY 1),
    tot AS (SELECT sum(n12) AS n FROM bg),
    cond AS (
        SELECT sum(CAST(round(
                   -(b.n12 * 1.0 / t.n) * ln(b.n12 * 1.0 / m.n1), 12)
               AS DECIMAL(28,12))) AS h_cond
        FROM bg b JOIN m1 m ON m.w1 = b.w1 CROSS JOIN tot t
    ),
    marg AS (
        SELECT sum(CAST(round(
                   -(n2 * 1.0 / t.n) * ln(n2 * 1.0 / t.n), 12)
               AS DECIMAL(28,12))) AS h_marg
        FROM m2 CROSS JOIN tot t
    )
    SELECT t.n::BIGINT AS n_bigrams,
           (SELECT count(*) FROM m1)::BIGINT AS n_contexts,
           round(CAST(c.h_cond AS DOUBLE) / ln(2.0), 6) AS h_rate_bits_r,
           round(CAST(g.h_marg AS DOUBLE) / ln(2.0), 6) AS h_marginal_bits_r,
           round(1.0 - CAST(c.h_cond AS DOUBLE) / CAST(g.h_marg AS DOUBLE),
                 6) AS redundancy_r
    FROM tot t CROSS JOIN cond c CROSS JOIN marg g
"""


@register("entropy_rate_bigram", oracle=_ENTRATE_SQL)
def entropy_rate_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram entropy rate H(W₂|W₁) = −Σ p(w₁,w₂)·ln p(w₂|w₁)
    beside the marginal H(W₂), and the Shannon redundancy
    1 − H(W₂|W₁)/H(W₂) — the information-theoretic compressibility
    read: high redundancy means the corpus is predictable
    token-to-token (boilerplate-heavy), the aggregate signal behind
    ``repetition_score``'s per-doc flags and ``source_entropy``'s
    unigram view.

    Scale shape: one exploded-bigram count (the ``collocations_pmi``
    table without the min-count prune), context marginals by re-summing
    the BIGRAM table (never a second corpus pass), and per-term
    contributions quantized to DECIMAL(28,12) before the exact sums —
    vocabulary-scale float summation stays engine-order-independent.
    The context join is a plain equi-join on w₁ (vocab grows with the
    corpus — no broadcast hint)."""
    d = table(spark, sf_dir, "documents")
    bg = (
        d.select(F.explode(shingles(tokens(F.col("text")), 2)).alias("bigram"))
        .select(
            F.substring_index("bigram", " ", 1).alias("w1"),
            F.substring_index("bigram", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n12"))
    )
    m1 = bg.groupBy("w1").agg(F.sum("n12").alias("n1"))
    m2 = bg.groupBy("w2").agg(F.sum("n12").alias("n2"))
    tot = bg.agg(F.sum("n12").alias("n"))
    n_ctx = m1.agg(F.count("*").alias("n_contexts"))
    cond = (
        bg.join(m1, "w1")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                -(F.col("n12") / F.col("n")) * F.log(F.col("n12") / F.col("n1")),
                12,
            )
            .cast("decimal(28,12)")
            .alias("c")
        )
        .agg(F.sum("c").alias("h_cond"))
    )
    marg = (
        m2.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                -(F.col("n2") / F.col("n")) * F.log(F.col("n2") / F.col("n")),
                12,
            )
            .cast("decimal(28,12)")
            .alias("c")
        )
        .agg(F.sum("c").alias("h_marg"))
    )
    import math as _math

    ln2 = _math.log(2.0)
    return (
        tot.crossJoin(F.broadcast(n_ctx))
        .crossJoin(F.broadcast(cond))
        .crossJoin(F.broadcast(marg))
        .select(
            F.col("n").cast("long").alias("n_bigrams"),
            F.col("n_contexts").cast("long").alias("n_contexts"),
            F.round(F.col("h_cond").cast("double") / ln2, 6).alias(
                "h_rate_bits_r"
            ),
            F.round(F.col("h_marg").cast("double") / ln2, 6).alias(
                "h_marginal_bits_r"
            ),
            F.round(
                1.0
                - F.col("h_cond").cast("double")
                / F.col("h_marg").cast("double"),
                6,
            ).alias("redundancy_r"),
        )
    )


# ----------------------------------------------- readability (curation signal)

_READ_SQL = """
    WITH m AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               greatest(length(regexp_replace(text, '[.!?]+', 'S', 'g'))
                        - length(regexp_replace(text, '[.!?]+', '', 'g')),
                        1) AS n_sentences,
               length(regexp_replace(text, '[aeiouAEIOU]+', 'V', 'g'))
                 - length(regexp_replace(text, '[aeiouAEIOU]+', '', 'g'))
                 AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                         - 84.6 * (n_syllables * 1.0 / n_words), 4)
               AS flesch_r
    FROM m
"""


@register("readability_scores", oracle=_READ_SQL)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch-reading-ease heuristic — the classic
    readability curation signal (C4/Gopher-style pipelines bucket docs on
    it before mixing). Syllables are approximated by maximal vowel runs
    and sentences by maximal ``[.!?]`` runs, both counted EXACTLY with the
    collapse-minus-remove regexp identity (a run collapses to one char, so
    #runs = len(collapsed) − len(removed)) — integer arithmetic that both
    engines reproduce bit-for-bit; the Flesch formula is one double
    expression per doc over those exact integers.

    Scale shape: a pure narrow map over the documents scan — no shuffle,
    no join, no window; cost is regex-linear in corpus bytes, the same
    class as ``quality_features``."""
    d = table(spark, sf_dir, "documents")

    def runs(pattern: str):
        return F.length(F.regexp_replace("text", pattern, "V")) - F.length(
            F.regexp_replace("text", pattern, "")
        )

    m = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_words"),
        F.greatest(runs("[.!?]+"), F.lit(1)).alias("n_sentences"),
        runs("[aeiouAEIOU]+").alias("n_syllables"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            206.835
            - 1.015 * (F.col("n_words") * 1.0 / F.col("n_sentences"))
            - 84.6 * (F.col("n_syllables") * 1.0 / F.col("n_words")),
            4,
        ).alias("flesch_r"),
    )


# ------------------------------------- matryoshka truncation quality (vectors)

_MAT_SQL = f"""
    WITH {cosine_topk_sql('tf', 5)}, {cosine_topk_sql('th', 5, vec='embedding[1:32]')}
    SELECT tf.query_id,
           count(th.cand_id) AS n_overlap,
           round(count(th.cand_id) / 5.0, 2) AS overlap_at5_r
    FROM tf LEFT JOIN th USING (query_id, cand_id)
    GROUP BY 1
"""


@register("matryoshka_truncation_eval", oracle=_MAT_SQL)
def matryoshka_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation quality: per query, the overlap@5
    between brute-force cosine top-5 under the FULL 64-dim embedding and
    under its FIRST-32-dim prefix — the measurement that decides whether a
    deployment can run ANN retrieval on truncated vectors (half the memory
    and I/O) without re-embedding (Kusupati et al. 2022, MRL).

    Scale shape: two broadcast-query brute-force top-k passes (the
    declared exact baseline of the similarity family — the scale path is
    the LSH/IVF variants), then a LEFT join of two k-row-per-query sets
    keyed on (query, candidate) and a bounded re-group."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(audit_query(F.col("vec_id")))
    eh = e.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    qh = eh.filter(audit_query(F.col("vec_id")))
    tf = cosine_topk(q, e, "vec_id", "vec_id", "embedding", "embedding", 5).select(
        "query_id", "cand_id"
    )
    th = cosine_topk(qh, eh, "vec_id", "vec_id", "embedding", "embedding", 5).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    return (
        tf.join(th, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / 5.0, 2).alias("overlap_at5_r"),
        )
    )


# -------------------------------------- cross-source quantile normalization

_QNORM_SQL = """
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               count(*) OVER (PARTITION BY source) AS ns
        FROM documents
    ),
    spine AS (
        SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1
    ),
    cum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                      AS cnt_le,
               sum(cnt) OVER () AS n_total
        FROM spine
    ),
    grid AS (
        SELECT t.b, min(c.v) AS q
        FROM generate_series(1, 256) AS t(b)
        JOIN cum c ON c.cnt_le * 256 >= t.b * c.n_total
        GROUP BY t.b
    ),
    mapped AS (
        SELECT rk.source, rk.n_chars,
               g.q AS normalized
        FROM ranked rk
        JOIN grid g ON g.b = (256 * rk.r + rk.ns - 1) // rk.ns
    )
    SELECT source, count(*) AS n,
           sum(n_chars)::BIGINT AS sum_len_before,
           sum(normalized)::BIGINT AS sum_len_after
    FROM mapped GROUP BY 1
"""


@register("quantile_normalize_lengths", oracle=_QNORM_SQL)
def quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (the microarray-style
    distribution equalizer, Bolstad et al. 2003, as a curation op): every
    document's length is replaced by the POOLED length distribution's
    value at the document's within-source quantile, so all sources end up
    with the same length distribution — the standard fix when one crawl
    source systematically writes longer documents and a length-based
    quality gate would otherwise bias the source mix.

    All arithmetic is INTEGER: within-source rank r of ns maps to grid
    bucket b = ⌈256·r/ns⌉ computed with long DIV (matching the oracle's
    '//' exactly — no floor-on-double, which diverges from integer
    division as counts approach 2^53), and the pooled quantile q_b is the
    smallest value whose cumulative count satisfies cnt_le·256 ≥ b·N — no
    float percentiles anywhere, so both engines agree exactly.

    Spine bound: the cumsum runs over DISTINCT n_chars values, bounded by
    the maximum document length (a pipeline property independent of corpus
    row count — a length gate upstream caps it), not by the 100 TB fact
    size; n_total shares the same single Window exec as the cumsum (one
    pass, no second scan).

    Scale shape: one keyed window per source (rank), one partitionless
    cumsum over the BOUNDED length-value spine, a 256×spine bounded join
    to build the grid, then a broadcast 256-row equi-join back onto the
    docs. Nothing quadratic, nothing unbounded-partitionless."""
    d = table(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(wsrc).alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("ns"),
    )
    spine = d.groupBy(F.col("n_chars").alias("v")).agg(F.count("*").alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = spine.select(
        "v",
        F.sum("cnt").over(wv).alias("cnt_le"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_total"),
    )
    grid = (
        spark.range(1, 257)
        .select(F.col("id").alias("b"))
        .join(
            F.broadcast(cum),
            F.col("cnt_le") * 256 >= F.col("b") * F.col("n_total"),
        )
        .groupBy("b")
        .agg(F.min("v").alias("q"))
    )
    mapped = ranked.join(
        F.broadcast(grid),
        F.col("b") == F.expr("(256 * r + ns - 1) DIV ns"),
    )
    return mapped.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("sum_len_before"),
        F.sum(F.col("q")).alias("sum_len_after"),
    )


# ----------------------------------------- split conformal prediction

_CONFORMAL_SQL = f"""
    WITH scored AS (
        SELECT doc_id,
               abs(n_chars
                   - 6 * (1 + len(text) - len(replace(text, ' ', ''))))
                   ::BIGINT AS score,
               {token_hash64_sql("doc_id::VARCHAR")} % 2
                   AS fold
        FROM documents
    ),
    cal AS (SELECT score FROM scored WHERE fold = 0),
    tst AS (SELECT score FROM scored WHERE fold = 1),
    spine AS (SELECT score AS v, count(*) AS c FROM cal GROUP BY 1),
    cum AS (
        SELECT x.v,
               (SELECT sum(y.c) FROM spine y WHERE y.v <= x.v)::BIGINT AS cnt_le
        FROM spine x
    ),
    kq AS (
        SELECT count(*)::BIGINT AS n_cal,
               least(CAST(ceil((count(*) + 1) * 0.9) AS BIGINT),
                     count(*)) AS k
        FROM cal
    ),
    qhat AS (
        SELECT kq.n_cal, kq.k, min(cum.v) AS q
        FROM cum CROSS JOIN kq WHERE cum.cnt_le >= kq.k
        GROUP BY 1, 2
    )
    SELECT q.n_cal, q.k, q.q AS qhat,
           count(*)::BIGINT AS n_test,
           sum(CASE WHEN t.score <= q.q THEN 1 ELSE 0 END)::BIGINT AS n_covered,
           round(sum(CASE WHEN t.score <= q.q THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS coverage_r
    FROM tst t CROSS JOIN qhat q
    GROUP BY 1, 2, 3
"""


@register("split_conformal_coverage", oracle=_CONFORMAL_SQL)
def split_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction (Vovk; Lei et al. 2018) over a
    deterministic length model: predicted chars = 6·word_count,
    nonconformity = |actual − predicted| (an exact integer). The corpus
    hash-splits 50/50 (portable sha256 fold — the deterministic_sample
    discipline, identical membership in both engines); the calibration
    quantile q̂ is the ⌈(n+1)·0.9⌉-th smallest calibration score (the
    finite-sample-valid order statistic, capped at n), and the reported
    coverage is the share of test scores ≤ q̂ — the marginal ≥90%
    guarantee a data-quality gate needs before trusting the predictor's
    intervals.

    Exactness: scores are integers, the order statistic is an exact
    threshold on an integer cumulative count, coverage is one double
    division of two exact longs.

    Scale shape: one fact pass to per-fold score tables; the quantile
    comes from the DISTINCT-score spine (bounded by max document length)
    via a triangular broadcast join — no window, nothing partitionless;
    q̂ is a 1-row broadcast into the test-side aggregate."""
    d = table(spark, sf_dir, "documents")
    words = F.lit(1) + F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    scored = d.select(
        F.abs(F.col("n_chars") - 6 * words).cast("long").alias("score"),
        (token_hash64(F.col("doc_id").cast("string")) % 2).alias("fold"),
    )
    cal = scored.filter(F.col("fold") == 0).select("score")
    tst = scored.filter(F.col("fold") == 1).select("score")
    spine = cal.groupBy(F.col("score").alias("v")).agg(F.count("*").alias("c"))
    prior = spine.select(F.col("v").alias("v2"), F.col("c").alias("c2"))
    cum = (
        spine.join(F.broadcast(prior), F.col("v2") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("c2").alias("cnt_le"))
    )
    kq = cal.agg(
        F.count("*").alias("n_cal"),
        F.least(
            F.ceil((F.count("*") + 1) * F.lit(0.9)).cast("long"), F.count("*")
        ).alias("k"),
    )
    qhat = (
        cum.crossJoin(F.broadcast(kq))
        .filter(F.col("cnt_le") >= F.col("k"))
        .groupBy("n_cal", "k")
        .agg(F.min("v").alias("qhat"))
    )
    covered = F.sum(F.when(F.col("score") <= F.col("qhat"), 1).otherwise(0))
    return (
        tst.crossJoin(F.broadcast(qhat))
        .groupBy("n_cal", "k", "qhat")
        .agg(
            F.count("*").alias("n_test"),
            covered.alias("n_covered"),
            F.round(covered * F.lit(1.0) / F.count("*"), 6).alias("coverage_r"),
        )
    )


# ------------------------------------- leave-one-source-out influence

_LOO_SQL = """
    WITH srcs AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT sum(n_docs)::BIGINT AS nn, sum(sum_chars)::BIGINT AS ss
        FROM srcs
    )
    SELECT s.source, s.n_docs,
           round(t.ss * 1.0 / t.nn, 6) AS mean_all_r,
           round((t.ss - s.sum_chars) * 1.0 / (t.nn - s.n_docs), 6)
               AS mean_excl_r,
           round((t.ss - s.sum_chars) * 1.0 / (t.nn - s.n_docs)
                 - t.ss * 1.0 / t.nn, 6) AS influence_r
    FROM srcs s CROSS JOIN tot t
"""


@register("loo_source_influence", oracle=_LOO_SQL)
def loo_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation: how much does each crawl
    source pull the corpus-level mean document length — the cheapest
    member of the influence-function family (Ghorbani-Zou data-Shapley's
    degenerate single-coalition case), and the first report a curation
    team reads before re-weighting sources. influence > 0 means removing
    the source RAISES the corpus mean (the source drags it down).

    Exactness: the leave-one-out mean is algebraic over the per-source
    partials ((S−s)/(N−n)) — no second pass over the fact table, no
    float crosses a row boundary; each mean is one double division of
    exact longs.

    Scale shape: ONE grouped pass to the ~20-row source panel; the
    grand total is a 1-row broadcast over that panel."""
    d = table(spark, sf_dir, "documents")
    srcs = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )
    tot = srcs.agg(
        F.sum("n_docs").alias("nn"), F.sum("sum_chars").alias("ss")
    )
    mean_all = F.col("ss") * F.lit(1.0) / F.col("nn")
    mean_excl = (F.col("ss") - F.col("sum_chars")) * F.lit(1.0) / (
        F.col("nn") - F.col("n_docs")
    )
    return srcs.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(mean_all, 6).alias("mean_all_r"),
        F.round(mean_excl, 6).alias("mean_excl_r"),
        F.round(mean_excl - mean_all, 6).alias("influence_r"),
    )


# --------------------------------------------- k-fold cross-validation

@register(
    "kfold_cv_mae",
    oracle=f"""
    WITH d AS (
        SELECT n_chars::BIGINT AS y,
               {token_hash64_sql("doc_id::VARCHAR")} % 5
                   AS fold
        FROM documents
    ),
    f AS (
        SELECT fold, count(*)::BIGINT AS n_f, sum(y)::BIGINT AS s_f
        FROM d GROUP BY 1
    ),
    t AS (SELECT sum(n_f)::BIGINT AS nn, sum(s_f)::BIGINT AS ss FROM f),
    terms AS (
        SELECT d.fold,
               abs(d.y * (t.nn - f.n_f) - (t.ss - f.s_f))::HUGEINT AS num,
               (t.nn - f.n_f)::BIGINT AS n_train
        FROM d JOIN f USING (fold) CROSS JOIN t
    )
    SELECT fold, count(*)::BIGINT AS n_test, max(n_train) AS n_train,
           round(sum(num)::DOUBLE / (count(*) * max(n_train)::DOUBLE), 6)
               AS mae_r
    FROM terms GROUP BY 1
    """,
)
def kfold_cv_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated MAE of the mean-predictor baseline on
    document length: each fold is scored by the mean of the OTHER four
    folds — the sanity baseline every regression eval needs before
    claiming a model beats it. Folds come from the portable sha256 hash
    (identical membership in both engines, stable under repartition —
    never ``df.randomSplit``, which is partition-layout-dependent).

    Exactness: the leave-fold-out mean is the rational (S−s_f)/(N−n_f);
    each absolute error is kept as the INTEGER numerator
    |y·(N−n_f) − (S−s_f)| (exact in DECIMAL/HUGEINT) and divided by its
    common denominator n_test·(N−n_f) exactly once — no float crosses a
    row boundary.

    Scale shape: one pass to the 5-row fold panel, a broadcast panel join
    back onto the facts (no second shuffle — fold stats ride with each
    row), then one grouped sum to 5 rows."""
    d = table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("y"),
        (token_hash64(F.col("doc_id").cast("string")) % 5).alias("fold"),
    )
    f = d.groupBy("fold").agg(
        F.count("*").alias("n_f"), F.sum("y").alias("s_f")
    )
    t = f.agg(F.sum("n_f").alias("nn"), F.sum("s_f").alias("ss"))
    stats = f.crossJoin(F.broadcast(t)).select(
        "fold",
        (F.col("nn") - F.col("n_f")).alias("n_train"),
        (F.col("ss") - F.col("s_f")).alias("s_train"),
    )
    terms = d.join(F.broadcast(stats), "fold").select(
        "fold",
        "n_train",
        F.abs(
            F.col("y").cast("decimal(38,0)") * F.col("n_train") - F.col("s_train")
        ).alias("num"),
    )
    return terms.groupBy("fold").agg(
        F.count("*").alias("n_test"),
        F.max("n_train").alias("n_train"),
        F.round(
            F.sum("num").cast("double")
            / (F.count("*") * F.max("n_train").cast("double")),
            6,
        ).alias("mae_r"),
    )


# ------------------------------------------- token-budget greedy packing

_BUDGET_SQL = """
    WITH d AS (
        SELECT doc_id, source,
               len(string_split(text, ' '))::BIGINT AS toks,
               len(list_distinct(string_split(text, ' ')))::BIGINT AS rich
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source, toks,
               (rich * 1000000) // toks AS q
        FROM d
    ),
    ranked AS (
        SELECT *,
               sum(toks) OVER (ORDER BY q DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cumtok
        FROM scored
    ),
    b AS (SELECT (sum(toks) // 10)::BIGINT AS budget FROM scored),
    sel AS (
        SELECT r.*, CASE WHEN r.cumtok <= b.budget THEN 1 ELSE 0 END AS sel
        FROM ranked r CROSS JOIN b
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(sel)::BIGINT AS n_sel,
           sum(toks)::BIGINT AS tok_total,
           sum(CASE WHEN sel = 1 THEN toks ELSE 0 END)::BIGINT AS tok_sel,
           round(sum(sel) * 1.0 / count(*), 6) AS sel_share_r
    FROM sel GROUP BY 1
"""


@register("token_budget_pack", oracle=_BUDGET_SQL)
def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget greedy packing: fill a 10%-of-corpus token budget with
    the documents of highest lexical-richness-per-token (the fractional-
    knapsack-optimal prefix of the quality ranking) and report the
    resulting SOURCE MIX SHIFT — the question every budgeted pretraining
    run asks: "which sources does the quality gate actually buy, and at
    what selection rate". Quality-per-token is quantized to an exact
    integer ((distinct_tokens·10⁶) DIV tokens; ties by doc_id), so
    selection is engine-reproducible.

    Scale shape: the running token total down the (q desc, doc_id) order
    and the corpus total come from ``prefix_sums``; the budget is
    scalar arithmetic on that total."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("rich"),
    )
    scored = d.select(
        "doc_id",
        "source",
        "toks",
        F.expr("(rich * 1000000) DIV toks").alias("q"),
    )
    sel = prefix_sums(
        scored, "q", ["doc_id"], {"cumtok": F.col("toks")}, descending=True
    ).withColumn("sel", F.expr("cumtok <= cumtok_total DIV 10").cast("int"))
    return sel.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("sel").alias("n_sel"),
        F.sum("toks").alias("tok_total"),
        F.sum(F.when(F.col("sel") == 1, F.col("toks")).otherwise(0)).alias("tok_sel"),
        F.round(F.sum("sel") * F.lit(1.0) / F.count("*"), 6).alias("sel_share_r"),
    )


# ------------------------------------------- n-gram coverage curve

_COVERAGE_KS = [100, 1000, 10000]
_COVERAGE_KS_SQL = ", ".join(f"({k})" for k in _COVERAGE_KS)

_NGRAM_COVERAGE_SQL = f"""
    WITH grams AS (
        SELECT unnest(string_split(text, ' ')) AS g FROM documents
    ),
    freq AS (SELECT g, count(*)::BIGINT AS c FROM grams GROUP BY 1),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rk FROM freq
    ),
    cum AS (
        SELECT rk, sum(c) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING)
                   AS mass_le
        FROM ranked
    ),
    tot AS (
        SELECT sum(c)::BIGINT AS mass, count(*)::BIGINT AS n_types FROM freq
    ),
    ks(k) AS (VALUES {_COVERAGE_KS_SQL})
    SELECT ks.k, t.n_types, t.mass AS total_mass,
           max(CASE WHEN cum.rk <= ks.k THEN cum.mass_le ELSE 0 END)
               ::BIGINT AS mass_topk,
           round(max(CASE WHEN cum.rk <= ks.k THEN cum.mass_le ELSE 0 END)
                 * 1.0 / t.mass, 6) AS coverage_r
    FROM cum CROSS JOIN tot t CROSS JOIN ks
    GROUP BY 1, 2, 3
"""


@register("ngram_coverage_curve", oracle=_NGRAM_COVERAGE_SQL)
def ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the share of total token mass covered by
    the top-K most frequent unigrams at K ∈ {100, 1k, 10k} (ties broken
    by the token string) — the truncation-planning readout for tokenizer
    vocabulary sizing ("how big must V be before <unk> mass is
    negligible"), the applied face of ``zipf_fit``/``heaps_law_fit``.

    Scale shape: one explode+count pass to the type-frequency table; the
    global (count desc, token) rank, the cumulative mass and both totals
    come from ``prefix_sums``; the three K cuts are a broadcast 3-row
    grid. All integer until the terminal coverage ratios."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("c"))
    )
    ranked = prefix_sums(
        freq, "c", ["g"], {"rk": F.lit(1), "mass_le": F.col("c")}, descending=True
    ).select(
        F.col("rk_total").alias("n_types"),
        F.col("mass_le_total").alias("mass"),
        "rk",
        "mass_le",
    )
    ks = const_df(spark, [(k,) for k in _COVERAGE_KS], "k INT")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k", "n_types", F.col("mass").alias("total_mass"))
        .agg(
            F.max(
                F.when(F.col("rk") <= F.col("k"), F.col("mass_le")).otherwise(0)
            ).alias("mass_topk"),
        )
        .select(
            "k",
            "n_types",
            "total_mass",
            "mass_topk",
            F.round(
                F.col("mass_topk") * F.lit(1.0) / F.col("total_mass"), 6
            ).alias("coverage_r"),
        )
    )


# ---------------------- DBSCAN (subcell-certified, rep-witnessed, scaled)

_DBSCAN_EPS = 20      # milli-units: 0.02 in embedding space
_DBSCAN_MINPTS = 5
_DBSCAN_SUB = 14      # subcell width floor(eps/sqrt(2)): in-subcell dist <= eps
_DBSCAN_REP_CAP = 16  # witness reps per subcell; never binds below sf1
# Union-form rounds of connected_components over the subcell graph. Rounds
# to the fixpoint: sf0.001 8, sf0.01 11, sf0.1 11 (measured in DuckDB on the
# fixtures; test_cc_fixture_certificates pins them at 0 unconverged); 16
# leaves headroom for longer subcell chains.
_DBSCAN_ROUNDS = 16

# 21-subcell neighborhood: |dq| <= eps=20 implies subcell delta <= 2, and the
# (±2,±2) corners are provably out of range (min dist 2·14−13=15 per axis →
# 450 > eps²), the classic Gunawan grid-DBSCAN pattern.
_DBSCAN_OFF = [
    (dx, dy)
    for dx in range(-2, 3)
    for dy in range(-2, 3)
    if not (abs(dx) == 2 and abs(dy) == 2)
]


def _dbscan_oracle_sql() -> str:
    """Subcell DBSCAN with ``connected_components_sql`` over the subcell
    nodes (all CTEs materialized — the power_iteration lesson: DuckDB
    otherwise inlines the chain into exponentially many scans)."""
    e2, mp, sub, cap = (
        _DBSCAN_EPS * _DBSCAN_EPS,
        _DBSCAN_MINPTS,
        _DBSCAN_SUB,
        _DBSCAN_REP_CAP,
    )
    off_rows = ", ".join(f"({dx}, {dy})" for dx, dy in _DBSCAN_OFF)
    ctes = [
        f"""pts AS MATERIALIZED (
        SELECT vec_id,
               floor(embedding[1]::DOUBLE * 1000 + 0.5)::BIGINT AS qx,
               floor(embedding[2]::DOUBLE * 1000 + 0.5)::BIGINT AS qy
        FROM embeddings
    )""",
        f"""sc AS MATERIALIZED (
        SELECT vec_id, qx, qy,
               floor(qx::DOUBLE / {sub})::BIGINT AS sx,
               floor(qy::DOUBLE / {sub})::BIGINT AS sy
        FROM pts
    )""",
        f"""occ AS MATERIALIZED (
        SELECT sx, sy, count(*)::BIGINT AS occ FROM sc GROUP BY 1, 2
    )""",
        f"off(dx, dy) AS MATERIALIZED (VALUES {off_rows})",
        # fringe = points in subcells below minPts: only they need exact
        # degrees; dense-subcell members are certified core outright
        f"""fringe AS MATERIALIZED (
        SELECT s.* FROM sc s JOIN occ o USING (sx, sy) WHERE o.occ < {mp}
    )""",
        f"""fringe_core AS MATERIALIZED (
        SELECT f.vec_id, f.qx, f.qy, f.sx, f.sy
        FROM fringe f, off
        JOIN sc b ON b.sx = f.sx + off.dx AND b.sy = f.sy + off.dy
        WHERE (f.qx - b.qx) * (f.qx - b.qx)
              + (f.qy - b.qy) * (f.qy - b.qy) <= {e2}
        GROUP BY 1, 2, 3, 4, 5
        HAVING count(*) >= {mp}
    )""",
        f"""core AS MATERIALIZED (
        SELECT s.vec_id, s.qx, s.qy, s.sx, s.sy
        FROM sc s JOIN occ o USING (sx, sy) WHERE o.occ >= {mp}
        UNION ALL
        SELECT vec_id, qx, qy, sx, sy FROM fringe_core
    )""",
        f"""reps AS MATERIALIZED (
        SELECT vec_id, qx, qy, sx, sy FROM (
            SELECT c.*,
                   row_number() OVER (
                       PARTITION BY sx, sy
                       ORDER BY {token_hash64_sql("'dbscan:' || vec_id::VARCHAR")},
                                vec_id
                   ) AS rk
            FROM core c
        ) WHERE rk <= {cap}
    )""",
        """node AS MATERIALIZED (
        SELECT sx, sy, min(vec_id) AS nid FROM core GROUP BY 1, 2
    )""",
        f"""sedge AS MATERIALIZED (
        SELECT na.nid AS src, nb.nid AS dst
        FROM reps a, off
        JOIN reps b ON b.sx = a.sx + off.dx AND b.sy = a.sy + off.dy
        JOIN node na ON na.sx = a.sx AND na.sy = a.sy
        JOIN node nb ON nb.sx = b.sx AND nb.sy = b.sy
        WHERE NOT (off.dx = 0 AND off.dy = 0) AND na.nid < nb.nid
          AND (a.qx - b.qx) * (a.qx - b.qx)
              + (a.qy - b.qy) * (a.qy - b.qy) <= {e2}
        GROUP BY 1, 2
    )""",
        "cc_nodes AS (SELECT nid AS v FROM node)",
        connected_components_sql("cc_nodes", "sedge", _DBSCAN_ROUNDS),
    ]
    return f"""
    WITH {",".join(ctes)},
    core_lab AS MATERIALIZED (
        SELECT c.vec_id, c.qx, c.qy, c.sx, c.sy, l.lab
        FROM core c
        JOIN node n ON n.sx = c.sx AND n.sy = c.sy
        JOIN cc_labels l ON l.v = n.nid
    ),
    border AS MATERIALIZED (
        SELECT f.vec_id, min(cl.lab) AS lab
        FROM (SELECT fr.* FROM fringe fr
              LEFT JOIN fringe_core fc ON fc.vec_id = fr.vec_id
              WHERE fc.vec_id IS NULL) f, off
        JOIN core_lab cl ON cl.sx = f.sx + off.dx AND cl.sy = f.sy + off.dy
        WHERE (f.qx - cl.qx) * (f.qx - cl.qx)
              + (f.qy - cl.qy) * (f.qy - cl.qy) <= {e2}
        GROUP BY 1
    ),
    counts AS (
        SELECT lab AS cluster_id,
               count(*) FILTER (WHERE is_core)::BIGINT AS n_core,
               count(*) FILTER (WHERE NOT is_core)::BIGINT AS n_border
        FROM (
            SELECT lab, TRUE AS is_core FROM core_lab
            UNION ALL
            SELECT lab, FALSE FROM border
        ) GROUP BY 1
    ),
    noise AS (
        SELECT count(*)::BIGINT AS n_noise
        FROM pts p
        LEFT JOIN core_lab c ON c.vec_id = p.vec_id
        LEFT JOIN border b ON b.vec_id = p.vec_id
        WHERE c.vec_id IS NULL AND b.vec_id IS NULL
    )
    SELECT c.cluster_id, c.n_core, c.n_border, n.n_noise,
           CASE WHEN t.n_unconverged = 0 THEN 1 ELSE 0 END AS converged
    FROM counts c CROSS JOIN noise n CROSS JOIN cc_unconverged t
    ORDER BY c.cluster_id
    """


@register("dbscan_grid_clusters", oracle=_dbscan_oracle_sql())
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (Ester et al. 1996) over the first two embedding dimensions,
    built to survive DENSITY SATURATION — the regime where a fixed ε on a
    growing corpus makes naive grid DBSCAN quadratic (measured: Σocc²
    grows ~95× per 10× data on the fixture geometry):

    - subcells of width ⌊ε/√2⌋ make every in-subcell pair ≤ ε, so any
      subcell with ≥ minPts occupants certifies ALL its members core with
      ZERO distance computations (Gunawan's grid DBSCAN); exact degrees
      are computed only for FRINGE points (sparse subcells), whose
      per-point candidate set is O(neighborhood occupancy) and whose
      total cost is ≤ (minPts−1)·Σ neighborhood occupancies = O(N);
    - cluster connectivity coarsens to the SUBCELL graph (all cores in a
      subcell are mutually ≤ ε), with cross-subcell edges witnessed by
      ≤ 16 hash-ranked REPRESENTATIVES per subcell over the 21-subcell
      Gunawan neighborhood — the ``max_bucket_occupancy`` discipline: the
      cap binds only above sf0.1 (fixture max occupancy 8), so fixture
      results are bit-identical to textbook DBSCAN (the referee test
      proves it), while at saturation the witness cost is
      O(cap²·subcells), never O(occ²);
    - components via ``connected_components`` over the subcell graph
      (``_DBSCAN_ROUNDS`` rounds), whose certificate is emitted as
      ``converged`` (the ktruss fixed-point discipline); border points
      adopt the minimum
      neighboring core label (deterministic where textbook DBSCAN is
      arrival-order-dependent); noise is the remainder.

    Exactness: integer milli-unit coordinates, so subcell assignment, ε²
    predicates, degrees, labels, and counts are all integer; the rep
    ranking uses the portable sha256 hash. Core/border/noise roles are
    EXACT at every scale (certification and fringe degrees are exact);
    only cross-subcell connectivity is representative-witnessed above the
    cap, and the output certifies CC convergence.

    Scale shape: one fact pass to quantized points; one subcell-key agg;
    fringe-only degree join (O(N)); rep-capped witness join
    (O(subcells·cap²)); CC rounds are subcell-table-sized. At 100 TB the
    subcell grid is the same partitioner a spatial bucketing would
    persist."""
    e = table(spark, sf_dir, "embeddings")
    eps2 = _DBSCAN_EPS * _DBSCAN_EPS
    mp, sub, cap = _DBSCAN_MINPTS, _DBSCAN_SUB, _DBSCAN_REP_CAP
    # sc is the fact-sized table with 5 downstream consumers; everything
    # after it is subcell-bounded
    sc = cut(
        e.select(
            "vec_id",
            F.floor(F.get("embedding", 0).cast("double") * 1000 + 0.5)
            .cast("long")
            .alias("qx"),
            F.floor(F.get("embedding", 1).cast("double") * 1000 + 0.5)
            .cast("long")
            .alias("qy"),
        ).select(
            "vec_id",
            "qx",
            "qy",
            F.floor(F.col("qx").cast("double") / sub).cast("long").alias("sx"),
            F.floor(F.col("qy").cast("double") / sub).cast("long").alias("sy"),
        ),
        "dbscan_grid_clusters.sc",
    )
    occ = sc.groupBy("sx", "sy").agg(F.count("*").alias("occ"))
    off = const_df(spark, _DBSCAN_OFF, "dx int, dy int")
    fringe = sc.join(occ.filter(F.col("occ") < mp), ["sx", "sy"]).select(
        "vec_id", "qx", "qy", "sx", "sy"
    )
    bshift = sc.select(
        F.col("qx").alias("bqx"),
        F.col("qy").alias("bqy"),
        F.col("sx").alias("jx"),
        F.col("sy").alias("jy"),
    )
    within = (
        (F.col("qx") - F.col("bqx")) * (F.col("qx") - F.col("bqx"))
        + (F.col("qy") - F.col("bqy")) * (F.col("qy") - F.col("bqy"))
        <= eps2
    )
    fringe_core = (
        fringe.crossJoin(F.broadcast(off))
        .withColumn("jx", F.col("sx") + F.col("dx"))
        .withColumn("jy", F.col("sy") + F.col("dy"))
        .join(bshift, ["jx", "jy"])
        .filter(within)
        .groupBy("vec_id", "qx", "qy", "sx", "sy")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") >= mp)
        .select("vec_id", "qx", "qy", "sx", "sy")
    )
    certified = sc.join(occ.filter(F.col("occ") >= mp), ["sx", "sy"]).select(
        "vec_id", "qx", "qy", "sx", "sy"
    )
    core = cut(certified.unionByName(fringe_core), "dbscan_grid_clusters.core")
    wrep = Window.partitionBy("sx", "sy").orderBy(
        token_hash64(F.concat(F.lit("dbscan:"), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    reps = cut(
        core.select("*", F.row_number().over(wrep).alias("rk"))
        .filter(F.col("rk") <= cap)
        .drop("rk"),
        "dbscan_grid_clusters.reps",
    )
    node = core.groupBy("sx", "sy").agg(F.min("vec_id").alias("nid"))
    repb = reps.select(
        F.col("qx").alias("bqx"),
        F.col("qy").alias("bqy"),
        F.col("sx").alias("jx"),
        F.col("sy").alias("jy"),
    )
    sedge = (
        reps.crossJoin(F.broadcast(off))
        .filter(~((F.col("dx") == 0) & (F.col("dy") == 0)))
        .withColumn("jx", F.col("sx") + F.col("dx"))
        .withColumn("jy", F.col("sy") + F.col("dy"))
        .join(repb, ["jx", "jy"])
        .filter(within)
        .join(node, ["sx", "sy"])
        .withColumnRenamed("nid", "src")
        .join(
            node.select(
                F.col("sx").alias("jx"),
                F.col("sy").alias("jy"),
                F.col("nid").alias("dst"),
            ),
            ["jx", "jy"],
        )
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    lab, unc = connected_components(
        node.select(F.col("nid").alias("v")), sedge, _DBSCAN_ROUNDS
    )
    cert = unc.select(
        F.when(F.col("n_unconverged") == 0, 1).otherwise(0).alias("converged")
    )
    core_lab = core.join(node, ["sx", "sy"]).join(
        lab.select(F.col("v").alias("nid"), "lab"), "nid"
    )
    clb = core_lab.select(
        F.col("qx").alias("bqx"),
        F.col("qy").alias("bqy"),
        F.col("sx").alias("jx"),
        F.col("sy").alias("jy"),
        "lab",
    )
    # Anti-join against the cut core, not fringe_core: fringe and
    # certified are disjoint by construction (occ < mp vs occ >= mp), so
    # fringe ∖ core ≡ fringe ∖ fringe_core — but fringe_core's fringe-degree
    # join is the single most expensive subtree here, and referencing it
    # uncut re-ran it per consumer (measured: three ~6 s 32-task stages
    # at sf0.1, one per consumer — guide §2.4 remove repeated passes).
    # border itself feeds TWO consumers (counts, noise).
    border = cut(
        fringe.join(core.select("vec_id"), "vec_id", "left_anti")
        .crossJoin(F.broadcast(off))
        .withColumn("jx", F.col("sx") + F.col("dx"))
        .withColumn("jy", F.col("sy") + F.col("dy"))
        .join(clb, ["jx", "jy"])
        .filter(within)
        .groupBy("vec_id")
        .agg(F.min("lab").alias("lab")),
        "dbscan_grid_clusters.border",
    )
    counts = (
        core_lab.select("lab", F.lit(True).alias("is_core"))
        .unionByName(border.select("lab", F.lit(False).alias("is_core")))
        .groupBy(F.col("lab").alias("cluster_id"))
        .agg(
            F.sum(F.col("is_core").cast("long")).alias("n_core"),
            F.sum((~F.col("is_core")).cast("long")).alias("n_border"),
        )
    )
    noise = (
        sc.join(
            core_lab.select(F.col("vec_id")), "vec_id", "left_anti"
        )
        .join(border.select(F.col("vec_id")), "vec_id", "left_anti")
        .agg(F.count("*").alias("n_noise"))
    )
    return (
        counts.crossJoin(F.broadcast(noise))
        .crossJoin(F.broadcast(cert))
        .select(
            "cluster_id",
            F.col("n_core").cast("long").alias("n_core"),
            F.col("n_border").cast("long").alias("n_border"),
            F.col("n_noise").cast("long").alias("n_noise"),
            "converged",
        )
        .orderBy("cluster_id")
    )


# ------------------------------------------- published quality-rule panel

# Gopher quality rules (Rae et al. 2021, "Scaling Language Models", table
# A1) / FineWeb heuristics — every threshold is applied with CROSS-
# MULTIPLIED INTEGER comparisons (10*symbols > wc, 3*wc <= chars, ...) so
# the pass/fail decision is bit-exact in any engine; only the final
# fail-fraction is a rounded float. The 8-word stop list is the
# Gopher/C4 "must contain 2 of ..." presence rule.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

_GOPHER_SQL = f"""
    WITH f AS (
        SELECT
            len(string_split(text, ' ')) AS wc,
            length(replace(text, ' ', '')) AS nc,
            length(text) - length(replace(text, '#', '')) AS n_sym,
            (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
            string_split(text, chr(10)) AS lines,
            {" + ".join(
                f"(CASE WHEN list_contains(string_split(text, ' '), '{w}') "
                "THEN 1 ELSE 0 END)" for w in _GOPHER_STOPS
            )} AS n_stop
        FROM documents
    ),
    g AS (
        SELECT wc, nc, n_sym, n_ell, n_stop,
               len(lines) AS n_lines,
               len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'))
                   AS n_bullet,
               len(list_filter(lines, l -> l LIKE '%...')) AS n_elline
        FROM f
    ),
    flags AS (
        SELECT
            CASE WHEN wc < 50 OR wc > 100000 THEN 1 ELSE 0 END AS f_wc,
            CASE WHEN 3 * wc <= nc AND nc <= 10 * wc THEN 0 ELSE 1 END
                AS f_mwl,
            CASE WHEN 10 * (n_sym + n_ell) > wc THEN 1 ELSE 0 END AS f_sym,
            CASE WHEN 10 * n_bullet > 9 * n_lines THEN 1 ELSE 0 END AS f_bul,
            CASE WHEN 10 * n_elline > 3 * n_lines THEN 1 ELSE 0 END AS f_ell,
            CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop
        FROM g
    ),
    agg AS (
        SELECT count(*) AS n_docs,
               sum(f_wc) AS s_wc, sum(f_mwl) AS s_mwl, sum(f_sym) AS s_sym,
               sum(f_bul) AS s_bul, sum(f_ell) AS s_ell,
               sum(f_stop) AS s_stop,
               sum(CASE WHEN f_wc + f_mwl + f_sym + f_bul + f_ell + f_stop
                        > 0 THEN 1 ELSE 0 END) AS s_any
        FROM flags
    )
    SELECT rule, n_fail::BIGINT AS n_fail, n_docs::BIGINT AS n_docs,
           round(n_fail * 1.0 / n_docs, 4) AS fail_frac_r
    FROM (
        SELECT 'word_count' AS rule, s_wc AS n_fail, n_docs FROM agg
        UNION ALL SELECT 'mean_word_len', s_mwl, n_docs FROM agg
        UNION ALL SELECT 'symbol_ratio', s_sym, n_docs FROM agg
        UNION ALL SELECT 'bullet_lines', s_bul, n_docs FROM agg
        UNION ALL SELECT 'ellipsis_lines', s_ell, n_docs FROM agg
        UNION ALL SELECT 'stopword_presence', s_stop, n_docs FROM agg
        UNION ALL SELECT 'any_rule', s_any, n_docs FROM agg
    )
    """


@register("gopher_quality_panel", oracle=_GOPHER_SQL)
def gopher_quality_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published pretraining-corpus quality-rule panel (Gopher, Rae et al.
    2021 table A1; the FineWeb/C4 heuristic family): per-document word
    count bounds [50, 100k], mean word length window [3, 10], symbol-to-
    word ratio (# and ellipsis) <= 0.1, bullet-start line ratio <= 0.9,
    ellipsis-end line ratio <= 0.3, and the >= 2-stop-word presence rule —
    reported as a per-rule failure rollup (n_fail / n_docs / fail
    fraction) plus an 'any_rule' row, the shape a curation dashboard
    ingests. Composes with ``quality_features``/``lang_id_heuristic``
    (llm/textstats.py): those score, this panel gates.

    Scale shape: ONE narrow codegen projection over the corpus (split /
    replace / filter lambdas — no UDF, no shuffle keyed on text), a
    single 1-row global aggregate, and a 7-row literal unpivot of that
    row. Every threshold is a cross-multiplied integer comparison, so
    pass/fail is bit-exact across engines at any scale; the one float
    (fail fraction) is round-4 over exact integers. At 100 TB this is a
    map-only pass plus one 7-row exchange."""
    d = table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = tokens(t)
    lines = F.split(t, "\n")
    n_stop = sum(
        F.array_contains(toks, w).cast("int") for w in _GOPHER_STOPS
    )
    g = d.select(
        F.size(toks).alias("wc"),
        F.length(F.replace(t, F.lit(" "), F.lit(""))).alias("nc"),
        (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).alias(
            "n_sym"
        ),
        (
            (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit(""))))
            / F.lit(3)
        )
        .cast("long")
        .alias("n_ell"),
        F.size(lines).alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*"),
            )
        ).alias("n_bullet"),
        F.size(F.filter(lines, lambda l: l.endswith("..."))).alias(
            "n_elline"
        ),
        n_stop.alias("n_stop"),
    )
    flags = g.select(
        ((F.col("wc") < 50) | (F.col("wc") > 100000)).cast("int").alias("f_wc"),
        (
            ~((3 * F.col("wc") <= F.col("nc")) & (F.col("nc") <= 10 * F.col("wc")))
        )
        .cast("int")
        .alias("f_mwl"),
        (10 * (F.col("n_sym") + F.col("n_ell")) > F.col("wc"))
        .cast("int")
        .alias("f_sym"),
        (10 * F.col("n_bullet") > 9 * F.col("n_lines")).cast("int").alias("f_bul"),
        (10 * F.col("n_elline") > 3 * F.col("n_lines")).cast("int").alias("f_ell"),
        (F.col("n_stop") < 2).cast("int").alias("f_stop"),
    )
    agg = flags.agg(
        F.count("*").alias("n_docs"),
        F.sum("f_wc").alias("s_wc"),
        F.sum("f_mwl").alias("s_mwl"),
        F.sum("f_sym").alias("s_sym"),
        F.sum("f_bul").alias("s_bul"),
        F.sum("f_ell").alias("s_ell"),
        F.sum("f_stop").alias("s_stop"),
        F.sum(
            (
                (
                    F.col("f_wc")
                    + F.col("f_mwl")
                    + F.col("f_sym")
                    + F.col("f_bul")
                    + F.col("f_ell")
                    + F.col("f_stop")
                )
                > 0
            ).cast("int")
        ).alias("s_any"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(rule).alias("rule"), F.col(col).alias("n_fail")
            )
            for rule, col in (
                ("word_count", "s_wc"),
                ("mean_word_len", "s_mwl"),
                ("symbol_ratio", "s_sym"),
                ("bullet_lines", "s_bul"),
                ("ellipsis_lines", "s_ell"),
                ("stopword_presence", "s_stop"),
                ("any_rule", "s_any"),
            )
        ]
    )
    return agg.select(
        F.explode(rows).alias("r"), F.col("n_docs").cast("long").alias("n_docs")
    ).select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_fail").cast("long").alias("n_fail"),
        "n_docs",
        F.round(F.col("r.n_fail") / F.col("n_docs"), 4).alias("fail_frac_r"),
    )
