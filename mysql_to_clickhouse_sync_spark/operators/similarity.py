"""Embedding similarity search — north-star extension (SURVEY.md §2.8).

The embeddings fixture is (vec_id, embedding array<float> x64, label). Four
declared queries cover the similarity ladder:

  * q_cosine_topk       — brute-force top-5 most-similar pairs per label on a
                          bounded id range: the exact baseline (ground truth
                          only — per-label all-pairs, never the scale path).
  * q_neardup_exact     — all-pairs near-duplicate ground truth on the same
                          bounded subset.
  * q_embedding_neardup — THE production near-dup path: banded sign-LSH
                          candidate generation (16 bands x 4 sign bits; an
                          equi-join on (label, band, bucket) over a skinny
                          exploded table) followed by exact scoring. No
                          per-label all-pairs term; band length dials
                          recall vs candidate volume.
  * q_ann_lsh           — the ANN scale path: sign-random-projection buckets
                          (first 8 dims -> 256 buckets), search only within
                          the bucket. Approximate by construction; both
                          engines compute the identical bucketing, so it
                          still hash-matches.

Float determinism: every dot product is a sequential left-fold over
double-cast elements (Spark F.aggregate == DuckDB list_reduce, both starting
from +0.0), so results are bitwise identical across engines — no rounding
needed, and none applied.

Scale notes: pair joins carry only (id, vec) and shuffle on label/bucket; at
100 TB brute force is O(n^2) and exists as ground truth on a bounded subset —
the LSH path is the production shape (cheap bucketing pass, then per-bucket
pair scoring; bucket width tunes recall vs cost). Norms are computed once per
vector before the join, not per pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
    DEFAULT_MAX_BUCKET,
    band_pairs,
    cap_buckets,
)
from mysql_to_clickhouse_sync_spark.registry import declare

TOPK_SUBSET = 1500  # vec_id bound for the brute-force pair queries
TOPK_K = 5
NEARDUP_THRESHOLD = 0.30  # synthetic 64-dim embeddings: high cosine is rare
LSH_BITS = 8
LSH_QUERIES = 50  # vec_id bound for the ANN query set
ANN_K = 3


# Canonical definitions live in functions/vectors.py; re-exported here under
# the historical names for the operator/test importers.
from mysql_to_clickhouse_sync_spark.functions.vectors import (  # noqa: E402
    DOT_SQL as _DOT_SQL,
    NORM_SQL as _NORM_SQL,
    dot,
    with_norm,
)


def _pair_cosine(subset_pred: str) -> str:
    """Oracle CTE: normed vectors + all same-label pairs with cosine."""
    return f"""
    WITH normed AS (
        SELECT vec_id, label, embedding, {_NORM_SQL} AS norm
        FROM embeddings WHERE {subset_pred}
    ), pairs AS (
        SELECT a.label AS label,
               a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                   / (a.norm * b.norm) AS cosine
        FROM normed a JOIN normed b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    """


def pairwise_cosine(subset: DataFrame) -> DataFrame:
    """Same-label pair cosine similarities from a (vec_id,label,embedding)
    DataFrame. Norms precomputed; join shuffles on label only."""
    normed = with_norm(subset)
    a = normed.select(
        F.col("label"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = normed.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        a.join(b, (a.label == b.label_b) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "label",
            "vec_a",
            "vec_b",
            (
                dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cosine"),
        )
    )


@declare(
    "q_cosine_topk",
    oracle=f"""
    {_pair_cosine(f'vec_id < {TOPK_SUBSET}')}
    SELECT label, vec_a, vec_b, cosine
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY label ORDER BY cosine DESC, vec_a, vec_b) AS rn
        FROM pairs
    )
    WHERE rn <= {TOPK_K}
    """,
    tier="P2",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 most-similar same-label pairs (bounded id
    range — the O(n^2) ground truth for the LSH path)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < TOPK_SUBSET
    )
    pairs = pairwise_cosine(emb)
    w = Window.partitionBy("label").orderBy(
        F.col("cosine").desc(), F.col("vec_a"), F.col("vec_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK_K)
        .select("label", "vec_a", "vec_b", "cosine")
    )


@declare(
    "q_neardup_exact",
    oracle=f"""
    {_pair_cosine(f'vec_id < {TOPK_SUBSET}')}
    SELECT label, vec_a, vec_b, cosine
    FROM pairs
    WHERE cosine >= {NEARDUP_THRESHOLD}
    """,
    tier="P2",
)
def q_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-duplicate pairs on a bounded subset: the
    all-pairs ground truth against which q_embedding_neardup's banded-LSH
    recall is judged. Per-label all-pairs is O(n^2/L) — deliberately
    bounded; the unbounded production path is q_embedding_neardup."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < TOPK_SUBSET
    )
    return pairwise_cosine(emb).filter(F.col("cosine") >= NEARDUP_THRESHOLD)


# Banded sign-LSH for near-dup candidate generation: 16 bands x 4 sign bits
# covering all 64 dims. A pair becomes a candidate iff some band's 4 signs
# all agree — the same band/bucket recall dial as MinHash LSH (longer bands
# => fewer, more-precise candidates; production near-dup at cosine>=0.9
# would use 8-16 bit bands).
NEARDUP_BANDS = 16
NEARDUP_BAND_BITS = 4
EMB_CELL = ("label", "band", "bucket")  # band table cell keys


def band_bucket(
    vec: Column, band: int, band_bits: int = NEARDUP_BAND_BITS
) -> Column:
    out = F.lit(0)
    for j in range(band_bits):
        dim = band * band_bits + j + 1
        out = out + F.when(F.element_at(vec, dim) > 0, F.lit(2**j)).otherwise(
            F.lit(0)
        )
    return out


def embedding_band_table(
    emb: DataFrame,
    n_bands: int = NEARDUP_BANDS,
    band_bits: int = NEARDUP_BAND_BITS,
) -> DataFrame:
    """(vec_id, label, band, bucket) sign-LSH banding table over a
    NORM-FILTERED embedding frame — the shared front half of candidate
    generation (banded_neardup_pairs) and bucket auditing
    (q_embedding_bucket_audit), so the audit always reports exactly the
    cells the guard drops (minhash_band_table's role for this family)."""
    return emb.select(
        "vec_id",
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(F.col("embedding"), b, band_bits).alias(
                            "bucket"
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "vec_id",
        "label",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def banded_neardup_pairs(
    emb: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    n_bands: int = NEARDUP_BANDS,
    band_bits: int = NEARDUP_BAND_BITS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Parameterized banded sign-LSH near-dup: the (n_bands, band_bits)
    pair IS the recall/cost dial. Longer bands (more bits) require more
    sign agreement per band, so the candidate set SHRINKS monotonically
    when bits grow at fixed coverage (n_bands * band_bits <= dims) —
    tests/test_dedup_modules.py pins that monotonicity. At the fixture's
    deliberately loose threshold the 25x stress measured ~300 vectors per
    cell with 4-bit bands (PLANS.md); a production near-dup pass
    (cosine >= 0.9) runs 8-16 bit bands, which empties the cells while
    keeping recall for truly-near pairs.

    `emb` must carry (vec_id, label, embedding); norms are derived.
    Zero-norm vectors are excluded up front: their cosine is undefined
    (ANSI division by zero at rescore time), they can never legitimately
    cross a similarity threshold, and at scale they all collapse into one
    degenerate bucket — route them to exact dedup instead.

    The bucket guard DEFAULTS ON as of round 4: the (label, band, bucket)
    key carries the 10-ary label, and the measured 25x 90%-one-label
    corpus put 1.04B analytic pairs in the uncapped join — enough that
    the distinct-shuffle SPILL FILLED THE DISK before any timing could
    finish — vs 13.4k candidates / 9.4 s at cap 500 (PLANS.md round-4
    table). Oracle-exact declared queries opt out with max_bucket=None."""
    emb = with_norm(emb).filter(F.col("norm") > 0)
    bands = embedding_band_table(emb, n_bands, band_bits)
    cand = band_pairs(bands, "vec_id", EMB_CELL, max_bucket, carry=("label",))
    return cosine_rescore(cand, emb, threshold)


def cosine_rescore(
    cand: DataFrame, emb: DataFrame, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """(label, vec_a, vec_b, cosine) for band_pairs candidates carrying
    `label`: exact cosine against the norm-filtered embedding frame, kept
    when >= threshold."""
    normed_a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    normed_b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        cand.join(normed_a, "id_a")
        .join(normed_b, "id_b")
        .select(
            "label",
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            (
                dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _band_sql(col: str, band: int) -> str:
    return " + ".join(
        f"CASE WHEN {col}[{band * NEARDUP_BAND_BITS + j + 1}] > 0"
        f" THEN {2**j} ELSE 0 END"
        for j in range(NEARDUP_BAND_BITS)
    )


_NEARDUP_BANDS_CTE = ",\n".join(
    f"{_band_sql('embedding', b)} AS band{b}" for b in range(NEARDUP_BANDS)
)
_NEARDUP_ANY_BAND = " OR ".join(
    f"a.band{b} = b.band{b}" for b in range(NEARDUP_BANDS)
)


@declare(
    "q_embedding_neardup",
    oracle=f"""
    WITH normed AS (
        SELECT vec_id, label, embedding, {_NORM_SQL} AS norm,
               {_NEARDUP_BANDS_CTE}
        FROM embeddings
    ), pairs AS (
        SELECT a.label AS label,
               a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                   / (a.norm * b.norm) AS cosine
        FROM normed a JOIN normed b
          ON a.label = b.label AND a.vec_id < b.vec_id
         AND ({_NEARDUP_ANY_BAND})
    )
    SELECT label, vec_a, vec_b, cosine
    FROM pairs
    WHERE cosine >= {NEARDUP_THRESHOLD}
    """,
    tier="P2",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs via banded sign-LSH — the
    production shape for 100 TB. Candidates are generated by an EQUI-join
    on (label, band, bucket) over an exploded skinny banding table (no
    arrays shuffled), deduped, then scored exactly and thresholded. No
    per-label all-pairs anywhere: the only quadratic term is within a
    (label, band, bucket) cell, dialed by band length. The oracle states
    identical semantics as the OR-of-bands theta join — results must match
    pair for pair (the exact fold-based cosine is bitwise engine-identical).
    """
    # max_bucket=None: the oracle states the UNCAPPED result (fixture
    # cells are tiny); the armed default is the library path.
    return banded_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), max_bucket=None
    )


def cosine_pandas_pairs(pairs: DataFrame) -> DataFrame:
    """Alternative physical strategy for pair scoring: Arrow-batched pandas
    UDF computing cosine via numpy over a (emb_a, emb_b, norm_a, norm_b)
    pair table. Same semantics as the fold-based `dot` (float64 ops in a
    different association order, so results can differ in the last ulp —
    fine for ranking, NOT for oracle hashing; declared queries use the fold).

    Exists as the measured fallback SURVEY.md §4.3(4) calls for: on very
    wide vectors numpy's vectorized dot beats the Catalyst fold; on 64-dim
    the JVM fold wins (no Python round-trip). tests/test_similarity_udf.py
    asserts agreement to 1e-9 and keeps both paths honest."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _cos(emb_a, emb_b, norm_a, norm_b):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        a = np.stack(emb_a.to_numpy()).astype("float64")
        b = np.stack(emb_b.to_numpy()).astype("float64")
        dots = np.einsum("ij,ij->i", a, b)
        return pd.Series(dots / (norm_a.to_numpy() * norm_b.to_numpy()))

    from mysql_to_clickhouse_sync_spark.shipping import ensure_package_shipped

    ensure_package_shipped(pairs.sparkSession)
    return pairs.withColumn(
        "cosine",
        _cos(F.col("emb_a"), F.col("emb_b"), F.col("norm_a"), F.col("norm_b")),
    )


def lsh_bucket(vec: Column, bits: int = LSH_BITS) -> Column:
    """Sign-random-projection bucket: bit i = sign(v[i]) over the first
    `bits` dims (axis-aligned projections — deterministic, engine-portable)."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return out


_LSH_BUCKET_SQL = " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {2**i} ELSE 0 END"
    for i in range(LSH_BITS)
)


@declare(
    "q_ann_lsh",
    oracle=f"""
    WITH normed AS (
        SELECT vec_id, label, embedding, {_NORM_SQL} AS norm,
               {_LSH_BUCKET_SQL} AS bucket
        FROM embeddings
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                   / (q.norm * c.norm) AS cosine
        FROM normed q JOIN normed c
          ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {LSH_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored
    )
    WHERE rn <= {ANN_K}
    """,
    tier="P2",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors: candidates restricted to the query's
    sign-LSH bucket (256 buckets over 8 dims), then exact cosine top-3 within
    the bucket. The production ANN shape: the expensive pair scoring touches
    ~n/256 of the corpus per query instead of n."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket", lsh_bucket(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") < LSH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("norm").alias("norm_q"),
        F.col("bucket").alias("bucket_q"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("norm").alias("norm_c"),
        F.col("bucket").alias("bucket_c"),
    )
    scored = q.join(
        c,
        (F.col("bucket_q") == F.col("bucket_c"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("emb_q"), F.col("emb_c")) / (F.col("norm_q") * F.col("norm_c"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# Cap for the DECLARED embedding-guard twins: fixture cells top out at
# 9-27 members across SFs, so cap=6 makes the exclusion fire under the
# oracle compare everywhere (MINHASH_AUDIT_CAP / GUARD_CAP rationale).
EMB_AUDIT_CAP = 6

_EMB_BANDS_UNION = "\n        UNION ALL\n        ".join(
    f"SELECT vec_id, label, {b} AS band,"
    f" ({_band_sql('embedding', b)}) AS bucket FROM nz"
    for b in range(NEARDUP_BANDS)
)


def _emb_guarded_oracle() -> str:
    return f"""
    WITH normed AS (
        SELECT vec_id, label, embedding, {_NORM_SQL} AS norm
        FROM embeddings
    ), nz AS (
        SELECT * FROM normed WHERE norm > 0
    ), bands AS (
        {_EMB_BANDS_UNION}
    ), sized AS (
        SELECT label, band, bucket, count(*) AS n
        FROM bands GROUP BY label, band, bucket
    ), kept AS (
        SELECT b.vec_id, b.label, b.band, b.bucket
        FROM bands b JOIN sized s
          ON b.label = s.label AND b.band = s.band AND b.bucket = s.bucket
        WHERE s.n <= {EMB_AUDIT_CAP}
    ), gcand AS (
        SELECT DISTINCT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM kept a JOIN kept b
          ON a.label = b.label AND a.band = b.band AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
    )
    SELECT c.label, c.vec_a, c.vec_b,
           {_DOT_SQL.format(a='na.embedding', b='nb.embedding')}
               / (na.norm * nb.norm) AS cosine
    FROM gcand c
    JOIN nz na ON na.vec_id = c.vec_a
    JOIN nz nb ON nb.vec_id = c.vec_b
    WHERE {_DOT_SQL.format(a='na.embedding', b='nb.embedding')}
          / (na.norm * nb.norm) >= {NEARDUP_THRESHOLD}
    """


@declare("q_embedding_guarded", oracle=_emb_guarded_oracle(), tier="P2")
def q_embedding_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_embedding_neardup with the bucket guard ARMED at a cap that
    bites on the fixture (EMB_AUDIT_CAP=6): (label, band, bucket) cells
    above the cap are excluded from candidate generation, oracle
    re-implementing the identical exclusion — the guarded twin the
    label-skew stress made mandatory (uncapped, a 90%-one-label 25x
    corpus generated 1.04B pairs and died in spill; PLANS.md)."""
    return banded_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), max_bucket=EMB_AUDIT_CAP
    )


@declare(
    "q_embedding_bucket_audit",
    oracle=f"""
    WITH normed AS (
        SELECT vec_id, label, embedding, {_NORM_SQL} AS norm
        FROM embeddings
    ), nz AS (
        SELECT * FROM normed WHERE norm > 0
    ), bands AS (
        {_EMB_BANDS_UNION}
    )
    SELECT label, band, bucket, count(*) AS bucket_n
    FROM bands GROUP BY label, band, bucket
    HAVING count(*) > {EMB_AUDIT_CAP}
    """,
    tier="P2",
)
def q_embedding_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped-cell accounting for q_embedding_guarded: one row per
    excluded (label, band, bucket) cell with its size — the third and
    last generator's audit table (simhash: q_lsh_bucket_audit, minhash:
    q_minhash_bucket_audit). Zero-norm vectors are excluded first,
    mirroring banded_neardup_pairs."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("norm") > 0
    )
    _, dropped = cap_buckets(embedding_band_table(emb), EMB_CELL, EMB_AUDIT_CAP)
    return dropped


# --- Hybrid retrieval: reciprocal rank fusion (BM25 + vector) ---------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_TOPN = 50  # per-modality candidate depth
RRF_SCALE = 1000000  # fused score in exact micro-units


def _rrf_oracle() -> str:
    from mysql_to_clickhouse_sync_spark.operators.text import _bm25_oracle

    return f"""
    WITH bm AS ({_bm25_oracle()}
    ), lex_doc AS (
        SELECT doc_id, CAST(sum(score_milli) AS BIGINT) AS lex_score
        FROM bm GROUP BY doc_id
    ), lex_top AS (
        SELECT doc_id, lex_score FROM lex_doc
        ORDER BY lex_score DESC, doc_id LIMIT {RRF_TOPN}
    ), lex_rank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY lex_score DESC, doc_id)
                   AS rank_lex
        FROM lex_top
    ), qv AS (
        SELECT embedding AS qe,
               {_NORM_SQL} AS qnorm
        FROM embeddings WHERE vec_id = 0
    ), scored AS (
        SELECT e.vec_id AS doc_id,
               {_DOT_SQL.format(a='e.embedding', b='qv.qe')}
                   / ({_NORM_SQL.format(a='e.embedding', b='e.embedding')}
                      * qv.qnorm) AS cosine
        FROM embeddings e CROSS JOIN qv
        WHERE e.vec_id <> 0
    ), vec_top AS (
        SELECT doc_id, cosine FROM scored
        ORDER BY cosine DESC, doc_id LIMIT {RRF_TOPN}
    ), vec_rank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_vec
        FROM vec_top
    )
    SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
           CAST(l.rank_lex AS BIGINT) AS rank_lex,
           CAST(v.rank_vec AS BIGINT) AS rank_vec,
           CAST(coalesce({RRF_SCALE} // ({RRF_K} + l.rank_lex), 0)
                + coalesce({RRF_SCALE} // ({RRF_K} + v.rank_vec), 0)
               AS BIGINT) AS rrf_micro
    FROM lex_rank l FULL OUTER JOIN vec_rank v ON l.doc_id = v.doc_id
    """


@declare("q_rrf", oracle=_rrf_oracle(), tier="P2")
def q_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack et al. 2009)
    — the standard way a RAG data pipeline merges a lexical and a
    vector ranking without score calibration: rrf(d) = sum over lists
    of 1/(60 + rank_d), here in exact integer micro-units so the fusion
    is engine-portable (1000000 div (60 + rank); every rank comes from
    a row_number over a total order).

    Lexical list: q_bm25's per-(doc, term) scores summed per doc.
    Vector list: query-by-example cosine against vec_id 0's embedding
    (the id spaces align: document i carries embedding i), using the
    shared left-fold dot product so the doubles are bitwise identical.

    Scale notes: each modality prunes to its global top-RRF_TOPN with
    orderBy().limit() (TakeOrdered — one reduce, no global sort), so
    the row_number windows and the full-outer fusion join run on
    RRF_TOPN-row frames regardless of corpus size. At 100 TB the only
    heavy stages are the two underlying scorers, each already
    scale-shaped (BM25: token-keyed aggregates; cosine: map-only scan
    against one broadcast query vector)."""
    from mysql_to_clickhouse_sync_spark.operators.text import q_bm25

    lex_doc = (
        q_bm25(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("score_milli").cast("bigint").alias("lex_score"))
    )
    lex_top = lex_doc.orderBy(F.col("lex_score").desc(), "doc_id").limit(
        RRF_TOPN
    )
    lex_rank = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("lex_score").desc(), "doc_id"))
        .alias("rank_lex"),
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = with_norm(emb.filter(F.col("vec_id") == 0)).select(
        F.col("embedding").alias("qe"), F.col("norm").alias("qnorm")
    )
    scored = (
        with_norm(emb.filter(F.col("vec_id") != 0))
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("embedding"), F.col("qe"))
                / (F.col("norm") * F.col("qnorm"))
            ).alias("cosine"),
        )
    )
    vec_top = scored.orderBy(F.col("cosine").desc(), "doc_id").limit(RRF_TOPN)
    vec_rank = vec_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), "doc_id"))
        .alias("rank_vec"),
    )

    return (
        lex_rank.join(vec_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("rank_lex").cast("bigint").alias("rank_lex"),
            F.col("rank_vec").cast("bigint").alias("rank_vec"),
            (
                F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_lex)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_vec)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_micro"),
        )
    )


# --- Ranking evaluation: NDCG over the fused ranking ------------------------

NDCG_K = 20
NDCG_SCALE = 1000000  # per-position gains in exact micro-units


def _ndcg_oracle() -> str:
    from mysql_to_clickhouse_sync_spark.operators.text import (
        TFIDF_MIN_LEN,
        _fixed_log2_q8_sql,
    )
    from mysql_to_clickhouse_sync_spark.operators.text import BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH rrf AS ({_rrf_oracle()}
    ), ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS pos
        FROM rrf
    ), topk AS (
        SELECT doc_id, pos FROM ranked WHERE pos <= {NDCG_K}
    ), rel AS (
        SELECT doc_id, CAST(count(DISTINCT token) AS BIGINT) AS rel
        FROM (
            SELECT doc_id, unnest(string_split_regex(lower(text),
                       '[^a-z]+')) AS token
            FROM documents
        )
        WHERE length(token) >= {TFIDF_MIN_LEN} AND token IN ({terms})
        GROUP BY doc_id
    ), graded AS (
        SELECT t.pos, t.doc_id, coalesce(r.rel, 0) AS rel
        FROM topk t LEFT JOIN rel r ON r.doc_id = t.doc_id
    ), ideal AS (
        SELECT row_number() OVER (ORDER BY rel DESC, doc_id) AS pos,
               rel
        FROM graded
    ), args AS (
        SELECT DISTINCT pos + 1 AS x FROM graded
    ),
    {_fixed_log2_q8_sql('args')},
    dcg AS (
        SELECT g.pos, g.doc_id, g.rel,
               CAST(g.rel * {NDCG_SCALE} * 256 // lg.lq8 AS BIGINT) AS gain,
               CAST(sum(g.rel * {NDCG_SCALE} * 256 // lg.lq8)
                    OVER (ORDER BY g.pos) AS BIGINT) AS dcg_cum
        FROM graded g JOIN lg ON lg.x = g.pos + 1
    ), idcg AS (
        SELECT i.pos,
               CAST(sum(i.rel * {NDCG_SCALE} * 256 // lg.lq8)
                    OVER (ORDER BY i.pos) AS BIGINT) AS idcg_cum
        FROM ideal i JOIN lg ON lg.x = i.pos + 1
    )
    SELECT d.pos, d.doc_id, d.rel, d.gain, d.dcg_cum,
           CAST(CASE WHEN i.idcg_cum > 0
                THEN d.dcg_cum * 1000 // i.idcg_cum ELSE 0 END AS BIGINT)
               AS ndcg_milli
    FROM dcg d JOIN idcg i ON i.pos = d.pos
    """


@declare("q_ndcg", oracle=_ndcg_oracle(), tier="P2")
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 evaluation of the q_rrf hybrid ranking — the retrieval
    loop closed end to end: rank (BM25), rank (vector), fuse (RRF),
    EVALUATE. Graded relevance is the count of distinct query terms a
    document contains (0..4, a signal independent of either ranker's
    scores); discounts 1/log2(pos + 1) run through the Q8 fixed-point
    log2 kernel so every gain, cumulative DCG, ideal DCG and
    ndcg_milli is exact BIGINT on both engines. Emitting all K
    positions (not one scalar) makes the hash check pin the whole
    discount curve.

    Scale notes: the ranking is already pruned to RRF_TOPN rows by
    q_rrf, so every window here runs on a constant-size frame; the
    relevance grade is one token-keyed semi-aggregation over the corpus
    (map-side combined). Evaluation cost is independent of corpus
    size."""
    from mysql_to_clickhouse_sync_spark.operators.text import (
        BM25_TERMS,
        TFIDF_MIN_LEN,
        with_fixed_log2_q8,
    )

    rrf = q_rrf(spark, sf_dir)
    ranked = rrf.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("rrf_micro").desc(), "doc_id"))
        .alias("pos"),
    ).filter(F.col("pos") <= NDCG_K)

    docs = load_table(spark, sf_dir, "documents")
    rel = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("token"),
        )
        .filter(
            (F.length("token") >= TFIDF_MIN_LEN)
            & F.col("token").isin(*BM25_TERMS)
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("token").cast("bigint").alias("rel"))
    )
    graded = (
        ranked.join(rel, "doc_id", "left")
        .select("pos", "doc_id", F.coalesce("rel", F.lit(0)).alias("rel"))
    )
    # Two consumers (the DCG curve and the ideal re-ranking) — cache the
    # <= NDCG_K-row graded frame so the whole upstream ranking pipeline
    # (BM25 + vector + RRF fusion) runs once (round 10, guide §1.3).
    graded = with_fixed_log2_q8(
        graded.withColumn("x", F.expr("pos + 1")), "x", "lq8"
    ).cache()
    wpos = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    dcg = graded.select(
        "pos",
        "doc_id",
        "rel",
        F.expr(f"CAST(rel * {NDCG_SCALE} * 256 div lq8 AS BIGINT)").alias(
            "gain"
        ),
        F.sum(F.expr(f"rel * {NDCG_SCALE} * 256 div lq8"))
        .over(wpos)
        .cast("bigint")
        .alias("dcg_cum"),
    )
    ideal = graded.select(
        F.row_number()
        .over(Window.orderBy(F.col("rel").desc(), "doc_id"))
        .alias("pos"),
        "rel",
    )
    ideal = with_fixed_log2_q8(
        ideal.withColumn("x", F.expr("pos + 1")), "x", "lq8"
    )
    idcg = ideal.select(
        "pos",
        F.sum(F.expr(f"rel * {NDCG_SCALE} * 256 div lq8"))
        .over(wpos)
        .cast("bigint")
        .alias("idcg_cum"),
    )
    return (
        dcg.join(idcg, "pos")
        .select(
            "pos",
            "doc_id",
            "rel",
            "gain",
            "dcg_cum",
            F.expr(
                "CAST(CASE WHEN idcg_cum > 0"
                " THEN dcg_cum * 1000 div idcg_cum ELSE 0 END AS BIGINT)"
            ).alias("ndcg_milli"),
        )
    )
