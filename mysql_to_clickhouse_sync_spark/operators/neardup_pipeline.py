"""The GUARDED near-dup pipeline as one declared contract (VERDICT r4 #6).

Round 4 armed every banded candidate generator's degenerate-bucket guard
by default and verified each guard's exclusion semantics through a
guarded-twin + audit query pair. What remained implicit was the
COMPOSITION: the production path — exact dedup first (ladder order),
then all three banded generators WITH their caps armed, with the audit
accounting alongside — was library behavior, not a declared, oracle-
verified query. q_neardup_pipeline closes that: one ledger query that
runs the full production shape end to end under ONE DuckDB oracle that
mirrors every stage including every exclusion.

Output: one row per stage —
    stage              'exact' | 'minhash' | 'simhash' | 'embedding'
    n_in               rows entering the stage (docs; reps; reps;
                       nonzero-norm vectors)
    n_out              exact: replicas removed; banded: surviving pairs
                       (minhash: distinct guarded candidates; simhash:
                       hamming <= 4; embedding: cosine >= threshold)
    n_dropped_buckets  buckets the guard excluded
    n_rows_dropped     band-table rows inside those buckets

The declared form runs the AUDIT caps (MINHASH_AUDIT_CAP=2, GUARD_CAP=8,
EMB_AUDIT_CAP=6) so every exclusion actually fires under the oracle
compare at every SF — a cap that never bites would verify nothing
(dedup.py GUARD_CAP rationale). `neardup_pipeline` itself defaults to
the production DEFAULT_MAX_BUCKET caps; tools/stress_gate.py runs that
form against the skew corpora where the uncapped paths melt, with wall
and candidate bounds.

Scale notes (100 TB): strictly the sum of its parts, in ladder order —
one md5 shuffle for exact reps, then each banded stage is the same
bucket-bounded equi-join plan as its standalone guarded twin; the
ledger itself is four one-row aggregates unioned, so output is O(1)
regardless of corpus size. No reference cite: the reference has no
dedup; this is the builder's-brief LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
    DEFAULT_MAX_BUCKET,
    band_pairs,
    cap_buckets,
)
from mysql_to_clickhouse_sync_spark.operators.dedup import (
    GUARD_CAP,
    MINHASH_AUDIT_CAP,
    MINHASH_CELL,
    NUM_HASHES,
    SIMHASH_CELL,
    SIMHASH_MAX_HAMMING,
    _minhash_cand_cte,
    _simhash_chunks_sql,
    _simhash_sh_cte,
    hamming_rescore,
    minhash_band_table,
    minhash_rescore,
    minhash_signatures_table,
    simhash_band_table,
    simhash_table,
)
from mysql_to_clickhouse_sync_spark.operators.similarity import (
    _EMB_BANDS_UNION,
    EMB_AUDIT_CAP,
    EMB_CELL,
    NEARDUP_THRESHOLD,
    cosine_rescore,
    embedding_band_table,
    with_norm,
)
from mysql_to_clickhouse_sync_spark.functions.vectors import (
    DOT_SQL as _DOT_SQL,
    NORM_SQL as _NORM_SQL,
)
from mysql_to_clickhouse_sync_spark.registry import declare

# Exact-stage representatives: keep-min doc per exact text (the ladder's
# stage 1), as a FROM-able subquery so each banded family's shared CTE
# builder can run over reps without CTE-name collisions.
_REPS_SQL = """(
        SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    )"""


def _pipeline_oracle() -> str:
    # Each family's full WITH..SELECT nests inside its own CTE (the
    # q_dedup_consensus scoping trick), so the three banded chains'
    # internal CTE names (toks, sized, kept, ...) cannot collide.
    return f"""
    WITH docs_n AS (
        SELECT count(*) AS n FROM documents
    ), reps_n AS (
        SELECT count(*) AS n FROM {_REPS_SQL}
    ), mh AS (
        {_minhash_cand_cte(source=_REPS_SQL)}
        , msized AS (
            SELECT band_idx, bucket, count(*) AS n
            FROM bands GROUP BY band_idx, bucket
        ), mkept AS (
            SELECT b.doc_id, b.band_idx, b.bucket
            FROM bands b JOIN msized s
              ON b.band_idx = s.band_idx AND b.bucket = s.bucket
            WHERE s.n <= {MINHASH_AUDIT_CAP}
        ), mpairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM mkept a JOIN mkept b
              ON a.band_idx = b.band_idx AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
        ), mdrop AS (
            SELECT count(*) AS nb, coalesce(sum(n), 0) AS nr
            FROM msized WHERE n > {MINHASH_AUDIT_CAP}
        )
        SELECT (SELECT count(*) FROM mpairs) AS n_out, nb, nr FROM mdrop
    ), sim AS (
        {_simhash_sh_cte(source=_REPS_SQL)}, chunks AS (
            {_simhash_chunks_sql()}
        ), ssized AS (
            SELECT lang, chunk_idx, chunk_val, count(*) AS n
            FROM chunks GROUP BY lang, chunk_idx, chunk_val
        ), skept AS (
            SELECT c.doc_id, c.lang, c.chunk_idx, c.chunk_val
            FROM chunks c JOIN ssized s
              ON c.lang = s.lang AND c.chunk_idx = s.chunk_idx
             AND c.chunk_val = s.chunk_val
            WHERE s.n <= {GUARD_CAP}
        ), scand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM skept a JOIN skept b
              ON a.lang = b.lang AND a.chunk_idx = b.chunk_idx
             AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
        ), spairs AS (
            SELECT doc_a, doc_b
            FROM scand
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b
            WHERE bit_count(xor(sa.simhash, sb.simhash))
                  <= {SIMHASH_MAX_HAMMING}
        ), sdrop AS (
            SELECT count(*) AS nb, coalesce(sum(n), 0) AS nr
            FROM ssized WHERE n > {GUARD_CAP}
        )
        SELECT (SELECT count(*) FROM spairs) AS n_out, nb, nr FROM sdrop
    ), emb AS (
        WITH normed AS (
            SELECT vec_id, label, embedding, {_NORM_SQL} AS norm
            FROM embeddings
        ), nz AS (
            SELECT * FROM normed WHERE norm > 0
        ), bands AS (
            {_EMB_BANDS_UNION}
        ), esized AS (
            SELECT label, band, bucket, count(*) AS n
            FROM bands GROUP BY label, band, bucket
        ), ekept AS (
            SELECT b.vec_id, b.label, b.band, b.bucket
            FROM bands b JOIN esized s
              ON b.label = s.label AND b.band = s.band
             AND b.bucket = s.bucket
            WHERE s.n <= {EMB_AUDIT_CAP}
        ), ecand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM ekept a JOIN ekept b
              ON a.label = b.label AND a.band = b.band
             AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), epairs AS (
            SELECT vec_a, vec_b
            FROM ecand
            JOIN nz na ON na.vec_id = vec_a
            JOIN nz nb ON nb.vec_id = vec_b
            WHERE {_DOT_SQL.format(a='na.embedding', b='nb.embedding')}
                  / (na.norm * nb.norm) >= {NEARDUP_THRESHOLD}
        ), edrop AS (
            SELECT count(*) AS nb, coalesce(sum(n), 0) AS nr
            FROM esized WHERE n > {EMB_AUDIT_CAP}
        )
        SELECT (SELECT count(*) FROM nz) AS n_in,
               (SELECT count(*) FROM epairs) AS n_out, nb, nr
        FROM edrop
    )
    SELECT 'exact' AS stage,
           CAST(d.n AS BIGINT) AS n_in,
           CAST(d.n - r.n AS BIGINT) AS n_out,
           CAST(0 AS BIGINT) AS n_dropped_buckets,
           CAST(0 AS BIGINT) AS n_rows_dropped
    FROM docs_n d, reps_n r
    UNION ALL
    SELECT 'minhash', CAST(r.n AS BIGINT), CAST(mh.n_out AS BIGINT),
           CAST(mh.nb AS BIGINT), CAST(mh.nr AS BIGINT)
    FROM reps_n r, mh
    UNION ALL
    SELECT 'simhash', CAST(r.n AS BIGINT), CAST(sim.n_out AS BIGINT),
           CAST(sim.nb AS BIGINT), CAST(sim.nr AS BIGINT)
    FROM reps_n r, sim
    UNION ALL
    SELECT 'embedding', CAST(emb.n_in AS BIGINT), CAST(emb.n_out AS BIGINT),
           CAST(emb.nb AS BIGINT), CAST(emb.nr AS BIGINT)
    FROM emb
    """


def neardup_pipeline(
    spark: SparkSession,
    sf_dir: str,
    mh_cap: int = DEFAULT_MAX_BUCKET,
    sh_cap: int = DEFAULT_MAX_BUCKET,
    emb_cap: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The production guarded pipeline, caps parameterized: exact reps
    first, then the three guarded banded generators over the reduced
    input, each with its dropped-bucket audit folded into the ledger.
    Every count is a Spark-side one-row aggregate (no collect)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        "doc_id"
    )
    reps = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
        .cache()
    )

    def stage(name, n_in_df, pairs_df, drop_df):
        counts = (
            n_in_df.crossJoin(pairs_df.agg(F.count("*").alias("n_out")))
            .crossJoin(
                drop_df.agg(
                    F.count("*").alias("nb"),
                    F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("nr"),
                )
            )
        )
        return counts.select(
            F.lit(name).alias("stage"),
            F.col("n_in").cast("bigint").alias("n_in"),
            F.col("n_out").cast("bigint").alias("n_out"),
            F.col("nb").cast("bigint").alias("n_dropped_buckets"),
            F.col("nr").cast("bigint").alias("n_rows_dropped"),
        )

    n_docs = docs.agg(F.count("*").alias("n_docs"))
    n_reps = reps.agg(F.count("*").alias("n_in"))
    exact = n_docs.crossJoin(n_reps).select(
        F.lit("exact").alias("stage"),
        F.col("n_docs").cast("bigint").alias("n_in"),
        (F.col("n_docs") - F.col("n_in")).cast("bigint").alias("n_out"),
        F.lit(0).cast("bigint").alias("n_dropped_buckets"),
        F.lit(0).cast("bigint").alias("n_rows_dropped"),
    )

    # Round 10: each family computes its banding table ONCE — candidate
    # generation and the dropped-bucket audit share the same kept/drop
    # split from a single cap_buckets call (one bucket-size groupBy per
    # family), and band_pairs self-joins the kept rows uncapped.
    sigs = minhash_signatures_table(reps, "doc_id", "text", NUM_HASHES).cache()
    mh_kept, mh_drop = cap_buckets(minhash_band_table(sigs), MINHASH_CELL, mh_cap)
    mh_pairs = minhash_rescore(band_pairs(mh_kept, "doc_id", MINHASH_CELL), sigs)
    minhash = stage("minhash", n_reps, mh_pairs, mh_drop)

    sh = simhash_table(reps, extra_cols=("lang",)).cache()
    sh_kept, sh_drop = cap_buckets(simhash_band_table(sh), SIMHASH_CELL, sh_cap)
    sh_pairs = hamming_rescore(band_pairs(sh_kept, "doc_id", SIMHASH_CELL), sh)
    simhash = stage("simhash", n_reps, sh_pairs, sh_drop)

    emb = load_table(spark, sf_dir, "embeddings")
    nz = with_norm(emb).filter(F.col("norm") > 0).cache()
    e_kept, e_drop = cap_buckets(embedding_band_table(nz), EMB_CELL, emb_cap)
    e_pairs = cosine_rescore(
        band_pairs(e_kept, "vec_id", EMB_CELL, carry=("label",)), nz
    )
    embedding = stage(
        "embedding", nz.agg(F.count("*").alias("n_in")), e_pairs, e_drop
    )

    # Round-11 cache-release experiment REVERTED (measured): forcing the
    # ledger inside the call and unpersisting the cached frames made
    # every re-run honestly cold (Spark's CacheManager otherwise serves
    # plan-identical re-runs from the prior invocation's cached frames —
    # the warm-min behavior BENCH_r10's numbers embed). Two dead ends
    # also measured here: eager localCheckpoint of the ledger re-plans
    # the banded self-joins through the RDD path WITHOUT adaptive
    # execution (4-8x slower), and a createDataFrame local frame pays a
    # Python-worker round trip at the sink (~+1 s). Caches stay
    # session-scoped; see OPTIMIZATION_r11.md.
    return exact.unionAll(minhash).unionAll(simhash).unionAll(embedding)


@declare("q_neardup_pipeline", oracle=_pipeline_oracle(), tier="P1")
def q_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declared guarded-pipeline ledger at the audit caps — the caps
    small enough that every guard FIRES on the fixture, so the oracle
    verifies each exclusion inside the composition, not just stage
    outputs (see module docstring for the production-cap form and its
    skew-corpus gate)."""
    return neardup_pipeline(
        spark,
        sf_dir,
        mh_cap=MINHASH_AUDIT_CAP,
        sh_cap=GUARD_CAP,
        emb_cap=EMB_AUDIT_CAP,
    )
