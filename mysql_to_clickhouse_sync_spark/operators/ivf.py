"""IVF (inverted-file) approximate nearest neighbor — the trained-index
scale path of the similarity ladder (SURVEY.md §2.8; complements q_ann_lsh's
projection buckets and q_cosine_topk's brute-force ground truth).

IVF structure: (1) pick K coarse centroids, (2) assign every vector to its
nearest centroid (the "inverted lists"), (3) at query time probe only the
NPROBE nearest lists and score candidates exactly. Cost drops from O(n) per
query to O(K + n * NPROBE / K).

Determinism / oracle: production IVF trains centroids with k-means on a
sample; k-means is seed- and order-dependent, so for the oracle the
"training" is a deterministic selection — the K lowest-vec_id vectors ARE
the centroids. Every downstream step (assignment argmax, probe ranking,
candidate scoring) is then exact fold-arithmetic both engines compute
identically (see similarity.py: sequential left-fold dot product). Swap
`_centroids` for a pyspark.ml KMeans fit to get the production index; the
plan shape below is unchanged.

Scale notes (100 TB): centroids are a K-row broadcast — assignment is a
map-side 16× expand + per-vector argmax, no shuffle of the vector table.
The inverted lists materialize as an (assign -> centroid_id) column you
would persist partitioned by centroid_id; probing then prunes partitions.
The only shuffle here is the candidate join keyed on centroid_id, whose
fan-in per query is n*NPROBE/K, not n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.operators.kmeans import (
    QUANT as _KM_QUANT,
    _DOT_SQL as _IDOT_SQL,
)
from mysql_to_clickhouse_sync_spark.operators.similarity import (
    _DOT_SQL,
    _NORM_SQL,
    dot,
    with_norm,
)
from mysql_to_clickhouse_sync_spark.registry import declare

IVF_K = 16  # coarse centroids (deterministic: the K lowest vec_ids)
IVF_NPROBE = 4  # lists probed per query
IVF_QUERIES = 25  # vec_id bound of the query set
IVF_TOPK = 3


def _cosine(a, b, norm_a, norm_b):
    return dot(a, b) / (norm_a * norm_b)


@declare(
    "q_ann_ivf",
    oracle=f"""
    WITH normed AS (
        SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings
    ), centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cemb, norm AS cnorm
        FROM normed
        ORDER BY vec_id
        LIMIT {IVF_K}
    ), assign AS (
        SELECT vec_id, centroid_id, embedding, norm FROM (
            SELECT v.vec_id, c.centroid_id, v.embedding, v.norm,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_DOT_SQL.format(a='v.embedding', b='c.cemb')}
                                / (v.norm * c.cnorm) DESC,
                                c.centroid_id ASC) AS rn
            FROM normed v CROSS JOIN centroids c
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT q.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DOT_SQL.format(a='q.embedding', b='c.cemb')}
                                / (q.norm * c.cnorm) DESC,
                                c.centroid_id ASC) AS rn
            FROM normed q CROSS JOIN centroids c
            WHERE q.vec_id < {IVF_QUERIES}
        ) WHERE rn <= {IVF_NPROBE}
    ), scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_DOT_SQL.format(a='q.embedding', b='a.embedding')}
                   / (q.norm * a.norm) AS cosine
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN normed q ON q.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored
    ) WHERE rn <= {IVF_TOPK}
    """,
    tier="P2",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse centroids -> inverted-list assignment
    (broadcast argmax, no shuffle) -> probe NPROBE lists per query -> exact
    top-k within the candidates. Approximate by construction (recall < 1 vs
    q_cosine_topk); both engines build the identical index so it still
    hash-matches."""
    normed = with_norm(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "norm"
    )
    centroids = (
        normed.orderBy("vec_id")
        .limit(IVF_K)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cemb"),
            F.col("norm").alias("cnorm"),
        )
    )

    def nearest_centroids(vectors: DataFrame, n: int) -> DataFrame:
        """Rank all K centroids per vector by cosine, keep the best n."""
        w = Window.partitionBy("vec_id").orderBy(
            F.col("c_cos").desc(), F.col("centroid_id").asc()
        )
        return (
            vectors.crossJoin(F.broadcast(centroids))
            .withColumn(
                "c_cos",
                _cosine(
                    F.col("embedding"), F.col("cemb"), F.col("norm"), F.col("cnorm")
                ),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
        )

    assign = nearest_centroids(normed, 1).select(
        "vec_id", "centroid_id", "embedding", "norm"
    )
    probes = nearest_centroids(normed.filter(F.col("vec_id") < IVF_QUERIES), IVF_NPROBE).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    queries = normed.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("norm").alias("qnorm"),
    ).filter(F.col("query_id") < IVF_QUERIES)
    scored = (
        probes.join(assign, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(
                F.col("qemb"), F.col("embedding"), F.col("qnorm"), F.col("norm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOPK)
        .select("query_id", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# Bulk IVF retrieval: EVERY vector is a query (no panel) — the corpus-wide
# retrieval fan-out a training-data pipeline runs (mine hard negatives,
# build link graphs, kNN-classify everything). Two scale decisions, both
# measured:
#   * DATA-PROPORTIONAL list count K = max(16, n / BULK_TARGET_LIST):
#     per-query candidates stay ~NPROBE * BULK_TARGET_LIST = O(1), total
#     candidate work O(n). A fixed K would be quadratic (the SemDeDup
#     dynamic-K lesson applied to retrieval).
#   * NUMPY LIST-LOCAL SCORING on the exact integer grid: at the 10x
#     stress (20k vectors, 10.1M candidate pairs) evaluating the
#     candidate cosines with the per-row HOF fold took 59 s of a 73 s
#     job and the unrolled expression was no better in this join
#     context — so candidates never materialize relationally at all.
#     Lists and their probing queries cogroup by centroid_id and one
#     numpy matmul per list scores the whole block (the q_cov_matrix
#     Gram lesson). Quantizing to the kmeans floor(x*1024) grid makes
#     every dot an EXACT int64 — summation-order-free — so the matmul
#     is bitwise-faithful to DuckDB's sequential fold, and the only
#     floats anywhere are one sqrt and one division per candidate with
#     identical operand expressions on all three engines (numpy, Spark,
#     DuckDB): correctly-rounded IEEE ops on identical inputs.
# ---------------------------------------------------------------------------

BULK_MIN_K = 16  # fixture-scale floor (= IVF_K geometry)
BULK_TARGET_LIST = 250  # target vectors per inverted list
BULK_NPROBE = 2
BULK_TOPK = 3
BULK_SUPER_MIN = 4  # floor on the super-list count (2-level coarse)
BULK_SUPER_PROBE = 2  # super-lists probed per vector
BULK_PANEL_STRIDE = 40  # recall-audit panel: every 40th vec_id ...
BULK_PANEL_MAX = 2000  # ... capped absolutely (fixed-panel rule)

_QV_SQL = f"""list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_QUANT}) AS DOUBLE))"""

# 2-LEVEL COARSE QUANTIZER (the round-6 weak-item fix): ranking every
# vector against all K = n/250 centroids is n*K = n^2/250 — measured as
# the 25x->50x bend in the coarse stage. Instead the K centroids are
# themselves coarse-quantized into S = max(4, isqrt(K)) SUPER-centroids
# (a deterministic stride-1-of-ceil(K/S) selection over the id-ordered
# centroid list — the same "selection IS the training" rule as level 1);
# every centroid joins the inverted list of its nearest super-centroid,
# and a vector ranks (a) the S super-centroids, then (b) only the member
# centroids of its top BULK_SUPER_PROBE super-lists. Coarse work drops
# from n*K to n*(S + P*K/S) ~ n*sqrt(K) — sub-quadratic end to end.
# Both engines build the identical 2-level index, so assignment stays
# hash-exact; faithfulness to the flat index is audited by
# q_ann_bulk_recall's exact panel.
#
# `cent_where` restricts the TRAINING set (centroid selection + K
# sizing) without restricting what gets ranked — the incremental-index
# contract: q_ann_incremental trains on a vector prefix and extends the
# inverted lists with later arrivals under the SAME quantizer.


def _bulk_cte(cent_where: str = "TRUE") -> str:
    return f"""nn AS (
        SELECT vec_id, {_QV_SQL} AS q FROM embeddings
    ), nn2 AS (
        SELECT vec_id, q, {_IDOT_SQL.format(a='q', b='q')} AS n2 FROM nn
    ), cbase AS (
        SELECT * FROM nn2 WHERE {cent_where}
    ), params AS (
        SELECT k, s, (k + s - 1) // s AS stride FROM (
            SELECT k, greatest({BULK_SUPER_MIN},
                               CAST(floor(sqrt(CAST(k AS DOUBLE)))
                                    AS BIGINT)) AS s
            FROM (SELECT greatest({BULK_MIN_K},
                                  count(*) // {BULK_TARGET_LIST}) AS k
                  FROM cbase)
        )
    ), centroids AS (
        SELECT vec_id AS centroid_id, q AS cq, n2 AS cn2,
               row_number() OVER (ORDER BY vec_id) AS crank
        FROM cbase
        ORDER BY vec_id
        LIMIT (SELECT k FROM params)
    ), supers AS (
        SELECT centroid_id AS super_id, cq AS sq, cn2 AS sn2
        FROM centroids, params WHERE (crank - 1) % stride = 0
    ), c2s AS (
        SELECT centroid_id, super_id FROM (
            SELECT c.centroid_id, s.super_id,
                   row_number() OVER (
                       PARTITION BY c.centroid_id
                       ORDER BY CAST({_IDOT_SQL.format(a='c.cq', b='s.sq')}
                                     AS DOUBLE)
                                / sqrt(CAST(c.cn2 * s.sn2 AS DOUBLE)) DESC,
                                s.super_id ASC) AS rn
            FROM centroids c CROSS JOIN supers s
        ) WHERE rn = 1
    ), vsup AS (
        SELECT vec_id, super_id FROM (
            SELECT v.vec_id, s.super_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY CAST({_IDOT_SQL.format(a='v.q', b='s.sq')}
                                     AS DOUBLE)
                                / sqrt(CAST(v.n2 * s.sn2 AS DOUBLE)) DESC,
                                s.super_id ASC) AS rn
            FROM nn2 v CROSS JOIN supers s
        ) WHERE rn <= {BULK_SUPER_PROBE}
    ), ranked AS MATERIALIZED (
        SELECT v.vec_id, c.centroid_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY CAST({_IDOT_SQL.format(a='v.q', b='c.cq')}
                                 AS DOUBLE)
                            / sqrt(CAST(v.n2 * c.cn2 AS DOUBLE)) DESC,
                            c.centroid_id ASC) AS rn
        FROM nn2 v
        JOIN vsup p ON p.vec_id = v.vec_id
        JOIN c2s m ON m.super_id = p.super_id
        JOIN centroids c ON c.centroid_id = m.centroid_id
    ), assign AS (
        SELECT r.vec_id, r.centroid_id, n.q, n.n2
        FROM ranked r JOIN nn2 n USING (vec_id) WHERE r.rn = 1
    ), probes AS (
        SELECT r.vec_id AS query_id, r.centroid_id, n.q, n.n2
        FROM ranked r JOIN nn2 n USING (vec_id)
        WHERE r.rn <= {BULK_NPROBE}
    ), bulk AS (
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT s.*, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM (
                SELECT p.query_id, m.vec_id AS neighbor_id,
                       CAST({_IDOT_SQL.format(a='p.q', b='m.q')} AS DOUBLE)
                           / sqrt(CAST(p.n2 * m.n2 AS DOUBLE)) AS cosine
                FROM probes p
                JOIN assign m ON m.centroid_id = p.centroid_id
                             AND m.vec_id <> p.query_id
            ) s
        ) WHERE rk <= {BULK_TOPK}
    )"""


_BULK_CTE = _bulk_cte()


def _bulk_index(spark: SparkSession, sf_dir: str, cent_filter=None):
    """(base, ranked) — quantized vectors plus the 2-level coarse ranking
    (vec_id, centroid_id, rn): rn=1 is the inverted-list assignment,
    rn<=NPROBE the probe set. `cent_filter` restricts the TRAINING set
    (centroid selection + K sizing) while every base vector is still
    ranked — the incremental-index shape. The relational statement in
    the oracle and this physical plan differ on purpose: semantics
    there, shuffle discipline here."""
    base = _bulk_base(spark, sf_dir)
    cbase = base if cent_filter is None else base.filter(cent_filter)
    ranked = base.mapInPandas(
        _make_ranker(cbase), "vec_id long, centroid_id long, rn long"
    ).localCheckpoint(eager=True)  # feeds assignment AND probes
    return base, ranked


def _bulk_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv, n2) on the integer grid, checkpoint-materialized —
    it feeds the index build and both cogroup sides."""
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        _quantized,
        dot_int,
    )

    return (
        _quantized(spark, sf_dir)
        .withColumn("n2", dot_int(F.col("qv"), F.col("qv")))
        .localCheckpoint(eager=True)
    )


def _make_ranker(cbase: DataFrame):
    """Build the 2-level coarse-ranking kernel from a centroid source
    frame: collect the K-row quantizer to the driver, stride-select
    S ~ sqrt(K) super-centroids, map each centroid to its nearest
    super's member list, and return the mapInPandas generator that
    ranks any vector batch against it."""
    import math

    import numpy as np

    n = cbase.count()  # plan-time scalar (the S:163 bounds pattern)
    k = max(BULK_MIN_K, n // BULK_TARGET_LIST)
    # Index build: the K-row coarse quantizer collects to the driver and
    # broadcasts into the ranking kernel. Level 2 (the round-6 weak-item
    # fix): the K centroids are stride-selected into S ~ sqrt(K)
    # SUPER-centroids and each centroid joins its nearest super's member
    # list — per-vector coarse work is S + PROBE*K/S ~ sqrt(K), not K,
    # so the coarse stage is n*sqrt(K) instead of the n*K = n^2/250 term
    # that bent the 50x curve. All of it driver-side numpy on K rows.
    cent = (
        cbase.orderBy("vec_id").limit(k).select("vec_id", "qv", "n2").collect()
    )
    c_ids = np.array([r["vec_id"] for r in cent], dtype=np.int64)
    c_mat = np.stack([np.asarray(r["qv"]) for r in cent]).astype(np.int64)
    c_n2 = np.array([r["n2"] for r in cent], dtype=np.int64)
    nprobe = min(BULK_NPROBE, k)
    s = max(BULK_SUPER_MIN, math.isqrt(k))
    stride = -(-k // s)  # ceil — matches the oracle's (k+s-1)//s
    # stride over the COLLECTED row count, not k: with fewer than
    # BULK_MIN_K rows (tiny corpus / small training prefix) the LIMIT k
    # returns only len(cent) centroids — the oracle's (crank-1) %
    # stride = 0 runs over at most n rows, and arange(0, k) would index
    # past the end of c_mat
    sup_idx = np.arange(0, len(c_ids), stride, dtype=np.int64)
    s_mat, s_n2 = c_mat[sup_idx], c_n2[sup_idx]
    n_sup = len(sup_idx)
    wprobe = min(BULK_SUPER_PROBE, n_sup)
    # centroid -> nearest super (cos desc, super_id asc; supers are in
    # ascending-id order so a STABLE argsort realizes the tie-break)
    cs_cos = (c_mat @ s_mat.T).astype(np.float64) / np.sqrt(
        (c_n2[:, None] * s_n2[None, :]).astype(np.float64)
    )
    c2s = np.argsort(-cs_cos, axis=1, kind="stable")[:, 0]
    members = [
        np.flatnonzero(c2s == si).astype(np.int64) for si in range(n_sup)
    ]
    # The O(K)-sized index arrays ship as ONE Spark broadcast (torrent
    # distribution, one copy per executor) instead of closure capture,
    # which pickled them into EVERY task: at 4e8 vectors K = 1.6e6
    # centroids is ~820 MB — per task that is a serialization wall, as
    # a broadcast it is one transfer per executor. Ranking semantics
    # are bit-identical: the kernel reads the same arrays either way.
    bc = cbase.sparkSession.sparkContext.broadcast(
        (c_ids, c_mat, c_n2, s_mat, s_n2, members)
    )

    def rank_lists(batches):
        import pandas as pd

        c_ids, c_mat, c_n2, s_mat, s_n2, members = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(
                [np.asarray(v) for v in pdf["qv"].to_numpy()]
            ).astype(np.int64)
            qn2 = pdf["n2"].to_numpy().astype(np.int64)
            # level 1: rank the S super-centroids, keep the top wprobe
            sup_cos = (Q @ s_mat.T).astype(np.float64) / np.sqrt(
                (qn2[:, None] * s_n2[None, :]).astype(np.float64)
            )
            order_sup = np.argsort(-sup_cos, axis=1, kind="stable")[
                :, :wprobe
            ]
            probed = np.zeros((len(Q), n_sup), dtype=bool)
            probed[np.arange(len(Q))[:, None], order_sup] = True
            # level 2: rank only the member centroids of probed supers —
            # one matmul per super over the vectors that probe it
            vr_parts, ci_parts, cos_parts = [], [], []
            for si in range(n_sup):
                mem = members[si]
                if not len(mem):
                    continue
                rows = np.flatnonzero(probed[:, si])
                if not len(rows):
                    continue
                dp = Q[rows] @ c_mat[mem].T  # exact int64
                cosb = dp.astype(np.float64) / np.sqrt(
                    (qn2[rows][:, None] * c_n2[mem][None, :]).astype(
                        np.float64
                    )
                )
                vr_parts.append(np.repeat(rows, len(mem)))
                ci_parts.append(np.tile(mem, len(rows)))
                cos_parts.append(cosb.ravel())
            if not vr_parts:
                continue
            vr = np.concatenate(vr_parts)
            ci = np.concatenate(ci_parts)
            cosv = np.concatenate(cos_parts)
            # global per-vector rank over the candidate union:
            # cos desc, centroid_id asc (c_ids ascending => index order)
            ordr = np.lexsort((ci, -cosv, vr))
            vr_s, ci_s = vr[ordr], ci[ordr]
            starts = np.flatnonzero(np.r_[True, vr_s[1:] != vr_s[:-1]])
            lens = np.diff(np.r_[starts, len(vr_s)])
            rank = np.arange(len(vr_s)) - np.repeat(starts, lens)
            keep = rank < nprobe
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"]
                    .to_numpy()
                    .astype(np.int64)[vr_s[keep]],
                    "centroid_id": c_ids[ci_s[keep]],
                    "rn": rank[keep] + 1,
                }
            )

    return rank_lists


def _bulk_frames(spark: SparkSession, sf_dir: str):
    """(base, bulk-top-k) — index build + candidate scoring composed."""
    base, ranked = _bulk_index(spark, sf_dir)
    return base, _bulk_score(base, ranked)


def _bulk_score(
    base: DataFrame,
    ranked: DataFrame,
    labels: DataFrame | None = None,
    assignment: DataFrame | None = None,
    label_partition: bool = True,
) -> DataFrame:
    """Score the probe candidates of a (base, ranked) index pair: lists
    and their probing queries cogroup on centroid_id, one exact int64
    matmul per list block, bounded global merge.

    `labels` (vec_id, label) switches on FILTERED retrieval: a
    candidate only counts when its label equals the query's — the
    predicate is pushed INTO the scoring, never applied as a
    post-filter that could starve the result set. Two physically
    different plans, result-identical (pinned by test):

      * label_partition=True (default, round-8): the lists themselves
        are LABEL-PARTITIONED — the cogroup key is (centroid_id,
        label), so a query's block contains only eligible candidates
        and rejected ones are never scored at all. Candidate work
        drops from |list| x |probes| to the same-label sub-blocks;
        under selective labels that is the whole game, and the finer
        key also splits hot lists across more tasks.
      * label_partition=False: one block per centroid_id; the kernel
        scores everything and masks non-matching labels to -inf
        before top-k. Kept as the measured baseline (and for label
        sets so large the finer key would overwhelm the shuffle).

    `assignment` (vec_id, centroid_id) overrides the list membership
    (default: ranked's rn=1 rows) — the capped-list path supplies its
    own; probing is unchanged either way."""
    import numpy as np

    filtered = labels is not None
    masked = filtered and not label_partition
    if filtered:
        base = base.join(labels, "vec_id")
    lab_cols = ["label"] if filtered else []
    if assignment is None:
        assignment = ranked.filter(F.col("rn") == 1).select(
            "vec_id", "centroid_id"
        )
    assign = assignment.join(base, "vec_id")
    # distinct attribute ids for the second base consumption — the two
    # cogroup sides must not share a lineage Spark could conflate
    pbase = base.select(
        F.col("vec_id").alias("p_vec"),
        F.col("qv").alias("p_qv"),
        F.col("n2").alias("p_n2"),
        *[F.col(c).alias(f"p_{c}") for c in lab_cols],
    )
    probes = (
        ranked.select(
            F.col("vec_id").alias("r_vec"),
            F.col("centroid_id").alias("r_cid"),
        )
        .join(pbase, F.col("r_vec") == F.col("p_vec"))
        .select(
            F.col("p_vec").alias("vec_id"),
            F.col("r_cid").alias("centroid_id"),
            F.col("p_qv").alias("qv"),
            F.col("p_n2").alias("n2"),
            *[F.col(f"p_{c}").alias(c) for c in lab_cols],
        )
    )

    def score_list(members, queries):
        import pandas as pd

        if not len(members) or not len(queries):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype(
                {"query_id": "int64", "neighbor_id": "int64",
                 "cosine": "float64"}
            )
        # members pre-sorted by vec_id so stable argsort == id tie-break
        members = members.sort_values("vec_id")
        M = np.stack(
            [np.asarray(v) for v in members["qv"].to_numpy()]
        ).astype(np.int64)
        m_ids = members["vec_id"].to_numpy().astype(np.int64)
        m_n2 = members["n2"].to_numpy().astype(np.int64)
        Q = np.stack(
            [np.asarray(v) for v in queries["qv"].to_numpy()]
        ).astype(np.int64)
        q_ids = queries["vec_id"].to_numpy().astype(np.int64)
        q_n2 = queries["n2"].to_numpy().astype(np.int64)
        if masked:
            m_lab = members["label"].to_numpy().astype(np.int64)
            q_lab = queries["label"].to_numpy().astype(np.int64)
        # Queries chunk so the cosine block stays ~32 MB no matter how
        # big one list is: per-query top-k is independent across
        # queries, so chunking is result-identical — it bounds MEMORY
        # on a degenerate hot list (the compute there is semantic:
        # scoring |list| x |probes| is what the query means, and the
        # curation ladder upstream of retrieval removes such blobs).
        chunk = max(1, (1 << 22) // max(1, len(m_ids)))
        rows_q, rows_m, rows_c = [], [], []
        for lo in range(0, len(q_ids), chunk):
            sl = slice(lo, lo + chunk)
            dp = Q[sl] @ M.T  # ONE exact matmul per chunk
            cos = dp.astype(np.float64) / np.sqrt(
                (q_n2[sl][:, None] * m_n2[None, :]).astype(np.float64)
            )
            if masked:
                # predicate pushdown: masked candidates sort last and
                # are dropped below — they never displace an eligible
                # neighbor (the label-partitioned default never scores
                # them in the first place)
                cos = np.where(
                    m_lab[None, :] == q_lab[sl][:, None], cos, -np.inf
                )
            take = min(BULK_TOPK + 1, cos.shape[1])  # +1: self may rank
            order = np.argsort(-cos, axis=1, kind="stable")[:, :take]
            for i in range(order.shape[0]):
                cand = order[i]
                qi = lo + i
                sel = cand[
                    (m_ids[cand] != q_ids[qi]) & np.isfinite(cos[i, cand])
                ][:BULK_TOPK]
                rows_q.append(np.full(len(sel), q_ids[qi], dtype=np.int64))
                rows_m.append(m_ids[sel])
                rows_c.append(cos[i, sel])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(rows_q),
                "neighbor_id": np.concatenate(rows_m),
                "cosine": np.concatenate(rows_c),
            }
        )

    # label-partitioned lists: the block key carries the predicate, so
    # only same-label (list, probes) pairs ever meet a kernel
    keys = (
        ["centroid_id", "label"]
        if filtered and label_partition
        else ["centroid_id"]
    )
    local_topk = (
        assign.groupBy(*keys)
        .cogroup(probes.groupBy(*keys))
        .applyInPandas(
            score_list, "query_id long, neighbor_id long, cosine double"
        )
    )
    # global merge: <= NPROBE * TOPK survivors per query
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local_topk.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= BULK_TOPK)
        .select("query_id", "neighbor_id", "cosine")
    )


@declare(
    "q_ann_bulk_topk",
    oracle=f"""
    WITH {_BULK_CTE}
    SELECT query_id, neighbor_id, cosine FROM bulk
    """,
    tier="P2",
)
def q_ann_bulk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide IVF retrieval: EVERY vector queries the index built
    over the whole corpus — data-proportional list count, NPROBE lists
    probed, exact integer-grid rescoring within candidate lists, top-K
    per query. Lists and their probes cogroup on the list id; one numpy
    matmul per list scores the block and emits per-list top-K, then a
    bounded window merges NPROBE*K survivors per query. No panel, no
    cartesian, and the only corpus-sized shuffles are the two list-id
    cogroups (each O(n * NPROBE) rows).

    Scale notes (100 TB): candidate work is n * NPROBE * TARGET_LIST
    exact int64 ops inside Arrow-batched workers — linear by
    construction, and measured: the relational HOF-fold formulation of
    the same semantics spent 59 s on candidate cosines at the 10x
    stress; this plan runs the identical arithmetic in ~3 s. The coarse
    stage is the 2-LEVEL quantizer (super-lists of sqrt(K) centroids):
    per-vector coarse work is O(sqrt(K)), killing the n*K = n^2/250
    term the round-6 audit flagged — total coarse cost n*sqrt(n/250),
    sub-quadratic through the 4e8-vector regime the 1-level docstring
    used to defer to."""
    return _bulk_frames(spark, sf_dir)[1]


@declare(
    "q_ann_persisted",
    oracle=f"""
    WITH {_BULK_CTE}
    SELECT query_id, neighbor_id, cosine FROM bulk
    """,
    tier="P2",
)
def q_ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe a PERSISTED index: production retrieval builds the IVF index
    once and serves many query waves, so the (assignment, probes) ranking
    — the trained artifact — is committed through a LakeTable (versioned
    manifest, exactly-once batch watermark) and the scoring path reads it
    back FROM THE COMMITTED VERSION, never from the in-session lineage.
    Must be hash-equal to q_ann_bulk_topk on the same corpus (same
    oracle): persistence is semantics-invisible, which is exactly what
    makes the build-once/serve-many split safe.

    Scale notes: the index artifact is O(n * NPROBE) skinny rows —
    key-partitioned parquet behind a manifest; a 100 TB deployment
    commits it bucketed by centroid_id so query-time cogroups read
    co-located lists. The rebuild-vs-reuse decision becomes a manifest
    version check (the LakeTable last_batch watermark), not a recompute."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import scratch_table
    from mysql_to_clickhouse_sync_spark.streaming.cdc import (
        OP_COL,
        UPSERT,
        live_rows,
    )

    base, ranked = _bulk_index(spark, sf_dir)
    with scratch_table(
        spark,
        keys=["vec_id", "rn"],
        version_cols=["centroid_id"],
        retention=1,
    ) as table:
        table.merge(ranked.withColumn(OP_COL, F.lit(UPSERT)), batch_id=0)
        v = table.current_version()
        # re-read strictly through the committed version's manifest
        persisted = live_rows(table.raw(version=v)).select(
            "vec_id", "centroid_id", "rn"
        )
        return _bulk_score(base, persisted).localCheckpoint(eager=True)


INC_TRAIN_MOD = 4  # vec_id % 4 != 3 is the training prefix (~75%)


@declare(
    "q_ann_incremental",
    oracle=f"""
    WITH {_bulk_cte(f"vec_id % {INC_TRAIN_MOD} <> {INC_TRAIN_MOD - 1}")}
    SELECT query_id, neighbor_id, cosine FROM bulk
    """,
    tier="P2",
)
def q_ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance: the quantizer trains on the first
    ~75% of the corpus (vec_id % 4 != 3 — the already-ingested prefix),
    later arrivals are assigned into the EXISTING inverted lists under
    the same quantizer (no retrain), and the two generations land as
    two exactly-once LakeTable MERGE commits; retrieval probes the
    committed union. This is how production keeps a trained index
    serving while the corpus grows — retraining per arrival is a full
    rebuild, and silently retraining would also invalidate every
    stored assignment. The oracle trains on the same prefix and ranks
    everything, so prefix-training is hash-checked, not approximated.

    Scale notes: extending the index is a map-only ranking of ONLY the
    new vectors (the centroid arrays are already built) plus one
    incremental MERGE commit; the quantizer drifts from optimal as the
    corpus grows — the production policy is retrain-when-recall-drops,
    measurable here with q_ann_bulk_recall's panel against the same
    lists."""
    from mysql_to_clickhouse_sync_spark.sinks.merge import (
        expect,
        scratch_table,
    )
    from mysql_to_clickhouse_sync_spark.streaming.cdc import (
        OP_COL,
        UPSERT,
        live_rows,
    )

    train_pred = F.col("vec_id") % INC_TRAIN_MOD != INC_TRAIN_MOD - 1
    base = _bulk_base(spark, sf_dir)
    # Train on the prefix; rank prefix and arrivals SEPARATELY with the
    # same kernel — the arrivals never see a retrain.
    cbase = base.filter(train_pred)
    ranker = _make_ranker(cbase)
    schema = "vec_id long, centroid_id long, rn long"
    ranked_prefix = cbase.mapInPandas(ranker, schema)
    ranked_new = base.filter(~train_pred).mapInPandas(ranker, schema)
    with scratch_table(
        spark,
        keys=["vec_id", "rn"],
        version_cols=["centroid_id"],
        retention=1,
    ) as table:
        table.merge(
            ranked_prefix.withColumn(OP_COL, F.lit(UPSERT)), batch_id=0
        )
        table.merge(
            ranked_new.withColumn(OP_COL, F.lit(UPSERT)), batch_id=1
        )
        expect("lake version", 1, table.current_version())
        persisted = live_rows(table.raw()).select(
            "vec_id", "centroid_id", "rn"
        )
        return _bulk_score(base, persisted).localCheckpoint(eager=True)


@declare(
    "q_ann_filtered",
    oracle=f"""
    WITH {_BULK_CTE}
    , lab AS (
        SELECT vec_id, label FROM embeddings
    ), fscored AS (
        SELECT p.query_id, m.vec_id AS neighbor_id,
               CAST({_IDOT_SQL.format(a='p.q', b='m.q')} AS DOUBLE)
                   / sqrt(CAST(p.n2 * m.n2 AS DOUBLE)) AS cosine
        FROM probes p
        JOIN assign m ON m.centroid_id = p.centroid_id
                     AND m.vec_id <> p.query_id
        JOIN lab ml ON ml.vec_id = m.vec_id
        JOIN lab ql ON ql.vec_id = p.query_id AND ql.label = ml.label
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT f.*, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rk
        FROM fscored f
    ) WHERE rk <= {BULK_TOPK}
    """,
    tier="P2",
)
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED retrieval: corpus-wide IVF top-K where a neighbor only
    counts if its label equals the query's — the metadata-predicate +
    vector-search combination every production retrieval system needs
    (tenant isolation, language-matched mining, same-category recs).
    The predicate is pushed INTO the scoring, two physically different
    plans under ONE oracle, chosen ADAPTIVELY from the built index
    (round 8 — both measured, tools/label_skew_stress.py):

      * LABEL-PARTITIONED lists — cogroup key (centroid_id, label):
        rejected candidates are never scored and a hot list splits
        across label sub-blocks. Wins exactly when a degenerate hot
        list exists: 30k-blob stress 5.7 s vs 66.9 s masked (uniform
        labels, 11.7x) and 68.1 s vs 81.7 s (90/10 label skew, where
        the majority label still owns 81% of the quadratic block).
      * MASKED kernel — cogroup key centroid_id, labels masked to
        -inf before top-k: fewer, fuller Arrow blocks; wins on
        healthy ~TARGET_LIST-sized lists (sf0.1 fixture: 0.8 s vs
        1.4 s — per-block overhead beats the ~18% compute saving).

    The switch is one skinny aggregate over the checkpointed index
    (max inverted-list size): hot list present -> partitioned. Either
    way the filter can never starve the result the way a post-filter
    over an unfiltered top-K does, and the oracle applies the same
    predicate as a relational join inside the probed lists.

    Scale notes: same plan as q_ann_bulk_topk (2-level coarse + list
    cogroups) plus two skinny label joins; the adaptive rule keys on
    the one quantity that decides the regime, so the worst case is
    always the bounded one. Both plans pinned result-identical
    (tests/test_ivf_and_stream_joins.py)."""
    base, ranked = _bulk_index(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    max_list = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("centroid_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    hot = max_list is not None and max_list > 4 * BULK_TARGET_LIST
    return _bulk_score(base, ranked, labels=labels, label_partition=hot)


@declare(
    "q_ann_bulk_recall",
    oracle=f"""
    WITH {_BULK_CTE}
    , panel AS (
        SELECT vec_id AS qid, q, n2 FROM nn2
        WHERE vec_id % {BULK_PANEL_STRIDE} = 0
          AND vec_id < {BULK_PANEL_MAX}
    ), exact AS (
        SELECT qid, cand FROM (
            SELECT p.qid, n.vec_id AS cand,
                   row_number() OVER (
                       PARTITION BY p.qid
                       ORDER BY CAST({_IDOT_SQL.format(a='p.q', b='n.q')}
                                     AS DOUBLE)
                                / sqrt(CAST(p.n2 * n.n2 AS DOUBLE)) DESC,
                                n.vec_id ASC) AS rn
            FROM panel p JOIN nn2 n ON n.vec_id <> p.qid
        ) WHERE rn <= {BULK_TOPK}
    )
    SELECT e.qid,
           CAST(count(b.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(b.neighbor_id) * 10000 // {BULK_TOPK} AS BIGINT)
               AS recall_bp
    FROM exact e
    LEFT JOIN bulk b ON b.query_id = e.qid AND b.neighbor_id = e.cand
    GROUP BY e.qid
    """,
    tier="P2",
)
def q_ann_bulk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bulk index audits itself: recall@K of q_ann_bulk_topk against
    the exact top-K for a FIXED query panel (stride + absolute cap — the
    fixed-panel rule), both paths under one oracle so the published
    recall is itself hash-verified. The exact side is the deliberately
    bounded brute-force twin (panel x corpus, integer-grid cosine),
    realized as the same broadcast-panel numpy kernel as the index side
    — per corpus batch, one exact int64 matmul against the <=50-row
    panel, per-batch top-K partials, then a bounded global merge
    (relational panel x corpus dots measured 16 s at 25x; this, ~2 s).
    The approximate side is the production bulk plan."""
    import numpy as np

    base, bulk = _bulk_frames(spark, sf_dir)
    panel_rows = (
        base.filter(
            (F.col("vec_id") % BULK_PANEL_STRIDE == 0)
            & (F.col("vec_id") < BULK_PANEL_MAX)
        )
        .select("vec_id", "qv", "n2")
        .collect()
    )
    p_ids = np.array([r["vec_id"] for r in panel_rows], dtype=np.int64)
    p_mat = np.stack(
        [np.asarray(r["qv"]) for r in panel_rows]
    ).astype(np.int64)
    p_n2 = np.array([r["n2"] for r in panel_rows], dtype=np.int64)

    def exact_partials(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("vec_id")  # stable argsort == id ties
            M = np.stack(
                [np.asarray(v) for v in pdf["qv"].to_numpy()]
            ).astype(np.int64)
            m_ids = pdf["vec_id"].to_numpy().astype(np.int64)
            m_n2 = pdf["n2"].to_numpy().astype(np.int64)
            dp = p_mat @ M.T
            cos = dp.astype(np.float64) / np.sqrt(
                (p_n2[:, None] * m_n2[None, :]).astype(np.float64)
            )
            take = min(BULK_TOPK + 1, cos.shape[1])
            order = np.argsort(-cos, axis=1, kind="stable")[:, :take]
            rq, rc, rs = [], [], []
            for i in range(order.shape[0]):
                sel = order[i][m_ids[order[i]] != p_ids[i]][:BULK_TOPK]
                rq.append(np.full(len(sel), p_ids[i], dtype=np.int64))
                rc.append(m_ids[sel])
                rs.append(cos[i, sel])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(rq),
                    "cand": np.concatenate(rc),
                    "cosine": np.concatenate(rs),
                }
            )

    wq = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cand").asc()
    )
    exact = (
        base.mapInPandas(
            exact_partials, "qid long, cand long, cosine double"
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= BULK_TOPK)
        .select("qid", "cand")
    )
    approx = bulk.select(
        F.col("query_id").alias("b_qid"),
        F.col("neighbor_id").alias("b_cand"),
    )
    return (
        exact.join(
            approx,
            (exact.qid == F.col("b_qid")) & (exact.cand == F.col("b_cand")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("b_cand").cast("bigint").alias("n_hits"),
            F.expr(
                f"CAST(count(b_cand) * 10000 div {BULK_TOPK} AS BIGINT)"
            ).alias("recall_bp"),
        )
    )


@declare(
    "q_ann_mrr",
    oracle=f"""
    WITH {_BULK_CTE}
    , lab AS (
        SELECT vec_id, label FROM embeddings
    ), mranked AS (
        SELECT b.query_id, b.neighbor_id,
               row_number() OVER (
                   PARTITION BY b.query_id
                   ORDER BY b.cosine DESC, b.neighbor_id ASC) AS rk,
               nl.label AS n_label, ql.label AS q_label
        FROM bulk b
        JOIN lab nl ON nl.vec_id = b.neighbor_id
        JOIN lab ql ON ql.vec_id = b.query_id
        WHERE b.query_id % {BULK_PANEL_STRIDE} = 0
          AND b.query_id < {BULK_PANEL_MAX}
    ), mfirsts AS (
        SELECT query_id, min(rk) AS first_hit_rank
        FROM mranked WHERE n_label = q_label GROUP BY query_id
    ), mper AS (
        SELECT r.query_id,
               f.first_hit_rank,
               COALESCE(1000000 // f.first_hit_rank, 0) AS rr_micro
        FROM (SELECT DISTINCT query_id FROM mranked) r
        LEFT JOIN mfirsts f ON f.query_id = r.query_id
    )
    SELECT query_id, first_hit_rank, CAST(rr_micro AS BIGINT) AS rr_micro,
           CAST(SUM(rr_micro) OVER () // COUNT(*) OVER () AS BIGINT)
               AS mrr_micro
    FROM mper
    """,
    tier="P2",
)
def q_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the bulk IVF index against LABELS: for
    each fixed-panel query, the rank of the first same-label neighbor
    in its top-K (reciprocal in exact micro, 0 when no hit), plus the
    panel MRR repeated per row (the q_calibration_bins ECE idiom).
    Complements q_ann_bulk_recall: recall audits FAITHFULNESS to the
    exact index, MRR audits USEFULNESS against ground-truth labels —
    an index can be perfectly faithful and still rank junk first.

    Scale notes: runs on the already-computed bulk top-K restricted to
    the fixed panel; the label attachment is two skinny joins; the
    window runs over <= panel x K rows."""
    base, bulk = _bulk_frames(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    ranked = (
        bulk.filter(
            (F.col("query_id") % BULK_PANEL_STRIDE == 0)
            & (F.col("query_id") < BULK_PANEL_MAX)
        )
        .withColumn("rk", F.row_number().over(wq))
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
            ),
            "query_id",
        )
    )
    firsts = (
        ranked.filter(F.col("n_label") == F.col("q_label"))
        .groupBy("query_id")
        .agg(F.min("rk").alias("first_hit_rank"))
    )
    per = (
        ranked.select("query_id")
        .distinct()
        .join(firsts, "query_id", "left")
        .select(
            "query_id",
            "first_hit_rank",
            F.expr(
                "COALESCE(1000000 div first_hit_rank, 0)"
            ).alias("rr_micro"),
        )
    )
    wall = Window.partitionBy()
    return (
        per.select(
            "query_id",
            "first_hit_rank",
            F.col("rr_micro").cast("long").alias("rr_micro"),
            F.sum("rr_micro").over(wall).cast("long").alias("_s"),
            F.count("*").over(wall).cast("long").alias("_c"),
        )
        .withColumn("mrr_micro", F.expr("CAST(_s div _c AS BIGINT)"))
        .drop("_s", "_c")
    )


# ---------------------------------------------------------------------------
# CAPPED inverted lists (round 8): the flag-gated production refinement for
# degenerate hot lists. An adversarial blob (mass duplication upstream of
# dedup) can pour most of the corpus into ONE inverted list, and scoring a
# list is O(|list| x |probes of it|) — the documented O(list^2) compute
# term. The cap bounds EVERY list at cap = ceil(n / (CAP_DIVISOR * k)):
# each list keeps its `cap` closest members (coarse cosine, id
# tie-break); overflow gets ONE hop to its next-nearest (rn=2) list,
# filling only that list's remaining seats; whatever still doesn't fit is
# dropped from the lists entirely (still a query, never a neighbor — the
# FAISS truncation trade, taken deliberately and AUDITED: q_ann_cap_audit
# publishes per-list before/kept/received/dropped under the same oracle).
# Gated behind its own queries because the cap CHANGES assignment
# semantics; the default bulk path stays uncapped.
# ---------------------------------------------------------------------------

CAP_DIVISOR = 2  # cap = ceil(n / (2k)) = half the average list — binds at
# every SF, so the law is exercised (not vacuously green) even on fixtures


def _capped_cte() -> str:
    """Oracle twin of _capped_assignment — appended after _BULK_CTE."""
    ccos = (
        f"CAST({_IDOT_SQL.format(a='v.q', b='c.cq')} AS DOUBLE)"
        " / sqrt(CAST(v.n2 * c.cn2 AS DOUBLE))"
    )
    return f"""
    , cap AS (
        SELECT ((SELECT count(*) FROM nn2) + {CAP_DIVISOR} * k - 1)
                   // ({CAP_DIVISOR} * k) AS cap
        FROM params
    ), mem AS (
        SELECT r.vec_id, r.centroid_id, {ccos} AS c_cos
        FROM ranked r
        JOIN nn2 v ON v.vec_id = r.vec_id
        JOIN centroids c ON c.centroid_id = r.centroid_id
        WHERE r.rn = 1
    ), seats AS (
        SELECT mem.*, row_number() OVER (
                   PARTITION BY centroid_id
                   ORDER BY c_cos DESC, vec_id ASC) AS seat
        FROM mem
    ), kept AS (
        SELECT s.vec_id, s.centroid_id
        FROM seats s CROSS JOIN cap WHERE s.seat <= cap.cap
    ), kept_n AS (
        SELECT centroid_id, count(*) AS n_kept FROM kept GROUP BY centroid_id
    ), spill AS (
        SELECT s.vec_id, r2.centroid_id, {ccos} AS c_cos
        FROM seats s
        CROSS JOIN cap
        JOIN ranked r2 ON r2.vec_id = s.vec_id AND r2.rn = 2
        JOIN nn2 v ON v.vec_id = s.vec_id
        JOIN centroids c ON c.centroid_id = r2.centroid_id
        WHERE s.seat > cap.cap
    ), seats2 AS (
        SELECT spill.*, row_number() OVER (
                   PARTITION BY centroid_id
                   ORDER BY c_cos DESC, vec_id ASC) AS seat2
        FROM spill
    ), accepted AS (
        SELECT s2.vec_id, s2.centroid_id
        FROM seats2 s2
        CROSS JOIN cap
        LEFT JOIN kept_n kn ON kn.centroid_id = s2.centroid_id
        WHERE COALESCE(kn.n_kept, 0) + s2.seat2 <= cap.cap
    ), cassign AS (
        SELECT vec_id, centroid_id FROM kept
        UNION ALL
        SELECT vec_id, centroid_id FROM accepted
    )"""


_CAPPED_CTE = _capped_cte()


def _capped_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build the capped-list index: (base, ranked) plus the capped
    assignment and its accounting frames. All list-membership decisions
    are single windows over skinny (vec_id, centroid_id, c_cos) rows —
    one shuffle each on centroid_id, no candidate materialization."""
    from mysql_to_clickhouse_sync_spark.operators.kmeans import dot_int

    base, ranked = _bulk_index(spark, sf_dir)
    n = base.count()
    k = max(BULK_MIN_K, n // BULK_TARGET_LIST)
    cap = (n + CAP_DIVISOR * k - 1) // (CAP_DIVISOR * k)
    cent = (
        base.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("qv").alias("cqv"),
            F.col("n2").alias("cn2"),
        )
    )

    def with_ccos(df: DataFrame) -> DataFrame:
        """Attach the member->centroid coarse cosine (grid-exact int64
        dot; float ops expression-identical to the oracle's)."""
        return (
            df.join(base, "vec_id")
            .join(F.broadcast(cent), F.col("centroid_id") == F.col("c_id"))
            .select(
                "vec_id",
                "centroid_id",
                (
                    dot_int(F.col("qv"), F.col("cqv")).cast("double")
                    / F.sqrt(
                        (F.col("n2") * F.col("cn2")).cast("double")
                    )
                ).alias("c_cos"),
            )
        )

    w_list = Window.partitionBy("centroid_id").orderBy(
        F.col("c_cos").desc(), F.col("vec_id").asc()
    )
    seats = (
        with_ccos(ranked.filter(F.col("rn") == 1).select("vec_id", "centroid_id"))
        .withColumn("seat", F.row_number().over(w_list))
        .localCheckpoint(eager=True)  # feeds kept AND spill
    )
    kept = seats.filter(F.col("seat") <= cap).select("vec_id", "centroid_id")
    kept_n = kept.groupBy("centroid_id").agg(
        F.count("*").alias("n_kept")
    )
    spill = with_ccos(
        seats.filter(F.col("seat") > cap)
        .select("vec_id")
        .join(
            ranked.filter(F.col("rn") == 2).select("vec_id", "centroid_id"),
            "vec_id",
        )
    ).localCheckpoint(eager=True)  # feeds accepted AND the audit
    accepted = (
        spill.withColumn("seat2", F.row_number().over(w_list))
        .join(F.broadcast(kept_n), "centroid_id", "left")
        .filter(
            F.coalesce(F.col("n_kept"), F.lit(0)) + F.col("seat2")
            <= F.lit(cap)
        )
        .select("vec_id", "centroid_id")
    )
    return {
        "base": base,
        "ranked": ranked,
        "cent": cent,
        "cap": cap,
        "seats": seats,
        "kept_n": kept_n,
        "spill": spill,
        "accepted": accepted,
        "cassign": kept.unionByName(accepted),
    }


@declare(
    "q_ann_capped",
    oracle=f"""
    WITH {_BULK_CTE}{_CAPPED_CTE}
    , cscored AS (
        SELECT p.query_id, m.vec_id AS neighbor_id,
               CAST({_IDOT_SQL.format(a='p.q', b='m.q')} AS DOUBLE)
                   / sqrt(CAST(p.n2 * m.n2 AS DOUBLE)) AS cosine
        FROM probes p
        JOIN cassign a ON a.centroid_id = p.centroid_id
        JOIN nn2 m ON m.vec_id = a.vec_id AND m.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT f.*, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rk
        FROM cscored f
    ) WHERE rk <= {BULK_TOPK}
    """,
    tier="P2",
)
def q_ann_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk IVF retrieval over CAPPED inverted lists: every list bounded
    at ceil(n/2k) members (closest-first), overflow given one hop to
    its next-nearest list's free seats, the rest dropped from the index
    (still queries, never neighbors). This is the flag-gated guard for
    degenerate hot lists — with every list <= cap, list-scoring compute
    is <= cap * n * NPROBE total no matter how pathological the data,
    where the uncapped path keeps an O(|list|^2) term on blobs. The
    whole eviction law (seats, one-hop spill, seat-limited acceptance)
    runs under the oracle, so the semantic change the cap makes is
    hash-checked, not hand-waved.

    Scale notes: the cap decisions are two windows over skinny
    (vec_id, centroid_id, cos) rows — one shuffle each on the list id;
    scoring is the same cogrouped int64-matmul plan as q_ann_bulk_topk
    with the capped membership swapped in."""
    ix = _capped_index(spark, sf_dir)
    return _bulk_score(ix["base"], ix["ranked"], assignment=ix["cassign"])


@declare(
    "q_ann_cap_audit",
    oracle=f"""
    WITH {_BULK_CTE}{_CAPPED_CTE}
    , nb AS (SELECT centroid_id, count(*) AS n FROM mem GROUP BY centroid_id)
    , rec AS (
        SELECT centroid_id, count(*) AS n FROM accepted GROUP BY centroid_id
    ), spn AS (
        SELECT centroid_id, count(*) AS n FROM spill GROUP BY centroid_id
    )
    SELECT c.centroid_id,
           CAST(cap.cap AS BIGINT) AS cap,
           CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(kn.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(rec.n, 0) AS BIGINT) AS n_received,
           CAST(COALESCE(spn.n, 0) - COALESCE(rec.n, 0) AS BIGINT)
               AS n_dropped,
           CAST(COALESCE(kn.n_kept, 0) + COALESCE(rec.n, 0) AS BIGINT)
               AS n_after
    FROM centroids c
    CROSS JOIN cap
    LEFT JOIN nb ON nb.centroid_id = c.centroid_id
    LEFT JOIN kept_n kn ON kn.centroid_id = c.centroid_id
    LEFT JOIN rec ON rec.centroid_id = c.centroid_id
    LEFT JOIN spn ON spn.centroid_id = c.centroid_id
    """,
    tier="P2",
)
def q_ann_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cap audits itself: per inverted list, members before the cap,
    kept, received via one-hop spill, dropped (spilled here but no free
    seat), and the final size — which the law guarantees is <= cap on
    every row (visible in the hash-checked values, n_after <= cap).
    Publishing the eviction accounting is what makes the capped index
    operable: recall loss is attributable to named lists, and a
    drop-heavy audit is the signal to re-run upstream dedup (the
    documented owner of degenerate blobs)."""
    ix = _capped_index(spark, sf_dir)
    spine = ix["cent"].select(F.col("c_id").alias("centroid_id"))
    nb = (
        ix["seats"].groupBy("centroid_id").agg(F.count("*").alias("n_before"))
    )
    rec = (
        ix["accepted"]
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_received"))
    )
    spn = ix["spill"].groupBy("centroid_id").agg(
        F.count("*").alias("n_spilled")
    )
    z = F.lit(0).cast("long")
    return (
        spine.join(nb, "centroid_id", "left")
        .join(ix["kept_n"], "centroid_id", "left")
        .join(rec, "centroid_id", "left")
        .join(spn, "centroid_id", "left")
        .select(
            "centroid_id",
            F.lit(ix["cap"]).cast("long").alias("cap"),
            F.coalesce(F.col("n_before").cast("long"), z).alias("n_before"),
            F.coalesce(F.col("n_kept").cast("long"), z).alias("n_kept"),
            F.coalesce(F.col("n_received").cast("long"), z).alias(
                "n_received"
            ),
            (
                F.coalesce(F.col("n_spilled").cast("long"), z)
                - F.coalesce(F.col("n_received").cast("long"), z)
            ).alias("n_dropped"),
            (
                F.coalesce(F.col("n_kept").cast("long"), z)
                + F.coalesce(F.col("n_received").cast("long"), z)
            ).alias("n_after"),
        )
    )
