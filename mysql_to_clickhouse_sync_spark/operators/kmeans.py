"""K-means clustering + product quantization over the embeddings table —
north-star extensions (SURVEY.md §2.8; the reference copies rows without any
vector analytics, mysql_to_clickhouse_sync.py:192-199). Together with
operators/ivf.py these complete the vector-index toolchain a training-data
pipeline needs: k-means trains coarse centroids (IVF lists / cluster-based
data mixing), PQ compresses vectors for memory-resident ANN.

Engine-parity design (the whole point — an ITERATIVE algorithm with a full
DuckDB oracle, like operators/clustering.py's connected components):

  * Quantize first: ``floor(x * 1024)`` per element. Multiplying a float by a
    power of two is exact in IEEE double, and floor is exact, so both engines
    start from the SAME integer grid — no float-parsing or rounding-mode
    divergence can enter.
  * Exact centroid accumulation: per-(cluster, dim) sums are BIGINT (exact,
    associative, partition-order independent); the mean is one double
    division of identical integer operands — correctly rounded, hence
    bit-identical in both engines.
  * Distances: sequential left-fold over the (value - centroid)^2 terms in
    double (Spark ``F.aggregate`` == DuckDB ``list_reduce``, the
    functions/vectors.py contract), so every distance is bitwise identical
    and the argmin (tie-break: lowest cluster id) agrees exactly.

Scale notes (100 TB): per Lloyd iteration the centroids (K x DIM doubles)
travel as a broadcast — assignment is MAP-ONLY (no explode, no join); the
only shuffle is the (cluster, dim)-keyed sum whose map-side combine bounds
it at K*DIM records per partition. The iteration loop localCheckpoints the
K-row centroid frame (clustering.py's pattern), so plan depth stays constant
in the number of iterations. Seeding by global-min vec_id is one
TakeOrdered(K) reduction; the production alternative — derandomized
k-means|| (md5-permutation sample, cost-weighted oversample,
farthest-first reduction; see seed_centroids_pp / q_kmeans_pp) — is also
implemented under a full oracle, and the iteration body (the part that
touches all data) is identical under either seeding. PQ
assignment is map-only against a broadcast codebook; training the codebook
per subspace is exactly ``q_kmeans`` restricted to a dim slice.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.functions.lsh_guard import cap_buckets
from mysql_to_clickhouse_sync_spark.registry import declare

KMEANS_K = 8
KMEANS_ITERS = 3
QUANT = 1024.0  # power of two: float * QUANT is exact in double
DIM = 64

PQ_M = 4  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16  # codewords per subspace


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv: array<double>) on the exact floor(x*1024) integer grid."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast("double"),
        ).alias("qv"),
    )


def dist_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left-fold in double — bitwise
    engine-portable (matches DuckDB list_reduce; see functions/vectors.py)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_DIST_SQL = """list_reduce(list_transform(list_zip({a}, {b}),
      p -> (p[1]-p[2])*(p[1]-p[2])), (x, y) -> x + y)"""


def _assign(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-only nearest-centroid assignment: the K centroids ride in ONE
    broadcast row as array<struct<cid,cvec>>; argmin via array_min over
    (dist, cid) structs (tie-break: lowest cid)."""
    packed = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("cents")
    )
    return (
        qv.crossJoin(F.broadcast(packed))
        .select(
            "vec_id",
            "qv",
            F.array_min(
                F.transform(
                    "cents",
                    lambda c: F.struct(
                        dist_sq(F.col("qv"), c["cvec"]).alias("d"),
                        c["cid"].alias("cid"),
                    ),
                )
            ).alias("best"),
        )
        .select(
            "vec_id",
            "qv",
            F.col("best.cid").alias("cid"),
            F.col("best.d").alias("d"),
        )
    )


def _unrolled_dist(a: str, b: str) -> Column:
    """dist_sq as an UNROLLED left-associative expression tree —
    whole-stage-codegen'd, unlike the HOF fold (codegen-fallback,
    interpreted per element, ~10us per centroid-distance). Bitwise
    IDENTICAL to dist_sq: ((t0+t1)+t2)+... is exactly the sequential
    left fold DuckDB's list_reduce computes."""
    terms = [
        (F.col(a).getItem(i) - F.col(b).getItem(i))
        * (F.col(a).getItem(i) - F.col(b).getItem(i))
        for i in range(DIM)
    ]
    return reduce(lambda x, y: x + y, terms)


def _assign_joined(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for LARGE K: explode the broadcast to K
    rows, score each (vector, centroid) with the unrolled codegen'd
    distance, argmin via a min-struct aggregate (map-side combine reduces
    the shuffle to one row per vector; struct ordering (d, cid) is the
    same tie-break as _assign's array_min). Same results bitwise as
    _assign — the packed form's O(K) interpreted lambda per ROW is the
    only difference, measured ~40x slower at K=200."""
    d = _unrolled_dist("qv", "cvec")
    # The argmin aggregates a SKINNY (vec_id, struct(d, cid)) stream —
    # carrying the vector payload through the n*K-row aggregation forces
    # the object/sort aggregate path and spills (measured 60 s/iteration
    # at n=50k, K=200 vs ~5 s skinny); the vectors re-attach afterwards
    # with one corpus-keyed join.
    best = (
        qv.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(d.alias("d"), F.col("cid").alias("cid")).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
    )
    return qv.join(best, "vec_id").select(
        "vec_id",
        "qv",
        F.col("m.cid").alias("cid"),
        F.col("m.d").alias("d"),
    )


_CENT_SCHEMA = "cid int, cvec array<double>"


def _local_cents(spark: SparkSession, rows: list[tuple[int, list[float]]]):
    """K-row (cid, cvec) centroid frame as a JVM LocalRelation via a VALUES
    inline table. NOT createDataFrame: PySpark parallelizes local data into
    a pickled Python RDD, so every downstream evaluation of the frame (one
    per assign, more in the IVF-PQ consumers) would pay a Python-worker
    round trip (measured ~+1-2 s per kmeans query). VALUES literals are
    folded to InternalRows at ANALYSIS time, so the relation is pure data —
    downstream plan/codegen text is identical every Lloyd iteration and no
    Python worker or checkpoint job is ever involved. Double literals use
    repr(), the shortest round-tripping form, so the values are exact; a
    non-finite value has no literal form and raises here, naming its cid."""
    if not rows:
        return spark.createDataFrame([], _CENT_SCHEMA)
    for cid, vec in rows:
        bad = [v for v in vec if not math.isfinite(v)]
        if bad:
            raise ValueError(
                f"centroid cid={cid} has non-finite components {bad[:3]}"
            )
    vals = ", ".join(
        "({}, array({}))".format(
            int(cid), ", ".join(f"{v!r}D" for v in vec)
        )
        for cid, vec in rows
    )
    return spark.sql(
        f"SELECT CAST(cid AS INT) AS cid, cvec"
        f" FROM VALUES {vals} AS t(cid, cvec)"
    )


def seed_centroids(qv: DataFrame, k: int) -> DataFrame:
    """Deterministic (cid, cvec) seeds: the k globally-smallest vec_ids.
    One TakeOrdered(k) reduction — constant-size at any corpus scale; the
    k rows come to the driver (bounded, corpus-independent — the ivf.py
    precedent) instead of paying a window + eager checkpoint job.
    SHARED by kmeans_fit and s_kmeans_stream: the streaming query's
    stream==batch bitwise claim depends on both using identical seeds."""
    rows = sorted(
        qv.orderBy("vec_id").limit(k).collect(), key=lambda r: r["vec_id"]
    )
    return _local_cents(
        qv.sparkSession, [(i, list(r["qv"])) for i, r in enumerate(rows)]
    )


# K bound for the driver-side mean fold: per iteration the driver holds
# K*DIM (cid, dim, s, n) rows. Beyond this (corpus-proportional K at very
# large scale) the distributed fold below keeps the driver out of the loop.
DRIVER_FOLD_MAX_K = 1024


def kmeans_fit(
    qv: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    assign=_assign,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's iterations over a (vec_id, qv) frame; returns the final
    K-row (cid, cvec) centroid frame. Exact BIGINT dim-sums -> one double
    division per mean keeps every centroid bit-identical across engines.
    ``assign`` picks the assignment kernel: _assign (packed, map-only) for
    small K, _assign_joined (codegen'd, one extra combine) for large K —
    bitwise interchangeable. ``seeds`` overrides the (cid, cvec) seed
    frame (min-id seeding by default; q_kmeans_pp passes k-means||).

    Round 11: for bounded K the per-iteration centroid update collects the
    K*DIM exact (cid, dim, s, n) sums — corpus-independent — and folds the
    means on the driver (guide §1.2 step 1: drops the second shuffle, the
    centroid join, and the eager checkpoint job per iteration; the same
    bounded-collect pattern as ivf.py / unigram.py). float(s)/float(n) in
    Python is bit-for-bit the CAST-to-double division both engines run.
    Beyond DRIVER_FOLD_MAX_K the original distributed fold runs —
    bit-identical either way (pinned in tests/test_kmeans.py)."""
    cents = seeds if seeds is not None else seed_centroids(qv, k)
    if k > DRIVER_FOLD_MAX_K:
        return _kmeans_fit_dist(qv, iters, assign, cents)
    spark = qv.sparkSession
    prev = {int(r["cid"]): list(r["cvec"]) for r in cents.collect()}
    for _ in range(iters):
        cents = _local_cents(spark, sorted(prev.items()))
        dim_sums = (
            assign(qv, cents)
            .select("cid", F.posexplode("qv").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(
                F.sum(F.col("v").cast("bigint")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        acc: dict[int, dict[int, tuple[int, int]]] = {}
        for r in dim_sums:
            acc.setdefault(r["cid"], {})[r["dim"]] = (r["s"], r["n"])
        # An empty cluster keeps its previous centroid (COALESCE on both
        # engines) rather than dying or resampling nondeterministically.
        for cid, dims in acc.items():
            prev[cid] = [
                float(dims[d][0]) / float(dims[d][1]) for d in range(DIM)
            ]
    return _local_cents(spark, sorted(prev.items()))


def _kmeans_fit_dist(
    qv: DataFrame, iters: int, assign, cents: DataFrame
) -> DataFrame:
    """The fully-distributed Lloyd update (pre-round-11 body): keeps the
    driver out of the loop when K itself scales with the corpus."""
    for _ in range(iters):
        assigned = assign(qv, cents)
        sums = (
            assigned.select("cid", F.posexplode("qv").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(
                F.sum(F.col("v").cast("bigint")).alias("s"),
                F.count("*").alias("n"),
            )
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "s", "n"))).alias("a"))
            .select(
                "cid",
                F.transform(
                    "a", lambda t: t["s"].cast("double") / t["n"].cast("double")
                ).alias("newvec"),
            )
        )
        cents = (
            cents.join(sums, "cid", "left")
            .select("cid", F.coalesce("newvec", "cvec").alias("cvec"))
            .localCheckpoint(eager=True)
        )
    return cents


def _kmeans_cte(k_expr: str = str(KMEANS_K), seed_sql: str | None = None) -> str:
    """The q_kmeans centroid chain as reusable SQL CTEs ending in
    cent_{KMEANS_ITERS}; shared by the q_kmeans and q_ann_ivfpq oracles.
    ``k_expr`` is the seed-count LIMIT — a literal for the fixed-K
    queries, a data-proportional subquery for q_semantic_dedup.
    ``seed_sql`` overrides the cent_0 body (min-id seeding by default;
    q_kmeans_pp passes the k-means|| seed pipeline)."""
    iters = []
    for i in range(KMEANS_ITERS):
        prev, out = f"cent_{i}", i + 1
        iters.append(
            f"""
, asg_{out} AS (
    SELECT vec_id, qv, cid FROM (
        SELECT v.vec_id, v.qv, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_DIST_SQL.format(a='v.qv', b='c.cvec')}, c.cid
               ) AS rn
        FROM qv v CROSS JOIN {prev} c) WHERE rn = 1
), sums_{out} AS (
    SELECT cid, i - 1 AS dim, SUM(CAST(qv[i] AS BIGINT)) AS s, COUNT(*) AS n
    FROM asg_{out}
    CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) d
    GROUP BY cid, dim
), newc_{out} AS (
    SELECT cid, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY dim)
               AS cvec
    FROM sums_{out} GROUP BY cid
), cent_{out} AS (
    SELECT p.cid, COALESCE(n.cvec, p.cvec) AS cvec
    FROM {prev} p LEFT JOIN newc_{out} n USING (cid)
)"""
        )
    seed = seed_sql or f"""
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cvec
        FROM qv ORDER BY vec_id LIMIT {k_expr}
    """
    return f"""
    WITH qv AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS DOUBLE)) AS qv
        FROM embeddings
    ), cent_0 AS (
        {seed}
    )
    {''.join(iters)}
    """


def _kmeans_oracle() -> str:
    # the Lloyd CTE chain is _kmeans_cte(), shared with the IVF-PQ oracles
    return f"""
    {_kmeans_cte()}
    SELECT vec_id, cid AS cluster_id, d AS dist_sq FROM (
        SELECT v.vec_id, c.cid,
               {_DIST_SQL.format(a='v.qv', b='c.cvec')} AS d,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_DIST_SQL.format(a='v.qv', b='c.cvec')}, c.cid
               ) AS rn
        FROM qv v CROSS JOIN cent_{KMEANS_ITERS} c) WHERE rn = 1
    """


@declare("q_kmeans", oracle=_kmeans_oracle(), tier="P2")
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's, K=8, 3 iterations, deterministic min-id seeding)
    over the embeddings — the full iterative algorithm under a full DuckDB
    oracle (3 unrolled CTE rounds), bit-identical per the module recipe.
    Returns every vector's final assignment + squared distance."""
    qv = _quantized(spark, sf_dir)
    cents = kmeans_fit(qv)
    return _assign(qv, cents).select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("d").alias("dist_sq"),
    )


# --- k-means|| seeding (Bahmani et al., VLDB 2012), derandomized -----------
#
# The production seeding the min-id docstring promised: (1) an initial
# uniform sample via the md5-permutation trick (sampling.py's pattern —
# md5(vec_id) is a fixed pseudo-random total order both engines compute
# identically), (2) one COST-WEIGHTED oversampling pass — priority
# d^2(x, S) * hash(x), the deterministic surrogate for "sample with
# probability proportional to cost" (points far from the current seeds
# with a lucky hash win; d^2 is exact-integer so the products are exact
# BIGINTs), (3) the ~2l candidates reduced to k by farthest-first
# traversal (Gonzalez 1985) — the deterministic analog of k-means++'s
# D^2 sampling. Every step is a total order over exact integers/md5
# strings, so the whole pipeline carries a full DuckDB oracle.
#
# Scale notes (100 TB): pass 1 is a TakeOrdered(l) reduction; pass 2 is
# MAP-ONLY against the broadcast l-row sample plus a TakeOrdered(l) on
# (priority, vec_id); farthest-first runs on the <= 2l-row candidate
# frame (constant size). Exactly Bahmani's design point — O(1) passes
# over the corpus, the reclustering on a sample that fits anywhere.

KPP_L = 16  # oversampling factor: l = 2k candidates per pass


def _dist_sq_py(a: list[float], b: list[float]) -> float:
    """Driver twin of dist_sq: the same sequential left fold. Every term
    and partial sum is an exact integer-valued double on the quantized
    grid (|x| <= QUANT, so the total is < 2^30), so the Python float fold
    is bit-identical to both engines' folds."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def seed_centroids_pp(qv: DataFrame, k: int = KMEANS_K, l: int = KPP_L) -> DataFrame:
    """Deterministic k-means|| seeds: md5-sample -> cost-weighted
    oversample -> farthest-first down to (cid, cvec), cid in selection
    order. The two corpus passes (s1, s2) stay in Spark; the <= 2l
    candidates then come to the driver and farthest-first runs in plain
    Python (round 11 — bounded collect, corpus-independent: replaces k-1
    rounds of tiny crossJoin/TakeOrdered/checkpoint jobs whose cost was
    all plan analysis, the unigram.py precedent). Distances are exact
    integers on the grid, so selection is bit-identical to the Spark loop
    and the oracle's CTE chain."""
    base = qv.select(
        "vec_id", "qv", F.md5(F.col("vec_id").cast("string")).alias("m")
    )
    s1 = (
        base.orderBy("m", "vec_id").limit(l).localCheckpoint(eager=True)
    )
    packed = s1.agg(F.collect_list("qv").alias("seeds"))
    mind = F.array_min(
        F.transform("seeds", lambda s: dist_sq(F.col("qv"), s))
    )
    hash7 = F.conv(F.substring(F.col("m"), 1, 7), 16, 10).cast("bigint")
    pri = (mind.cast("bigint") * hash7).alias("pri")
    s2 = (
        base.crossJoin(F.broadcast(packed))
        .select("vec_id", "qv", "m", pri)
        .orderBy(F.col("pri").desc(), "vec_id")
        .limit(l)
    )
    cands = sorted(
        (
            (r["m"], r["vec_id"], list(r["qv"]))
            for r in s1.select("vec_id", "qv", "m")
            .unionByName(s2.select("vec_id", "qv", "m"))
            .dropDuplicates(["vec_id"])
            .collect()
        ),
    )
    if not cands:
        return _local_cents(qv.sparkSession, [])
    # farthest-first (Gonzalez 1985) over the bounded candidate list:
    # start at min (m, vec_id); each round picks max min-distance to the
    # chosen set, ties to the lowest vec_id — exactly the Spark/SQL order.
    chosen = [(0, cands[0][2])]
    chosen_ids = {cands[0][1]}
    for i in range(1, k):
        best = None
        for _m, vid, q in cands:
            if vid in chosen_ids:
                continue
            d = min(_dist_sq_py(q, c) for _cid, c in chosen)
            if best is None or (-d, vid) < best[0]:
                best = ((-d, vid), q)
        if best is None:
            break
        chosen.append((i, best[1]))
        chosen_ids.add(best[0][1])
    return _local_cents(qv.sparkSession, chosen)


def _kpp_seed_sql(k: int = KMEANS_K, l: int = KPP_L) -> str:
    """The seed pipeline as a nested-WITH SQL body for cent_0."""
    dist_cand = _DIST_SQL.format(a="c.qv", b="f.cvec")
    rounds = []
    for i in range(1, k):
        prev = f"fs_{i - 1}"
        rounds.append(
            # MATERIALIZED is load-bearing: fs_{{i}} is referenced twice
            # by round i+1, so inlined CTEs would expand 2^k copies of
            # the whole pipeline (observed as "too many open files").
            f"""
, d_{i} AS MATERIALIZED (
    SELECT c.vec_id, c.qv, min({dist_cand}) AS mind
    FROM cands c CROSS JOIN {prev} f
    WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
    GROUP BY c.vec_id, c.qv
), fs_{i} AS MATERIALIZED (
    SELECT * FROM {prev}
    UNION ALL
    SELECT {i} AS cid, vec_id, qv AS cvec FROM (
        SELECT vec_id, qv,
               row_number() OVER (ORDER BY mind DESC, vec_id) AS rn
        FROM d_{i}) WHERE rn = 1
)"""
        )
    return f"""
        WITH keyed AS MATERIALIZED (
            SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS m FROM qv
        ), s1 AS MATERIALIZED (
            SELECT vec_id, qv, m FROM keyed ORDER BY m, vec_id LIMIT {l}
        ), s2 AS MATERIALIZED (
            SELECT vec_id, qv, m FROM (
                SELECT k.vec_id, k.qv, k.m,
                       CAST(min({_DIST_SQL.format(a='k.qv', b='s.qv')})
                            AS BIGINT)
                       * CAST(('0x' || substr(k.m, 1, 7)) AS BIGINT) AS pri
                FROM keyed k CROSS JOIN s1 s
                GROUP BY k.vec_id, k.qv, k.m)
            ORDER BY pri DESC, vec_id LIMIT {l}
        ), cands AS MATERIALIZED (
            SELECT vec_id, qv, m FROM s1
            UNION
            SELECT vec_id, qv, m FROM s2
        ), fs_0 AS MATERIALIZED (
            SELECT 0 AS cid, vec_id, qv AS cvec FROM cands
            ORDER BY m, vec_id LIMIT 1
        )
        {''.join(rounds)}
        SELECT cid, cvec FROM fs_{k - 1}
    """


def _kmeans_pp_oracle() -> str:
    return f"""
    {_kmeans_cte(seed_sql=_kpp_seed_sql())}
    SELECT vec_id, cid AS cluster_id, d AS dist_sq FROM (
        SELECT v.vec_id, c.cid,
               {_DIST_SQL.format(a='v.qv', b='c.cvec')} AS d,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_DIST_SQL.format(a='v.qv', b='c.cvec')}, c.cid
               ) AS rn
        FROM qv v CROSS JOIN cent_{KMEANS_ITERS} c) WHERE rn = 1
    """


@declare("q_kmeans_pp", oracle=_kmeans_pp_oracle(), tier="P2")
def q_kmeans_pp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_kmeans under k-means|| seeding instead of min-id: the full
    seeded pipeline (md5-permutation sample, cost-weighted oversampling,
    farthest-first reduction, then 3 Lloyd rounds) under one DuckDB
    oracle — the seeding the q_kmeans docstring deferred to 'a
    production run', now real and hash-verified. Quality vs min-id
    seeding (within-cluster SSE) is measured in tests/test_kmeans.py."""
    qv = _quantized(spark, sf_dir)
    cents = kmeans_fit(qv, seeds=seed_centroids_pp(qv))
    return _assign(qv, cents).select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("d").alias("dist_sq"),
    )


def _pq_codebook(df: DataFrame, col: str = "qv") -> DataFrame:
    """One broadcast row: array<struct<code, subs: array<array<double>>>> —
    the PQ_K seed vectors' subspace slices of ``col`` (raw grid vectors for
    q_pq_quantize, centroid residuals for q_ann_ivfpq). Seeding = the PQ_K
    smallest vec_ids (deterministic); production would train each
    subspace's codebook with kmeans_fit on the dim slice — assignment is
    unchanged either way."""
    seeds = (
        df.orderBy("vec_id")
        .limit(PQ_K)
        .withColumn("rn", F.row_number().over(Window.orderBy("vec_id")))
        .select(
            (F.col("rn") - 1).alias("code"),
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.slice(
                    F.col(col), m * PQ_SUBDIM + 1, PQ_SUBDIM
                ),
            ).alias("subs"),
        )
    )
    return seeds.agg(
        F.array_sort(F.collect_list(F.struct("code", "subs"))).alias("book")
    )


@declare(
    "q_pq_quantize",
    oracle=f"""
    WITH qv AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS DOUBLE)) AS qv
        FROM embeddings
    ), book AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, qv
        FROM qv ORDER BY vec_id LIMIT {PQ_K}
    ), sub AS (
        SELECT v.vec_id, m.m,
               v.qv[m.m * {PQ_SUBDIM} + 1 : (m.m + 1) * {PQ_SUBDIM}] AS svec
        FROM qv v CROSS JOIN
             (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    ), assigned AS (
        SELECT vec_id, m, code, d FROM (
            SELECT s.vec_id, s.m, b.code,
                   {_DIST_SQL.format(
                       a='s.svec',
                       b='b.qv[s.m * ' + str(PQ_SUBDIM)
                         + ' + 1 : (s.m + 1) * ' + str(PQ_SUBDIM) + ']')}
                       AS d,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {_DIST_SQL.format(
                           a='s.svec',
                           b='b.qv[s.m * ' + str(PQ_SUBDIM)
                             + ' + 1 : (s.m + 1) * ' + str(PQ_SUBDIM) + ']')},
                           b.code
                   ) AS rn
            FROM sub s CROSS JOIN book b) WHERE rn = 1
    )
    SELECT vec_id,
           MAX(CASE WHEN m = 0 THEN code END) AS code_0,
           MAX(CASE WHEN m = 1 THEN code END) AS code_1,
           MAX(CASE WHEN m = 2 THEN code END) AS code_2,
           MAX(CASE WHEN m = 3 THEN code END) AS code_3,
           MAX(CASE WHEN m = 0 THEN d END) + MAX(CASE WHEN m = 1 THEN d END)
           + MAX(CASE WHEN m = 2 THEN d END) + MAX(CASE WHEN m = 3 THEN d END)
               AS recon_err
    FROM assigned
    GROUP BY vec_id
    """,
    tier="P2",
)
def q_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: 64 dims -> 4 subspaces x 16-codeword codebook
    -> a 4-byte code per vector + the exact reconstruction error. Assignment
    is MAP-ONLY against the broadcast codebook (one row, PQ_K x DIM doubles);
    per-subspace errors are summed in a fixed textual order (e0+e1+e2+e3) so
    the double total is engine-identical."""
    qv = _quantized(spark, sf_dir)
    book = _pq_codebook(qv)

    def best(m: int) -> Column:
        sub = F.slice(F.col("qv"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
        return F.array_min(
            F.transform(
                "book",
                lambda c: F.struct(
                    dist_sq(sub, c["subs"][m]).alias("d"),
                    c["code"].alias("code"),
                ),
            )
        )

    coded = qv.crossJoin(F.broadcast(book)).select(
        "vec_id", *[best(m).alias(f"b{m}") for m in range(PQ_M)]
    )
    return coded.select(
        "vec_id",
        *[F.col(f"b{m}.code").alias(f"code_{m}") for m in range(PQ_M)],
        (
            F.col("b0.d") + F.col("b1.d") + F.col("b2.d") + F.col("b3.d")
        ).alias("recon_err"),
    )


IVFPQ_QUERIES = 20  # vec_id bound for the query set
IVFPQ_NPROBE = 2
IVFPQ_K = 3


def _residuals(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, res): each vector's residual against its coarse
    centroid — broadcast join on the 8-row centroid frame."""
    assigned = _assign(qv, cents)
    return assigned.join(F.broadcast(cents), "cid").select(
        "vec_id",
        "cid",
        F.zip_with("qv", "cvec", lambda x, y: x - y).alias("res"),
    )


def _sub_sql(col: str, m: str) -> str:
    """SQL slice of subspace m (0-based) from a DIM-list column."""
    return f"{col}[{m} * {PQ_SUBDIM} + 1 : ({m} + 1) * {PQ_SUBDIM}]"


def _ivfpq_oracle() -> str:
    return f"""
    {_ivfpq_cte()}
    SELECT qid, cand, adc_dist, rank FROM ranked
    WHERE rank <= {IVFPQ_K}
    """


def _ivfpq_cte() -> str:
    """IVF-PQ search as a CTE chain ending in ``ranked`` (qid, cand,
    adc_dist, rank) — shared by the q_ann_ivfpq and q_ann_recall oracles."""
    adc_terms = " + ".join(
        f"MAX(CASE WHEN m = {m} THEN d END)" for m in range(PQ_M)
    )
    return f"""
    {_kmeans_cte()}
    , assigned AS (
        SELECT vec_id, qv, cid FROM (
            SELECT v.vec_id, v.qv, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_DIST_SQL.format(a='v.qv', b='c.cvec')},
                                c.cid) AS rn
            FROM qv v CROSS JOIN cent_{KMEANS_ITERS} c) WHERE rn = 1
    ), residual AS (
        SELECT a.vec_id, a.cid,
               list_transform(list_zip(a.qv, c.cvec),
                   p -> p[1] - p[2]) AS res
        FROM assigned a JOIN cent_{KMEANS_ITERS} c USING (cid)
    ), book AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, res
        FROM residual ORDER BY vec_id LIMIT {PQ_K}
    ), coded AS (
        SELECT vec_id, cid, m, code FROM (
            SELECT r.vec_id, r.cid, s.m, b.code,
                   row_number() OVER (
                       PARTITION BY r.vec_id, s.m
                       ORDER BY {_DIST_SQL.format(
                           a=_sub_sql('r.res', 's.m'),
                           b=_sub_sql('b.res', 's.m'))}, b.code) AS rn
            FROM residual r
            CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) s
            CROSS JOIN book b) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS qid, cid AS probe_cid, res FROM (
            SELECT v.vec_id, c.cid,
                   list_transform(list_zip(v.qv, c.cvec),
                       p -> p[1] - p[2]) AS res,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_DIST_SQL.format(a='v.qv', b='c.cvec')},
                                c.cid) AS rn
            FROM qv v CROSS JOIN cent_{KMEANS_ITERS} c
            WHERE v.vec_id < {IVFPQ_QUERIES})
        WHERE rn <= {IVFPQ_NPROBE}
    ), adc AS (
        SELECT p.qid, co.vec_id AS cand, p.probe_cid, co.m,
               {_DIST_SQL.format(
                   a=_sub_sql('p.res', 'co.m'),
                   b=_sub_sql('b.res', 'co.m'))} AS d
        FROM probes p
        JOIN coded co ON co.cid = p.probe_cid AND co.vec_id <> p.qid
        JOIN book b ON b.code = co.code
    ), scored AS (
        SELECT qid, cand, {adc_terms} AS adc_dist
        FROM adc GROUP BY qid, cand, probe_cid
    ), ranked AS (
        SELECT qid, cand, adc_dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, cand) AS rank
        FROM scored
    )
    """


@declare("q_ann_ivfpq", oracle=_ivfpq_oracle(), tier="P2")
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbor (the Faiss composition): coarse
    k-means lists (kmeans_fit), PQ codes over CENTROID RESIDUALS, and
    asymmetric-distance search — each query probes its NPROBE nearest
    lists and scores candidates as sum-of-subspace distances between the
    query's residual and the candidate's codewords, top-K per query.

    Scale notes (100 TB): the index side is q_kmeans + q_pq_quantize
    machinery (map-only against broadcasts + one keyed shuffle); search
    fans in n·nprobe/K candidates per query via the equi-join on the list
    id — the same candidate arithmetic as q_ann_ivf, but each candidate
    costs a PQ_M-term table lookup instead of a full-dimension scan, which
    is the point of PQ. ADC subspace distances add in fixed textual order
    so the double total is engine-identical."""
    qv = _quantized(spark, sf_dir)
    cents = kmeans_fit(qv)
    res = _residuals(qv, cents).localCheckpoint(eager=True)

    packed_book = _pq_codebook(res, col="res")

    def best_code(m: int) -> Column:
        sub = F.slice(F.col("res"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
        return F.array_min(
            F.transform(
                "book",
                lambda c: F.struct(
                    dist_sq(sub, c["subs"][m]).alias("d"),
                    c["code"].alias("code"),
                ),
            )
        )["code"]

    coded = res.crossJoin(F.broadcast(packed_book)).select(
        "vec_id",
        "cid",
        *[best_code(m).alias(f"code_{m}") for m in range(PQ_M)],
    )

    # Query side: NPROBE nearest lists + per-probe residual.
    packed_cents = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("cents")
    )
    wq = Window.partitionBy("vec_id").orderBy("d", "cid")
    probes = (
        qv.filter(F.col("vec_id") < IVFPQ_QUERIES)
        .crossJoin(F.broadcast(packed_cents))
        .select(
            "vec_id",
            "qv",
            F.explode(
                F.transform(
                    "cents",
                    lambda c: F.struct(
                        c["cid"].alias("cid"),
                        dist_sq(F.col("qv"), c["cvec"]).alias("d"),
                        F.zip_with(
                            F.col("qv"), c["cvec"], lambda x, y: x - y
                        ).alias("res"),
                    ),
                )
            ).alias("p"),
        )
        .select("vec_id", F.col("p.cid").alias("cid"), F.col("p.d").alias("d"), F.col("p.res").alias("res"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("qid"), F.col("cid").alias("probe_cid"), "res")
    )

    cands = probes.join(
        coded,
        (probes.probe_cid == coded.cid) & (probes.qid != coded.vec_id),
    ).select(
        "qid",
        F.col("vec_id").alias("cand"),
        "res",
        *[f"code_{m}" for m in range(PQ_M)],
    )

    def adc_term(m: int) -> Column:
        sub = F.slice(F.col("res"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
        return dist_sq(
            sub, F.element_at(F.col("book"), F.col(f"code_{m}") + 1)["subs"][m]
        )

    # (qid, cand) is already unique: each candidate lives in exactly one
    # coarse list and a query's probes are distinct lists, so no dedup
    # aggregate (and its shuffle) is needed after the probe join.
    scored = cands.crossJoin(F.broadcast(packed_book)).select(
        "qid",
        "cand",
        (adc_term(0) + adc_term(1) + adc_term(2) + adc_term(3)).alias(
            "adc_dist"
        ),
    )
    wr = Window.partitionBy("qid").orderBy("adc_dist", "cand")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= IVFPQ_K)
        .select("qid", "cand", "adc_dist", "rank")
    )


def _recall_oracle() -> str:
    return f"""
    {_ivfpq_cte()}
    , approx AS (
        SELECT qid, cand FROM ranked WHERE rank <= {IVFPQ_K}
    ), exact AS (
        SELECT qid, cand FROM (
            SELECT q.vec_id AS qid, v.vec_id AS cand,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DIST_SQL.format(a='q.qv', b='v.qv')},
                                v.vec_id) AS rn
            FROM qv q JOIN qv v ON v.vec_id <> q.vec_id
            WHERE q.vec_id < {IVFPQ_QUERIES})
        WHERE rn <= {IVFPQ_K}
    )
    SELECT e.qid,
           CAST(count(a.cand) AS BIGINT) AS n_hits,
           CAST(count(a.cand) * 10000 // {IVFPQ_K} AS BIGINT) AS recall_bp
    FROM exact e
    LEFT JOIN approx a ON a.qid = e.qid AND a.cand = e.cand
    GROUP BY e.qid
    """


@declare("q_ann_recall", oracle=_recall_oracle(), tier="P2")
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine audits its own ANN: recall@{K} of q_ann_ivfpq against the
    EXACT top-K (brute force over the full corpus, bounded to the query
    set) — the honesty number every approximate index must publish. Both
    the approximate and the exact path run under one oracle, so the
    reported recall itself is hash-verified.

    Scale notes: the exact side is a deliberately bounded ground-truth twin
    (IVFPQ_QUERIES rows broadcast against the corpus — a BroadcastNestedLoop
    whose cost is queries x corpus, the same labeled-bounded pattern as
    q_neardup_exact); production recall audits sample queries exactly like
    this. The approximate side is the production q_ann_ivfpq plan."""
    qv = _quantized(spark, sf_dir)
    queries = qv.filter(F.col("vec_id") < IVFPQ_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("q")
    )
    wq = Window.partitionBy("qid").orderBy("d", "cand")
    exact = (
        F.broadcast(queries)
        .join(qv, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cand"),
            dist_sq(F.col("q"), F.col("qv")).alias("d"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVFPQ_K)
        .select("qid", "cand")
    )
    approx = q_ann_ivfpq(spark, sf_dir).select(
        "qid", F.col("cand").alias("a_cand")
    )
    return (
        exact.join(
            approx,
            (exact.qid == approx.qid) & (exact.cand == approx.a_cand),
            "left",
        )
        .drop(approx.qid)
        .groupBy("qid")
        .agg(
            F.count("a_cand").cast("bigint").alias("n_hits"),
            F.expr(f"CAST(count(a_cand) * 10000 div {IVFPQ_K} AS BIGINT)").alias(
                "recall_bp"
            ),
        )
    )

# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster first, near-dup only within clusters.
# ---------------------------------------------------------------------------

# cos(a,b) >= 3/10  <=>  dot > 0 AND dot^2 * 100 >= 9 * |a|^2 * |b|^2 —
# the whole test is BIGINT arithmetic on the exact integer grid (entries
# |q| <= QUANT, so dot^2 * 100 <= 4.6e17 < 2^63), zero floats anywhere.
SEMDEDUP_NUM_SQ = 9  # eps = 0.30, matching similarity.NEARDUP_THRESHOLD
SEMDEDUP_DEN_SQ = 100
# SemDeDup's tractability premise is K proportional to the corpus: with a
# FIXED K the within-cluster pair count grows quadratically (measured:
# fixed K=8 at 50k vectors melts, K=n/250 stays linear). Target ~250
# vectors per cluster, floored at the fixture K so small SFs keep the
# 8-cluster geometry the rest of the module documents.
SEMDEDUP_TARGET_CLUSTER = 250

# Delegate to the functions/vectors.py engine-parity contract — ONE
# definition of the bitwise-critical sequential fold in the repo.
from mysql_to_clickhouse_sync_spark.functions.vectors import (  # noqa: E402
    DOT_SQL as _VEC_DOT_SQL,
    dot as _vec_dot,
)

_DOT_SQL = "CAST(" + _VEC_DOT_SQL + " AS BIGINT)"


def dot_int(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized-grid vectors: every
    product and partial sum is an integer far below 2^53, so the double
    fold (functions/vectors.py's contract) is exact and the BIGINT cast
    is lossless in both engines."""
    return _vec_dot(a, b).cast("bigint")


# The guard cap for the DECLARED guarded variant: the mean cluster size
# n // K. Data-proportional (like K itself), so it tracks any corpus; on
# the fixtures it BITES (several clusters sit above the mean at every SF),
# so the exclusion semantics are actually exercised by the oracle compare —
# the same bites-on-the-fixture rationale as dedup.GUARD_CAP. Production
# dials this to a multiple of SEMDEDUP_TARGET_CLUSTER (e.g. 10x) so only
# genuinely degenerate clusters — dense near-identical blobs, exactly the
# regions SemDeDup exists to clean — are routed to the audit table.
_SEMDEDUP_CAP_SQL = (
    f"(SELECT count(*) // greatest({KMEANS_K}, "
    f"count(*) // {SEMDEDUP_TARGET_CLUSTER}) FROM qv)"
)


def _semdedup_cte() -> str:
    """Kmeans chain + dynamic-K assignment, ending in ``asg (vec_id, qv,
    cid, nn)`` — the SQL twin of _semdedup_assignment, shared by all three
    SemDeDup oracles."""
    k_expr = (
        f"(SELECT greatest({KMEANS_K}, "
        f"count(*) // {SEMDEDUP_TARGET_CLUSTER}) FROM qv)"
    )
    return f"""
    {_kmeans_cte(k_expr)}
    , asg AS (
        SELECT vec_id, qv, cid,
               {_DOT_SQL.format(a='qv', b='qv')} AS nn
        FROM (
            SELECT v.vec_id, v.qv, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_DIST_SQL.format(a='v.qv', b='c.cvec')},
                                c.cid) AS rn
            FROM qv v CROSS JOIN cent_{KMEANS_ITERS} c) WHERE rn = 1
    )"""


def _semdedup_pair_sql(src: str) -> str:
    """cand + dups CTE text over pair source ``src`` (asg or kept): the
    min-earlier-near-neighbor per vector, pure BIGINT threshold."""
    dot = _DOT_SQL.format(a="a.qv", b="b.qv")
    return f"""cand AS (
        SELECT a.vec_id AS v, b.vec_id AS w, a.nn AS na, b.nn AS nb,
               {dot} AS dp
        FROM {src} a JOIN {src} b ON b.cid = a.cid AND b.vec_id < a.vec_id
    ), dups AS (
        SELECT v, MIN(w) AS dup_of FROM cand
        WHERE dp > 0
          AND dp * dp * {SEMDEDUP_DEN_SQ} >= {SEMDEDUP_NUM_SQ} * na * nb
        GROUP BY v
    )"""


def _semdedup_oracle() -> str:
    return f"""
    {_semdedup_cte()}
    , {_semdedup_pair_sql('asg')}
    SELECT q.vec_id, q.cid AS cluster_id,
           d.dup_of IS NOT NULL AS is_dup, d.dup_of
    FROM asg q LEFT JOIN dups d ON d.v = q.vec_id
    """


@declare("q_semantic_dedup", oracle=_semdedup_oracle(), tier="P2")
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means partitions
    the corpus, then near-duplicate search runs ONLY within each cluster —
    a vector is a duplicate if an earlier (lower-id) vector in its cluster
    has cosine >= 0.30; survivors are the non-duplicates. Returns every
    vector's cluster, dup flag, and the id it duplicates (min such id).

    The similarity test is pure BIGINT arithmetic on the quantized grid
    (dot > 0 and dot^2*100 >= 9*|a|^2*|b|^2), so the threshold crossing is
    exactly engine-portable — no float literal, rounding mode, or fold
    order can flip a pair.

    Scale notes (100 TB): this is the SemDeDup design point — clustering
    bounds the quadratic term to within-cluster pairs, and K GROWS WITH
    THE CORPUS (K = max(KMEANS_K=8, n/TARGET=250), one
    scalar count — the same driver-side scalar as the reference's bounds
    query) so the per-cluster candidate count stays ~constant while
    all-pairs would grow quadratically; the 25x stress measured fixed-K
    melting and dynamic-K staying linear. The join is an EQUI-join on the
    cluster id (shuffle both sides on cid, quadratic only inside a
    partition-local cluster); a degenerate giant cluster is the same
    failure mode as a hot LSH bucket — cap or sub-band it exactly as
    dedup.py's guarded paths do (q_simhash_guarded, q_lsh_bucket_audit).
    At K beyond ~10^4 the packed one-row centroid broadcast in _assign
    would flip to an exploded broadcast-join table; the iteration body is
    unchanged. Nothing here re-reads the corpus twice thanks to the k-row
    centroid checkpoint."""
    asg, _n, _k = _semdedup_assignment(spark, sf_dir)
    dups = _semdedup_dups(asg)
    return (
        asg.join(dups, asg.vec_id == dups.a_id, "left")
        .select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def _semdedup_assignment(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int, int]:
    """Shared SemDeDup front half: dynamic-K k-means assignment as a
    checkpointed ``(vec_id, qv, cid, nn)`` frame, plus (n, k). The
    checkpoint matters — the frame feeds three consumers (both pair-join
    sides and the final left join), and without the lineage cut the n*K
    scoring subtree would re-run per consumer."""
    qv = _quantized(spark, sf_dir)
    n = qv.count()  # one scalar agg, like the reference's MIN/MAX bounds
    k = max(KMEANS_K, n // SEMDEDUP_TARGET_CLUSTER)
    # Kernel by K (bitwise interchangeable, pinned in test_kmeans.py):
    # packed map-only argmin wins at small K (no per-iteration corpus
    # join); the exploded codegen kernel wins once K makes the per-row
    # interpreted HOF scan dominate (measured crossover well under 200).
    assign = _assign if k <= 32 else _assign_joined
    cents = kmeans_fit(qv, k=k, assign=assign)
    asg = (
        assign(qv, cents)
        .select(
            "vec_id",
            "qv",
            "cid",
            dot_int(F.col("qv"), F.col("qv")).alias("nn"),
        )
        .localCheckpoint(eager=True)
    )
    return asg, n, k


def _semdedup_dups(src: DataFrame) -> DataFrame:
    """Within-cluster pair join over ``src`` (full or guard-capped
    assignment) -> one (a_id, dup_of) row per duplicate: the MIN earlier
    same-cluster vector with cosine >= 0.30 on the integer grid."""
    a = src.select(
        F.col("vec_id").alias("a_id"),
        F.col("qv").alias("a_qv"),
        "cid",
        F.col("nn").alias("na"),
    )
    b = src.select(
        F.col("vec_id").alias("b_id"),
        F.col("qv").alias("b_qv"),
        F.col("cid").alias("b_cid"),
        F.col("nn").alias("nb"),
    )
    # The HOF fold, NOT an unrolled expression: in the sort-merge pair
    # plan the projection is not whole-stage-codegen'd, where one array
    # traversal (fold) measures 10x faster than 128 interpreted getItems
    # (8.7 s vs 81 s on 6.7M pairs). In the assignment plan the reverse
    # holds -- see _assign_joined. Values are identical either way.
    dp = dot_int(F.col("a_qv"), F.col("b_qv"))
    return (
        a.join(b, (a.cid == b.b_cid) & (b.b_id < a.a_id))
        .select("a_id", "b_id", "na", "nb", dp.alias("dp"))
        .filter(
            (F.col("dp") > 0)
            & (
                F.col("dp") * F.col("dp") * F.lit(SEMDEDUP_DEN_SQ)
                >= F.lit(SEMDEDUP_NUM_SQ) * F.col("na") * F.col("nb")
            )
        )
        .groupBy("a_id")
        .agg(F.min("b_id").alias("dup_of"))
    )


def _semdedup_guarded_oracle() -> str:
    return f"""
    {_semdedup_cte()}
    , sized AS (
        SELECT cid, count(*) AS cluster_n FROM asg GROUP BY cid
    ), kept AS (
        SELECT a.* FROM asg a JOIN sized s USING (cid)
        WHERE s.cluster_n <= {_SEMDEDUP_CAP_SQL}
    ), {_semdedup_pair_sql('kept')}
    SELECT q.vec_id, q.cid AS cluster_id,
           d.dup_of IS NOT NULL AS is_dup, d.dup_of,
           s.cluster_n > {_SEMDEDUP_CAP_SQL} AS cluster_capped
    FROM asg q
    JOIN sized s USING (cid)
    LEFT JOIN dups d ON d.v = q.vec_id
    """


@declare("q_semantic_guarded", oracle=_semdedup_guarded_oracle(), tier="P2")
def q_semantic_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_semantic_dedup with the degenerate-cluster guard ARMED — the same
    lsh_guard.cap_buckets treatment every banded candidate path already
    has, closing SemDeDup's one quadratic escape hatch: dynamic K bounds
    the AVERAGE cluster at ~SEMDEDUP_TARGET_CLUSTER vectors, but a hot
    cluster of near-identical embeddings (precisely the corpus region
    SemDeDup exists to clean) collapses into one cell and goes quadratic
    with no cap. Clusters above the cap (mean cluster size n//K — bites on
    the fixture so the exclusion is oracle-exercised; production dials to
    ~10x the target size) are excluded from the pair join and flagged
    ``cluster_capped`` per vector, so the pipeline degrades explicitly —
    capped clusters route to exact dedup (one hash shuffle collapses a
    near-identical blob) instead of melting the pair join. The oracle
    re-implements the identical exclusion relationally, so the guard's
    SEMANTICS — not just its existence — are hash-verified cross-engine.

    Scale notes (100 TB): the guard costs one map-side-combinable count
    per cid and a broadcast anti-join against the <= K-row oversize set —
    strictly cheaper than a single hot cluster's self-join. Worst-case
    pair work is now sum(min(n_c, cap)^2) <= n*cap, linear in the corpus
    for fixed cap. Stress: tools/hot_cluster_stress.py plants a
    near-identical blob 40x the mean cluster size and measures guarded vs
    unguarded candidate counts and wall time."""
    asg, n, k = _semdedup_assignment(spark, sf_dir)
    kept, dropped = cap_buckets(asg, ["cid"], n // k)
    dups = _semdedup_dups(kept)
    capped = dropped.select("cid", F.lit(True).alias("cluster_capped"))
    return (
        asg.join(F.broadcast(capped), "cid", "left")
        .join(dups, asg.vec_id == dups.a_id, "left")
        .select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            F.coalesce("cluster_capped", F.lit(False)).alias(
                "cluster_capped"
            ),
        )
    )


@declare(
    "q_semantic_cluster_audit",
    oracle=f"""
    {_semdedup_cte()}
    SELECT cid AS cluster_id, count(*) AS cluster_n
    FROM asg GROUP BY cid
    HAVING count(*) > {_SEMDEDUP_CAP_SQL}
    """,
    tier="P2",
)
def q_semantic_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dropped-cluster accounting for q_semantic_guarded: one row per
    capped cluster with its size — q_lsh_bucket_audit's role for the
    SemDeDup guard. At 100 TB this table is what routes degenerate
    near-identical blobs to exact dedup instead of silently losing them
    (or silently melting on them)."""
    asg, n, k = _semdedup_assignment(spark, sf_dir)
    _, dropped = cap_buckets(asg.select("vec_id", "cid"), ["cid"], n // k)
    return dropped.select(
        F.col("cid").alias("cluster_id"),
        F.col("bucket_n").alias("cluster_n"),
    )
