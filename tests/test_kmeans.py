"""K-means + product quantization invariants (operators/kmeans.py) beyond
the registry oracle-parity sweep: Lloyd's monotonicity, partition totality,
and PQ reconstruction recomputed independently in numpy."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.operators.kmeans import (
    KMEANS_K,
    PQ_K,
    PQ_M,
    PQ_SUBDIM,
    QUANT,
    _assign,
    _local_cents,
    _quantized,
    kmeans_fit,
    q_kmeans,
    q_pq_quantize,
)
from tests.conftest import SF_DIR


def test_kmeans_assignment_is_total_partition(spark):
    out = q_kmeans(spark, SF_DIR).collect()
    n_vecs = _quantized(spark, SF_DIR).count()
    assert len(out) == n_vecs
    assert len({r.vec_id for r in out}) == n_vecs
    assert all(0 <= r.cluster_id < KMEANS_K for r in out)
    assert all(r.dist_sq >= 0.0 for r in out)
    # Fixture data spreads across every cluster (prototype-verified).
    assert len({r.cluster_id for r in out}) == KMEANS_K


def test_kmeans_inertia_non_increasing(spark):
    """Lloyd's guarantee: total inertia after each (assign, recenter) round
    never increases. Quantized inputs make each round's inertia a sum of
    identical doubles, so the comparison is exact, not tolerance-based."""
    qv = _quantized(spark, SF_DIR)
    inertias = []
    for iters in range(4):
        cents = kmeans_fit(qv, iters=iters)
        inertia = _assign(qv, cents).agg(F.sum("d")).collect()[0][0]
        inertias.append(inertia)
    assert all(a >= b for a, b in zip(inertias, inertias[1:])), inertias


def test_pq_codes_and_reconstruction(spark):
    rows = q_pq_quantize(spark, SF_DIR).collect()
    qv = {
        r.vec_id: np.array(r.qv)
        for r in _quantized(spark, SF_DIR).collect()
    }
    seeds = [qv[vid] for vid in sorted(qv)[:PQ_K]]
    for r in rows:
        codes = [r.code_0, r.code_1, r.code_2, r.code_3]
        assert all(0 <= c < PQ_K for c in codes)
        # Independent reconstruction: chosen codeword must be the argmin per
        # subspace, and the summed subspace errors must match recon_err.
        v = qv[r.vec_id]
        err = 0.0
        for m, code in enumerate(codes):
            sub = v[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            dists = [
                float(((sub - s[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]) ** 2).sum())
                for s in seeds
            ]
            assert dists[code] == min(dists), (r.vec_id, m)
            err += dists[code]
        assert abs(err - r.recon_err) < 1e-6, r.vec_id


def _plan(spark, fn) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        fn(spark, SF_DIR).explain("formatted")
    return buf.getvalue()


def test_kmeans_and_pq_plans_broadcast_only(spark):
    """Centroids/codebooks must ride as broadcasts — never a shuffled or
    cartesian join against the vector table."""
    for fn in (q_kmeans, q_pq_quantize):
        p = _plan(spark, fn)
        assert "CartesianProduct" not in p, fn.__name__
        assert "SortMergeJoin" not in p, fn.__name__
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, (
            fn.__name__
        )


def test_quantization_grid_is_exact():
    """floor(float32 * 1024) in double equals the same computed via numpy —
    the exactness claim the engine-parity recipe rests on."""
    rng = np.random.default_rng(7)
    xs = rng.standard_normal(10_000).astype(np.float32)
    via_double = np.floor(xs.astype(np.float64) * QUANT)
    # multiply-by-power-of-two is exact: scaling then flooring in any wider
    # precision gives the identical integer
    via_long_double = np.floor(xs.astype(np.longdouble) * int(QUANT)).astype(
        np.float64
    )
    assert (via_double == via_long_double).all()


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_local_cents_rejects_non_finite(spark, bad):
    """A non-finite centroid value has no SQL literal: it must fail at the
    source with its cid, not as a parse error of the generated VALUES."""
    rows = [(0, [1.0, 2.0]), (7, [0.5, bad])]
    with pytest.raises(ValueError, match="cid=7"):
        _local_cents(spark, rows)
    assert _local_cents(spark, rows[:1]).collect()[0].cvec == [1.0, 2.0]


def test_ivfpq_output_contract(spark):
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        IVFPQ_K,
        IVFPQ_QUERIES,
        q_ann_ivfpq,
    )

    rows = q_ann_ivfpq(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        assert r.qid < IVFPQ_QUERIES
        assert r.cand != r.qid  # self excluded
        assert r.adc_dist >= 0.0
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        assert len(rs) <= IVFPQ_K
        ranked = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in ranked] == list(range(1, len(rs) + 1))
        # ranks follow ADC distance (ties broken by cand id)
        dists = [(r.adc_dist, r.cand) for r in ranked]
        assert dists == sorted(dists), qid


def test_ivfpq_candidate_join_is_equi_keyed(spark):
    from mysql_to_clickhouse_sync_spark.operators.kmeans import q_ann_ivfpq

    p = _plan(spark, q_ann_ivfpq)
    # candidate generation must be an equi-join on the IVF list id; the
    # only nested-loop joins are the broadcast single-row packs
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_stream_accumulation_equals_batch_round(spark):
    """The streaming mini-batch accumulation must be BITWISE the batch
    result: s_kmeans_stream's means, assembled per cluster, equal
    kmeans_fit(iters=1)'s centroids exactly (integer sufficient statistics
    make micro-batch slicing invisible)."""
    from mysql_to_clickhouse_sync_spark.streaming.declared import (
        s_kmeans_stream,
    )

    streamed = s_kmeans_stream(spark, SF_DIR).collect()
    by_cid = {}
    for r in streamed:
        by_cid.setdefault(r.cid, {})[r.dim] = r.mean
    qv = _quantized(spark, SF_DIR)
    batch = {
        r.cid: r.cvec for r in kmeans_fit(qv, iters=1).collect()
    }
    assert set(by_cid) == set(batch)
    for cid, dims in by_cid.items():
        got = [dims[d] for d in sorted(dims)]
        assert got == list(batch[cid]), cid  # exact double equality


def test_ann_recall_audits_the_index(spark):
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        IVFPQ_K,
        IVFPQ_QUERIES,
        q_ann_recall,
    )

    rows = q_ann_recall(spark, SF_DIR).collect()
    assert len(rows) == IVFPQ_QUERIES  # every query reports, even at 0 hits
    for r in rows:
        assert 0 <= r.n_hits <= IVFPQ_K
        assert r.recall_bp == r.n_hits * 10000 // IVFPQ_K
    # the index must be better than nothing on the fixture
    assert sum(r.n_hits for r in rows) > 0


def test_semantic_dedup_invariants(spark):
    """SemDeDup recompute in numpy at sf0.001: every vector appears once;
    a dup's target is the MIN earlier same-cluster vector with cosine >=
    0.30 on the quantized grid; a non-dup has NO such neighbor."""
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        SEMDEDUP_DEN_SQ,
        SEMDEDUP_NUM_SQ,
        q_semantic_dedup,
    )

    out = {r.vec_id: r for r in q_semantic_dedup(spark, SF_DIR).collect()}
    qv = {r.vec_id: np.array(r.qv) for r in _quantized(spark, SF_DIR).collect()}
    assert set(out) == set(qv)  # total partition of the corpus

    by_cluster: dict[int, list[int]] = {}
    for vid, r in out.items():
        by_cluster.setdefault(r.cluster_id, []).append(vid)

    def near(a: int, b: int) -> bool:
        dp = int(qv[a] @ qv[b])
        na, nb = int(qv[a] @ qv[a]), int(qv[b] @ qv[b])
        return dp > 0 and dp * dp * SEMDEDUP_DEN_SQ >= SEMDEDUP_NUM_SQ * na * nb

    n_dups = 0
    for vid, r in out.items():
        earlier = [w for w in by_cluster[r.cluster_id] if w < vid]
        matches = sorted(w for w in earlier if near(vid, w))
        if r.is_dup:
            n_dups += 1
            assert r.dup_of == matches[0], vid
        else:
            assert r.dup_of is None and not matches, vid
    assert 0 < n_dups < len(out)  # non-trivial on the fixture


def test_semantic_dedup_no_cartesian(spark):
    """The within-cluster pair join must stay an equi-join on the cluster
    id — never a cartesian (the whole point of clustering first)."""
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        q_semantic_dedup,
    )

    plan = q_semantic_dedup(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_assign_kernels_are_bitwise_interchangeable(spark):
    """_assign (packed HOF, small-K) and _assign_joined (unrolled codegen,
    large-K) must produce identical (vec_id, cid, d) — the unrolled
    left-associative sum IS the sequential fold."""
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        _assign_joined,
        seed_centroids,
    )

    qv = _quantized(spark, SF_DIR)
    cents = seed_centroids(qv, KMEANS_K)
    packed = {
        r.vec_id: (r.cid, r.d) for r in _assign(qv, cents).collect()
    }
    joined = {
        r.vec_id: (r.cid, r.d) for r in _assign_joined(qv, cents).collect()
    }
    assert packed == joined  # exact double equality, every vector


def _plant_hot_corpus(spark, out_dir: str, n_blob: int = 300, n_bg: int = 100):
    """Synthesize an embeddings fixture with a degenerate semantic blob:
    ``n_blob`` near-identical vectors (pairwise cosine ~1.0) plus ``n_bg``
    spread background vectors. With dynamic K the blob collapses into one
    cluster far above the guard cap — exactly the SemDeDup failure mode."""
    import math

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    rows = []
    for i in range(n_blob):
        # near-identical: tiny per-vector jitter on one dimension
        v = [0.5] * 64
        v[i % 64] += 1e-3 * (1 + i % 5)
        rows.append((i, [float(x) for x in v], 0))
    for i in range(n_bg):
        # spread: deterministic pseudo-random directions, far from the blob
        v = [math.sin(0.7 * i + 1.3 * d) for d in range(64)]
        rows.append((10_000 + i, [float(x) for x in v], 1))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/embeddings.parquet")


def test_semantic_guard_caps_planted_hot_cluster(spark, tmp_path):
    """The guard must neutralize a planted near-identical blob: the blob's
    cluster lands in the audit table, its vectors are flagged
    cluster_capped with no dup evaluation, and the remaining pair join is
    bounded by n*cap instead of blob^2."""
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        KMEANS_K,
        q_semantic_cluster_audit,
        q_semantic_guarded,
    )

    _plant_hot_corpus(spark, str(tmp_path))
    n = 400
    cap = n // KMEANS_K  # 50: dynamic K floors at 8 for this corpus size

    audit = q_semantic_cluster_audit(spark, str(tmp_path)).collect()
    assert audit, "planted blob must trip the guard"
    # the blob cluster (>= 300 members) is among the capped clusters
    assert max(r.cluster_n for r in audit) >= 300
    assert all(r.cluster_n > cap for r in audit)

    out = q_semantic_guarded(spark, str(tmp_path)).collect()
    assert len(out) == n  # total partition: capped vectors still present
    capped_rows = [r for r in out if r.cluster_capped]
    assert len(capped_rows) >= 300
    # capped clusters are excluded from dup evaluation — explicit recall
    # trade, never silent work
    assert all(not r.is_dup and r.dup_of is None for r in capped_rows)
    # the blob (vec_id < 300) is overwhelmingly inside capped clusters
    blob_capped = sum(1 for r in capped_rows if r.vec_id < 300)
    assert blob_capped >= 300

    # guarded pair work is bounded: sum over KEPT clusters of n_c^2
    sizes: dict[int, int] = {}
    for r in out:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
    capped_cids = {r.cluster_id for r in audit}
    kept_pairs = sum(
        s * (s - 1) // 2 for c, s in sizes.items() if c not in capped_cids
    )
    assert kept_pairs <= n * cap  # linear bound, vs ~45k pairs unguarded


def test_kmeans_pp_seeding_quality_and_contract(spark):
    """k-means|| seeding (VERDICT r3 #5): the seeded pipeline must (a)
    produce exactly K distinct, well-separated seeds drawn from the
    corpus, and (b) not lose to min-id seeding on converged
    within-cluster SSE — on the fixture it wins (ratio ~0.9996), pinned
    as <= so a seeding regression that degrades clustering quality
    fails loudly."""
    from pyspark.sql import functions as F

    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        kmeans_fit,
        seed_centroids_pp,
    )

    qv = _quantized(spark, SF_DIR)
    seeds = seed_centroids_pp(qv).collect()
    assert sorted(r.cid for r in seeds) == list(range(KMEANS_K))
    vecs = {tuple(r.cvec) for r in seeds}
    assert len(vecs) == KMEANS_K  # farthest-first never repeats a point
    corpus = {tuple(r.qv) for r in qv.collect()}
    assert vecs <= corpus  # seeds are actual corpus points

    sse_min = (
        _assign(qv, kmeans_fit(qv)).agg(F.sum("d")).collect()[0][0]
    )
    sse_pp = (
        _assign(qv, kmeans_fit(qv, seeds=seed_centroids_pp(qv)))
        .agg(F.sum("d"))
        .collect()[0][0]
    )
    assert sse_pp <= sse_min, (sse_pp, sse_min)
