"""Degenerate-bucket guard (functions/lsh_guard): a planted pathological
bucket — identical boilerplate text, all-zero vectors — must be excluded
from LSH candidate self-joins with explicit audit accounting, keeping the
candidate count sub-quadratic, while healthy buckets are untouched.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
    band_pairs,
    cap_buckets,
)
from mysql_to_clickhouse_sync_spark.operators.dedup import (
    minhash_lsh_candidates,
    simhash_banded_pairs,
    simhash_table,
)
from mysql_to_clickhouse_sync_spark.operators.similarity import (
    banded_neardup_pairs,
)

BOILERPLATE = "terms of service apply to all users of this site"
PLANTED = 120  # planted degenerate class size
CAP = 50


def test_cap_buckets_split_and_audit(spark):
    rows = [Row(id=i, k="big") for i in range(10)] + [
        Row(id=100 + i, k=f"small{i}") for i in range(3)
    ]
    bands = spark.createDataFrame(rows)
    kept, dropped = cap_buckets(bands, ["k"], max_bucket=5)
    assert kept.count() == 3  # only the small buckets survive
    audit = dropped.collect()
    assert len(audit) == 1
    assert audit[0].k == "big" and audit[0].bucket_n == 10
    # band_pairs arms the same split: the big cell's 45 pairs are the
    # only candidates, and the cap removes exactly them
    assert band_pairs(bands, "id", ["k"]).count() == 45
    assert band_pairs(bands, "id", ["k"], max_bucket=5).count() == 0


# Hand-built band table: (id, label, band) rows; the cell is (label, band).
_CELLS = {
    ("x", 0): [1, 2, 3],
    ("x", 1): [2, 1],  # (1, 2) again: a pair sharing two cells
    ("x", 2): [3],  # singleton: no self-pair
    ("y", 0): [5, 4],
    ("z", 0): list(range(10, 16)),  # 6 members: above the cap below
}


def _cell_pairs(label, ids):
    return {(label, a, b) for a in ids for b in ids if a < b}


def test_band_pairs_on_hand_built_bands(spark):
    bands = spark.createDataFrame(
        [
            Row(id=i, label=label, band=band)
            for (label, band), ids in _CELLS.items()
            for i in ids
        ]
    )
    cells = ["label", "band"]

    got = band_pairs(bands, "id", cells, carry=("label",)).collect()
    assert got[0].__fields__ == ["label", "id_a", "id_b"]
    triples = [(r.label, r.id_a, r.id_b) for r in got]
    # once per pair, carried label intact, ordered, never a self-pair
    assert len(triples) == len(set(triples))
    assert all(a < b for _, a, b in triples)
    expected = set().union(
        *[_cell_pairs(label, ids) for (label, _), ids in _CELLS.items()]
    )
    assert set(triples) == expected
    assert triples.count(("x", 1, 2)) == 1

    capped = {
        (r.label, r.id_a, r.id_b)
        for r in band_pairs(
            bands, "id", cells, max_bucket=5, carry=("label",)
        ).collect()
    }
    _, audit = cap_buckets(bands, cells, 5)
    audited = {(r.label, r.band) for r in audit.collect()}
    excluded = {
        cell
        for cell, ids in _CELLS.items()
        if not _cell_pairs(cell[0], ids) <= capped
    }
    assert excluded == audited == {("z", 0)}
    assert capped == expected - _cell_pairs("z", _CELLS[("z", 0)])


def _docs(spark):
    planted = [Row(doc_id=i, lang="en", text=BOILERPLATE) for i in range(PLANTED)]
    normal = [
        Row(
            doc_id=1000 + i,
            lang="en",
            text=f"unique document number {i} about topic {i * 7} "
            f"with distinct words {i * 13} and {i * 31}",
        )
        for i in range(20)
    ]
    return spark.createDataFrame(planted + normal)


def test_minhash_guard_drops_planted_bucket(spark):
    docs = _docs(spark)
    unguarded = minhash_lsh_candidates(docs, max_bucket=None).count()
    guarded_df = minhash_lsh_candidates(docs, max_bucket=CAP)
    guarded = guarded_df.count()
    # the planted class alone is PLANTED*(PLANTED-1)/2 pairs
    assert unguarded >= PLANTED * (PLANTED - 1) // 2
    # guard on: quadratic term gone; remaining candidates are sub-quadratic
    assert guarded <= PLANTED
    # planted ids are absent from guarded candidates entirely
    assert (
        guarded_df.filter(
            (F.col("doc_a") < PLANTED) | (F.col("doc_b") < PLANTED)
        ).count()
        == 0
    )


def test_simhash_guard_drops_planted_bucket(spark):
    docs = _docs(spark)
    sh = simhash_table(docs, extra_cols=("lang",)).cache()
    unguarded = simhash_banded_pairs(sh, max_bucket=None).count()
    guarded = simhash_banded_pairs(sh, max_bucket=CAP).count()
    assert unguarded >= PLANTED * (PLANTED - 1) // 2
    assert guarded <= PLANTED
    sh.unpersist()


def test_embedding_guard_drops_degenerate_bucket(spark):
    # identical vectors: same sign pattern -> one degenerate cell per band
    planted = [
        Row(vec_id=i, label="a", embedding=[1.0] * 64) for i in range(PLANTED)
    ]
    normal = [
        Row(
            vec_id=1000 + i,
            label="a",
            embedding=[(1.0 if ((i >> (b % 4)) & 1) else -1.0) for b in range(64)],
        )
        for i in range(16)
    ]
    emb = spark.createDataFrame(planted + normal)
    # threshold=-2 so the candidate enumeration itself (the melt the guard
    # stops) is visible in the counts, not masked by the score filter
    unguarded = banded_neardup_pairs(emb, threshold=-2.0, max_bucket=None).count()
    guarded = banded_neardup_pairs(emb, threshold=-2.0, max_bucket=CAP).count()
    assert unguarded >= PLANTED * (PLANTED - 1) // 2
    assert guarded <= PLANTED


def test_zero_vectors_excluded_not_crash(spark):
    # zero-norm vectors: undefined cosine — must be EXCLUDED up front, not
    # crash the rescore with ANSI DIVIDE_BY_ZERO or melt a bucket
    rows = [Row(vec_id=i, label="a", embedding=[0.0] * 64) for i in range(20)] + [
        Row(vec_id=100, label="a", embedding=[1.0] * 64),
        Row(vec_id=101, label="a", embedding=[1.0] * 64),
    ]
    emb = spark.createDataFrame(rows)
    got = banded_neardup_pairs(emb, threshold=-2.0).collect()
    assert {(r.vec_a, r.vec_b) for r in got} == {(100, 101)}


def test_simhash_guard_default_is_armed():
    """Round-4 pin (lang-skew stress): the library default for the simhash
    banded path is the ARMED guard — the measured 90%-one-language corpus
    melts uncapped (52k-doc hot cell, 186M candidates) while cap=500 keeps
    the join bounded. Oracle-exact declared queries opt out explicitly."""
    import inspect

    from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
        DEFAULT_MAX_BUCKET,
    )

    sig = inspect.signature(simhash_banded_pairs)
    assert sig.parameters["max_bucket"].default == DEFAULT_MAX_BUCKET


def test_embedding_guard_default_is_armed():
    """Round-4 pin (label-skew stress): the embedding sign-LSH band key
    carries the low-cardinality label, and the 25x 90%-one-label corpus
    put 1.04B pairs in the uncapped join (disk-filling spill); the
    library default is therefore the ARMED guard, like simhash."""
    import inspect

    from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
        DEFAULT_MAX_BUCKET,
    )

    sig = inspect.signature(banded_neardup_pairs)
    assert sig.parameters["max_bucket"].default == DEFAULT_MAX_BUCKET


def test_minhash_guard_default_is_armed():
    """Round-4 pin: minhash band hashes resist language skew (measured),
    but bucket size is linear in boilerplate-class size, so the library
    default is the armed guard here too; oracle-exact queries opt out."""
    import inspect

    from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
        DEFAULT_MAX_BUCKET,
    )

    sig = inspect.signature(minhash_lsh_candidates)
    assert sig.parameters["max_bucket"].default == DEFAULT_MAX_BUCKET
