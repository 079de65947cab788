"""Multi-writer serializability soak: N concurrent writers racing
merge_with_retry on ONE LakeTable path, a maintenance thread sweeping
beside them, ~100 randomized commit interleavings. The pin: the final
state equals the changelog fold of EVERY committed batch —
apply_changelog under a total (version_cols) order is confluent, so
every serial order of the committed batches yields the same state, and
any silent clobber (a writer publishing over a competitor it never saw)
shows up as missing or stale keys. Round 8 pinned one stream x one
compactor; round 9 generalized to N writers; round 10 extends the
interleavings to the whole maintenance surface the round-9 verdict
asked for: writer 0 lands its deletes through the DELETION-VECTOR path
(delete_with_retry), and the maintenance thread cycles compact(),
per-bucket optimize() (max_scopes-bounded, the round-10 incremental
path), maintenance() dv-folds, and vacuum() — the three paths whose
conflict classification round 9 fixed under load now race continuously
rather than in a single-collision repro."""

from __future__ import annotations

import pytest
import random
import threading
import time

from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    apply_changelog,
    live_rows,
)
from mysql_to_clickhouse_sync_spark.sinks.merge import (
    CommitConflictError,
    LakeTable,
)

SCHEMA = "k bigint, seq bigint, v double, op string"
N_WRITERS = 4
BATCHES_PER_WRITER = 25  # 4 x 25 = 100 racing commits
KEYS = 40


def _batches(rng: random.Random) -> list[list[tuple]]:
    """Each batch: ~10 rows over a random key subset; seq is globally
    unique so the (seq) version order is total — ties impossible."""
    out, seq = [], 0
    for _ in range(N_WRITERS * BATCHES_PER_WRITER):
        rows = []
        for k in rng.sample(range(KEYS), 10):
            seq += 1
            op = "delete" if rng.random() < 0.2 else "upsert"
            rows.append((k, seq, float(k * 1000 + seq), op))
        out.append(rows)
    return out


@pytest.mark.slow
def test_n_writers_plus_compactor_serialize(spark, tmp_path):
    path = str(tmp_path / "state")
    rng = random.Random(0xC0FFEE)
    all_batches = _batches(rng)
    per_writer = [
        all_batches[w * BATCHES_PER_WRITER : (w + 1) * BATCHES_PER_WRITER]
        for w in range(N_WRITERS)
    ]
    # seed so the compactor always has a table to sweep
    seed = spark.createDataFrame(
        [(k, 0, 0.0, "upsert") for k in range(KEYS)], SCHEMA
    )
    LakeTable(
        spark, path, keys=["k"], version_cols=["seq"], n_buckets=8
    ).merge(seed, batch_id=0)

    errors: list[BaseException] = []
    done = threading.Event()
    committed = [0] * N_WRITERS

    def writer(w: int) -> None:
        t = LakeTable(
            spark, path, keys=["k"], version_cols=["seq"], n_buckets=8
        )
        r = random.Random(w)
        try:
            for rows in per_writer[w]:
                df = spark.createDataFrame(rows, SCHEMA)
                # contention is the point: every writer may need several
                # retries per commit when all four race the same parent
                if w == 0:
                    # writer 0 exercises the DELETION-VECTOR path: its
                    # deletes land as dv commits (O(deleted keys), no
                    # rewrite) racing everyone else's merges and the
                    # maintenance thread's folds — semantically identical
                    # to merging them (same version total order), so the
                    # expected fold below is unchanged
                    from pyspark.sql import functions as F

                    dels = df.filter(F.col("op") == "delete")
                    ups = df.filter(F.col("op") != "delete")
                    if dels.limit(1).count():
                        t.delete_with_retry(dels, max_retries=60)
                    if ups.limit(1).count():
                        t.merge_with_retry(ups, max_retries=60)
                else:
                    t.merge_with_retry(df, max_retries=60)
                committed[w] += 1
                if r.random() < 0.3:
                    time.sleep(r.random() * 0.05)
        except BaseException as e:  # noqa: BLE001 - surfaced by the main thread
            errors.append(e)

    def maintainer() -> None:
        t = LakeTable(
            spark, path, keys=["k"], version_cols=["seq"], n_buckets=8
        )
        ops = 0
        while not done.is_set():
            try:
                # rotate across the whole maintenance surface; each op
                # losing a race must surface as CommitConflictError
                # (writers must never fail because maintenance ran)
                step = ops % 3
                if step == 0:
                    t.compact()
                elif step == 1:
                    t.optimize(["k", "seq"], max_scopes=1)
                else:
                    t.maintenance(0.05)
            except CommitConflictError:
                pass  # maintenance losing a race is fine; writers must not
            ops += 1
            # vacuum beside LIVE writers: the default age threshold must
            # keep every in-flight stage directory untouched (a sweep of
            # one would surface as a writer error or a lost commit below)
            t.vacuum()
            time.sleep(0.2)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(N_WRITERS)
    ]
    sweeper = threading.Thread(target=maintainer)
    for th in threads:
        th.start()
    sweeper.start()
    for th in threads:
        th.join()
    done.set()
    sweeper.join()

    # full text, not repr: JVM-captured PySpark exceptions repr BARE
    # (AnalysisException() with the message only in str — the round-9
    # classification bug hid behind exactly that)
    assert not errors, [f"{type(e).__name__}: {e}" for e in errors]
    assert committed == [BATCHES_PER_WRITER] * N_WRITERS

    # Expected: the fold of seed + every committed batch (any serial
    # order — the version total order makes them all equal).
    union = seed
    for rows in all_batches:
        union = union.unionByName(spark.createDataFrame(rows, SCHEMA))
    empty = spark.createDataFrame([], SCHEMA)  # state form: carries op
    expected = {
        (r["k"], r["seq"]): r["v"]
        for r in live_rows(
            apply_changelog(empty, union, ["k"], ["seq"])
        ).collect()
    }
    t = LakeTable(
        spark, path, keys=["k"], version_cols=["seq"], n_buckets=8
    )
    got = {
        (r["k"], r["seq"]): r["v"] for r in t.read().collect()
    }
    assert got == expected
    # the manifest chain stayed a single line: every commit targets
    # head+1, so every retained version's parent is EXACTLY v-1 (no
    # forked history survived). Retained versions need not be adjacent
    # — reference-counted retention keeps old generations that still
    # own buckets/refs — so adjacency in versions() is NOT the pin.
    for v in t.versions():
        m = t.manifest(v)
        assert m.get("parent") == (None if v == 0 else v - 1), (
            v,
            m.get("parent"),
        )
