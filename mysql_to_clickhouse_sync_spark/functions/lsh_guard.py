"""Banded candidate generation and its degenerate-bucket guard.

Every banded near-dup path (MinHash bands, sign-LSH bands, SimHash and
dHash pigeonhole chunks) generates candidates through a bucket self-join,
whose cost is sum over buckets of n_b^2. `band_pairs` is that self-join,
the only one in the package: each family builds a band table (one row per
(id, cell)) and re-scores the distinct pairs it returns.

At 100 TB one degenerate bucket — empty-text shingles, all-zero vectors, a
boilerplate header shared by millions of docs — turns that term quadratic
while every healthy bucket stays tiny. The guard (`cap_buckets`, or
`band_pairs(max_bucket=...)`) caps bucket size BEFORE the self-join: rows
in buckets above the cap are excluded from candidate generation and the
dropped buckets are returned as an audit table (bucket key + size), so the
pipeline degrades explicitly (documented recall loss on pathological keys)
instead of melting.

Dropping — not sampling — is the right default for near-dup: a bucket with
10^6 members is, overwhelmingly, one equivalence class of junk that exact
dedup already collapses cheaply; enumerating its pairs adds nothing but
cost. Callers that need those classes can route the audit table to exact
dedup on the bucket key.

Cost of the guard itself: one map-side-combinable count per bucket key and
a broadcast anti-join against the (tiny, <= n/cap rows) oversize-key set —
strictly cheaper than a single oversize bucket's self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default cap: a bucket this size contributes ~cap^2/2 = 1.25e5 pairs —
# bounded work; anything bigger is a degenerate key at fixture scale AND at
# 100 TB (healthy LSH cells hold tens of rows; see PLANS.md band-dial data).
DEFAULT_MAX_BUCKET = 500


def pigeonhole_bounds(bits: int, chunks: int) -> list[tuple[int, int]]:
    """(start_bit, width) of each of `chunks` disjoint chunks covering a
    `bits`-bit fingerprint, widths as even as possible (7,7,6,6,6 for
    32/5). Two fingerprints within hamming distance chunks - 1 agree on at
    least one whole chunk, so chunk cells give exact recall."""
    base, extra = divmod(bits, chunks)
    bounds, start = [], 0
    for i in range(chunks):
        width = base + (1 if i < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def cap_buckets(
    bands: DataFrame,
    key_cols: Sequence[str],
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """Split a banding table into (kept, dropped_audit).

    kept: rows whose bucket has <= max_bucket members — safe to self-join.
    dropped_audit: one row per EXCLUDED bucket: (*key_cols, bucket_n).
    """
    sizes = bands.groupBy(*key_cols).agg(F.count("*").alias("bucket_n"))
    big = sizes.filter(F.col("bucket_n") > max_bucket)
    kept = bands.join(
        F.broadcast(big.select(*key_cols)), list(key_cols), "left_anti"
    )
    return kept, big


def band_pairs(
    bands: DataFrame,
    id_col: str,
    cell_cols: Sequence[str],
    max_bucket: int | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Distinct candidate pairs (*carry, id_a, id_b), id_a < id_b, from a
    band table: every pair of ids sharing at least one cell, once.

    With max_bucket, cells above the cap are dropped first (cap_buckets).
    `carry` names cell columns to keep on each pair (e.g. `label`); they
    must be constant per pair, like a partition key that is part of every
    cell."""
    if max_bucket is not None:
        bands, _ = cap_buckets(bands, cell_cols, max_bucket)
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in cell_cols:
        cond &= F.col(f"a.{c}") == F.col(f"b.{c}")
    return (
        bands.alias("a")
        .join(bands.alias("b"), cond)
        .select(
            *[F.col(f"a.{c}") for c in carry],
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
