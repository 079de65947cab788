"""Stage deterministic micro-batch files in ONE Spark job.

The declared streams force micro-batch boundaries by writing file N into a
tailed directory, calling processAllAvailable(), then writing file N+1.
Writing each slice with its own ``coalesce(1).write`` job re-scans the
source once PER SLICE and pays one job round-trip each (guide §1.2: one
pass of work split into N jobs). This helper writes every slice in one
partitioned job — ``repartition(N, slice)`` puts each slice wholly inside
one task, so each ``_mb=i`` directory holds exactly one part file — and the
caller then MOVES one staged file per rotation into the tailed directory
(an atomic rename, preserving the same per-file batch slicing).

The slicing itself is semantics-free for every caller: each stream's
oracle is micro-batch-boundary-independent by construction (that is the
point of those oracles), and the file-per-batch protocol is unchanged.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MB = "_mb"


def stage_batch_files(batches: list[DataFrame], workdir: str) -> list[str]:
    """Write same-schema micro-batch frames as one parquet file each in a
    single partitioned job; returns the staged file path per batch index
    (ready to ``os.rename`` into the stream's input directory)."""
    tagged = [b.withColumn(_MB, F.lit(i)) for i, b in enumerate(batches)]
    allb = reduce(lambda x, y: x.unionByName(y), tagged)
    stage = os.path.join(workdir, "_staged")
    (
        allb.repartition(len(batches), _MB)
        .write.partitionBy(_MB)
        .mode("overwrite")
        .parquet(stage)
    )
    paths: list[str] = []
    for i, b in enumerate(batches):
        d = os.path.join(stage, f"{_MB}={i}")
        parts = (
            [f for f in os.listdir(d) if f.startswith("part-")]
            if os.path.isdir(d)
            else []
        )
        if len(parts) > 1:
            # A retried task can leave a second part file; staging only the
            # first would drop the other's rows.
            raise RuntimeError(
                f"slice {i} staged {len(parts)} part files in {d}: {sorted(parts)}"
            )
        if parts:
            paths.append(os.path.join(d, parts[0]))
        else:
            # Empty slice: write a schema-bearing empty file the stream can
            # still rotate past (never hit by the fixtures; kept for safety).
            b.limit(0).coalesce(1).write.mode("overwrite").parquet(d)
            part = next(f for f in os.listdir(d) if f.startswith("part-"))
            paths.append(os.path.join(d, part))
    return paths
