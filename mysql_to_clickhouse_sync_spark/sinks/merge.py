"""Lakehouse MERGE sink for parquet state — the storage half of CDC apply.

Lakehouse formats (Delta/Iceberg/Hudi) provide transactional MERGE; their
jars are not in this environment, so this implements the discipline from
first principles: read current state -> apply the changelog merge
(streaming/cdc.py) -> write a new immutable generation directory with a
JSON manifest -> flip a pointer file atomically (write-audit-publish,
never in-place mutation). The `LakeTable` class is the full contract:

  * SNAPSHOT ISOLATION — readers resolve `_CURRENT` once and then read
    that immutable generation directory; a concurrent merge publishes a
    NEW directory and never touches the one being read. Retention keeps
    the last `retention` superseded generations on disk, so an in-flight
    reader's snapshot survives at least that many subsequent commits.
  * TIME TRAVEL — every commit is a numbered version with a manifest
    (parent, batch id, row/file stats); `read(version=v)` returns the
    table exactly as of commit v while v is retained, `history()` lists
    the retained commit log (Delta's DESCRIBE HISTORY shape).
  * EXACTLY-ONCE under at-least-once delivery — `merge(batch, batch_id)`
    skips batch ids at or below the committed `last_batch` watermark
    (foreachBatch batch ids are monotonic), and the manifest commits
    atomically WITH the data via the pointer flip, so a crash in the
    write window can never double-apply or half-apply a batch
    (streaming/matview.StateSink and every other exactly-once sink
    commit through this).
  * MERGE semantics — upsert + delete by key with a total (version_cols)
    order; deletes persist as tombstones across generations so an
    out-of-order older upsert cannot revive a deleted key.

Scale notes: each merge rewrites only the state table (latest-per-key —
far smaller than the event history). For 100 TB state, partition the
state by key-hash directory and merge only partitions the changelog
touches (the changelog's distinct key-hash set prunes the rewrite);
immutable generations make that incremental rewrite safe too. Manifest
row/byte stats come from parquet FOOTERS (footers.py, read once per
stage file per commit), never a data scan. Small-file pressure from
frequent merges is handled by `compact()`, which publishes a compacted
generation that carries the manifest lineage forward. Its file count
comes from MEASURED bytes (`plan_file_count`: stored bytes / target,
never row counts — parquet compression makes row-based sizing wrong by
10x+), and the rewrite is a `coalesce` (no shuffle: pure read + write)
unless a layout change (`cluster_by`, `optimize`) is itself the goal.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.durable import replace_file
from mysql_to_clickhouse_sync_spark.footers import (
    column_stats,
    column_stats_many,
    partition_values,
)
from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    apply_changelog,
    as_state,
    live_rows,
)

_POINTER = "_CURRENT"
_MANIFEST = "_MANIFEST.json"
_CHECKPOINT = "_CHECKPOINT.json"
_UNSET = object()  # "caller did not declare the parent it computed against"

# Per-file Bloom filter sizing (bloom_cols): k=2 seeded positions per
# distinct value, m = 10 bits/value (~2.4% false-positive rate — a false
# positive here only costs one extra file read).
FILE_BLOOM_BITS_PER_KEY = 10
FILE_BLOOM_SEEDS = (1, 2)

TARGET_FILE_BYTES = 128 * 1024 * 1024  # compaction target, HDFS-block-ish


def data_file_sizes(path: str) -> list[int]:
    """Sizes of the parquet data files directly under `path`."""
    return [
        e.stat().st_size
        for e in os.scandir(path)
        if e.is_file() and e.name.endswith(".parquet")
    ]


def plan_file_count(total_bytes: int, target: int = TARGET_FILE_BYTES) -> int:
    """Files a rewrite of `total_bytes` stored bytes should produce."""
    return max(1, -(-total_bytes // target))  # ceil div


def _bloom_pos(value, seed: int, m: int) -> int:
    """Portable Bloom position: md5("value:seed") first 12 hex digits as
    an integer, mod m — the engine's cross-engine hash idiom (identical
    to Spark conv(substr(md5(..)),16,10) and DuckDB '0x'||substr(md5(..))
    casts), so a SQL oracle can re-derive every stored bit."""
    import hashlib

    h = hashlib.md5(f"{value}:{seed}".encode()).hexdigest()[:12]
    return int(h, 16) % m


def expect(what: str, expected, observed) -> None:
    """Check a lake invariant a declared query relies on, naming both
    values when it fails (an ``assert`` vanishes under ``python -O``)."""
    if observed != expected:
        raise RuntimeError(f"{what}: expected {expected!r}, observed {observed!r}")


class CommitConflictError(RuntimeError):
    """Another writer committed between this writer reading the table and
    publishing its own generation (Delta-style optimistic concurrency).
    Nothing was published; re-read the table and retry the operation."""


def _is_stale_miss(e: BaseException) -> bool:
    """True when `e` is a missing-file/path error as surfaced by ANY
    layer: Python's FileNotFoundError, a JVM FileNotFoundException
    through Py4J, or Spark's AnalysisException [PATH_NOT_FOUND].
    Classify on repr AND str: PySpark exception reprs can be BARE
    (repr(AnalysisException) is 'AnalysisException()' — the message
    lives only in str()), which silently defeated a repr-only match
    under the N-writer soak."""
    s = f"{e!r} {e}"
    return (
        "FileNotFound" in s
        or "PATH_NOT_FOUND" in s
        or "FileNotFoundException" in s
        # a swept-mid-read directory can surface as a schema-inference
        # failure (the path exists but its parquet files are gone);
        # callers additionally require the table to have MOVED before
        # classifying, so a genuine empty-table read still raises
        or "UNABLE_TO_INFER_SCHEMA" in s
    )


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    ]


def _footer_minmax(
    pairs: list[tuple[str, str]], cols: list[str]
) -> dict | None:
    """Exact global [min, max] per `col` over exactly the files in
    `pairs` ((abs_path, rel_path), rel carrying any Hive segments) —
    the METADATA-ONLY twin of `df.agg(min, max)` over those files,
    merging parquet footer statistics across row groups
    (footers.column_stats). Returns {col: [mn, mx] | None} with None
    meaning the column is all-NULL / zero rows everywhere (the agg
    would return NULL too), or None for the whole call when any footer
    lacks trustworthy numeric stats — the caller then falls back to
    the Spark agg, so this is purely a fast path."""
    out: dict = {c: None for c in cols}
    for f, rel in pairs:
        part = partition_values(rel)
        got = column_stats(f, [c for c in cols if c not in part])
        if got is None:
            return None
        num_rows, stats = got
        for c in cols:
            if c in part:
                if num_rows == 0:
                    continue
                lo = hi = part[c]
            elif stats[c] is None:
                return None
            else:
                lo, hi, _ = stats[c]
                if lo is None:
                    continue
            cur = out[c]
            out[c] = (
                [lo, hi]
                if cur is None
                else [min(cur[0], lo), max(cur[1], hi)]
            )
    return out


def _footers(files: list[str], cols: list[str] | None = None) -> dict:
    """{file: (num_rows, {col: (lo, hi, nulls) | None})} of each file
    (footers.column_stats_many; `cols=None` is every top-level column,
    `[]` the row count alone). A file that is gone raises
    FileNotFoundError — a competitor's retention sweep, which
    _is_stale_miss classifies for the retry and conflict guards; a file
    that exists but whose footer cannot be read raises a RuntimeError
    naming it."""
    got = dict(zip(files, column_stats_many(files, cols)))
    for f, g in got.items():
        if g is None:
            if not os.path.exists(f):
                raise FileNotFoundError(f)
            raise RuntimeError(f"cannot read the parquet footer of {f}")
    return got


def _nullable(dt):
    """`dt` with every field/element/value recursively nullable — the
    schema parquet read-back reports for a frame written with `dt`."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class LakeTable:
    """Versioned-manifest parquet MERGE table (see module docstring).

    Layout under `path`:

        _CURRENT            pointer file naming the committed generation
        gen-000000/         immutable generation directory (version 0)
            *.parquet       state data WITH tombstone rows (op column)
            _MANIFEST.json  commit record: version, parent, last_batch,
                            operation, keys/version_cols, file/row stats
        gen-000001/         ...

    Spark readers ignore underscore-prefixed files, so the manifest can
    live next to the data and commit in the same pointer flip. A
    generation directory without a pointer at-or-past it is uncommitted
    garbage (crash debris) — invisible to every read path and cleared by
    the next writer. Single-writer by contract, exactly like foreachBatch.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        version_cols: list[str],
        retention: int = 3,
        n_buckets: int | None = None,
        partition_files_by: str | None = None,
        bloom_cols: list[str] | None = None,
        dv_fold_ratio: float | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.version_cols = list(version_cols)
        self.retention = retention  # superseded generations kept on disk
        # partition_files_by lays the unbucketed state out Hive-style on a
        # payload column, ONE data file per value (repartition-by-column
        # before the partitionBy write): every file covers a disjoint
        # value slice, which is what gives the per-file min/max stats in
        # the manifest their pruning power (read_pruned). A production
        # 100 TB table uses repartition(n, col) for multiple files per
        # value; one-per-value keeps the file count oracle-expressible.
        if partition_files_by is not None and n_buckets is not None:
            raise ValueError("partition_files_by and n_buckets are exclusive")
        self.partition_files_by = partition_files_by
        # n_buckets switches on key-hash-bucketed state: each generation
        # REWRITES ONLY the buckets its changelog touches and the
        # manifest maps every untouched bucket to the generation that
        # still owns it — the incremental-rewrite contract the module
        # docstring promises for 100 TB state (Hudi file groups /
        # Iceberg manifest-pruning shape). Merge cost becomes
        # O(touched-bucket bytes), not O(table bytes).
        self.n_buckets = n_buckets
        # bloom_cols adds per-file Bloom filters (k=2 seeded md5
        # positions, 10 bits/distinct-value) to unbucketed commits —
        # MEMBERSHIP pruning for point lookups on columns the file
        # layout is NOT clustered on, where [min,max] ranges prune
        # nothing (and where string columns have no footer stats at
        # all). read_bloom_pruned consumes them. Delta calls the same
        # idea dataSkippingStatsColumns + bloom filter indexes.
        self.bloom_cols = list(bloom_cols) if bloom_cols else None
        # dv_fold_ratio arms the read-amplification trigger for deletion
        # vectors: after each delete() commit, outstanding dv rows are
        # compared (FOOTER metadata only, zero data I/O) against the
        # stored base rows, and crossing the ratio folds the vectors
        # into a rewritten generation. Without it (None) vectors fold
        # only when a merge/compact happens to run — a delete-heavy,
        # merge-quiet table would otherwise accumulate O(total deleted
        # keys) read-side apply cost forever (the wall Delta/Hudi gate
        # with exactly this kind of threshold).
        self.dv_fold_ratio = dv_fold_ratio
        # Schema memo for generation reads (round 10): published
        # generation directories are IMMUTABLE (the rename race arbiter
        # guarantees a gen name is written once), so the parquet schema
        # of an exact path set never changes — re-inferring it on every
        # read.parquet costs a footer-read job apiece (~0.1 s driver
        # time each, dozens of reads per maintenance query). Keyed by
        # (basePath, sorted paths); dies with the handle, so a fresh
        # handle still proves everything from disk alone. Source tables
        # skip that job another way: catalog.read_parquet takes their
        # schema from the footers (footers.arrow_schema), which refuses
        # the partitioned layouts a generation can have, so generation
        # reads keep this memo.
        self._schema_memo: dict = {}
        os.makedirs(path, exist_ok=True)

    def _seed_schema(self, version: int, schema) -> None:
        """Pre-populate the schema memo for a PLAIN unbucketed generation
        this handle just committed: parquet read-back reports every field
        nullable, so the written frame's schema relaxed to all-nullable
        IS what inference would return — the post-commit read() skips
        the inference job entirely. Only called for non-partitioned,
        non-bucketed writes (partitioned gens add path-derived columns
        inference must discover)."""
        self._schema_memo[(None, (self._gen_dir(version),))] = _nullable(
            schema
        )

    def _read_parquet(self, *paths: str, base: str | None = None):
        """spark.read.parquet over immutable generation paths, inferring
        each distinct path set's schema exactly once per handle."""
        key = (base, tuple(sorted(paths)))
        reader = self.spark.read
        if base is not None:
            reader = reader.option("basePath", base)
        sch = self._schema_memo.get(key)
        if sch is not None:
            return reader.schema(sch).parquet(*paths)
        df = reader.parquet(*paths)
        self._schema_memo[key] = df.schema
        return df

    # -- commit log -----------------------------------------------------

    @staticmethod
    def _gen_name(version: int) -> str:
        return f"gen-{version:06d}"

    def _gen_dir(self, version: int) -> str:
        return os.path.join(self.path, self._gen_name(version))

    def current_version(self) -> int | None:
        ptr = os.path.join(self.path, _POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            name = fh.read().strip()
        return int(name.split("-")[1]) if name else None

    def _checkpoint(self) -> dict | None:
        """The commit-log checkpoint, or None when absent/stale. Every
        _commit rewrites it (retained manifests are a bounded set, so
        the rewrite is O(retention + owners), and the commit already
        pays a directory walk); a checkpoint naming the CURRENT pointer
        version makes every read-side resolution O(1) file reads — the
        Delta `_last_checkpoint` discipline. A stale checkpoint (crash
        between the pointer flip and the checkpoint write, or a foreign
        writer) is simply ignored and the directory walk runs once."""
        p = os.path.join(self.path, _CHECKPOINT)
        try:
            with open(p) as fh:
                ck = json.load(fh)
        except (OSError, ValueError):
            return None
        return ck if ck.get("version") == self.current_version() else None

    def _write_checkpoint(self, new_v: int) -> None:
        manifests = self._live_manifests(self._scan_versions())
        ck = {
            "version": new_v,
            "versions": [int(v) for v in manifests],
            "manifests": manifests,
        }
        replace_file(os.path.join(self.path, _CHECKPOINT), json.dumps(ck))

    def _live_manifests(self, versions: list[int]) -> dict[str, dict]:
        """{str(v): manifest} for those of `versions` whose manifest is
        still on disk. A competitor's retention prune may sweep a listed
        version before its manifest is read: that version is no longer
        retained, so it is left out — this runs after a publish, where
        raising would report a committed write as failed."""
        out = {}
        for v in versions:
            try:
                out[str(v)] = self._scan_manifest(v)
            except FileNotFoundError:
                continue
        return out

    def versions(self) -> list[int]:
        """Committed, still-retained versions (time-travel window).
        Served from the commit-log checkpoint when fresh — O(1) reads,
        no directory walk; the walk is the fallback only."""
        ck = self._checkpoint()
        if ck is not None:
            return list(ck["versions"])
        return self._scan_versions()

    def _scan_versions(self) -> list[int]:
        cur = self.current_version()
        if cur is None:
            return []
        found = {
            int(d.split("-")[1])
            for d in os.listdir(self.path)
            if d.startswith("gen-")
            and os.path.exists(os.path.join(self.path, d, _MANIFEST))
        }
        return sorted(v for v in found if v <= cur)

    def manifest(self, version: int) -> dict:
        ck = self._checkpoint()
        if ck is not None and str(version) in ck["manifests"]:
            return ck["manifests"][str(version)]
        return self._scan_manifest(version)

    def _scan_manifest(self, version: int) -> dict:
        """The manifest of `version` as on disk; FileNotFoundError once
        the generation is swept (a stale miss, see _is_stale_miss)."""
        with open(os.path.join(self._gen_dir(version), _MANIFEST)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """The retained commit log, oldest first (DESCRIBE HISTORY shape)."""
        return [self.manifest(v) for v in self.versions()]

    def last_batch(self) -> int | None:
        cur = self.current_version()
        return None if cur is None else self.manifest(cur).get("last_batch")

    # -- reads (snapshot-isolated; optionally time-traveled) ------------

    def _resolve(self, version: int | None) -> int:
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"no committed version under {self.path}")
        v = cur if version is None else version
        if v not in self.versions():
            raise ValueError(
                f"version {v} not retained under {self.path}"
                f" (have {self.versions()})"
            )
        return v

    def data_paths(self, version: int | None = None) -> list[str]:
        """The directories holding `version`'s data. Unbucketed: the one
        generation dir. Bucketed: each bucket resolved through the
        manifest to the generation that last rewrote it. A file-refs
        manifest (incremental optimize): the distinct owner generations.
        The manifest IS the table, directories are just storage."""
        v = self._resolve(version)
        m = self.manifest(v)
        buckets = m.get("buckets")
        if buckets is None:
            refs = m.get("file_refs")
            if refs is not None:
                return sorted({os.path.join(self.path, o) for o, _r in refs})
            # a deletion-vector commit owns no data: it points at the
            # generation that does (data_owner) and layers dv files on top
            owner = m.get("data_owner") or self._gen_name(v)
            return [os.path.join(self.path, owner)]
        return [
            os.path.join(self.path, owner, f"bucket={b}")
            for b, owner in sorted(
                buckets.items(), key=lambda kv: int(kv[0])
            )
        ]

    def data_files(self, version: int | None = None) -> list[str]:
        """The parquet data files holding `version`'s stored state. For a
        file-refs manifest this is exactly the referenced files (per-file
        ownership — the incremental-optimize contract); otherwise every
        data file under data_paths()."""
        v = self._resolve(version)
        refs = self.manifest(v).get("file_refs")
        if refs is not None:
            return [os.path.join(self.path, o, r) for o, r in refs]
        return [f for p in self.data_paths(v) for f in _parquet_files(p)]

    def _read_refs(self, refs: list) -> DataFrame:
        """Read an explicit [owner_gen, rel_path] file list, grouped by
        owner so each owner directory reads under its own basePath (a
        partition_files_by owner keeps its Hive path columns; a chunk
        generation carries them physically) and unioned BY NAME."""
        from collections import defaultdict

        by_owner: dict[str, list[str]] = defaultdict(list)
        for o, r in refs:
            by_owner[o].append(r)
        df = None
        for o in sorted(by_owner):
            base = os.path.join(self.path, o)
            part = self._read_parquet(
                *[os.path.join(base, r) for r in sorted(by_owner[o])],
                base=base,
            )
            df = part if df is None else df.unionByName(part)
        return df

    def _dv_frame(self, version: int) -> DataFrame | None:
        """The accumulated deletion-vector changelog for `version`, or
        None when the version carries no outstanding vectors."""
        dvs = self.manifest(version).get("dv") or []
        if not dvs:
            return None
        return self._read_parquet(
            *[os.path.join(self.path, g) for g in dvs]
        )

    def raw(self, version: int | None = None) -> DataFrame:
        """Stored state INCLUDING tombstones, as of `version` (default:
        current). The returned frame is bound to immutable generation
        directories — later merges never mutate what it reads. A version
        with outstanding deletion vectors applies them here (merge-on-
        read): the result is row-identical to the rewrite path because
        both run the same apply_changelog under the same version order."""
        v = self._resolve(version)
        refs = self.manifest(v).get("file_refs")
        if refs is not None:
            df = self._read_refs(refs)
        else:
            df = self._read_parquet(*self.data_paths(v))
        dv = self._dv_frame(v)
        if dv is not None:
            df = apply_changelog(df, dv, self.keys, self.version_cols)
        return df

    def read(self, version: int | None = None) -> DataFrame:
        """Live rows (tombstones filtered) as of `version`."""
        return live_rows(self.raw(version))

    def read_pruned(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """DATA-SKIPPING read (the Delta/Iceberg file-pruning half): drop
        every data file whose manifest [min, max] for `col` cannot
        intersect [lo, hi] (either bound may be None = unbounded), then
        hand Spark only the survivors. Returns (live_rows_df,
        files_total, files_read). Pruning is FILE-level — callers still
        apply the exact residual predicate; a file without usable stats
        for `col` is conservatively read. Unbucketed layout only
        (bucketed tables prune by key-hash bucket instead); a manifest
        without file_stats (legacy commit) reads everything.

        Scale notes: the decision runs on manifest JSON — zero data I/O
        before the pruned scan. With partition_files_by clustering the
        layout on the predicate column, a selective range touches
        O(matching-slice) files out of the whole table — the manifest
        does for files what row-group stats do inside them."""
        return self.read_pruned_all([(col, lo, hi)], version=version)

    def read_pruned_all(
        self, preds: list[tuple], version: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Multi-predicate data skipping: a file survives only if its
        stats can intersect EVERY (col, lo, hi) range — the reason
        multi-column clustering (z-order) exists: with files laid out
        on an interleaved key, each predicate independently eliminates
        most files, and the conjunction prunes multiplicatively."""

        def keep(st_file: dict) -> bool:
            for col, lo, hi in preds:
                st = st_file.get(col)
                if st is None:
                    continue  # no stats: conservatively unprunable
                mn, mx = st
                if (lo is not None and mx < lo) or (
                    hi is not None and mn > hi
                ):
                    return False
            return True

        # a dv-bearing version prunes against the OWNER's files (its
        # inherited file_stats describe them — conservative: deleted
        # rows may widen a file's [min,max])
        return self._pruned_read("read_pruned", "file_stats", keep, version)

    def _pruned_read(
        self, name: str, stats_field: str, keep, version: int | None
    ) -> tuple[DataFrame, int, int]:
        """The pruned readers' one skeleton: read only the files of
        `version` whose manifest entry under `stats_field` passes
        `keep(entry)` (a file without an entry is conservatively read;
        a commit without the field reads everything), then apply any
        outstanding deletion vectors after the pruned scan — per-query
        dv cost is O(deleted keys). Returns (live_rows_df, files_total,
        files_read); no survivors yields an empty frame of the table's
        schema."""
        v = self._resolve(version)
        m = self.manifest(v)
        if m.get("buckets") is not None:
            raise ValueError(
                f"{name} applies to unbucketed tables (bucketed state"
                " prunes by key-hash bucket)"
            )
        dv = self._dv_frame(v)

        def finish(df: DataFrame) -> DataFrame:
            if dv is not None:
                df = apply_changelog(df, dv, self.keys, self.version_cols)
            return live_rows(df)

        refs, stats = self._stats_keyed_refs(v, m, stats_field)
        all_refs = [r for _k, r in refs]
        if stats is None:
            return finish(self._read_refs(all_refs)), len(refs), len(refs)
        keep_refs = [
            ref
            for key, ref in refs
            if stats.get(key) is None or keep(stats[key])
        ]
        if not keep_refs:
            df = self._read_refs(all_refs).filter(F.lit(False))
        else:
            df = self._read_refs(keep_refs)
        return finish(df), len(refs), len(keep_refs)

    def _stats_keyed_refs(self, v: int, m: dict, stats_field: str):
        """(refs, stats) for the pruned readers, layout-normalized: refs
        is [(stats_key, [owner, rel]), ...] covering every data file of
        version v in sorted-key order; stats is the manifest's per-file
        map keyed compatibly (plain manifests key by rel path, file-refs
        manifests by 'owner/rel'), or None when the commit carries no
        stats. A ref missing from stats is conservatively read."""
        stats = m.get(stats_field)
        mrefs = m.get("file_refs")
        if mrefs is not None:
            out = [(f"{o}/{r}", [o, r]) for o, r in mrefs]
        else:
            gen = self.data_paths(v)[0]
            owner = os.path.basename(gen)
            if stats is None:
                rels = sorted(
                    os.path.relpath(f, gen) for f in _parquet_files(gen)
                )
            else:
                rels = sorted(stats)
            out = [(r, [owner, r]) for r in rels]
        return sorted(out, key=lambda kr: kr[0]), stats

    def read_bloom_pruned(
        self, col: str, value, version: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """MEMBERSHIP data skipping: drop every data file whose manifest
        Bloom filter for `col` cannot contain `value`, then hand Spark
        only the survivors. Returns (live_rows_df, files_total,
        files_read). The complement of read_pruned's range skipping —
        ranges prune a clustered column; Blooms prune POINT lookups on
        any other column (including strings, which have no pruning-safe
        footer stats). No false negatives by construction: a file
        holding `value` always sets both probe bits, so pruning never
        loses rows; false positives only cost an extra file read.
        Callers still apply the exact residual predicate."""

        def keep(blooms: dict) -> bool:
            ent = blooms.get(col)
            if ent is None:
                return True  # no filter for this col/file: read it
            bits_m, bits = ent
            bset = set(bits)
            return all(
                _bloom_pos(value, s, bits_m) in bset for s in FILE_BLOOM_SEEDS
            )

        return self._pruned_read(
            "read_bloom_pruned", "file_blooms", keep, version
        )

    # -- writes (write-audit-publish) -----------------------------------

    def _file_blooms(self, files: list[str], base: str, footers: dict) -> dict:
        """Per-file, per-column Bloom filters over the DISTINCT values
        of each bloom_col: m = max(64, 10 x distinct) bits, k=2 seeded
        positions per value (the engine's portable md5 idiom, so an SQL
        oracle can re-derive every bit). The file's columns come from
        its already-read footer (`footers`, see _footers); the values
        are a data read, not metadata — but a COLUMNAR one (only
        bloom_cols are fetched), thread-pooled across files, and paid
        once per commit on exactly the files that commit wrote. A
        production writer folds the hashing into the write itself (one
        pass) and packs bits into roaring bitmaps; the sorted position
        list keeps the filter JSON-manifest-friendly and
        oracle-checkable."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        cols = self.bloom_cols or []

        def one(f: str) -> tuple[str, dict]:
            rel = os.path.relpath(f, base)
            present = [c for c in cols if c in footers[f][1]]
            out: dict = {}
            if present:
                t = pq.read_table(f, columns=present)
                for c in present:
                    vals = {
                        v for v in t.column(c).to_pylist() if v is not None
                    }
                    bm = max(64, FILE_BLOOM_BITS_PER_KEY * len(vals))
                    out[c] = [
                        bm,
                        sorted(
                            {
                                _bloom_pos(v, s, bm)
                                for v in vals
                                for s in FILE_BLOOM_SEEDS
                            }
                        ),
                    ]
            return rel, out

        with ThreadPoolExecutor(max_workers=16) as pool:
            return dict(pool.map(one, files))

    @staticmethod
    def _footer_stats(files: list[str], base: str, footers: dict) -> dict:
        """Per-file, per-column [min, max] for the manifest, from the
        files' already-read footers (`footers`, see _footers): the exact
        values of the Hive partition path segments first, then every
        column with trustworthy numeric stats (footers.column_stats) in
        schema order — so identical commits write identical manifests."""
        out: dict = {}
        for f in files:
            rel = os.path.relpath(f, base)
            st = {k: [v, v] for k, v in partition_values(rel).items()}
            for c, got in footers[f][1].items():
                if got is not None and got[0] is not None:
                    st[c] = [got[0], got[1]]
            out[rel] = st
        return out

    def _resolved_manifest(
        self,
        meta: dict,
        *,
        stage: str,
        sname: str,
        new_v: int,
        parent: int | None,
        commit_uuid: str,
        footers: dict,
        stage_stats: dict | None,
        stage_blooms: dict | None,
        commit_bytes: int,
    ) -> dict:
        """Build the manifest for one publish attempt WITHOUT mutating
        `meta`: owners recorded by the write closure name the stage dir
        and are rewritten to this attempt's generation name (bucket
        owners, z-order markers, file refs, cube file lists alike), and
        the snapshot-scoped stats (n_files/bytes/rows, per-file
        stats/blooms) are recomputed against this attempt's ownership —
        a rebase onto a new head changes both the target generation
        name and the inherited owners, so nothing here may be cached
        across attempts except the stage's own footers (`footers`, the
        stage files' _footers in write order), which are read once per
        commit."""
        files = list(footers)
        gname = self._gen_name(new_v)

        def _fix_owner(o: str) -> str:
            return gname if o == sname else o

        out = dict(meta)
        if out.get("buckets"):
            out["buckets"] = {
                b: _fix_owner(o) for b, o in out["buckets"].items()
            }
        if out.get("bucket_zorder"):
            out["bucket_zorder"] = {
                b: [_fix_owner(mk[0]), mk[1]]
                for b, mk in out["bucket_zorder"].items()
            }
        if out.get("file_refs") is not None:
            out["file_refs"] = [
                [_fix_owner(o), r] for o, r in out["file_refs"]
            ]
        if out.get("zcubes"):
            out["zcubes"] = {
                cid: {
                    **cube,
                    "files": [
                        [_fix_owner(o), r] for o, r in cube["files"]
                    ],
                }
                for cid, cube in out["zcubes"].items()
            }

        def _resolve_ref(o: str, r: str) -> str:
            # refs naming the NEW generation still live in the stage
            return os.path.join(
                stage if o == gname else os.path.join(self.path, o), r
            )

        # Stats from parquet FOOTERS — metadata-only, never a scan. For
        # bucketed commits the n_files/bytes/rows triple covers the whole
        # SNAPSHOT the manifest references (this commit's rewritten
        # buckets + every inherited owner), so the fields mean the same
        # thing across layouts.
        if out.get("buckets") is not None:
            stat_files: list[str] = []
            for b, owner in out["buckets"].items():
                d = (
                    os.path.join(stage, f"bucket={b}")
                    if owner == gname
                    else os.path.join(self.path, owner, f"bucket={b}")
                )
                stat_files.extend(_parquet_files(d))
        elif out.get("operation") == "delete-vector":
            # deletion-vector commit: the snapshot = the owner's data
            # files (a single data_owner generation, or the file-refs
            # list) + every referenced dv file (this one is still in the
            # stage dir); file_stats are INHERITED from the owner (set by
            # the caller) — they describe the data files the pruned reads
            # will scan
            stat_files = list(files)
            if out.get("file_refs") is not None:
                stat_files.extend(
                    _resolve_ref(o, r) for o, r in out["file_refs"]
                )
            else:
                stat_files.extend(
                    _parquet_files(
                        os.path.join(self.path, out["data_owner"])
                    )
                )
            for g in out.get("dv") or []:
                if g != gname:
                    stat_files.extend(
                        _parquet_files(os.path.join(self.path, g))
                    )
        elif out.get("file_refs") is not None:
            # incremental-optimize chunk commit: the snapshot is the refs
            # list (kept files inherit their stats, re-keyed by the
            # caller; this chunk's new files get fresh stats)
            stat_files = [
                _resolve_ref(o, r) for o, r in out["file_refs"]
            ]
            out["file_stats"] = {
                **(out.get("file_stats") or {}),
                **{
                    f"{gname}/{rel}": st
                    for rel, st in (stage_stats or {}).items()
                },
            }
            if self.bloom_cols:
                out["file_blooms"] = {
                    **(out.get("file_blooms") or {}),
                    **{
                        f"{gname}/{rel}": bl
                        for rel, bl in (stage_blooms or {}).items()
                    },
                }
        else:
            stat_files = files
            out["file_stats"] = stage_stats
            if self.bloom_cols:
                out["file_blooms"] = stage_blooms
        # bytes this commit physically WROTE (vs `bytes`, which is
        # snapshot-scoped) — the deletion-vector accounting: a delete's
        # commit_bytes is O(deleted keys), not O(table)
        out["commit_bytes"] = commit_bytes
        footers = {
            **_footers([f for f in stat_files if f not in footers], []),
            **footers,
        }
        return {
            "version": new_v,
            "commit_uuid": commit_uuid,
            "parent": parent,
            "keys": self.keys,
            "version_cols": self.version_cols,
            "n_files": len(stat_files),
            "bytes": sum(os.path.getsize(f) for f in stat_files),
            "rows": sum(footers[f][0] for f in stat_files),
            **out,
        }

    def _commit(
        self, write_fn, meta: dict, expected_parent=_UNSET, rebase=None
    ) -> int:
        """Write-audit-publish one generation. `expected_parent` is the
        version the caller READ before computing its write (None for a
        bootstrap); if any other writer commits in between, the publish
        fails with CommitConflictError and nothing of this attempt
        survives — Delta-style optimistic concurrency. The data is
        staged in a writer-private directory and the rename onto the
        final generation name is the race arbiter: two same-parent
        writers both target gen-N, the loser's rename fails.

        `rebase` (optional) is LOGICAL CONFLICT DETECTION, Delta's
        second line of defense: when a competitor commits during this
        writer's (slow) data write, `rebase(meta, parent_v, head_v)`
        may return an updated meta that is valid ON TOP OF the new head
        (e.g. a bucketed merge whose touched buckets are disjoint from
        every intervening commit re-points its untouched-bucket owners
        at the head's). The staged DATA is reused as-is — only the
        manifest is rebuilt — so a slow writer no longer redoes its
        write just because fast committers (dv deletes, per-bucket
        optimize scopes) landed meanwhile; returning None falls back to
        the physical conflict (raise, caller retries). The round-10
        soak starved without this: 5-way contention made every full
        merge window contain a competitor commit."""
        cur = self.current_version()
        if expected_parent is _UNSET:
            expected_parent = cur
        if cur != expected_parent:
            raise CommitConflictError(
                f"table moved to version {cur} since this writer read"
                f" version {expected_parent}; re-read and retry"
            )
        import uuid

        # The nonce names THIS attempt in its manifest; the post-publish
        # verify below reads it back through the committed pointer, so a
        # racer that mistook this generation for crash debris and
        # replaced it can never leave BOTH writers reporting success.
        commit_uuid = uuid.uuid4().hex
        parent = expected_parent
        first_v = 0 if parent is None else parent + 1
        stage = os.path.join(
            self.path,
            f"_stage-{self._gen_name(first_v)}-{uuid.uuid4().hex[:8]}",
        )
        try:
            write_fn(stage)
            sname = os.path.basename(stage)
            files = _parquet_files(stage)
            # Stage-local footers are attempt-independent: read once,
            # splice into each attempt's resolved manifest. Only a
            # commit that records per-file stats needs the columns.
            with_stats = meta.get("buckets") is None and meta.get(
                "operation"
            ) != "delete-vector"
            footers = _footers(files, None if with_stats else [])
            stage_stats = None
            stage_blooms = None
            if with_stats:
                stage_stats = self._footer_stats(files, stage, footers)
                if self.bloom_cols:
                    stage_blooms = self._file_blooms(files, stage, footers)
            commit_bytes = sum(os.path.getsize(f) for f in files)
            while True:
                new_v = 0 if parent is None else parent + 1
                gen = self._gen_dir(new_v)
                manifest = self._resolved_manifest(
                    meta,
                    stage=stage,
                    sname=sname,
                    new_v=new_v,
                    parent=parent,
                    commit_uuid=commit_uuid,
                    footers=footers,
                    stage_stats=stage_stats,
                    stage_blooms=stage_blooms,
                    commit_bytes=commit_bytes,
                )
                with open(os.path.join(stage, _MANIFEST), "w") as fh:
                    json.dump(manifest, fh, indent=1)
                    fh.flush()
                    os.fsync(fh.fileno())

                def _rebased(now) -> bool:
                    nonlocal meta, parent
                    if rebase is None or now is None:
                        return False
                    meta2 = rebase(meta, parent, now)
                    if meta2 is None:
                        return False
                    meta = meta2
                    parent = now
                    return True

                # Conflict check after the (slow) write, right before
                # publish: a moved table either rebases or conflicts.
                now = self.current_version()
                if now != parent:
                    if _rebased(now):
                        continue
                    raise CommitConflictError(
                        f"concurrent commit moved the table from version"
                        f" {parent} to {now} during this write;"
                        f" re-read and retry"
                    )
                # Rename FIRST; only on failure decide debris-vs-
                # competitor. (The previous order — rmtree an existing
                # gen-N, then rename — had a TOCTOU hole: a competitor
                # could publish gen-N between the pointer check and the
                # rmtree, and this writer would destroy a COMMITTED
                # generation while both reported success.) A pre-existing
                # gen-N is only treated as crash debris if, at the moment
                # the rename fails, the pointer still cannot reach it;
                # even then the residual window (competitor renamed but
                # not yet flipped) is closed by the commit_uuid verify
                # after the pointer flip below.
                # Refresh the stage mtime so the renamed gen-N is ALWAYS
                # younger than vacuum's min_age_s during the
                # rename-to-flip window: a writer stalled longer than the
                # threshold between manifest fsync and pointer flip would
                # otherwise have its already-renamed generation swept as
                # overshoot debris, after which the flip publishes a
                # pointer to a missing generation (reader-visible
                # corruption, not a retryable conflict).
                os.utime(stage)
                try:
                    os.rename(stage, gen)
                    break
                except OSError as exc:
                    now = self.current_version()
                    if now != parent:
                        if _rebased(now):
                            continue
                        raise CommitConflictError(
                            f"concurrent commit already published {gen}"
                        ) from exc
                    shutil.rmtree(gen, ignore_errors=True)
                    os.utime(stage)
                    try:
                        os.rename(stage, gen)
                        break
                    except OSError as exc2:
                        raise CommitConflictError(
                            f"concurrent commit already published {gen}"
                        ) from exc2
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        # Atomic publish: data + manifest become the committed version in
        # one rename; a crash anywhere above leaves _CURRENT untouched.
        replace_file(os.path.join(self.path, _POINTER), self._gen_name(new_v))
        # Post-publish verify: if a racing debris-clearer replaced gen-N
        # between this writer's rename and now, the manifest at gen-N
        # carries the RACER's nonce — that writer's commit is what the
        # table now serves; this one lost and must say so. Exactly one
        # of any set of same-parent racers passes this check, so a
        # conflict can never be silent on both sides.
        try:
            with open(os.path.join(gen, _MANIFEST)) as fh:
                published_uuid = json.load(fh).get("commit_uuid")
        except (OSError, ValueError):
            published_uuid = None
        if published_uuid != commit_uuid:
            raise CommitConflictError(
                f"concurrent commit replaced {gen} during publish;"
                f" this writer's generation was lost — re-read and retry"
            )
        # Prune: a generation may fall out of the retention window yet
        # still OWN buckets a retained manifest references — those stay
        # (reference-counted pruning, the Iceberg expire-snapshots rule).
        retained = [v for v in self.versions() if v >= new_v - self.retention]
        referenced = {self._gen_name(v) for v in retained}
        for mm in self._live_manifests(retained).values():
            referenced.update((mm.get("buckets") or {}).values())
            if mm.get("data_owner"):
                referenced.add(mm["data_owner"])
            referenced.update(mm.get("dv") or [])
            referenced.update(o for o, _r in mm.get("file_refs") or [])
        for v in self.versions():
            name = self._gen_name(v)
            if v < new_v - self.retention and name not in referenced:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        # Commit-log checkpoint LAST: it aggregates the retained
        # manifests so every subsequent read resolves versions in O(1)
        # file reads instead of a directory walk per read (the Delta
        # `_last_checkpoint` discipline). Crash-safe: a missing or
        # stale checkpoint just falls back to the walk.
        self._write_checkpoint(new_v)
        return new_v

    def merge(
        self, changelog: DataFrame, batch_id: int | None = None
    ) -> DataFrame:
        """MERGE INTO: upsert + delete by key under the (version_cols)
        total order; returns the new live state. First call bootstraps
        the table from the changelog alone. With `batch_id` (monotonic,
        e.g. from foreachBatch), an id at or below the committed
        last_batch watermark is a re-delivery and is skipped — the
        manifest commits atomically with the data, so the skip decision
        can never disagree with the published state."""
        cur = self.current_version()
        prev_manifest = {} if cur is None else self.manifest(cur)
        if batch_id is not None and cur is not None:
            lb = prev_manifest.get("last_batch")
            if lb is not None and batch_id <= lb:
                return self.read()
        payload_cols = [c for c in changelog.columns if c != "op"]
        # limit(0), not createDataFrame([]): the optimizer drops the empty
        # relation from the bootstrap union, while a Python-RDD leaf starts
        # Python workers (~2.5 s per bootstrap measured on 4 cores)
        empty = as_state(changelog.select(*payload_cols).limit(0))
        inherited = prev_manifest.get("last_batch")
        meta = {
            "operation": "merge",
            "last_batch": batch_id if batch_id is not None else inherited,
        }
        if self.n_buckets is None:
            state = empty if cur is None else self.raw()
            state_payload = [c for c in state.columns if c != "op"]
            evolved = cur is not None and set(state_payload) != set(
                payload_cols
            )
            # Persist WITH tombstones (op column) so later out-of-order
            # upserts cannot revive deleted keys; readers get live_rows.
            if evolved:
                # SCHEMA EVOLUTION: a drifted changelog (upstream ALTER
                # TABLE mid-stream) merges via unionByName with NULL
                # fill — pre-drift rows read NULL in added columns, and
                # columns the changelog dropped stay in place (never an
                # automatic data drop). The manifest bumps
                # schema_version, records the new schema, and carries
                # the ClickHouse ALTER twin (sinks/ddl.py) so the
                # target-side DDL ships with the commit that needs it.
                # Time travel keeps returning each retained version
                # under the schema IT was written with (reads bind to
                # one generation directory).
                new_state = apply_changelog(
                    state,
                    changelog,
                    self.keys,
                    self.version_cols,
                    allow_schema_evolution=True,
                )
                from pyspark.sql.types import StructType

                from mysql_to_clickhouse_sync_spark.sinks.ddl import (
                    alter_table_ddl,
                )

                old_struct = state.drop("op").schema
                old_fields = {f.name: f for f in old_struct.fields}
                # ADD COLUMNs only: unchanged columns keep their stored
                # definition (the union relaxes nullability, which is
                # not upstream drift and must not emit MODIFYs)
                twin = StructType(
                    [
                        old_fields.get(f.name, f)
                        for f in new_state.drop("op").schema.fields
                    ]
                )
                meta["ddl"] = alter_table_ddl(
                    old_struct, twin, os.path.basename(self.path)
                )
            else:
                new_state = apply_changelog(
                    state, changelog, self.keys, self.version_cols
                )
            sv = prev_manifest.get("schema_version", 0)
            meta["schema_version"] = sv + 1 if evolved else sv
            meta["schema"] = [
                [f.name, f.dataType.simpleString()]
                for f in new_state.schema.fields
                if f.name != "op"
            ]
            if self.partition_files_by is not None:
                pcol = self.partition_files_by
                clustered = new_state.repartition(F.col(pcol))
                self._commit(
                    lambda p: clustered.write.partitionBy(pcol)
                    .mode("overwrite")
                    .parquet(p),
                    meta,
                    expected_parent=cur,
                )
            else:
                v = self._commit(
                    lambda p: new_state.write.mode("overwrite").parquet(p),
                    meta,
                    expected_parent=cur,
                )
                self._seed_schema(v, new_state.schema)
            return self.read()

        # Bucketed: only the key-hash buckets the changelog touches are
        # read, merged, and rewritten; every other bucket stays owned by
        # the generation that last wrote it (manifest reference). Merge
        # cost is O(touched bytes) — at 100 TB with a daily changelog
        # hitting a few hundred of 2^14 buckets, that is the whole
        # difference between an incremental commit and a table rewrite.
        outstanding = None if cur is None else self._dv_frame(cur)
        if outstanding is not None:
            # fold outstanding deletion vectors into this commit: their
            # rows join the changelog, so every dv-touched bucket is
            # rewritten with the vector applied and the new manifest
            # carries no dv entries (the unbucketed path folds through
            # raw(), which applies the vectors before the rewrite)
            changelog = changelog.select(*payload_cols, "op").unionByName(
                outstanding.select(*payload_cols, "op")
            )
        bcol = F.pmod(
            F.hash(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets)
        ).cast("int")
        log_b = changelog.withColumn("_b", bcol).localCheckpoint(eager=True)
        touched = sorted(
            r[0] for r in log_b.select("_b").distinct().collect()
        )
        prev = (
            {}
            if cur is None
            else dict(self.manifest(cur).get("buckets") or {})
        )
        paths = [
            os.path.join(self.path, prev[str(b)], f"bucket={b}")
            for b in touched
            if str(b) in prev
        ]
        prev_schema = prev_manifest.get("schema")
        if prev_schema is not None and {n for n, _t in prev_schema} != set(
            payload_cols
        ):
            raise ValueError(
                "schema evolution is supported on the unbucketed layout"
                " only: a bucketed read unions bucket directories written"
                " by different generations, which would mix schemas"
            )
        meta["schema_version"] = prev_manifest.get("schema_version", 0)
        meta["schema"] = [
            [f.name, f.dataType.simpleString()]
            for f in changelog.schema.fields
            if f.name != "op"
        ]
        state_t = self._read_parquet(*paths) if paths else empty
        new_state = apply_changelog(
            state_t, log_b.drop("_b"), self.keys, self.version_cols
        ).withColumn("bucket", bcol)

        def write(p: str) -> None:
            new_state.write.partitionBy("bucket").mode("overwrite").parquet(p)
            written = {
                d.split("=", 1)[1]
                for d in os.listdir(p)
                if d.startswith("bucket=")
            }
            untouched = {
                b: owner
                for b, owner in prev.items()
                if int(b) not in set(touched)
            }
            untouched.update({b: os.path.basename(p) for b in written})
            meta["buckets"] = untouched
            # z-order markers survive ONLY for buckets this merge left
            # alone AND whose marker still names the current owner — a
            # rewritten bucket loses its marker (ownership moved), so
            # the next optimize() revisits exactly the drifted buckets
            markers = {
                b: mk
                for b, mk in (
                    prev_manifest.get("bucket_zorder") or {}
                ).items()
                if b in untouched
                and int(b) not in set(touched)
                and mk[0] == prev.get(b)
            }
            if markers:
                meta["bucket_zorder"] = markers

        rebase = self._bucket_merge_rebase(
            my_touched=set(touched),
            batch_id=batch_id,
            folded_dv=prev_manifest.get("dv") or [],
            schema_version=meta["schema_version"],
        )
        self._commit(write, meta, expected_parent=cur, rebase=rebase)
        return self.read()

    def _bucket_merge_rebase(
        self,
        my_touched: set[int],
        batch_id: int | None,
        folded_dv: list[str],
        schema_version: int,
    ):
        """LOGICAL CONFLICT DETECTION for bucketed merges (the Delta
        read/write-set check at bucket granularity): a merge whose
        touched buckets are DISJOINT from every bucket an intervening
        MERGE rewrote serializes cleanly on top of the new head — its
        staged bucket data is reused, only the manifest re-points:
        untouched buckets take the head's owners, touched buckets stay
        this writer's, z-order markers re-derive, and deletion vectors
        committed since this writer's snapshot carry forward (the ones
        its own snapshot folded do not). Intervening OPTIMIZE/COMPACT
        commits are row-identical no-ops and never conflict, even on
        overlapping buckets — the merge computed its rewrite from a
        row-identical snapshot (their re-cluster is simply superseded
        and the marker stales). Intervening dv commits never rewrite
        buckets. An overlapping MERGE (including a maintenance dv-FOLD,
        which applies deletions this writer never saw) refuses the
        rebase — that is a real lost-update risk, so the physical
        conflict stands and the caller retries."""

        def rebase(meta: dict, parent_v, head_v):
            if parent_v is None:
                return None  # racing bootstraps: no snapshot to reason from
            try:
                head = self.manifest(head_v)
                intervening = [
                    self.manifest(v) for v in range(parent_v + 1, head_v + 1)
                ]
            except Exception:  # noqa: BLE001 - swept mid-read: can't prove safety
                return None
            if (
                head.get("buckets") is None
                or head.get("schema_version", 0) != schema_version
            ):
                return None
            if batch_id is not None:
                hlb = head.get("last_batch")
                if hlb is not None and batch_id <= hlb:
                    return None  # head already covers this batch id
            for mm in intervening:
                if mm.get("buckets") is None:
                    return None
                op = mm.get("operation")
                if op == "delete-vector" or op in ("optimize", "compact"):
                    continue
                gname_v = self._gen_name(mm["version"])
                rewritten = {
                    int(b)
                    for b, o in mm["buckets"].items()
                    if o == gname_v
                }
                if rewritten & my_touched:
                    return None
            out = dict(meta)
            mine = {
                b: o
                for b, o in meta["buckets"].items()
                if o.startswith("_stage-")
            }
            out["buckets"] = {**head["buckets"], **mine}
            markers = {
                b: mk
                for b, mk in (head.get("bucket_zorder") or {}).items()
                if int(b) not in my_touched
                and mk[0] == head["buckets"].get(b)
            }
            if markers:
                out["bucket_zorder"] = markers
            else:
                out.pop("bucket_zorder", None)
            new_dv = [
                d for d in head.get("dv") or [] if d not in set(folded_dv)
            ]
            if new_dv:
                out["dv"] = new_dv
            else:
                out.pop("dv", None)
            out["last_batch"] = (
                batch_id if batch_id is not None else head.get("last_batch")
            )
            return out

        return rebase

    def delete(
        self, changelog: DataFrame, batch_id: int | None = None
    ) -> DataFrame:
        """DELETE via DELETION VECTORS (merge-on-read — the Delta DV /
        Hudi MoR shape): commit ONLY the delete changelog as a dv file,
        no data rewrite, and apply it at read. Delete cost is O(deleted
        keys) written bytes (the manifest's commit_bytes pins it)
        instead of O(table bytes) / O(touched-bucket bytes); the
        vectors fold into the data on the next merge() or compact().
        Row-identical to merge(changelog): both paths run the same
        apply_changelog under the same (version_cols) total order, so
        dv tombstones still beat out-of-order older upserts after the
        fold. Requires an existing table and an all-delete changelog
        with the stored payload schema (deletes are not evolution)."""
        from mysql_to_clickhouse_sync_spark.streaming.cdc import (
            DELETE,
            OP_COL,
        )

        cur = self.current_version()
        if cur is None:
            raise ValueError(
                "delete() requires an existing table (a delete-only"
                " bootstrap has nothing to delete from)"
            )
        m = self.manifest(cur)
        if batch_id is not None:
            lb = m.get("last_batch")
            if lb is not None and batch_id <= lb:
                return self.read()
        if changelog.filter(F.col(OP_COL) != DELETE).limit(1).count():
            raise ValueError("delete() accepts op='delete' rows only")
        payload = [c for c in changelog.columns if c != OP_COL]
        stored = [c for c, _t in (m.get("schema") or [])]
        if stored and set(stored) != set(payload):
            raise ValueError(
                "deletion-vector schema must match the stored payload"
                f" schema (stored {sorted(stored)}, got {sorted(payload)})"
            )
        meta: dict = {
            "operation": "delete-vector",
            "last_batch": (
                batch_id if batch_id is not None else m.get("last_batch")
            ),
            "schema_version": m.get("schema_version", 0),
            "schema": m.get("schema"),
            # vectors ACCUMULATE until a fold event (merge/compact)
            "dv": (m.get("dv") or []) + [self._gen_name(cur + 1)],
        }
        if m.get("buckets") is not None:
            meta["buckets"] = dict(m["buckets"])  # ownership unchanged
            if m.get("bucket_zorder"):
                meta["bucket_zorder"] = dict(m["bucket_zorder"])
        elif m.get("file_refs") is not None:
            # file-refs snapshot (mid-incremental-optimize): ownership,
            # cubes, and stats all carry forward unchanged — a dv commit
            # layers vectors on top of whatever layout exists
            meta["file_refs"] = [list(r) for r in m["file_refs"]]
            if m.get("zcubes"):
                meta["zcubes"] = m["zcubes"]
            meta["file_stats"] = m.get("file_stats")
            meta["file_blooms"] = m.get("file_blooms")
        else:
            meta["data_owner"] = m.get("data_owner") or self._gen_name(cur)
            meta["file_stats"] = m.get("file_stats")
            # Blooms survive a dv commit: deletes only REMOVE values, so
            # a stale filter can never produce a false negative — losing
            # it would silently disable read_bloom_pruned until the next
            # full merge (pruning gone, results still right).
            meta["file_blooms"] = m.get("file_blooms")
        # one file per dv commit: the vector is O(deleted keys) rows by
        # contract — spraying it across the default partitioning writes
        # mostly-empty files (a 100 TB deployment sizes this by bytes
        # exactly like compaction; one file is that plan at this scale)
        dv = changelog.select(*payload, OP_COL).coalesce(1)
        self._commit(
            lambda p: dv.write.parquet(p), meta, expected_parent=cur
        )
        if self.dv_fold_ratio is not None:
            self.maintenance(self.dv_fold_ratio)
        return self.read()

    @staticmethod
    def _footer_rows(paths: list[str]) -> int:
        """Exact row count from parquet FOOTER metadata only (_footers)
        — no data I/O. The dv fold decision runs after every delete()
        commit; at 100 TB it must never cost a table scan."""
        files = [
            f
            for p in paths
            for f in (_parquet_files(p) if os.path.isdir(p) else [p])
        ]
        got = _footers(files, [])
        return sum(got[f][0] for f in files)

    def dv_stats(self, version: int | None = None) -> dict:
        """Deletion-vector READ-AMPLIFICATION accounting for `version`
        (default current), from footer metadata alone: outstanding dv
        files/rows, stored base rows (tombstones included — that is
        what readers physically scan), and their ratio. This is the
        quantity every reader pays per query until the vectors fold."""
        v = self._resolve(version)
        m = self.manifest(v)
        dvs = m.get("dv") or []
        dv_rows = self._footer_rows(
            [os.path.join(self.path, g) for g in dvs]
        )
        base_rows = self._footer_rows(self.data_files(v))
        return {
            "version": v,
            "dv_files": len(dvs),
            "dv_rows": dv_rows,
            "base_rows": base_rows,
            "read_amp": dv_rows / base_rows if base_rows else 0.0,
        }

    def maintenance(self, dv_fold_ratio: float | None = None) -> dict:
        """Fold outstanding deletion vectors when their read
        amplification crosses `dv_fold_ratio` (None = fold whenever any
        vector is outstanding — the unconditional sweep). The fold is a
        merge with an empty changelog: merge() unions the vectors into
        its input (bucketed) or reads them through raw() (unbucketed),
        so ONLY dv-touched buckets rewrite on the bucketed layout.
        Returns the accounting that justified the decision plus
        `folded` and the resulting version — the same audited-decision
        discipline as q_ann_cap_audit, so an oracle can re-derive every
        field (q_lake_dv_fold)."""
        stats = self.dv_stats()
        trigger = stats["dv_rows"] > 0 and (
            dv_fold_ratio is None or stats["read_amp"] >= dv_fold_ratio
        )
        if trigger:
            v = stats["version"]
            with self._conflict_on_sweep(v):
                self.merge(self._dv_frame(v).limit(0))
        return {
            **stats,
            "folded": trigger,
            "version_after": self._resolve(None),
        }

    def changes(
        self, version: int | None = None, since: int | None = None
    ) -> DataFrame:
        """CHANGE DATA FEED (the Delta CDF shape): what the commits in
        (`since`, `version`] did to the LIVE table, as rows tagged
        `_change_type` in {insert, update_preimage, update_postimage,
        delete} plus `_commit_version` (= `version`). `since` defaults
        to `version`'s parent — the per-commit feed; passing an older
        retained version yields the NET range diff (intermediate
        flip-flops cancel, exactly Delta's readChangeFeed semantics
        collapsed). The first retained commit (no retained parent)
        reads as all-insert — the bootstrap snapshot. Computed
        as a key-keyed full outer join of the two adjacent versions'
        live states; a winner is "changed" iff any version_col moved
        (the total order makes that exact — no payload compare needed).

        Scale notes: one co-partitioned join of two state snapshots; a
        100 TB deployment derives the same feed incrementally from the
        merge itself (the changelog IS the feed) — this read-side form
        exists so any retained historical commit can be re-derived
        without having kept its changelog."""
        v = self._resolve(version)
        new = self.read(v)
        parent = (
            self.manifest(v).get("parent") if since is None else since
        )
        if parent is None or parent not in self.versions():
            if since is not None:
                raise ValueError(
                    f"since={since!r} is not a retained version"
                )
            out = new.withColumn("_change_type", F.lit("insert"))
            return out.withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
        if parent >= v:
            raise ValueError(f"since={parent} must precede version {v}")
        old = self.read(parent)
        cols = new.columns
        for c in cols:
            # an evolution boundary: the parent snapshot predates an
            # added column — it reads as NULL there, same as storage
            if c not in old.columns:
                old = old.withColumn(
                    c, F.lit(None).cast(new.schema[c].dataType)
                )
        o = old.select(
            *[F.col(c).alias(f"__o_{c}") for c in cols]
        )
        cond = None
        for k in self.keys:
            c = F.col(k) == F.col(f"__o_{k}")
            cond = c if cond is None else cond & c
        j = new.join(o, cond, "full_outer")
        new_exists = F.col(self.keys[0]).isNotNull()
        old_exists = F.col(f"__o_{self.keys[0]}").isNotNull()
        moved = None
        for vc in self.version_cols:
            # null-safe: a NULL version component on either side must
            # read as moved/unmoved by VALUE, not propagate NULL (which
            # silently dropped the update pre/post pair)
            c = ~F.col(vc).eqNullSafe(F.col(f"__o_{vc}"))
            moved = c if moved is None else moved | c
        inserts = (
            j.filter(new_exists & ~old_exists)
            .select(*cols)
            .withColumn("_change_type", F.lit("insert"))
        )
        deletes = (
            j.filter(old_exists & ~new_exists)
            .select(*[F.col(f"__o_{c}").alias(c) for c in cols])
            .withColumn("_change_type", F.lit("delete"))
        )
        upd = j.filter(new_exists & old_exists & moved)
        pre = upd.select(
            *[F.col(f"__o_{c}").alias(c) for c in cols]
        ).withColumn("_change_type", F.lit("update_preimage"))
        post = upd.select(*cols).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        out = inserts.unionByName(deletes).unionByName(pre).unionByName(post)
        return out.withColumn("_commit_version", F.lit(v).cast("long"))

    def vacuum(self, min_age_s: float = 600.0) -> list[str]:
        """Remove crash debris: stage directories whose writer died
        before publishing, and generation directories BEYOND the
        committed pointer (a crash between the gen rename and the
        pointer flip). Both are invisible to every read path — vacuum
        only reclaims disk. Never touches committed or retained
        generations.

        `min_age_s` makes vacuum SAFE TO RUN BESIDE LIVE WRITERS
        (Delta's time-based retention discipline): only debris whose
        mtime is older than the threshold is removed, so a concurrent
        writer's seconds-old in-flight stage directory is never swept
        — crash debris, by the time a vacuum job visits it, is old.
        Size it above the longest plausible single commit (default
        10 min); pass 0 only from a context that KNOWS no writer is
        mid-commit (the old whole-table-quiesced contract). If a
        pathological commit outlives the threshold anyway, the writer
        fails with a stale-miss the retry path classifies as a
        conflict and re-attempts (tests/test_multiwriter_soak.py) —
        wasteful, never silent. Returns the removed paths."""
        import time

        cur = self.current_version()
        now = time.time()

        def old_enough(p: str) -> bool:
            try:
                return now - os.stat(p).st_mtime >= min_age_s
            except OSError:
                return False  # raced away already — nothing to remove

        removed = []
        for d in os.listdir(self.path):
            p = os.path.join(self.path, d)
            if d == _CHECKPOINT + ".tmp" and old_enough(p):
                # a checkpoint writer that died mid-replace
                removed.append(p)
            elif (
                d.startswith("_stage-")
                and os.path.isdir(p)
                and old_enough(p)
            ):
                removed.append(p)
            elif d.startswith("gen-") and os.path.isdir(p):
                v = int(d.split("-")[1])
                if (cur is None or v > cur) and old_enough(p):
                    removed.append(p)
        for p in removed:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
        return removed

    def merge_with_retry(
        self,
        changelog: DataFrame,
        batch_id: int | None = None,
        max_retries: int = 5,
    ) -> DataFrame:
        """MERGE with bounded retry on CommitConflictError. Safe for ANY
        conflict — merge() re-reads the CURRENT state and the committed
        last_batch watermark on every attempt, so a retry is exactly
        "this merge serialized after the competitor", never a blind
        republish of a stale write. Exactly-once is preserved across
        the retry: if the conflicting commit somehow already carried
        this batch id, the re-read watermark skips it. Bounded so two
        writers fighting over every commit surface as an error instead
        of livelock (the single-STREAM-writer contract still stands —
        retry exists so maintenance commits like compact() beside the
        stream don't kill a micro-batch).

        A stale-snapshot read failure is ALSO a conflict: between this
        attempt's snapshot read and its commit, a competitor may commit
        enough times that retention deletes a generation (data files or
        manifest) the attempt was still reading — that surfaces as a
        missing file, not CommitConflictError. When the table has moved
        since the attempt started, retry re-reads the current state; a
        missing file with the table NOT moved is a real error and
        re-raises (N-writer soak: tests/test_multiwriter_soak.py)."""
        return self._retrying(
            lambda: self.merge(changelog, batch_id=batch_id), max_retries
        )

    def delete_with_retry(
        self,
        changelog: DataFrame,
        batch_id: int | None = None,
        max_retries: int = 5,
    ) -> DataFrame:
        """delete() under the same bounded-retry/conflict classification
        as merge_with_retry — a dv commit racing a compactor must retry
        against the new parent, not kill the micro-batch."""
        return self._retrying(
            lambda: self.delete(changelog, batch_id=batch_id), max_retries
        )

    def _conflict_on_sweep(self, v: int | None):
        """Context manager: classify a stale-snapshot file miss inside a
        maintenance operation (compact/optimize/dv-fold) as a
        CommitConflictError when the table has MOVED past the snapshot
        the operation planned against — a competitor committed enough
        times that retention swept generation `v` out from under the
        plan (bucket scan, parquet read, footer stat). Maintenance
        losing a race is a conflict, not a crash: callers loop
        `except CommitConflictError` and re-plan against the new head.
        A miss with the table NOT moved is a real error and re-raises
        (N-writer soak: tests/test_multiwriter_soak.py)."""
        from contextlib import contextmanager

        @contextmanager
        def guard():
            try:
                yield
            except CommitConflictError:
                raise
            except Exception as e:  # noqa: BLE001 - classified below
                if _is_stale_miss(e) and self.current_version() != v:
                    raise CommitConflictError(
                        f"snapshot gen {v} swept by a competitor"
                        " mid-maintenance"
                    ) from e
                raise

        return guard()

    def _retrying(self, attempt_fn, max_retries: int) -> DataFrame:
        import random
        import time

        def backoff(attempt: int) -> None:
            # full-jitter exponential backoff (the Delta commit-conflict
            # discipline): under N-way contention, retrying immediately
            # makes fast committers (dv deletes, per-bucket optimize
            # scopes) starve slow ones (full bucketed merges) — the
            # round-10 soak reproduced exactly that as retry exhaustion.
            # Jitter desynchronizes the herd; the cap bounds added
            # latency to ~1 s per lost round.
            time.sleep(random.random() * min(1.0, 0.05 * (2 ** min(attempt, 4))))

        for attempt in range(max_retries + 1):
            start_v = self.current_version()
            try:
                return attempt_fn()
            except CommitConflictError:
                if attempt == max_retries:
                    raise
                backoff(attempt)
            except Exception as e:  # noqa: BLE001 - classified below
                if (
                    not _is_stale_miss(e)
                    or attempt == max_retries
                    or self.current_version() == start_v
                ):
                    raise
                backoff(attempt)
        raise AssertionError("unreachable")

    def writer(self, max_retries: int = 5, dv_deletes: bool = False):
        """foreachBatch adapter: `.writeStream.foreachBatch(t.writer())`
        lands every micro-batch through the exactly-once MERGE path.
        Conflicts with concurrent maintenance commits (compaction, a
        vacuum-then-compact job) RETRY against the new parent instead
        of failing the micro-batch — the reference's purpose is
        continuous replication (mysql_to_clickhouse_sync.py main loop),
        and a stream that dies the day compaction first runs beside it
        is not continuous.

        dv_deletes routes ALL-DELETE micro-batches through the
        deletion-vector path: commit cost O(deleted keys) with zero data
        rewrite (the sparse-delete shape CDC feeds produce in bursts),
        folding later at the next merge/compaction or under the armed
        dv_fold_ratio. Semantically identical to the rewrite path —
        both run apply_changelog under the same version total order —
        so the stream's converged state is unchanged
        (s_lake_merge_dv pins it against the same oracle)."""

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return  # the reference's own empty-batch guard (P:119)
            from mysql_to_clickhouse_sync_spark.streaming.cdc import (
                DELETE,
                OP_COL,
            )

            if (
                dv_deletes
                and self.current_version() is not None
                and not batch_df.filter(F.col(OP_COL) != DELETE)
                .limit(1)
                .count()
            ):
                self.delete_with_retry(
                    batch_df, batch_id=batch_id, max_retries=max_retries
                )
            else:
                self.merge_with_retry(
                    batch_df, batch_id=batch_id, max_retries=max_retries
                )

        return _apply

    def compact(
        self,
        target_file_bytes: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Publish a small-file-compacted generation (byte-based sizing,
        `plan_file_count`) carrying the manifest lineage — logically a
        no-op commit, so the last_batch watermark is preserved and
        readers of prior versions are untouched. Returns the committed
        version (unchanged if already at or below the planned count —
        unless `cluster_by` asks for a layout change, which always
        commits).

        `cluster_by` turns the rewrite into OPTIMIZE-style clustering:
        files are range-partitioned and sorted within files on the given
        columns (typically the merge keys), so downstream key joins and
        range predicates prune at the row-group level — the
        q_zorder_layout discipline applied to the state table. Only the
        unbucketed layout supports it (bucketed tables are already
        key-clustered by construction)."""

        target = target_file_bytes or TARGET_FILE_BYTES
        v = self._resolve(None)
        m = self.manifest(v)
        if m.get("dv"):
            # fold outstanding deletion vectors first: merge() unions
            # them into its changelog (bucketed) or reads them through
            # raw() (unbucketed), so an empty changelog applies the
            # vectors, rewrites the affected data, and clears the dv
            # list — compaction then proceeds on a vector-free version
            with self._conflict_on_sweep(v):
                self.merge(self._dv_frame(v).limit(0))
            v = self._resolve(None)
            # the re-resolve's manifest read can ALSO lose a race with a
            # competitor's retention sweep — classify it as a conflict,
            # not a raw FileNotFoundError callers were never told about
            with self._conflict_on_sweep(v):
                m = self.manifest(v)
        with self._conflict_on_sweep(v):
            return self._compact_plan(v, m, target, cluster_by)

    def _compact_plan(
        self,
        v: int,
        m: dict,
        target: int,
        cluster_by: list[str] | None,
    ) -> int:

        meta = {
            "operation": "compact",
            "compacted_from": v,
            "last_batch": m.get("last_batch"),
            # logically a no-op commit: schema lineage carries forward
            "schema_version": m.get("schema_version", 0),
            "schema": m.get("schema"),
        }
        if m.get("buckets") is None:
            refs = m.get("file_refs")
            if refs is not None:
                # mid-incremental-optimize snapshot: compacting folds the
                # refs into one plain generation (cubes restart clean)
                sizes = [os.path.getsize(f) for f in self.data_files(v)]
                stored = self._read_refs(refs)
            else:
                gen = self._gen_dir(v)
                sizes = data_file_sizes(gen)
                stored = self._read_parquet(gen)
            n_target = plan_file_count(sum(sizes), target)
            if cluster_by:
                cols = [F.col(c) for c in cluster_by]
                clustered = stored.repartitionByRange(
                    n_target, *cols
                ).sortWithinPartitions(*cols)
                meta["clustered_by"] = list(cluster_by)
                return self._commit(
                    lambda p: clustered.write.parquet(p),
                    meta,
                    expected_parent=v,
                )
            if len(sizes) <= n_target and refs is None:
                return v
            return self._commit(
                lambda p: stored.coalesce(n_target).write.parquet(p),
                meta,
                expected_parent=v,
            )
        if cluster_by:
            raise ValueError(
                "cluster_by applies to unbucketed tables only (bucketed"
                " state is key-clustered by construction)"
            )
        # Bucketed: rewrite only the fragmented buckets; the rest keep
        # their owners — compaction is as incremental as merge.
        frag: dict[str, tuple[str, int]] = {}
        for b, owner in m["buckets"].items():
            d = os.path.join(self.path, owner, f"bucket={b}")
            sizes = data_file_sizes(d)
            n_target = plan_file_count(sum(sizes), target)
            if len(sizes) > n_target:
                frag[b] = (d, n_target)
        if not frag:
            return v
        # z-order markers survive for untouched buckets only: coalescing
        # a bucket's files destroys its file-level clustering
        markers = {
            b: mk
            for b, mk in (m.get("bucket_zorder") or {}).items()
            if b not in frag and mk[0] == m["buckets"].get(b)
        }
        if markers:
            meta["bucket_zorder"] = markers

        def write(p: str) -> None:
            for b, (d, n_target) in frag.items():
                self._read_parquet(d).coalesce(n_target).write.parquet(
                    os.path.join(p, f"bucket={b}")
                )
            bmap = {b: o for b, o in m["buckets"].items() if b not in frag}
            bmap.update({b: os.path.basename(p) for b in frag})
            meta["buckets"] = bmap

        return self._commit(write, meta, expected_parent=v)

    def optimize(
        self,
        zorder_cols: list[str],
        target_file_bytes: int | None = None,
        max_scopes: int | None = None,
    ) -> int:
        """OPTIMIZE ... ZORDER BY on an EXISTING table (Delta's
        maintenance shape): retention-safe commits that re-cluster the
        stored state along the Morton interleaving of two numeric
        columns. Unlike write-time z-ordering (q_lake_zorder_skipping
        lands one file per cell AT MERGE TIME), this serves the table
        every CDC feed actually produces: data landed in ARRIVAL order,
        and someone later adds a second query pattern that needs
        multi-column skipping.

        Rows sort by z-value and files split at byte-sized z-range
        boundaries, so every file covers a small (user-col x value-col)
        bounding box and read_pruned_all eliminates multiplicatively on
        BOTH columns. Logically a no-op commit: same rows, same schema
        (the z-value is a sort key, never a payload column), lineage
        and last_batch carried — readers of prior versions, and
        concurrent merge_with_retry writers, are untouched (the same
        conflict rules as compact()). file_stats and file_blooms are
        recomputed by _commit for the new layout.

        UNBUCKETED tables rewrite the current generation in one commit
        (a global sort — the strongest clustering; for a table too big
        for one atomic rewrite, use optimize_incremental, which commits
        bounded chunks and resumes). BUCKETED tables re-cluster
        BUCKET-BY-BUCKET: each bucket's files are z-ordered within the
        bucket in its OWN commit through the same optimistic-concurrency
        rules as merge, so a 100 TB CDC landing table re-clusters
        incrementally — resumable after a crash (committed buckets carry
        a manifest marker and are skipped on re-run), transient storage
        bounded by one bucket, concurrent writers conflict-and-retry per
        bucket instead of racing one table-sized commit. A later merge
        that rewrites a bucket stales that bucket's marker (ownership
        moved), so the next optimize revisits exactly the buckets that
        drifted. `max_scopes` bounds how many per-bucket commits THIS
        call makes (None = run to completion)."""
        if len(zorder_cols) != 2:
            raise ValueError("zorder re-clustering takes exactly 2 columns")
        v = self._resolve(None)
        m = self.manifest(v)
        if m.get("buckets") is not None:
            return self._optimize_buckets(
                zorder_cols, target_file_bytes, max_scopes
            )
        if m.get("dv"):
            # fold outstanding deletion vectors first, like compact()
            with self._conflict_on_sweep(v):
                self.merge(self._dv_frame(v).limit(0))
            v = self._resolve(None)
            # classify a swept-mid-re-resolve miss as a conflict (compact
            # rule): maintenance losing a race re-plans, never crashes
            with self._conflict_on_sweep(v):
                m = self.manifest(v)
        with self._conflict_on_sweep(v):
            return self._optimize_plan(v, m, zorder_cols, target_file_bytes)

    def _optimize_buckets(
        self,
        zorder_cols: list[str],
        target_file_bytes: int | None,
        max_scopes: int | None,
    ) -> int:
        """Per-bucket incremental z-order (see optimize docstring). Each
        iteration re-resolves the head (so a concurrent merge between
        bucket commits just re-plans), picks the first bucket whose
        marker is missing or stale, and commits that bucket's rewrite."""
        done = 0
        while max_scopes is None or done < max_scopes:
            v = self._resolve(None)
            with self._conflict_on_sweep(v):
                m = self.manifest(v)
            if m.get("dv"):
                # fold vectors first so the rewrite sees applied state
                with self._conflict_on_sweep(v):
                    self.merge(self._dv_frame(v).limit(0))
                continue
            buckets = m["buckets"]
            markers = m.get("bucket_zorder") or {}
            want = list(zorder_cols)
            pending = sorted(
                (
                    b
                    for b, owner in buckets.items()
                    if markers.get(b) != [owner, want]
                ),
                key=int,
            )
            if not pending:
                break
            self._optimize_one_bucket(
                v, m, pending[0], zorder_cols, target_file_bytes
            )
            done += 1
        return self._resolve(None)

    def _optimize_one_bucket(
        self,
        v: int,
        m: dict,
        b: str,
        zorder_cols: list[str],
        target_file_bytes: int | None,
    ) -> int:

        with self._conflict_on_sweep(v):
            d = os.path.join(self.path, m["buckets"][b], f"bucket={b}")
            df = self._read_parquet(d)  # WITH tombstones: state form
            clustered, empty = self._z_clustered(
                df,
                zorder_cols,
                plan_file_count(
                    sum(data_file_sizes(d)),
                    target_file_bytes or TARGET_FILE_BYTES,
                ),
                files=[
                    (f, os.path.relpath(f, d)) for f in _parquet_files(d)
                ],
            )
            meta = {
                "operation": "optimize",
                "compacted_from": v,
                "last_batch": m.get("last_batch"),
                "schema_version": m.get("schema_version", 0),
                "schema": m.get("schema"),
                "zordered_by": list(zorder_cols),
                "optimize_scope": {"bucket": int(b)},
            }

            def write(p: str) -> None:
                clustered.write.parquet(os.path.join(p, f"bucket={b}"))
                sname = os.path.basename(p)
                meta["buckets"] = {**m["buckets"], b: sname}
                # carry only CURRENT markers; stamp this bucket's
                markers = {
                    bb: mk
                    for bb, mk in (m.get("bucket_zorder") or {}).items()
                    if bb != b and mk[0] == m["buckets"].get(bb)
                }
                markers[b] = [sname, list(zorder_cols)]
                meta["bucket_zorder"] = markers

            return self._commit(write, meta, expected_parent=v)

    def _z_clustered(
        self,
        df: DataFrame,
        zorder_cols: list[str],
        n_target: int,
        files: list[tuple[str, str]] | None = None,
    ) -> tuple[DataFrame, bool]:
        """(z-clustered frame, was_empty): rows range-partitioned and
        sorted on the Morton z-value of the two columns, bounds taken
        from THIS frame (plan-time scalars, the reference's S:163
        pattern). An all-NULL/empty frame clusters trivially.

        `files` ((abs, rel) pairs for exactly the files `df` reads)
        lets the bounds come from parquet FOOTER stats on the driver —
        metadata I/O instead of a full min/max scan job, so every
        optimize scope runs one fewer pass over its data (round 10,
        guide §6.2); footers without trustworthy numeric stats fall
        back to the agg."""
        from mysql_to_clickhouse_sync_spark.zorder import ZBITS, z_expr

        a, b = zorder_cols
        r = None
        if files is not None:
            fb = _footer_minmax(files, [a, b])
            if fb is not None:
                ra, rb = fb[a], fb[b]
                r = [
                    ra[0] if ra else None,
                    ra[1] if ra else None,
                    rb[0] if rb else None,
                    rb[1] if rb else None,
                ]
        if r is None:
            r = df.agg(F.min(a), F.max(a), F.min(b), F.max(b)).collect()[0]
        if any(x is None for x in r):
            return df.coalesce(max(1, n_target)), True
        amn, amx, bmn, bmx = (int(x) for x in r)
        cells = 1 << ZBITS
        u3 = f"(({a} - {amn}) * {cells}) div {max(1, amx - amn + 1)}"
        v3 = f"(({b} - {bmn}) * {cells}) div {max(1, bmx - bmn + 1)}"
        zcol = F.expr(z_expr(u3, v3, "div"))
        return (
            df.repartitionByRange(max(1, n_target), zcol)
            .sortWithinPartitions(zcol),
            False,
        )

    def optimize_incremental(
        self,
        zorder_cols: list[str],
        target_file_bytes: int | None = None,
        chunk_files: int | None = None,
        chunk_bytes: int | None = None,
        max_scopes: int | None = None,
    ) -> list[dict]:
        """Incremental OPTIMIZE ZORDER for unbucketed tables too large
        for optimize()'s single atomic rewrite: each commit z-orders ONE
        bounded chunk of not-yet-clustered files (<= chunk_bytes or
        chunk_files, whichever is given; default 16 target files of
        bytes) into a new 'z-cube' — the Databricks liquid-clustering
        shape. The manifest gains per-file ownership (`file_refs`: every
        data file named by [owner_generation, rel_path]) and a `zcubes`
        record of which files are already clustered, so the operation is
        RESUMABLE: a crash loses at most one chunk's work, a re-run (even
        from a fresh LakeTable handle) skips completed cubes, transient
        storage is bounded by one chunk, and every commit obeys the same
        optimistic-concurrency rules as merge (a concurrent writer
        conflicts per-chunk, not per-table). Files are clustered within
        their cube; cross-cube z-ranges may overlap — read_pruned_all
        still skips per FILE, so the conjunction prunes multiplicatively
        within every cube (a global sort via optimize() remains the
        strongest layout when one commit is affordable; a merge folds
        refs back to a plain generation and clears the cubes).

        Returns one accounting record per committed chunk:
        {scope, version, cube, files_in, bytes_in, files_out}.
        `max_scopes` bounds this call's commits (None = run until no
        unclustered files remain)."""

        if len(zorder_cols) != 2:
            raise ValueError("zorder re-clustering takes exactly 2 columns")
        if chunk_files is not None and chunk_bytes is not None:
            raise ValueError("chunk_files and chunk_bytes are exclusive")
        budget = chunk_bytes or 16 * (target_file_bytes or TARGET_FILE_BYTES)
        records: list[dict] = []
        while max_scopes is None or len(records) < max_scopes:
            v = self._resolve(None)
            with self._conflict_on_sweep(v):
                m = self.manifest(v)
            if m.get("buckets") is not None:
                raise ValueError(
                    "optimize_incremental applies to unbucketed tables"
                    " (the bucketed layout re-clusters per bucket via"
                    " optimize())"
                )
            if m.get("dv"):
                with self._conflict_on_sweep(v):
                    self.merge(self._dv_frame(v).limit(0))
                continue
            rec = self._optimize_chunk(
                v,
                m,
                zorder_cols,
                target_file_bytes,
                chunk_files,
                budget,
                scope=len(records),
            )
            if rec is None:
                break
            records.append(rec)
        return records

    def _optimize_chunk(
        self,
        v: int,
        m: dict,
        zorder_cols: list[str],
        target_file_bytes: int | None,
        chunk_files: int | None,
        chunk_bytes: int,
        scope: int,
    ) -> dict | None:

        with self._conflict_on_sweep(v):
            refs = m.get("file_refs")
            had_refs = refs is not None
            if not had_refs:
                gen = self.data_paths(v)[0]
                owner = os.path.basename(gen)
                refs = [
                    [owner, r]
                    for r in sorted(
                        os.path.relpath(f, gen)
                        for f in _parquet_files(gen)
                    )
                ]
            cubes = dict(m.get("zcubes") or {})
            want = list(zorder_cols)
            cubed = {
                tuple(f)
                for c in cubes.values()
                if c["zordered_by"] == want
                for f in c["files"]
            }
            pending = [r for r in refs if tuple(r) not in cubed]
            if not pending:
                return None
            take: list[list] = []
            tot = 0
            for o, r in pending:
                sz = os.path.getsize(os.path.join(self.path, o, r))
                if take and (
                    (chunk_files is not None and len(take) >= chunk_files)
                    or (chunk_files is None and tot + sz > chunk_bytes)
                ):
                    break
                take.append([o, r])
                tot += sz
            df = self._read_refs(take)
            clustered, _empty = self._z_clustered(
                df,
                zorder_cols,
                plan_file_count(
                    tot, target_file_bytes or TARGET_FILE_BYTES
                ),
                files=[
                    (os.path.join(self.path, o, r), r) for o, r in take
                ],
            )
            cube_id = f"cube-{v + 1:06d}"
            keep = [r for r in refs if r not in take]
            meta: dict = {
                "operation": "optimize-chunk",
                "compacted_from": v,
                "last_batch": m.get("last_batch"),
                "schema_version": m.get("schema_version", 0),
                "schema": m.get("schema"),
                "zordered_by": want,
                "optimize_scope": {
                    "cube": cube_id,
                    "files_in": len(take),
                    "bytes_in": tot,
                },
            }
            old_fs = m.get("file_stats") or {}
            old_fb = m.get("file_blooms") or {}

            def _old_key(o: str, r: str) -> str:
                return f"{o}/{r}" if had_refs else r

            def write(p: str) -> None:
                clustered.write.parquet(p)
                sname = os.path.basename(p)
                new_refs = [
                    [sname, r]
                    for r in sorted(
                        os.path.relpath(f, p) for f in _parquet_files(p)
                    )
                ]
                meta["file_refs"] = keep + new_refs
                # kept cubes lose any file this chunk re-took (a
                # zorder_cols change re-clusters old cubes)
                taken = {tuple(t) for t in take}
                kept_cubes = {}
                for cid, c in cubes.items():
                    rem = [f for f in c["files"] if tuple(f) not in taken]
                    if rem:
                        kept_cubes[cid] = {**c, "files": rem}
                kept_cubes[cube_id] = {
                    "zordered_by": want,
                    "files": new_refs,
                }
                meta["zcubes"] = kept_cubes
                # inherit kept files' stats under owner-qualified keys;
                # _commit adds this chunk's fresh stats
                inh_fs = {}
                inh_fb = {}
                for o, r in keep:
                    k_old = _old_key(o, r)
                    if k_old in old_fs:
                        inh_fs[f"{o}/{r}"] = old_fs[k_old]
                    if k_old in old_fb:
                        inh_fb[f"{o}/{r}"] = old_fb[k_old]
                meta["file_stats"] = inh_fs
                if self.bloom_cols:
                    meta["file_blooms"] = inh_fb

            new_v = self._commit(write, meta, expected_parent=v)
            return {
                "scope": scope,
                "version": new_v,
                "cube": cube_id,
                "files_in": len(take),
                "bytes_in": tot,
                "files_out": sum(
                    1 for o, _r in self.manifest(new_v)["file_refs"]
                    if o == self._gen_name(new_v)
                ),
            }

    def _optimize_plan(
        self,
        v: int,
        m: dict,
        zorder_cols: list[str],
        target_file_bytes: int | None,
    ) -> int:

        refs = m.get("file_refs")
        if refs is not None:
            # full rewrite of a mid-incremental snapshot: folds the refs
            # back to one globally-sorted plain generation, sized from
            # the referenced files' real bytes
            df = self._read_refs(refs)
            total = sum(os.path.getsize(f) for f in self.data_files(v))
            pairs = [
                (os.path.join(self.path, o, r), r) for o, r in refs
            ]
        else:
            gen = self.data_paths(v)[0]
            df = self._read_parquet(gen)
            total = sum(data_file_sizes(gen))
            pairs = [
                (f, os.path.relpath(f, gen)) for f in _parquet_files(gen)
            ]
        # WITH tombstones: state form
        n_target = plan_file_count(
            total, target_file_bytes or TARGET_FILE_BYTES
        )
        clustered, empty = self._z_clustered(
            df, zorder_cols, n_target, files=pairs
        )
        if empty:
            return v  # empty table: nothing to lay out
        meta = {
            "operation": "optimize",
            "compacted_from": v,
            "last_batch": m.get("last_batch"),
            "schema_version": m.get("schema_version", 0),
            "schema": m.get("schema"),
            "zordered_by": list(zorder_cols),
        }
        return self._commit(
            lambda p: clustered.write.parquet(p), meta, expected_parent=v
        )


class LakeTableGroup:
    """ATOMIC MULTI-TABLE PUBLISH for multi-state streaming sinks: N
    member LakeTables under one parent directory plus ONE group pointer
    file naming a consistent (member -> version) vector and the batch
    watermark. Members commit individually (each its own
    write-audit-publish, each idempotent under its own batch watermark),
    but OUTSIDE READERS RESOLVE THROUGH THE GROUP: `read(name)`
    time-travels the member to the version the committed vector names.
    The publish is one atomic replace of the group pointer, so a
    crash anywhere between member commits leaves the previous vector
    fully intact — the torn window between per-table watermarks (which
    the round-9 sinks survived by convergence-on-retry) is now
    UNOBSERVABLE, not merely survivable. On redelivery, members whose
    batch already committed skip via their own watermark and the flip
    republishes the same vector — idempotent end to end.

    Members must keep `retention >= 1`: between a member's commit and
    the group flip the committed vector names the member's superseded
    version (single-writer streams advance each member at most one
    commit past the vector).

    Scale notes (100 TB): the flip is O(members) JSON bytes — commit
    cost stays in the member merges; the group adds atomicity, not I/O.
    Cites the reference's snapshot-then-incremental posture
    (mysql_to_clickhouse_sync.py: GTID checkpoint names ONE consistent
    cut across all tables) — the group pointer is that cut for the
    engine's multi-table streaming state."""

    _GPTR = "_GROUP_CURRENT"

    def __init__(
        self, spark: SparkSession, path: str, members: dict[str, "LakeTable"]
    ) -> None:
        for name, t in members.items():
            if t.retention < 1:
                raise ValueError(
                    f"group member {name!r} needs retention >= 1 (the"
                    " committed vector must outlive one in-flight commit)"
                )
        self.spark = spark
        self.path = path
        self.members = dict(members)
        os.makedirs(path, exist_ok=True)

    def committed(self) -> dict | None:
        """The committed vector {'last_batch': int, 'versions':
        {name: version}}, or None before the first flip."""
        try:
            with open(os.path.join(self.path, self._GPTR)) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def last_batch(self) -> int | None:
        c = self.committed()
        return None if c is None else c.get("last_batch")

    def read(self, name: str) -> DataFrame | None:
        """Live rows of member `name` AT THE COMMITTED VECTOR (never a
        member's in-flight head), or None before the first flip / for a
        member the vector has no version for."""
        c = self.committed()
        if c is None:
            return None
        v = c["versions"].get(name)
        if v is None:
            return None
        return self.members[name].read(version=v)

    def commit(self, batch_id: int) -> dict:
        """Flip the group pointer to the members' current versions —
        the single atomic publish point for the whole batch."""
        vec = {
            name: t.current_version() for name, t in self.members.items()
        }
        doc = {"last_batch": batch_id, "versions": vec}
        replace_file(os.path.join(self.path, self._GPTR), json.dumps(doc))
        return doc


@contextmanager
def scratch_table(spark: SparkSession, keys: list[str], version_cols, **kw):
    """A LakeTable (``LakeTable(spark, path, keys, version_cols, **kw)``)
    in a fresh temp dir that is removed on exit, normal or raised — the
    workdir lifecycle of a declared batch query that lands its rows in a
    throwaway lake. Anything returned from inside the block must be
    materialized there (``localCheckpoint(eager=True)`` or driver rows):
    the table's files are gone once the block exits."""
    workdir = tempfile.mkdtemp(prefix="lake_")
    try:
        yield LakeTable(
            spark, os.path.join(workdir, "state"), keys, version_cols, **kw
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
