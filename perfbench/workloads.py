"""The three closed-loop workloads: one client issues the next operation
only after the previous one returned.

Each timed window holds only calls into the package's public functions
(``sync.snapshot_sync`` / ``sync.incremental_sync``; the ``binlogdir``
source, ``sources.binlog.parse_debezium`` and ``LakeTable.merge`` /
``read``; ``registry.queries()``). Writing inputs, checking outputs and
clearing Spark's cache happen between windows. Every output is checked;
a wrong one counts as a failed operation.

Every workload reports the same three end-to-end metrics, each defined
per workload (README.md has the table):

  setup_s       median of SETUP_REPS set-ups, each from a stopped session
                and a fresh import of the package
  primary_ms    snapshot: median full-database snapshot_sync
                cdc: median batch freshness (file rename -> merge committed)
                query_mix: geometric mean of the per-query medians
  secondary_ms  snapshot: median incremental_sync of the seeded delta
                cdc: median point lookup on the live table after a batch
                query_mix: sum of the per-query medians
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from layers import Tracer, median, quantile

# Input sizes: source row counts scale like the fixtures (FIXTURES.md).
SNAPSHOT_SF = 0.001
RESUME_FRAC = 0.01
# Tables that receive new rows before a resume: a tiny one, a mid-sized one
# and the largest. The other seven take the no-new-rows path (one bounds
# job each), as unchanged tables do between two real syncs.
DELTA_TABLES = ("nation", "orders", "lineitem")
CDC_SF = 0.01
CDC_BATCH = 1000
QUERY_SF = 0.001
PKG = "mysql_to_clickhouse_sync_spark"
# Set-ups per run. The median of more repetitions is steadier; a cdc set-up
# also bootstraps a LakeTable (~2.5 s), so it takes fewer.
SETUP_REPS = {"snapshot": 9, "cdc": 3, "query_mix": 5}
# Timed runs of each query per pass, back to back: its median is over these.
QUERY_REPS = 3

# Declared queries over tiers P0-P3: sub-second P0 scans (driver floor),
# cache-bearing minhash dedup, k-means, TPC-H and two declared streams.
QUERIES = [
    "q_bounds",
    "q_chunk_plan",
    "q_binlog_parse",
    "q_dedup_latest",
    "q_minhash_dedup",
    "q_kmeans",
    "q_tpch_q3",
    "s_cdc_apply",
    "s_tumbling_stream",
]

UNITS = {"setup_s": "s", "primary_ms": "ms", "secondary_ms": "ms"}
_LAYER_UNITS = {
    "warmup_s": "s",
    "trace.overhead_pct": "%",
    "host.steal_pct": "%",
    "host.calib_ms": "ms",
    "host.rss_peak_mb": "MB",
    "snapshot_p50_s": "s",
    "resume_p50_ms": "ms",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "lookup_p50_ms": "ms",
    "pass_s": "s",
    "query_geomean_ms": "ms",
    "sync.table_bounds_ms": "ms",
    "sync.small_tables_ms": "ms",
    "sync.resume_delta_rows": "count",
    "sync.resume_input_bytes": "B/row",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.driver_only_ms": "ms",
    "spark.exec_run_ms": "ms",
    "spark.exec_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "B",
    "spark.output_bytes": "B",
    "spark.codegen_ms": "ms",
    "spark.codegen_count": "count",
    "spark.cache_bytes_left": "B",
    "mb.latestOffset_ms": "ms",
    "mb.getBatch_ms": "ms",
    "mb.queryPlanning_ms": "ms",
    "mb.addBatch_ms": "ms",
    "mb.walCommit_ms": "ms",
    "mb.commitOffsets_ms": "ms",
    "lake.merge_ms": "ms",
    "lake.rows_rewritten_per_change": "rows",
    "lake.bytes_written_per_change": "B",
    "lake.lookup_input_bytes": "B",
    "lake.lookup_files": "count",
    **{f"q.{n}_ms": "ms" for n in QUERIES},
}
UNITS.update(_LAYER_UNITS)
PER_LAYER = list(_LAYER_UNITS)

_ENGINE = {
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "driver_only_ms": "spark.driver_only_ms",
    "exec_run_ms": "spark.exec_run_ms",
    "exec_cpu_ms": "spark.exec_cpu_ms",
    "gc_ms": "spark.gc_ms",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "output_bytes": "spark.output_bytes",
    "codegen_ms": "spark.codegen_ms",
    "codegen_count": "spark.codegen_count",
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; a wrong output makes it a failed one."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


# Each workload's figures under their own names: printed on the line
# before the result and reported among the per-layer metrics.
NAMED = {
    "snapshot": ["snapshot_p50_s", "resume_p50_ms"],
    "cdc": ["batch_p50_ms", "batch_p90_ms", "lookup_p50_ms"],
    "query_mix": ["pass_s", "query_geomean_ms"],
}


def per_layer_metrics(res: Result) -> dict:
    """Every per-layer metric; a layer this workload does not use is 0."""
    return {k: float(res.layers.get(k, 0.0)) for k in PER_LAYER if not k.startswith("host.")}


def set_up(spark_factory, prep, reps: int):
    """Bring the program up ``reps`` times from a stopped session; return
    the live session, the median set-up seconds and the last prep result.
    The package's modules are dropped before each repetition, so every one
    imports the package afresh (its registry included); only the first
    also pays the JVM launch."""
    times, spark, state = [], None, None
    for i in range(reps):
        if spark is not None:
            spark.stop()
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        t0 = time.perf_counter()
        spark = spark_factory()
        state = prep(spark, i)
        times.append(time.perf_counter() - t0)
    log(f"set-up {[round(t, 3) for t in times]}")
    return spark, median(times), state


def warm_up(op, min_ops: int, max_ops: int, budget_s: float) -> float:
    """Run at least ``min_ops`` discarded ops, then more until their time
    stops falling (the latest is not 5% below the best before it), within
    ``max_ops`` ops and ``budget_s`` seconds. Returns seconds spent."""
    t0 = time.perf_counter()
    times: list[float] = []
    while len(times) < max_ops:
        times.append(op())
        if len(times) < min_ops:
            continue
        if time.perf_counter() - t0 > budget_s or times[-1] >= 0.95 * min(times[:-1]):
            break
    log(f"warm-up {[round(t) for t in times]}")
    return time.perf_counter() - t0


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def measure(ctx, op, done=lambda: True) -> None:
    """Run timed ops for ctx.seconds, and until done() holds."""
    log("measuring")
    ctx.host.start()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds or not done():
        op()


def _engine(ops: list[dict]) -> dict:
    return {name: median(o.get(k, 0.0) for o in ops) for k, name in _ENGINE.items()}


def _overhead_pct(tr: Tracer, kinds) -> float:
    """Traced minus untraced median wall time, as a share of untraced."""
    ratios = []
    for kind in kinds:
        on = [o["wall_ms"] for o in tr.ops[kind] if o["traced"]]
        off = [o["wall_ms"] for o in tr.ops[kind] if not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    return 100.0 * (median(ratios) - 1.0) if ratios else 0.0


def _walls(ops: list[dict]) -> list[float]:
    return [o["wall_ms"] for o in ops]


# --------------------------------------------------------------------------
# snapshot: full-database snapshot_sync, then resume with a seeded delta


def _target_stats(out_dir: str, name: str) -> tuple[int, int, int]:
    key = gen.ROWID[name]
    return gen.key_stats(pq.read_table(os.path.join(out_dir, name), columns=[key]), key)


def _import_sync(spark, i):
    from mysql_to_clickhouse_sync_spark import sync

    return sync


def run_snapshot(ctx) -> Result:
    res = Result()
    tables = gen.make_tables(ctx.seed, SNAPSHOT_SF)
    src = os.path.join(ctx.run_dir, "source")
    gen.write_source(src, tables)
    delta = gen.resume_delta(ctx.seed + 1, tables, DELTA_TABLES, RESUME_FRAC)
    expect = {n: gen.key_stats(t, gen.ROWID[n]) for n, t in tables.items()}
    # (min, max, rows) of the target after the resume
    resumed = dict(expect)
    for n, d in delta.items():
        mn, _, rows = expect[n]
        resumed[n] = (mn, gen.key_stats(d, gen.ROWID[n])[1], rows + d.num_rows)
    spark, setup_s, sync = set_up(ctx.spark_factory, _import_sync, SETUP_REPS["snapshot"])
    ctx.spark = spark
    tr = Tracer(spark, ctx.trace)
    spans: dict[str, list[float]] = {"table_bounds": [], "small_table": []}
    if ctx.trace:
        _instrument_sync(sync, spans)
    seq = [0]

    def one_pair(keep: bool) -> float:
        seq[0] += 1
        out = os.path.join(ctx.run_dir, f"target-{seq[0]}")
        _clear(spans)
        with tr.op("snapshot", keep) as snap:
            manifest = sync.snapshot_sync(spark, src, out)
        snap["bounds_ms"] = sum(spans["table_bounds"])
        snap["small_ms"] = sum(spans["small_table"])
        spark.catalog.clearCache()
        ok = len(manifest["tables"]) == len(tables)
        for e in manifest["tables"]:
            want = expect[e["table"]]
            ok &= (e["min_id"], e["max_id"], e["rows"]) == want
            ok &= _target_stats(out, e["table"]) == want
        res.check(ok, f"snapshot {seq[0]}: target or manifest differs from the source")

        paths = []
        for n, d in delta.items():
            paths.append(os.path.join(gen.table_dir(src, n), "part-1-delta.parquet"))
            pq.write_table(d, paths[-1])
        _clear(spans)
        with tr.op("resume", keep) as resume:
            manifest = sync.incremental_sync(spark, src, out)
        spark.catalog.clearCache()
        ok = len(manifest["tables"]) == len(tables)
        resume["delta_rows"] = 0
        for e in manifest["tables"]:
            n = e["table"]
            mn, mx, rows = resumed[n]
            added = rows - expect[n][2]
            ok &= (e["last_delta_rows"], e["max_id"], e["rows"]) == (added, mx, rows)
            ok &= _target_stats(out, n) == resumed[n]
            resume["delta_rows"] += e["last_delta_rows"]
        res.check(ok, f"resume {seq[0]}: appended rows differ from the seeded delta")
        for path in paths:
            os.remove(path)
        shutil.rmtree(out)
        return snap["wall_ms"] + resume["wall_ms"]

    # One cold pair (12-19 s) is all the run's time allows; a still-warming
    # first timed pair is absorbed by the median of three.
    t0 = time.perf_counter()
    one_pair(False)
    warmup_s = time.perf_counter() - t0
    measure(ctx, lambda: one_pair(True), lambda: len(tr.ops["snapshot"]) >= 3)
    snaps, resumes = tr.ops["snapshot"], tr.ops["resume"]
    log(f"snapshot ms {[round(x) for x in _walls(snaps)]} resume ms {[round(x) for x in _walls(resumes)]}")
    res.end_to_end = {
        "setup_s": setup_s,
        "primary_ms": median(_walls(snaps)),
        "secondary_ms": median(_walls(resumes)),
    }
    on_s, on_r = tr.traced("snapshot"), tr.traced("resume")
    res.layers = {
        **_engine(on_s),
        "warmup_s": warmup_s,
        "trace.overhead_pct": _overhead_pct(tr, ["snapshot", "resume"]),
        "snapshot_p50_s": res.end_to_end["primary_ms"] / 1000.0,
        "resume_p50_ms": res.end_to_end["secondary_ms"],
        "sync.table_bounds_ms": median(o.get("bounds_ms", 0.0) for o in on_s),
        "sync.small_tables_ms": median(o.get("small_ms", 0.0) for o in on_s),
        "sync.resume_delta_rows": median(o["delta_rows"] for o in resumes),
        "sync.resume_input_bytes": median(
            o.get("input_bytes", 0.0) / max(1, o["delta_rows"]) for o in on_r
        ),
    }
    return res


def _instrument_sync(sync, spans: dict[str, list[float]]) -> None:
    """Record spans around sync.table_bounds and around each small table's
    sync_table call. snapshot_sync looks both public names up at call
    time, so replacing the module attributes times them from outside
    without editing the program."""
    bounds, sync_table = sync.table_bounds, sync.sync_table

    def timed_bounds(*a, **kw):
        t0 = time.perf_counter()
        try:
            return bounds(*a, **kw)
        finally:
            spans["table_bounds"].append((time.perf_counter() - t0) * 1000.0)

    def timed_sync_table(*a, **kw):
        t0 = time.perf_counter()
        entry = sync_table(*a, **kw)
        if entry["rows"] < sync.DEFAULT_BATCH_SIZE:
            spans["small_table"].append((time.perf_counter() - t0) * 1000.0)
        return entry

    sync.table_bounds, sync.sync_table = timed_bounds, timed_sync_table


def _clear(spans: dict[str, list[float]]) -> None:
    for v in spans.values():
        v.clear()


# --------------------------------------------------------------------------
# cdc: Debezium files -> binlogdir stream -> parse_debezium -> LakeTable.merge


def run_cdc(ctx) -> Result:
    from pyspark.sql import functions as F

    res = Result()
    events = gen.events_table(ctx.seed, CDC_SF)
    src = os.path.join(ctx.run_dir, "source")
    gen.write_source(src, {"events": events}, names=("events",))
    changes = gen.ChangeFeed(ctx.seed + 1, events, size=CDC_BATCH)
    pick = np.random.default_rng(ctx.seed + 2)
    feed = os.path.join(ctx.run_dir, "feed")
    stage = os.path.join(ctx.run_dir, "stage")
    os.makedirs(feed)
    os.makedirs(stage)

    def bootstrap(spark, i):
        from mysql_to_clickhouse_sync_spark.catalog import load_table
        from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable
        from mysql_to_clickhouse_sync_spark.sources import binlog_datasource
        from mysql_to_clickhouse_sync_spark.streaming.cdc import as_state

        table = LakeTable(
            spark,
            os.path.join(ctx.run_dir, f"lake-{i}"),
            keys=["event_id"],
            version_cols=["ts"],
        )
        table.merge(as_state(load_table(spark, src, "events")))
        binlog_datasource.register(spark)
        return table

    spark, setup_s, table = set_up(ctx.spark_factory, bootstrap, SETUP_REPS["cdc"])
    ctx.spark = spark
    # The modules the last set-up imported.
    from mysql_to_clickhouse_sync_spark.catalog import load_table
    from mysql_to_clickhouse_sync_spark.sources import binlog_datasource
    from mysql_to_clickhouse_sync_spark.sources.binlog import (
        FILE_COL,
        POS_COL,
        parse_debezium,
    )

    for i in range(SETUP_REPS["cdc"] - 1):
        shutil.rmtree(os.path.join(ctx.run_dir, f"lake-{i}"))
    tr = Tracer(spark, ctx.trace)
    payload = load_table(spark, src, "events").schema
    merge_ms: list[float] = []

    def merge_batch(df, epoch):
        with tr.joined():
            t0 = time.perf_counter()
            table.merge(df.drop(FILE_COL, POS_COL), batch_id=epoch)
            merge_ms.append((time.perf_counter() - t0) * 1000.0)

    raw = (
        spark.readStream.format(binlog_datasource.FORMAT_NAME)
        .option("path", feed)
        .load()
    )
    query = (
        parse_debezium(raw, payload)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(ctx.run_dir, "ckpt"))
        .start()
    )
    cols = ["event_id", F.expr("unix_micros(ts)").alias("ts_us"), "user_id",
            "event_type", "value", "props"]
    seq = [0]

    def one_batch(keep: bool) -> float:
        i = seq[0]
        seq[0] += 1
        name = f"binlog.{i:06d}.jsonl"
        lines, keys = changes.batch(name)
        with open(os.path.join(stage, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        v0 = table.current_version()
        with tr.op("batch", keep) as rec:
            os.rename(os.path.join(stage, name), os.path.join(feed, name))
            query.processAllAvailable()
        v1 = table.current_version()
        res.check(
            v1 == v0 + 1 and table.last_batch() == i,
            f"batch {i}: expected one merge commit, got versions {v0}->{v1}",
        )
        rec["progress"] = next(
            (p["durationMs"] for p in reversed(query.recentProgress)
             if p["batchId"] == i),
            {},
        )
        rec["merge_ms"] = merge_ms[-1] if merge_ms else 0.0
        if rec["traced"]:
            new = set(table.data_files(v1)) - set(table.data_files(v0))
            rows = sum(pq.read_metadata(f).num_rows for f in new)
            rec["rows_per_change"] = rows / len(lines)
            rec["bytes_per_change"] = (
                table.manifest(v1).get("commit_bytes", 0) / len(lines)
            )
        key = int(keys[pick.integers(0, len(keys))])
        with tr.op("lookup", keep) as look:
            got = table.read().filter(F.col("event_id") == key).select(*cols).collect()
        if look["traced"]:
            look["files"] = len(table.data_files())
        spark.catalog.clearCache()
        want = changes.live().get(key)
        ok = (want is None and not got) or (
            want is not None and len(got) == 1 and _row_eq(got[0].asDict(), key, want)
        )
        res.check(ok, f"lookup {i}: key {key} differs from the reference state")
        return rec["wall_ms"]

    try:
        warmup_s = warm_up(lambda: one_batch(False), 8, 20, 10.0)
        measure(ctx, lambda: one_batch(True), lambda: len(tr.ops["batch"]) >= 12)
    finally:
        query.stop()
    final = table.read().select(*cols).toArrow()
    res.check(_state_eq(final, changes.live()), "final live state differs from the reference")

    batches, lookups = _walls(tr.ops["batch"]), _walls(tr.ops["lookup"])
    log(f"batch ms {[round(x) for x in batches]} lookup ms {[round(x) for x in lookups]}")
    res.end_to_end = {
        "setup_s": setup_s,
        "primary_ms": median(batches),
        "secondary_ms": median(lookups),
    }
    on_b, on_l = tr.traced("batch"), tr.traced("lookup")
    res.layers = {
        **_engine(on_b),
        "warmup_s": warmup_s,
        "trace.overhead_pct": _overhead_pct(tr, ["batch", "lookup"]),
        "batch_p50_ms": median(batches),
        "batch_p90_ms": quantile(batches, 0.9),
        "lookup_p50_ms": median(lookups),
        "lake.merge_ms": median(o["merge_ms"] for o in tr.ops["batch"]),
        "lake.rows_rewritten_per_change": median(o["rows_per_change"] for o in on_b),
        "lake.bytes_written_per_change": median(o["bytes_per_change"] for o in on_b),
        "lake.lookup_input_bytes": median(o.get("input_bytes", 0.0) for o in on_l),
        "lake.lookup_files": median(o["files"] for o in on_l),
    }
    for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets"):
        res.layers[f"mb.{phase}_ms"] = median(
            o["progress"].get(phase, 0) for o in tr.ops["batch"]
        )
    return res


def _row_eq(row: dict, key: int, want: tuple) -> bool:
    ts_us, payload = want
    return row == {"event_id": key, "ts_us": ts_us, **payload}


def _state_eq(tab: pa.Table, live: dict) -> bool:
    """The live table equals latest-per-key-minus-deletes of the changelog."""
    if tab.num_rows != len(live):
        return False
    for row in tab.to_pylist():
        want = live.get(row["event_id"])
        if want is None or not _row_eq(row, row["event_id"], want):
            return False
    return True


# --------------------------------------------------------------------------
# query_mix: declared queries through registry.queries(), noop sink


def run_query_mix(ctx) -> Result:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    res = Result()
    tables = gen.make_tables(ctx.seed, QUERY_SF)
    src = os.path.join(ctx.run_dir, "source")
    gen.write_source(src, tables)

    def load_registry(spark, i):
        from mysql_to_clickhouse_sync_spark import registry

        return registry.REGISTRY, registry.queries()

    spark, setup_s, (declared, qs) = set_up(
        ctx.spark_factory, load_registry, SETUP_REPS["query_mix"]
    )
    ctx.spark = spark
    tr = Tracer(spark, ctx.trace)
    expected = oracle.expected_rows(src, {n: declared[n].oracle for n in QUERIES})
    cache_left = [0]

    def run_query(name: str):
        """One query through the noop sink; its row count, taken by an
        observation on the written frame, must equal the oracle's."""
        obs = None if declared[name].tier == "P3" else Observation()
        with tr.op(name):
            df = qs[name](spark, src)
            if obs is None:
                rows = df.count()  # streams ran eagerly; force the returned frame
            else:
                df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                df.write.mode("overwrite").format("noop").save()
        if obs is not None:
            rows = obs.get["rows"]
        if ctx.trace:
            cache_left[0] = max(cache_left[0], tr.cache_bytes())
        spark.catalog.clearCache()
        want = expected[name][1]
        res.check(rows == want, f"{name}: {rows} rows, oracle has {want}")

    # The warm-up pass collects each query, compares it with its oracle
    # and is not timed. The first timed run of a query still compiles the
    # noop-sink plan; the median of QUERY_REPS runs leaves it out.
    t0 = time.perf_counter()
    for name in QUERIES:
        df = qs[name](spark, src)
        ok, why = oracle.matches(df.columns, df.collect(), expected[name])
        spark.catalog.clearCache()
        res.check(ok, f"{name}: {why}")
    warmup_s = time.perf_counter() - t0
    order = gen.query_order(ctx.seed, QUERIES)

    passes = [0]

    def one_pass():
        for name in next(order):
            for _ in range(QUERY_REPS):
                run_query(name)
        passes[0] += 1

    measure(ctx, one_pass, lambda: passes[0] >= 1)
    per_q = {n: median(_walls(tr.ops[n])) for n in QUERIES}
    log("query ms " + " ".join(f"{n}={[round(x) for x in _walls(tr.ops[n])]}" for n in QUERIES))
    geomean = math.exp(sum(math.log(v) for v in per_q.values()) / len(per_q))
    res.end_to_end = {
        "setup_s": setup_s,
        "primary_ms": geomean,
        "secondary_ms": sum(per_q.values()),
    }
    on = [o for n in QUERIES for o in tr.traced(n)]
    res.layers = {
        **_engine(on),
        "warmup_s": warmup_s,
        "trace.overhead_pct": _overhead_pct(tr, QUERIES),
        "pass_s": sum(per_q.values()) / 1000.0,
        "query_geomean_ms": geomean,
        "spark.cache_bytes_left": cache_left[0],
        **{f"q.{n}_ms": v for n, v in per_q.items()},
    }
    return res


WORKLOADS = {
    "snapshot": run_snapshot,
    "cdc": run_cdc,
    "query_mix": run_query_mix,
}
