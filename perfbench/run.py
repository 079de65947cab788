"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload snapshot|cdc|query_mix \\
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout of the repository. It generates the
workload's inputs from the seed under ``.perfbench_tmp/`` (removed at
exit), sets up the package, discards warm-up operations, times operations
for ``--seconds`` seconds, checks every output and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (a separate run,
since recording costs time). A wrong output exits with code 1; a checkout
without the package exits with code 2. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mysql_to_clickhouse_sync_spark"
MAX_CPUS = 4
DRIVER_MEMORY = "3g"


class Context:
    def __init__(self, args, run_dir: str) -> None:
        from layers import Host

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.host = Host()
        self.spark = None

    @staticmethod
    def spark_factory():
        from mysql_to_clickhouse_sync_spark.session import get_spark

        return get_spark("perfbench")


def _configure(run_dir: str) -> int:
    """Pin the session to this host and keep every file inside run_dir.
    get_spark reads SPARK_GRAFT_CPUS; --driver-memory on the submit line
    overrides its 24 GB heap default, which does not fit a small host."""
    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY}"
        f" --driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        f" --conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"
        " pyspark-shell"
    )
    return cpus


def _shutdown() -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    cwd = os.getcwd()
    ctx = None
    try:
        cpus = _configure(run_dir)
        os.chdir(run_dir)
        ctx = Context(args, run_dir)
        ctx.host.calibrate()
        workloads.log(
            f"{args.workload} seed {args.seed}, SPARK_GRAFT_CPUS={cpus}: generating inputs"
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        workloads.log("done")
        ctx.host.calibrate()
        from layers import jvm_pid

        host = ctx.host.metrics(jvm_pid(ctx.spark))
        if args.trace:
            metrics = {**workloads.per_layer_metrics(res), **host}
        else:
            metrics = res.end_to_end
            # The workload's figures under their own names, plus the host
            # accounting, on one line before the result.
            named = {k: res.layers[k] for k in workloads.NAMED[args.workload]}
            named.update(setup_s=res.end_to_end["setup_s"], **host)
            print(
                f"perfbench {args.workload}: "
                + " ".join(f"{k}={v:.4f} {workloads.UNITS[k]}" for k, v in named.items())
                + f" failed={res.failed} attempted={res.attempted}"
            )
        units = workloads.UNITS
        out = {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    except Exception:  # noqa: BLE001 - report, then fail the run
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        try:
            _shutdown()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass
    for err in res.errors:
        print(f"perfbench: wrong output: {err}", file=sys.stderr)
    print(json.dumps(out))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
