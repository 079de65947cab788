"""The one driver of the declared streams' file-fed micro-batch protocol.

Every declared stream replays a bounded feed as a fixed list of slices and
must turn slice i into exactly micro-batch i. Boundaries are FORCED, never
inferred from file-listing order, modification times or trigger timing:

1. ``FileStream`` owns one workdir (``tempfile.mkdtemp``).
2. ``run`` stages every slice of the feed in ONE partitioned write job:
   ``repartition(N, _mb)`` puts each slice wholly inside one task, so each
   ``_mb=i`` directory holds exactly one part file. (One ``coalesce(1)``
   write per slice re-scans the source once per slice and pays one job
   round-trip each.) Parquet feeds stage parquet; text feeds (Debezium
   envelope lines, one ``value`` column) stage text. An empty slice gets a
   schema-bearing empty file written locally, so it still rotates.
3. It then renames ONE staged file per forced micro-batch into the tailed
   directory (atomic on POSIX). Names sort in write order and carry the
   extension the source expects: ``binlog.000001.parquet`` for parquet,
   ``binlog.000001.jsonl`` for text, which the ``binlogdir`` source's
   ``{file, pos}`` offsets refer to.
4. The query starts after the first rotation.
5. ``processAllAvailable()`` runs once per slice, so batch i has read
   exactly file i (plus Spark's no-data flush batch for watermarked
   queries, which is part of what the append-mode oracles state).
6. ``run`` stops its query on the way out, normal or raised; leaving the
   ``with`` block drops every memory-sink view the handle created and
   removes the workdir. A memory sink keeps every emitted row in driver
   memory until its view is dropped, so a view must not outlive its stream.

The slicing itself is semantics-free for every caller: each stream's oracle
is micro-batch-boundary-independent by construction (that is the point of
those oracles), or states the one replay order its law needs.

A stream keeps four things: its slices, its streaming transform, its sink
(a ``foreachBatch`` function, or a memory-sink output mode whose view
``run`` returns) and its readout, which it computes inside the ``with``
block. State that outlives a batch (``StateSink``, ``MvDeltaSink``,
``LakeTable``) lives under ``FileStream.workdir``. ``run`` may be called
more than once per handle (a connector restarted with a new schema); each
call gets its own feed, staging and checkpoint directories.

Example::

    with FileStream(spark) as fs:
        updates = fs.run([early, late], "update", lambda s: s.groupBy(k).count())
        return updates.localCheckpoint(eager=True)
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from functools import reduce
from typing import Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MB = "_mb"

# A foreachBatch function, or the output mode of a memory sink.
Sink = Union[Callable[[DataFrame, int], None], str]


class FileStream:
    """Context-manager handle over one workdir; see the module docstring."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.workdir = ""
        self._runs = 0
        self._views: list[str] = []
        self._feed: tuple[str, str, StructType] | None = None

    def __enter__(self) -> FileStream:
        self.workdir = tempfile.mkdtemp(prefix="stream_")
        return self

    def __exit__(self, *exc) -> None:
        try:
            for view in self._views:
                self.spark.catalog.dropTempView(view)
        finally:
            shutil.rmtree(self.workdir, ignore_errors=True)

    def reader(self) -> DataFrame:
        """A new streaming reader over the feed of the run in progress.
        ``run`` hands its transform the first one; a transform that reads
        the feed twice (a stream-stream join) calls this for the second."""
        if self._feed is None:
            raise RuntimeError("FileStream.reader() called outside run()")
        fmt, path, schema = self._feed
        r = self.spark.readStream.format(fmt).option("maxFilesPerTrigger", "1")
        if fmt == "parquet":
            r = r.schema(schema)
        return r.option("path", path).load()

    def run(
        self,
        slices: list[DataFrame],
        sink: Sink,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        fmt: str = "parquet",
    ) -> DataFrame | None:
        """Replay ``slices`` as one micro-batch each through
        ``transform(reader)`` into ``sink``. ``fmt`` is the streaming
        source: ``"parquet"``, or a line source over text slices
        (``"text"``, or a registered Python source such as ``binlogdir``).
        Returns the memory sink's view, or None for a foreachBatch sink."""
        self._runs += 1
        tag = f"{self._runs}"
        feed = os.path.join(self.workdir, f"feed{tag}")
        os.makedirs(feed)
        staged = _stage(slices, os.path.join(self.workdir, f"staged{tag}"), fmt)
        ext = ".parquet" if fmt == "parquet" else ".jsonl"
        self._feed = (fmt, feed, slices[0].schema)
        query = None
        try:
            stream = self.reader()
            out = stream if transform is None else transform(stream)
            writer = out.writeStream.option(
                "checkpointLocation", os.path.join(self.workdir, f"ckpt{tag}")
            )
            view = None
            if callable(sink):
                writer = writer.foreachBatch(sink)
            else:
                view = f"{os.path.basename(self.workdir)}_{tag}"
                self._views.append(view)
                writer = writer.outputMode(sink).format("memory").queryName(view)
            for i, path in enumerate(staged):
                os.rename(path, os.path.join(feed, f"binlog.{i + 1:06d}{ext}"))
                if query is None:
                    query = writer.start()
                query.processAllAvailable()
        finally:
            self._feed = None
            if query is not None:
                query.stop()
        return None if view is None else self.spark.table(view)


def _stage(slices: list[DataFrame], stage: str, fmt: str) -> list[str]:
    """Write same-schema slices as one file each in a single partitioned
    job; returns the staged file per slice index."""
    kind = "parquet" if fmt == "parquet" else "text"
    tagged = [s.withColumn(_MB, F.lit(i)) for i, s in enumerate(slices)]
    (
        reduce(DataFrame.unionByName, tagged)
        .repartition(len(slices), _MB)
        .write.partitionBy(_MB)
        .format(kind)
        .save(stage)
    )
    paths: list[str] = []
    for i, s in enumerate(slices):
        d = os.path.join(stage, f"{_MB}={i}")
        parts = (
            sorted(f for f in os.listdir(d) if f.startswith("part-"))
            if os.path.isdir(d)
            else []
        )
        if len(parts) > 1:
            # A retried task can leave a second part file; staging only the
            # first would drop the other's rows.
            raise RuntimeError(
                f"slice {i} staged {len(parts)} part files in {d}: {parts}"
            )
        paths.append(
            os.path.join(d, parts[0]) if parts else _empty_file(d, kind, s.schema)
        )
    return paths


def _empty_file(d: str, kind: str, schema: StructType) -> str:
    """A zero-row file for an empty slice (the partitioned write leaves no
    directory for it), written without a Spark job."""
    os.makedirs(d)
    path = os.path.join(d, "part-empty")
    if kind == "text":
        open(path, "w").close()
    else:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        pq.write_table(to_arrow_schema(schema).empty_table(), path)
    return path
