"""Crash-safe small-file replacement: the package's one atomic publish.

Every durable pointer the package keeps is a small text file that a reader
must see whole-old or whole-new, never torn:

* a LakeTable's ``_CURRENT`` generation pointer and its
  ``_CHECKPOINT.json`` commit-log checkpoint (sinks/merge.py);
* a LakeTableGroup's ``_GROUP_CURRENT`` member-version vector;
* the sync resume manifest ``manifest.json`` (sync.py) and the curation
  run's ``manifest.json`` (curate.py).

``replace_file`` writes the text to ``<path>.tmp``, flushes and fsyncs it,
then renames it over ``path`` (``os.replace``, atomic on POSIX). A crash or
an exception anywhere before the rename leaves the previous file as it was;
the text is complete before the first byte is written, so a serialization
error cannot leave a truncated file either.

The module imports nothing from the package: ``sync`` uses it without
loading the lake sink.
"""

from __future__ import annotations

import os


def replace_file(path: str, text: str) -> None:
    """Atomically replace the file at `path` with `text`."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
