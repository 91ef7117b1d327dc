"""Driver-side path catalog: each table's ``{path: max(timestamp)}``.

The reference answers "last final bucket per path" and "which paths
exist" from SQLite's ``(path, timestamp)`` index (reference
tsdb.py:288-298, 352-369); parquet has no such index.  The catalog
derives both from the table's live files (:func:`storage.live_files` —
the file set a scan of the table reads), one pyarrow read of a file's
``path`` and ``timestamp`` columns per file, cached by
``(relpath, size, mtime_ns)`` and dropped once the file leaves the
table's newest live set.  Because it is computed from the very files a
scan reads, it equals the scan's ``groupBy(path).max("timestamp")``
through retention drops, compaction, late points, streaming-sink tables
and adopted listing tables alike.  Nothing is persisted: a fresh handle
reads each live file once (SCALE.md "Path catalog").
"""

from __future__ import annotations

import os
import threading

from smalltsdb_spark import storage

#: rows decoded per batch when summarizing a file: the driver holds one
#: batch of ``path`` indices and timestamps at a time, never the file
#: (an 8.64M-row file: ~11 MB of Arrow memory at its peak, against
#: ~280 MB read whole, and faster than smaller batches)
BATCH_ROWS = 1 << 18


def file_hwms(file: str) -> dict[str, float]:
    """``{path: max(timestamp)}`` of one parquet file, read on the
    driver with pyarrow — no Spark job.  The file is folded batch by
    batch, ``path`` read dictionary-encoded, so the memory held is one
    batch plus the result, whatever the file's row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out: dict[str, float] = {}
    batches = pq.ParquetFile(file, read_dictionary=["path"]).iter_batches(
        batch_size=BATCH_ROWS, columns=["path", "timestamp"]
    )
    for batch in batches:
        grouped = (
            pa.Table.from_batches([batch])
            .group_by("path")
            .aggregate([("timestamp", "max")])
        )
        for path, ts in zip(
            grouped["path"].to_pylist(), grouped["timestamp_max"].to_pylist()
        ):
            if path not in out or ts > out[path]:
                out[path] = ts
    return out


class PathCatalog:
    """Per-table high-water marks folded from per-file summaries.  Safe
    to share between threads (the web app reads while ``sync`` runs):
    the lock guards the cache only, never a file read, and only the
    newest resolution of a table's live files evicts, so a reader still
    folding an older snapshot cannot drop the files a commit added."""

    def __init__(self):
        self._lock = threading.Lock()  # guards the three dicts below
        self._resolving = threading.Lock()  # orders resolutions
        self._resolved = 0
        # table path -> {relpath: ((size, mtime_ns), file_hwms)}
        self._files: dict[str, dict] = {}
        # table path -> the number of the resolution cached
        self._newest: dict[str, int] = {}
        # table path -> (the file keys folded, their folded marks)
        self._folds: dict[str, tuple] = {}

    def hwms(self, table: str) -> dict[str, float]:
        """``{path: max(timestamp)}`` over ``table``'s live files.  A file
        retired and removed by a commit after the resolution makes it
        re-resolve; a live file that is missing raises, as a scan would.
        The result is shared: callers must not mutate it."""
        seen = None
        while True:
            # one resolution at a time, so a later number is a snapshot
            # at least as new (a manifest swap is atomic)
            with self._resolving:
                self._resolved += 1
                number = self._resolved
                files = storage.live_files(table)
            try:
                return self._fold(table, files, number)
            except FileNotFoundError:
                if files == seen:
                    raise
                seen = files

    def _fold(self, table: str, files: list[str], number: int) -> dict[str, float]:
        keys = {}
        for rel in files:
            st = os.stat(os.path.join(table, rel))
            keys[rel] = (st.st_size, st.st_mtime_ns)
        with self._lock:
            cached = self._files.get(table, {})
            summaries = {
                rel: cached[rel]
                for rel, key in keys.items()
                if rel in cached and cached[rel][0] == key
            }
            folded = self._folds.get(table)
        for rel, key in keys.items():  # outside the lock: the file reads
            if rel not in summaries:
                summaries[rel] = (key, file_hwms(os.path.join(table, rel)))
        folded_keys = frozenset(keys.items())
        if folded is None or folded[0] != folded_keys:
            out: dict[str, float] = {}
            for _key, marks in summaries.values():
                for path, ts in marks.items():
                    if path not in out or ts > out[path]:
                        out[path] = ts
            folded = (folded_keys, out)
        with self._lock:
            # the newest live set replaces the cache with exactly its
            # files; an older one has nothing to add, since the newest
            # set's files are all cached already
            if number >= self._newest.get(table, 0):
                self._newest[table] = number
                self._files[table] = summaries
                self._folds[table] = folded
        return folded[1]
