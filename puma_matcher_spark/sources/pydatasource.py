"""Native Python DataSource (Spark 4 DataSource API) for manifest-driven
per-file text ingestion — S2/S4 as a FIRST-CLASS planner surface.

Reference: datasource/FileDataSource.scala:37-61 reads a JDBC list of
(document_version_id, file_path) and slurps each file inside a map.  The
rebuild already offers the glob-scan path (sources/files.py); this module
adds the idiomatic Spark-4 integration: a registered
``spark.read.format("manifest_text")`` source whose PLANNER does the
work a real connector's planner does —

* **split planning**: manifest entries are stat-ed and first-fit-
  decreasing bin-packed into ~``target_bytes`` input partitions, so one
  giant file cannot serialise a stage behind it and a million tiny files
  do not become a million tasks;
* **filter pushdown** (``pushFilters``, Spark 4.1): planner-pushed
  ``doc_id =`` / ``doc_id IN`` / ``file_path =`` / ``file_path LIKE
  'p%'`` predicates prune manifest entries BEFORE any file is opened —
  the custom-source analogue of parquet partition pruning (pruned files
  are never stat-ed, opened, or error-checked);
* **executor-side reads**: ``read()`` runs in the task, one open per
  file, no payload ever passes through the driver.

At 100 TB the manifest is the planning inventory — bounded (paths, not
payloads) exactly like a Hive/Iceberg file listing; when even the
listing outgrows the driver, the glob-scan path in sources/files.py is
the alternative (the scan plans its own splits).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
    StringStartsWith,
)

#: default split-planning target: bytes of text per input partition
DEFAULT_TARGET_BYTES = 32 * 1024 * 1024


@dataclass(frozen=True)
class _FileSlice(InputPartition):
    """One planned split: (doc_id, path) entries totalling ~target bytes."""

    entries: tuple  # tuple[(int, str), ...]


def pack_by_size(
    sized: list[tuple[int, str, int]], target_bytes: int
) -> list[list[tuple[int, str]]]:
    """Best-fit-decreasing bin packing of (doc_id, path, n_bytes) into
    bins of ~``target_bytes``.  Deterministic: files sort by (-size,
    path); each goes to the fullest bin that still fits it (ties to the
    oldest bin).  Files larger than the target get their own bin (a
    file is the smallest split unit for wholetext semantics).

    The fit search is a bisect over a sorted residual-capacity index —
    O(n log n + n·B) list maintenance in C, not the O(n·B) PYTHON scan
    of naive first-fit — so planning a million-entry manifest stays in
    seconds on the driver."""
    import bisect

    bins: list[list[tuple[int, str]]] = []
    # ascending (residual_capacity, bin_id); bisect finds the SMALLEST
    # residual that fits = best fit, ties resolved to the oldest bin
    residuals: list[tuple[int, int]] = []
    for doc_id, path, n in sorted(sized, key=lambda t: (-t[2], t[1])):
        i = bisect.bisect_left(residuals, (n, -1))
        if i < len(residuals):
            cap, b = residuals.pop(i)
            bins[b].append((doc_id, path))
            bisect.insort(residuals, (cap - n, b))
        else:
            bins.append([(doc_id, path)])
            bisect.insort(residuals, (max(target_bytes - n, 0), len(bins) - 1))
    return bins


def _read_manifest(path: str) -> list[tuple[int, str]]:
    """(doc_id, file_path) rows of a header-ed CSV manifest.  Driver-side
    by design — this is the planner's file inventory, not data."""
    import csv

    out: list[tuple[int, str]] = []
    with open(path, newline="", encoding="utf-8") as fh:
        for row in csv.DictReader(fh):
            out.append((int(row["doc_id"]), row["file_path"]))
    return out


class ManifestTextReader(DataSourceReader):
    def __init__(self, options):
        self.manifest = options.get("manifest")
        if not self.manifest:
            raise ValueError("manifest_text requires a `manifest` option")
        self.target_bytes = int(options.get("target_bytes", DEFAULT_TARGET_BYTES))
        self.strict = str(options.get("strict", "true")).lower() == "true"
        self._doc_ids: set[int] | None = None  # None = no pushed constraint
        self._path_eq: set[str] | None = None
        self._path_prefixes: list[str] = []

    # -- planner hooks --------------------------------------------------
    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("doc_id",):
                ids = {int(f.value)}
                self._doc_ids = ids if self._doc_ids is None else (self._doc_ids & ids)
            elif isinstance(f, In) and f.attribute == ("doc_id",):
                ids = {int(v) for v in f.value}
                self._doc_ids = ids if self._doc_ids is None else (self._doc_ids & ids)
            elif isinstance(f, EqualTo) and f.attribute == ("file_path",):
                ps = {str(f.value)}
                self._path_eq = ps if self._path_eq is None else (self._path_eq & ps)
            elif isinstance(f, StringStartsWith) and f.attribute == ("file_path",):
                self._path_prefixes.append(str(f.value))
            else:
                yield f  # unsupported: Spark evaluates it post-scan

    def _keep(self, doc_id: int, path: str) -> bool:
        if self._doc_ids is not None and doc_id not in self._doc_ids:
            return False
        if self._path_eq is not None and path not in self._path_eq:
            return False
        return all(path.startswith(p) for p in self._path_prefixes)

    def partitions(self):
        entries = [
            (doc_id, path)
            for doc_id, path in _read_manifest(self.manifest)
            if self._keep(doc_id, path)
        ]
        sized = []
        for doc_id, path in entries:
            try:
                n = os.path.getsize(path)
            except OSError:
                if self.strict:
                    raise FileNotFoundError(
                        f"manifest_text: missing file {path!r} (doc_id={doc_id}); "
                        "pass strict=false to skip missing files"
                    )
                continue
            sized.append((doc_id, path, n))
        bins = pack_by_size(sized, self.target_bytes)
        # an empty scan still needs one (empty) partition
        return [_FileSlice(tuple(b)) for b in bins] or [_FileSlice(())]

    # -- executor hook ---------------------------------------------------
    def read(self, partition):
        assert isinstance(partition, _FileSlice)
        # lenient mode decodes with errors="replace": a file that went
        # missing since planning is SKIPPED, but one with invalid UTF-8
        # bytes still ingests (best-effort text) — at production manifest
        # scale a stray binary/mis-encoded file must cost at most its own
        # row, never the scan (UnicodeDecodeError is not an OSError, so
        # it previously escaped the lenient path and failed the job)
        errors = "strict" if self.strict else "replace"
        for doc_id, path in partition.entries:
            try:
                with open(path, encoding="utf-8", errors=errors) as fh:
                    text = fh.read()
            except OSError:
                if self.strict:
                    raise
                continue
            yield (doc_id, path, text)


class ManifestTextStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch tail of a GROWING manifest: each trigger ingests the
    manifest rows appended since the last committed offset (offset =
    1-based count of data rows consumed).  Exactly-once by construction:
    the manifest is append-only, offsets are row counts, and
    ``readBetweenOffsets`` replays any [start, end) slice
    deterministically for recovery.  The incremental-ingest analogue of
    the reference's polling pipeline — new files land, a manifest row is
    appended, the stream picks the document up on the next trigger."""

    def __init__(self, options):
        self.manifest = options.get("manifest")
        if not self.manifest:
            raise ValueError("manifest_text requires a `manifest` option")
        self.strict = str(options.get("strict", "true")).lower() == "true"

    def initialOffset(self) -> dict:
        return {"rows": 0}

    def _rows_slice(self, start: int, end: int | None):
        entries = _read_manifest(self.manifest)
        stop = len(entries) if end is None else min(end, len(entries))
        out = []
        errors = "strict" if self.strict else "replace"  # as in the batch reader
        for doc_id, path in entries[start:stop]:
            try:
                with open(path, encoding="utf-8", errors=errors) as fh:
                    out.append((doc_id, path, fh.read()))
            except OSError:
                if self.strict:
                    raise
        return out, stop

    def read(self, start: dict):
        rows, stop = self._rows_slice(int(start["rows"]), None)
        return iter(rows), {"rows": stop}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._rows_slice(int(start["rows"]), int(end["rows"]))
        return iter(rows)


class ManifestTextDataSource(DataSource):
    """``spark.read.format("manifest_text").option("manifest", csv)`` →
    (doc_id, file_path, text), split-planned and pushdown-pruned; the
    same format under ``spark.readStream`` tails manifest appends as
    micro-batches."""

    @classmethod
    def name(cls) -> str:
        return "manifest_text"

    def schema(self) -> str:
        return "doc_id BIGINT, file_path STRING, text STRING"

    def reader(self, schema) -> ManifestTextReader:
        return ManifestTextReader(self.options)

    def simpleStreamReader(self, schema) -> ManifestTextStreamReader:
        return ManifestTextStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of every Python data source in this module.
    Also enables planner pushdown into Python sources for sessions not
    built by puma_matcher_spark.session (it is a runtime SQL conf)."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # locked-down session: reads still work, pushdown disabled
    spark.dataSource.register(ManifestTextDataSource)
