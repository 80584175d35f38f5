"""Catalog abstraction: Iceberg-style per-partition lineage over plain parquet.

The production design targets an Iceberg table (snapshot ids + file manifests
from the ``table.snapshots`` / ``table.files`` metadata tables). This sandbox
has no iceberg-spark-runtime jar, so the same contract is implemented over a
directory layout ``<root>/part_id=<k>/*.parquet``: the *snapshot id* of a
partition is a stable digest of its (file name, size) pairs — any rewrite of
the partition changes it, which is exactly what the resume logic needs.

Reference analog: the idempotent re-run machinery of
``/root/reference/scripts/enrich_fackel_bibls.py:18-25`` (delete derived
matches, keep manual ones) — re-expressed as per-partition lineage instead of
in-place XML mutation.

Every plain parquet read of the engine goes through ``read_parquet``, which
memoizes the schema Spark inferred for the life of the Python process. A
``spark.read.parquet`` without a schema runs one Spark job to read footers
(~80 ms a read on 4 cores); the same read given that schema runs none. The
memo keeps one entry per absolute path, keyed on

- the identity of every data file under the path (relative name, size and
  ``mtime_ns`` of each ``*.parquet`` file, ``part_id=<k>/`` directories
  included), so a rewrite, an appended file or a new partition re-infers;
- the session's values of the confs that change parquet inference
  (``_INFER_CONFS``).

It holds schemas only, never a DataFrame, file index or data: every read
still lists the files, so an appended file is always scanned. Paths with a
URI scheme other than ``file`` skip the memo, as does the corrupt-tolerant
read of ``PartitionedTable``.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PART_RE = re.compile(r"^part_id=(\d+)$")


def parquet_files(d: str) -> dict[str, os.stat_result]:
    """{relative name: stat} of the parquet files Spark reads under ``d``:
    ``d`` itself when it is a file, else the files of ``d`` and of its
    subdirectories (``part_id=<k>/...``), skipping names that start with
    ``_`` or ``.`` as Spark's listing does."""
    if not os.path.isdir(d):
        return {"": os.stat(d)}
    out = {}
    for top, dirs, names in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        rel = os.path.relpath(top, d)
        for f in names:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out[f if rel == "." else os.path.join(rel, f)] = os.stat(
                    os.path.join(top, f)
                )
    return out


def parquet_sizes(d: str) -> dict[str, int]:
    """{parquet file name: size in bytes} under one directory."""
    return {f: st.st_size for f, st in parquet_files(d).items()}


def files_digest(files: dict[str, object]) -> str:
    """Stable digest of a {file name: identity} map (a size, or a
    (size, mtime_ns) pair): any rewrite changes it."""
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f"{f}:{files[f]};".encode())
    return h.hexdigest()[:16]


# session confs that change what spark.read.parquet infers from the same files
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# {absolute path: (key, schema Spark inferred)}. The key holds every input
# of the inference, so sessions and tests in one process can share it; a
# racing miss infers twice and stores equal schemas, so a plain dict is enough.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, given the schema Spark inferred the last
    time it read the same files under the same confs (see the module doc)."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return spark.read.parquet(path)
    local = os.path.abspath(url.path if url.scheme else path)
    try:
        files = parquet_files(local)
    except OSError:  # let Spark raise its own PATH_NOT_FOUND
        return spark.read.parquet(path)
    key = (
        files_digest({f: (st.st_size, st.st_mtime_ns) for f, st in files.items()}),
        tuple(spark.conf.get(k, None) for k in _INFER_CONFS),
    )
    hit = _SCHEMAS.get(local)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[local] = (key, df.schema)
    return df


@dataclass(frozen=True)
class PartitionInfo:
    part_id: int
    snapshot_id: str
    files: tuple[str, ...]


class PartitionedTable:
    """A parquet table partitioned by ``part_id`` with lineage inspection."""

    def __init__(
        self,
        path: str,
        partition_col: str = "part_id",
        tolerate_corrupt: bool = False,
        schema=None,
    ):
        self.path = path
        self.partition_col = partition_col
        # At 10^12 rows a single truncated/corrupt file must not abort the
        # whole suite: with tolerate_corrupt the scan skips unreadable files
        # (they surface as a lineage change — the partition's snapshot digest
        # differs on the next healthy listing — rather than a job failure).
        # Pass ``schema`` too when tolerating: Spark infers the parquet schema
        # from ONE sampled file, and if that file is the corrupt one the read
        # dies with UNABLE_TO_INFER_SCHEMA before ignoreCorruptFiles can help.
        # Without an explicit schema the tolerant path falls back to
        # mergeSchema (all healthy footers, read in parallel).
        self.tolerate_corrupt = tolerate_corrupt
        self.schema = schema

    # -- reading ---------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        if self.schema is None and not self.tolerate_corrupt:
            return read_parquet(spark, self.path)
        r = spark.read
        if self.schema is not None:
            r = r.schema(self.schema)
        if self.tolerate_corrupt:
            r = r.option("ignoreCorruptFiles", "true")
            if self.schema is None:
                r = r.option("mergeSchema", "true")
        return r.parquet(self.path)

    def read_partitions(self, spark: SparkSession, part_ids: list[int]) -> DataFrame:
        """Partition-pruned read: the filter on the directory column prunes
        at file-listing time (no data files of other partitions are opened)."""
        from pyspark.sql import functions as F

        df = self.read(spark)
        return df.filter(F.col(self.partition_col).isin([int(p) for p in part_ids]))

    # -- lineage ---------------------------------------------------------
    def partition_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.path):
            m = _PART_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def part_dir(self, part_id: int) -> str:
        return os.path.join(self.path, f"part_id={part_id}")

    def part_files(self, part_id: int) -> dict[str, int]:
        """{parquet file name: size in bytes} of one partition."""
        return parquet_sizes(self.part_dir(part_id))

    def partition_info(self, part_id: int) -> PartitionInfo:
        sizes = self.part_files(part_id)
        return PartitionInfo(part_id, files_digest(sizes), tuple(sorted(sizes)))

    def snapshot_ids(self) -> dict[int, str]:
        return {p: self.partition_info(p).snapshot_id for p in self.partition_ids()}
