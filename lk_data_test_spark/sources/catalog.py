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
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_PART_RE = re.compile(r"^part_id=(\d+)$")

try:  # pragma: no cover - exercised only when the Iceberg jar is present
    import pyiceberg  # type: ignore  # noqa: F401

    HAS_ICEBERG = True
except Exception:  # ImportError in this sandbox
    HAS_ICEBERG = False


def parquet_sizes(d: str) -> dict[str, int]:
    """{parquet file name: size in bytes} of one directory."""
    return {
        f: os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def files_digest(sizes: dict[str, int]) -> str:
    """Stable digest of a (file name, size) set: any rewrite changes it."""
    h = hashlib.sha256()
    for f in sorted(sizes):
        h.update(f"{f}:{sizes[f]};".encode())
    return h.hexdigest()[:16]


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
