"""Dimension-update sink (SURVEY §2 S8): the MERGE INTO analog over parquet.

The reference mutates its dimension index in place: delete previously-derived
match entries, keep ``@resp="manual"`` ones, insert the new derivation
(``/root/reference/scripts/enrich_fackel_bibls.py:18-25``,
``enrich_person_indices.py:58``). On a cluster with an Iceberg catalog this is
one statement::

    MERGE INTO dim USING derived ON dim.key = derived.key
    WHEN MATCHED AND dim.origin = 'derived' THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

This sandbox has no iceberg-spark-runtime jar, so the same contract is
implemented as versioned snapshot directories: each upsert writes
``snapshot=N+1`` in full and then flips a tiny JSON head pointer — readers
always see one consistent snapshot, concurrent readers of snapshot N are never
disturbed, and the head records lineage (snapshot number, parent, provenance
counts). Dimensions are small by definition in this engine (they are the
broadcast side of every join), so a full rewrite per upsert is the right
trade: one narrow shuffle-free write, no tombstone compaction.

Scale shape: preserved rows (human corrections) are few, so key precedence is
a broadcast left-anti join of the derived rows against the preserved keys —
the big derived side never shuffles.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import files_digest, parquet_sizes, read_parquet

_HEAD = "_head.json"


class DimensionStore:
    """Versioned dimension snapshots with derived-row upsert semantics.

    Rows carry a provenance column (default ``origin``); ``'manual'`` rows —
    and any other non-``'derived'`` provenance — survive every upsert and take
    precedence over an incoming derived row with the same key.
    """

    def __init__(self, path: str, key: str, origin_col: str = "origin"):
        self.path = path
        self.key = key
        self.origin_col = origin_col

    # -- head pointer ------------------------------------------------------
    def head(self) -> dict | None:
        p = os.path.join(self.path, _HEAD)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _snapshot_dir(self, n: int) -> str:
        return os.path.join(self.path, f"snapshot={n}")

    def _snapshot_digest(self, n: int) -> str:
        return files_digest(parquet_sizes(self._snapshot_dir(n)))

    def _commit(self, n: int, parent: dict | None, counts: dict) -> dict:
        head = {
            "snapshot": n,
            "snapshot_id": self._snapshot_digest(n),
            "parent_snapshot": None if parent is None else parent["snapshot"],
            "parent_snapshot_id": None if parent is None else parent["snapshot_id"],
            "counts": counts,
        }
        tmp = os.path.join(self.path, _HEAD + ".tmp")
        with open(tmp, "w") as f:
            json.dump(head, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, _HEAD))  # atomic flip
        return head

    # -- reads -------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        head = self.head()
        if head is None:
            raise FileNotFoundError(f"dimension store {self.path} has no head")
        return read_parquet(spark, self._snapshot_dir(head["snapshot"]))

    # -- writes ------------------------------------------------------------
    def init(self, df: DataFrame) -> dict:
        """Create snapshot 0 from an initial dimension table."""
        if self.head() is not None:
            raise FileExistsError(f"dimension store {self.path} already exists")
        df.coalesce(1).write.mode("errorifexists").parquet(self._snapshot_dir(0))
        return self._commit(0, None, {"total": df.count()})

    def upsert_derived(self, spark: SparkSession, derived: DataFrame) -> dict:
        """The delete_old_matches + manual-precedence contract:

        1. every existing row with ``origin != 'derived'`` is preserved;
        2. every existing ``origin == 'derived'`` row is dropped (replaced
           wholesale by this derivation — exact-match deletes only, per the
           reference);
        3. incoming rows are stamped ``origin='derived'`` and any whose key
           collides with a preserved row are dropped (manual wins);
        4. the result becomes snapshot N+1 and the head pointer flips.
        """
        head = self.head()
        if head is None:
            raise FileNotFoundError(f"dimension store {self.path} has no head")
        cur = self.read(spark)
        preserved = cur.filter(F.col(self.origin_col) != F.lit("derived"))
        incoming = derived.withColumn(self.origin_col, F.lit("derived")).select(
            *cur.columns
        )
        # preserved keys are few (human corrections): broadcast the anti side
        incoming = incoming.join(
            F.broadcast(preserved.select(self.key)), self.key, "left_anti"
        )
        out = preserved.unionByName(incoming)
        n = int(head["snapshot"]) + 1
        out.coalesce(1).write.mode("errorifexists").parquet(self._snapshot_dir(n))
        snap = spark.read.parquet(self._snapshot_dir(n))
        counts = {
            "total": snap.count(),
            "derived": snap.filter(F.col(self.origin_col) == "derived").count(),
            "preserved": snap.filter(F.col(self.origin_col) != "derived").count(),
        }
        return self._commit(n, head, counts)
