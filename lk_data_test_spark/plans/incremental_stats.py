"""File-delta INCREMENTAL validation: read only the files a run has not
validated yet, and merge their mergeable state into the stored one.

The checkpoint manifest (plans/manifest.py) resumes at PARTITION granularity:
a partition whose snapshot changed re-runs in full. Under append-only
ingestion (the Iceberg norm — snapshots that only ADD data files) that
re-reads every old row. This module is the fast path on top. Its one store
holds one entry per partition: the validated (file name -> size) set, the
partition's shared partials (plans/shared.py, kinds 0-5: n_tok histogram,
reference-token counts, len-mismatch, null-tokens and out-of-vocab rows, row
census) and its uniqueness sketch (operators/uniqueness.py, a Datasketches
HLL sketch of its doc_ids). The partials are count rows keyed by (source,
kind, key) that merge by addition, and sketches merge by union, so the
stored state plus that of the added files IS the state of a full recompute.
A run lists every partition once and classifies it:

  - skip   — file set unchanged: nothing read;
  - delta  — pure append (every validated file still present with the same
    size): only the added files are read, and their state merges into the
    stored one;
  - full   — anything else (rewrite, delete, size change, first sight, an
    entry of an older store format or recorded for other inputs): the whole
    partition is read, and its state replaces the stored one.

ONE ``build_shared`` pass and ONE ``uniqueness.sketch_state`` pass read the
files of every full partition and the added files of every delta partition.
The store records exactly the listing those passes read, so a file that
lands mid-run is read by the next run. The verdicts are the batch rules' own
``part_verdicts`` of the merged state, under the rule ``params`` of
``ValidationRunner``, so a delta verdict equals a fresh batch evaluation of
the grown table (asserted by tests). An input that changes while no file
does (the allowed sources, the thresholds, the profiles' quantiles) reaches
every partition without a scan. The stored state itself depends on the
vocab bounds (kind 4), the reference token domain (kind 1) and the
uniqueness screen's rsd, scope and always_exact; each entry records them
(``inputs``), and an entry recorded for other inputs is full.

Two verdicts are memoized in the entries, so an all-skip run re-scores
nothing and runs no uniqueness job: drift's per-partition metric, under a
(profiles, params) fingerprint, and uniqueness' metric and detail. A
flagged partition's exact pass reads the WHOLE partition — duplicates can
straddle old and new files, so no delta-only exact check is sound — except
that a skip partition's stored count is reused at partition scope. At
global scope the cross signal comes from the stored sketches with no scan:
an append that duplicates ids living in an untouched (skip) partition runs
the exact global pass over the whole table, the one case where a skip
partition's verdict changes without its files changing.

Two inputs fail fast instead of giving a wrong store: hashed-domain profiles
(as the run's one dimension read, ``read_dimensions``, marks them; bucket
folding is lossy, and stored partials would mix domains; the batch drift
rule handles them) and ``PartitionedTable(tolerate_corrupt=True)``
(the direct feed has no ``ignoreCorruptFiles``, and a skipped file must not
be recorded as validated; ValidationRunner reads such tables).

Scale shape: per-partition state is bounded by sources x (|reference tokens|
+ |distinct n_tok|) count rows, one sketch of at most 2^lgConfigK bytes and
a file->size dict — O(files), never O(rows); a run reads exactly the unseen
files; verdicts are driver work over the merged state.
"""

from __future__ import annotations

import base64
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..operators import column_stats, drift, referential, token_bounds, uniqueness
from ..sources.catalog import PartitionedTable
from .manifest import digest, load_store, save_store
from .rules import RuleContext
from .shared import (
    KIND_NTOK,
    KIND_ROWS,
    KIND_TOKEN,
    PARTIAL_KEYS,
    SharedTokenStats,
    build_shared,
    dimensions_for,
    merge_partials,
    vocab_bounds,
)

_PARTIALS = pa.schema(
    [("part_id", pa.int32()), ("source", pa.string()), ("kind", pa.int32()),
     ("key", pa.int64()), ("cnt", pa.int64())]
)


def classify_partitions(
    table: PartitionedTable,
    entries: dict[str, dict],
    listing: dict[int, dict[str, int]] | None = None,
) -> tuple[dict[int, list[str]], list[int], list[int]]:
    """File-level lineage triage of ``listing`` (part_id -> {file: size};
    the table is listed now when it is None) against the stored entries:
    -> (delta part -> added file paths, full parts, skipped parts)."""
    if listing is None:
        listing = {pid: table.part_files(pid) for pid in table.partition_ids()}
    delta: dict[int, list[str]] = {}
    full: list[int] = []
    skip: list[int] = []
    for pid, cur in listing.items():
        prior = entries.get(str(pid))
        if prior is None:
            full.append(pid)
            continue
        old = {k: int(v) for k, v in prior["files"].items()}
        if cur == old:
            skip.append(pid)
        elif all(cur.get(f) == sz for f, sz in old.items()):
            delta[pid] = [
                os.path.join(table.part_dir(pid), f)
                for f in sorted(set(cur) - set(old))
            ]
        else:  # rewrite / delete / size change -> full recompute
            full.append(pid)
    return delta, full, skip


class IncrementalStatsValidator:
    """The store of per-partition merged state, and every data rule's
    verdict from it.

    ``params`` take ``ValidationRunner``'s shape: top-level ``vocab_lo`` /
    ``vocab_size`` and the ``column_stats``, ``drift`` and ``uniqueness``
    dicts, each over its rule's defaults. ``run(spark)`` reads the unseen
    files, merges and stores their state, and leaves every rule's report —
    column_stats, token_bounds and uniqueness always, drift given
    ``profiles``, referential given ``allowed`` — in ``reports``, each
    {"parts": {part_id: {"mode", "passed", "metric", "detail"}}, "modes"};
    column_stats' parts add their "stats", and it adds "scanned_rows" (rows
    this run read). It returns the column_stats report.
    """

    def __init__(
        self,
        table: PartitionedTable,
        store_path: str,
        profiles=None,
        allowed=None,
        params: dict | None = None,
    ):
        self.params = params or {}
        self.drift = drift.resolve_params(self.params.get("drift"))
        self.uniq = {**uniqueness.DEFAULTS, **self.params.get("uniqueness", {})}
        self.lg_k = uniqueness.lg_config_k(self.uniq["rsd"])
        if table.tolerate_corrupt:
            raise ValueError(
                "incremental validation reads every listed file directly and "
                "cannot skip a corrupt one; validate a tolerate_corrupt table "
                "with ValidationRunner"
            )
        self.table = table
        self.store_path = store_path
        self.profiles = profiles
        self.allowed = allowed
        self.entries: dict[str, dict] = load_store(store_path)
        self.listing: dict[int, dict[str, int]] = {}
        self.reports: dict[str, dict] = {}

    def _files(self, pids) -> list[tuple[int, str]]:
        """(part_id, path) of every listed file of ``pids``."""
        return [
            (pid, os.path.join(self.table.part_dir(pid), f))
            for pid in pids
            for f in sorted(self.listing[pid])
        ]

    def _read(self, spark: SparkSession, files: list[tuple[int, str]]) -> DataFrame:
        """Exactly these files, ``part_id`` derived from their paths, under
        the table's schema (memoized by ``read_parquet``): a read without a
        schema runs a footer-inference job each time."""
        return (
            spark.read.schema(self.table.read(spark).schema)
            .option("basePath", self.table.path)
            .parquet(*(path for _, path in files))
        )

    def run(self, spark: SparkSession) -> dict:
        ctx = RuleContext(spark, self.allowed, self.profiles, params=self.params)
        dims = dimensions_for(ctx)  # the one read of the dimension tables
        if dims.hash_mod:
            raise ValueError(
                "hashed-domain profiles are not supported incrementally; "
                "run the batch drift rule"
            )
        # the one listing this run classifies, reads and records
        self.listing = {
            pid: self.table.part_files(pid) for pid in self.table.partition_ids()
        }
        inputs = {
            "vocab": list(vocab_bounds(self.params)),
            "domain": digest(dims.domain),
            **{k: self.uniq[k] for k in uniqueness.DEFAULTS},
        }
        delta, full, skip = classify_partitions(
            self.table,
            {k: e for k, e in self.entries.items() if e.get("inputs") == inputs},
            self.listing,
        )
        modes = {pid: "full" for pid in full}
        modes.update({pid: "delta" for pid in delta})
        modes.update({pid: "skip" for pid in skip})

        stored = [
            (pid, *r)
            for pid in (*delta, *skip)
            for r in self.entries[str(pid)]["partials"]
        ]
        merged = pa.Table.from_arrays(
            [
                pa.array(col, f.type)
                for col, f in zip(list(zip(*stored)) or [()] * 5, _PARTIALS)
            ],
            schema=_PARTIALS,
        )
        files = self._files(full) + [
            (pid, path) for pid, paths in delta.items() for path in paths
        ]
        scanned_rows = 0
        sketches: dict[int, uniqueness.State] = {}
        if files:
            new = build_shared(None, ctx, direct_files=files)
            scanned_rows = sum(new.counts_by_part(KIND_ROWS).values())
            merged = merge_partials(
                pa.concat_tables([merged, new.table().cast(_PARTIALS)])
            ).sort_by([(k, "ascending") for k in PARTIAL_KEYS])
            sketches = uniqueness.sketch_state(self._read(spark, files), self.lg_k)
        by_part: dict[int, list] = {pid: [] for pid in (*full, *delta)}
        for pid, *r in zip(*(c.to_pylist() for c in merged.columns)):
            if pid in by_part:
                by_part[pid].append(r)
        for pid, partials in by_part.items():
            # a delta entry keeps its sketch for the union below
            self.entries[str(pid)] = {
                **(self.entries[str(pid)] if pid in delta else {}),
                "files": self.listing[pid],
                "inputs": inputs,
                "partials": partials,
            }
        shared = SharedTokenStats.collected(merged)
        if by_part:  # else every stored uniqueness verdict stands
            self._uniqueness(spark, shared, sketches, modes)

        def report(verdicts: dict, stats=None) -> dict:
            parts = {
                pid: {"mode": modes[pid], "passed": passed, "metric": metric,
                      "detail": detail, **({"stats": stats[pid]} if stats else {})}
                for pid, (passed, metric, _, detail) in sorted(verdicts.items())
            }
            return {"parts": parts, "modes": {p: r["mode"] for p, r in parts.items()}}

        part_ids = sorted(modes)
        entries = [self.entries[str(pid)] for pid in part_ids]
        self.reports = {
            "column_stats": {
                **report(*column_stats.part_verdicts(shared, self.params, part_ids)),
                "scanned_rows": scanned_rows,
            },
            "token_bounds": report(
                token_bounds.part_verdicts(shared, self.params, part_ids)
            ),
            "uniqueness": report({
                pid: uniqueness.verdict(e["uniqueness_metric"], e["uniqueness_detail"])
                for pid, e in zip(part_ids, entries)
            }),
        }
        if self.allowed is not None:
            self.reports["referential"] = report(
                referential.part_verdicts(shared, dims.active, part_ids)
            )
        rescored = []
        if self.profiles is not None:
            verdicts, rescored = self._drift(shared, dims, modes)
            self.reports["drift"] = report(verdicts)
        if by_part or rescored:
            save_store(self.store_path, self.entries, None)
        return self.reports["column_stats"]

    def _uniqueness(self, spark, shared: SharedTokenStats, sketches, modes) -> None:
        """Store every partition's uniqueness metric and detail, and the
        sketch of every read partition.

        A full partition's sketch is the one this run made; a delta or skip
        partition's is the stored sketch unioned with the delta's. The rows
        are the merged kind-5 census. A skip partition's stored count is
        known, so a still-flagged partition's exact pass is not replayed on
        every run."""
        union = uniqueness.union_state(spark, {
            pid: [(0, base64.b64decode(self.entries[str(pid)]["sketch_b64"])),
                  *([(0, sketches[pid][1])] if pid in sketches else [])]
            for pid, mode in modes.items()
            if mode != "full"
        })
        rows = shared.counts_by_part(KIND_ROWS)
        state = {
            pid: (rows.get(pid, 0), *union.get(pid, sketches.get(pid, (0, b"", 0.0)))[1:])
            for pid in modes
        }
        verdicts, _ = uniqueness.part_verdicts(
            spark, state, self.uniq,
            lambda pids: self._read(spark, self._files(pids)),
            sorted(modes),
            known={
                pid: self.entries[str(pid)]["uniqueness_metric"]
                for pid, mode in modes.items()
                if mode == "skip"
            },
        )
        for pid, mode in modes.items():
            e = self.entries[str(pid)]
            if mode != "skip":
                e["sketch_b64"] = base64.b64encode(state[pid][1]).decode()
            # the memo: exact counts (and screen zeros) ride the store
            _, e["uniqueness_metric"], _, e["uniqueness_detail"] = verdicts[pid]

    def _drift(self, shared: SharedTokenStats, dims, modes):
        """Every partition's drift verdict, the metric of each re-scored
        partition stored in its entry -> (verdicts, the re-scored parts).

        The metric is a pure function of (partials, profiles, params): a
        skip partition whose stored fingerprint matches keeps its metric. A
        profile or threshold change re-scores from the stored partials, with
        no scan."""
        fp = digest([
            sorted(
                (s, [float(q) for q in qs],
                 sorted((int(k), float(v)) for k, v in dims.token_freq[s].items()))
                for s, qs in dims.quantiles.items()
            ),
            self.drift,
        ])
        known = {
            pid: self.entries[str(pid)]["drift_metric"]
            for pid, mode in modes.items()
            if mode == "skip" and self.entries[str(pid)].get("drift_fp") == fp
        }
        verdicts, _ = drift.part_verdicts(
            shared.rows(KIND_NTOK, KIND_TOKEN), dims, self.drift, sorted(modes), known
        )
        rescored = [pid for pid in modes if pid not in known]
        for pid in rescored:
            self.entries[str(pid)].update(drift_metric=verdicts[pid][1], drift_fp=fp)
        return verdicts, rescored


def run_incremental_suite(
    spark: SparkSession,
    table: PartitionedTable,
    manifest_dir: str,
    profiles=None,
    allowed=None,
    params: dict | None = None,
) -> dict[str, dict]:
    """The ``IncrementalStatsValidator.reports`` of one run over the one
    store ``incremental_stats.json`` in ``manifest_dir``, under ``params``
    in ``ValidationRunner``'s shape."""
    v = IncrementalStatsValidator(
        table,
        os.path.join(manifest_dir, "incremental_stats.json"),
        profiles=profiles,
        allowed=allowed,
        params=params,
    )
    v.run(spark)
    return v.reports
