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
driver functions of the merged state — column_stats ``part_stats`` and
``BAD_FIELDS``, token_bounds' kind-4 counts, referential ``unknown_by_part``,
drift ``score_groups``, uniqueness ``screen`` — under the rule ``params`` of
``ValidationRunner``, so a delta verdict equals a fresh batch evaluation of
the grown table (asserted by tests). An input that changes while no file
does (the allowed sources, the thresholds, the profiles' quantiles) reaches
every partition without a scan. The stored state itself depends on the
vocab bounds (kind 4), the reference token domain (kind 1) and the
uniqueness screen's rsd, scope and always_exact; each entry records them
(``inputs``), and an entry recorded for other inputs is full. Drift's
per-partition metric is memoized under a (profiles, params) fingerprint, so
an all-skip run re-scores nothing.

Uniqueness screens the merged sketches (the rows are the kind-5 census), and
the exact hash-group pass runs only for a partition the screen flags. A
flagged partition falls back to the exact pass over the WHOLE partition —
duplicates can straddle old and new files, so no delta-only exact check is
sound; the screen's job is making that full pass rare. At partition scope a
skip partition's stored exact count is reused, so a still-flagged partition
keeps its exact verdict on every run, including skip runs — the manifest's
failure-replay contract. At global scope the cross signal (sum of
estimates minus the estimate of the union of every sketch) comes from the
stored sketches with no scan: an append that duplicates ids living in an
untouched (skip) partition flips the signal and runs the exact global pass
over the whole table — the one case where a skip partition's verdict changes
without its files changing, which is the point of the global scope. A run
where every partition skips returns the stored verdicts with no uniqueness
job.

Two inputs fail fast instead of giving a wrong store: hashed-domain profiles
(their bucket folding is lossy, and stored partials would mix domains; the
batch drift rule handles them) and ``PartitionedTable(tolerate_corrupt=True)``
(the direct feed has no ``ignoreCorruptFiles``, and a skipped file must not
be recorded as validated; ValidationRunner reads such tables).

Scale shape: per-partition state is bounded by sources x (|reference tokens|
+ |distinct n_tok|) count rows, one sketch of at most 2^lgConfigK bytes and
a file->size dict — O(files), never O(rows); a run reads exactly the unseen
files; verdicts are driver work over the merged state.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import column_stats, drift, referential, uniqueness
from ..sources.catalog import PartitionedTable
from .manifest import load_store, save_store
from .rules import RuleContext
from .shared import (
    KIND_NTOK,
    KIND_OOV_ROWS,
    KIND_ROWS,
    KIND_TOKEN,
    SharedTokenStats,
    build_shared,
    vocab_bounds,
)

_KEYS = ["part_id", "source", "kind", "key"]
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


def _count_by_part(df) -> dict[int, int]:
    rows = df.groupBy("part_id").agg(F.count(F.lit(1)).alias("n")).collect()
    return {int(r["part_id"]): int(r["n"]) for r in rows}


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, default=str).encode()).hexdigest()[:16]


class IncrementalStatsValidator:
    """The store of per-partition merged state, and every data rule's
    verdict from it.

    ``params`` take ``ValidationRunner``'s shape: top-level ``vocab_lo`` /
    ``vocab_size`` and the ``column_stats``, ``drift`` and ``uniqueness``
    dicts, each over its rule's defaults. ``run(spark)`` reads the unseen
    files, merges and stores their state, and returns the column_stats
    report: {"parts": {part_id: {"mode", "passed", "metric", "stats"}},
    "scanned_rows" (rows this run read), "modes"}. Every rule's report —
    column_stats, token_bounds and uniqueness always, drift given
    ``profiles``, referential given ``allowed`` — is left in ``reports``,
    each {"parts": {part_id: {"mode", "passed", "metric", ...}}, "modes"};
    uniqueness adds each partition's ``detail`` (path=screen|exact).
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
        prof_rows = self.profiles.collect() if self.profiles is not None else []
        domain = sorted({int(t) for r in prof_rows for t in r["token_freq"]})
        if len(domain) > int(self.drift["max_ref_tokens"]):
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
            "domain": _digest(domain),
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
            ctx = RuleContext(
                spark=spark, reference_profiles=self.profiles, params=self.params
            )
            new = build_shared(None, ctx, direct_files=files)
            scanned_rows = sum(new.counts_by_part(KIND_ROWS).values())
            merged = (
                pa.concat_tables([merged, new.table().cast(_PARTIALS)])
                .group_by(_KEYS, use_threads=False)
                .aggregate([("cnt", "sum")])
                .rename_columns([*_KEYS, "cnt"])
                .sort_by([(k, "ascending") for k in _KEYS])
            )
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
        if by_part:
            # with every partition skipped, every stored uniqueness verdict
            # stands (at global scope too): no uniqueness job runs
            self._uniqueness(spark, shared, sketches, modes)

        def report(metric: dict, passed, **extra) -> dict:
            parts = {
                pid: {
                    "mode": modes[pid],
                    "metric": float(metric.get(pid, 0)),
                    "passed": passed(float(metric.get(pid, 0))),
                    **{k: v[pid] for k, v in extra.items()},
                }
                for pid in sorted(modes)
            }
            return {"parts": parts, "modes": {p: r["mode"] for p, r in parts.items()}}

        def stored_metric(key: str) -> dict:
            return {pid: self.entries[str(pid)][key] for pid in modes}

        cs = {**column_stats.DEFAULTS, **self.params.get("column_stats", {})}
        stats = column_stats.part_stats(shared, cs["bucket_width"], modes)
        bad = {
            pid: sum(s[k] for k in column_stats.BAD_FIELDS)
            for pid, s in stats.items()
        }
        self.reports = {
            "column_stats": {
                **report(bad, lambda m: m <= cs["max_null_rate"], stats=stats),
                "scanned_rows": scanned_rows,
            },
            "token_bounds": report(
                shared.counts_by_part(KIND_OOV_ROWS), lambda m: m == 0.0
            ),
            "uniqueness": report(
                stored_metric("uniqueness_metric"),
                lambda m: m == 0.0,
                detail=stored_metric("uniqueness_detail"),
            ),
        }
        if self.allowed is not None:
            self.reports["referential"] = report(
                referential.unknown_by_part(shared, self.allowed),
                lambda m: m == 0.0,
            )
        rescored = []
        if self.profiles is not None:
            rescored = self._drift(shared, prof_rows, modes)
            self.reports["drift"] = report(
                stored_metric("drift_metric"), lambda m: m <= 1.0
            )
        if by_part or rescored:
            save_store(self.store_path, self.entries, None)
        return self.reports["column_stats"]

    def _uniqueness(self, spark, shared: SharedTokenStats, sketches, modes) -> None:
        """Screen every partition's merged sketch and store its uniqueness
        metric and detail; the sketch of every read partition is stored.

        A full partition's sketch is the one this run made; a delta or skip
        partition's is the stored sketch unioned with the delta's. The rows
        are the merged kind-5 census."""
        rsd, scope = self.uniq["rsd"], self.uniq["scope"]
        stored = {
            pid: [(0, base64.b64decode(self.entries[str(pid)]["sketch_b64"]))]
            for pid, mode in modes.items()
            if mode != "full"
        }
        for pid, (_, sk, _) in sketches.items():
            if pid in stored:
                stored[pid].append((0, sk))
        sketch = {
            pid: sketches.get(pid, (0, b"", 0.0))[1:]
            for pid in modes
            if pid not in stored
        }
        sketch.update(
            (pid, s[1:]) for pid, s in uniqueness.union_state(spark, stored).items()
        )
        rows = shared.counts_by_part(KIND_ROWS)
        state = {pid: (rows.get(pid, 0), *sketch[pid]) for pid in modes}
        exact = (
            set(modes)
            if self.uniq["always_exact"]
            else uniqueness.screen(spark, state, rsd, scope, state)
        )
        exact_pass, _, suffix = uniqueness.exact_path(scope)
        # Partition-scope exact results are pure functions of the partition's
        # file set: a SKIP partition's stored exact dup count cannot have
        # changed, so it is reused instead of re-scanning — at 10^12 rows,
        # replaying the exact pass over every flagged-but-unchanged partition
        # on every run is the difference between an O(delta) rerun and an
        # O(all flagged data) one. (Global scope cannot memoize per
        # partition: its exact counts depend on the SET of partitions
        # scanned together.)
        dups = {}
        if scope != "global":
            dups = {
                pid: float(self.entries[str(pid)]["uniqueness_metric"])
                for pid in exact
                if modes[pid] == "skip"
            }
        need_exact = sorted(set(exact) - set(dups))
        if need_exact:
            dups.update(
                _count_by_part(exact_pass(self._read(spark, self._files(need_exact))))
            )
        for pid, mode in modes.items():
            e = self.entries[str(pid)]
            if mode != "skip":
                e["sketch_b64"] = base64.b64encode(state[pid][1]).decode()
            # the memo: exact counts (and screen zeros) ride the store
            e["uniqueness_metric"] = float(dups.get(pid, 0) if pid in exact else 0)
            e["uniqueness_detail"] = (
                "path=exact" if pid in exact else "path=screen"
            ) + suffix

    def _drift(self, shared: SharedTokenStats, prof_rows, modes) -> list[int]:
        """Store every partition's drift metric (max score over its (part,
        source) groups, 0 with none) in its entry; -> the re-scored parts.

        The metric is a pure function of (partials, profiles, params): a
        skip partition whose stored fingerprint matches keeps its metric,
        since re-scoring every skip partition on every run is O(n_parts x
        sources x histogram domain) of driver Python. A profile or threshold
        change re-scores from the stored partials, with no scan."""
        fp = _digest(
            [
                sorted(
                    (
                        r["source"],
                        [float(q) for q in r["n_tok_quantiles"]],
                        sorted((int(k), float(v)) for k, v in r["token_freq"].items()),
                    )
                    for r in prof_rows
                ),
                {k: self.drift[k] for k in sorted(self.drift)},
            ]
        )
        todo = [
            pid
            for pid, mode in modes.items()
            if mode != "skip" or self.entries[str(pid)].get("drift_fp") != fp
        ]
        if todo:
            quantiles, token_freq = drift.profile_maps(prof_rows)
            t = shared.rows(KIND_NTOK, KIND_TOKEN)
            t = t.filter(pc.is_in(t["part_id"], value_set=pa.array(todo, pa.int32())))
            metric = dict.fromkeys(todo, 0.0)
            for pid, *_, score in drift.score_groups(
                t, quantiles, token_freq, self.drift
            ):
                metric[pid] = max(metric[pid], score)
            for pid in todo:
                self.entries[str(pid)].update(drift_metric=metric[pid], drift_fp=fp)
        return todo


def run_incremental_suite(
    spark: SparkSession,
    table: PartitionedTable,
    manifest_dir: str,
    profiles=None,
    allowed=None,
    params: dict | None = None,
) -> dict[str, dict]:
    """The incremental data-rule suite over the one store
    ``incremental_stats.json`` in ``manifest_dir``, under ``params`` in
    ``ValidationRunner``'s shape. The unseen files' ``tokens`` are decoded
    once, by the one shared pass.

    Returns {"column_stats": ..., "token_bounds": ..., "drift": ...,
    "referential": ..., "uniqueness": ...}, each {"parts", "modes"} (plus
    column_stats' "scanned_rows"); drift/referential are absent when their
    dimension input is None.
    """
    v = IncrementalStatsValidator(
        table,
        os.path.join(manifest_dir, "incremental_stats.json"),
        profiles=profiles,
        allowed=allowed,
        params=params,
    )
    v.run(spark)
    return v.reports
