"""File-delta INCREMENTAL validation: read only the files a run has not
validated yet, and merge their mergeable partials into the stored ones.

The checkpoint manifest (plans/manifest.py) resumes at PARTITION granularity:
a partition whose snapshot changed re-runs in full. Under append-only
ingestion (the Iceberg norm — snapshots that only ADD data files) that
re-reads every old row. This module is the fast path on top. Per partition
its store holds the validated (file name -> size) set and the partition's
shared partials (plans/shared.py, kinds 0-5: n_tok histogram, reference-token
counts, len-mismatch, null-tokens and out-of-vocab rows, row census). They
are count rows keyed by (source, kind, key) that merge by addition, so the
stored partials plus those of the added files ARE the partials of a full
recompute. A run lists every partition once and classifies it:

  - skip   — file set unchanged: nothing read;
  - delta  — pure append (every validated file still present with the same
    size): only the added files are read, and their partials add to the
    stored ones;
  - full   — anything else (rewrite, delete, size change, first sight, an
    entry of an older store format or recorded for other pass inputs): the
    whole partition is read, and its partials replace the stored ones.

ONE ``build_shared`` pass reads the files of every full partition and the
added files of every delta partition through the direct feed. The store
records exactly the listing that pass read, so a file that lands mid-run is
read by the next run. The verdicts are the batch rules' own driver functions
of the merged partials — column_stats ``part_stats`` and ``BAD_FIELDS``,
token_bounds' kind-4 counts, referential ``unknown_by_part``, drift
``score_groups`` — so a delta verdict equals a fresh batch evaluation of the
grown table (asserted by tests). An input that changes while no file does
(the allowed sources, the drift thresholds, the profiles' quantiles) reaches
every partition without a scan. The partials themselves depend on two pass
inputs, the vocab bounds (kind 4) and the reference token domain (kind 1);
each entry records them, and an entry recorded for other inputs is full.
Drift's per-partition metric is memoized under a (profiles, params)
fingerprint, so an all-skip run re-scores nothing.

Uniqueness keeps its own store, because its Datasketches HLL state is not a
shared-pass kind (IncrementalUniquenessValidator). It is the batch rule's
state and screen (operators/uniqueness.py ``sketch_state``, ``union_state``,
``screen``): the stored sketch UNIONS with the delta's, the exact row count
adds, and the exact hash-group pass runs only for a partition the merged
screen flags. Its entries record their own inputs, the screen's rsd and
scope.

Two inputs fail fast instead of giving a wrong store: hashed-domain profiles
(their bucket folding is lossy, and stored partials would mix domains; the
batch drift rule handles them) and ``PartitionedTable(tolerate_corrupt=True)``
(the direct feed has no ``ignoreCorruptFiles``, and a skipped file must not
be recorded as validated; ValidationRunner reads such tables).

Scale shape: per-partition state is bounded by sources x (|reference tokens|
+ |distinct n_tok|) count rows plus a file->size dict — O(files), never
O(rows); a run reads exactly the unseen files; verdicts are driver work over
the merged count rows.
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

from ..operators import drift, referential, uniqueness
from ..operators.column_stats import BAD_FIELDS, part_stats
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


class _IncrementalValidator:
    """What both incremental stores share: the file-lineage JSON store, the
    one listing a run classifies, reads and records, and the report shape."""

    _indent: int | None = 1  # JSON indent of the store file

    def __init__(self, table: PartitionedTable, store_path: str):
        if table.tolerate_corrupt:
            raise ValueError(
                "incremental validation reads every listed file directly and "
                "cannot skip a corrupt one; validate a tolerate_corrupt table "
                "with ValidationRunner"
            )
        self.table = table
        self.store_path = store_path
        self.entries: dict[str, dict] = load_store(store_path)
        self.listing: dict[int, dict[str, int]] = {}
        self.inputs: dict = {}

    def _save(self) -> None:
        save_store(self.store_path, self.entries, self._indent)

    def _classify(self, inputs: dict):
        """List the table once (the listing this run reads and records) and
        classify it against the entries recorded for ``inputs`` (the inputs
        that shape an entry's state and verdicts); an entry recorded for
        other inputs, or in an older store format without them, is full."""
        self.inputs = inputs
        self.listing = {
            pid: self.table.part_files(pid) for pid in self.table.partition_ids()
        }
        entries = {k: e for k, e in self.entries.items() if e.get("inputs") == inputs}
        return classify_partitions(self.table, entries, self.listing)

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

    def _record(self, pid: int, **state) -> None:
        self.entries[str(pid)] = {
            "files": self.listing[pid], "inputs": self.inputs, **state
        }

    @staticmethod
    def _report(results: dict[int, dict]) -> dict:
        modes = {pid: r["mode"] for pid, r in sorted(results.items())}
        return {"parts": results, "modes": modes}


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, default=str).encode()).hexdigest()[:16]


class IncrementalStatsValidator(_IncrementalValidator):
    """The store of merged per-partition shared partials, and every verdict
    they give.

    ``run(spark)`` reads the unseen files in one shared pass, merges and
    stores the partials, and returns the column_stats report: {"parts":
    {part_id: {"mode", "passed", "metric", "stats"}}, "scanned_rows" (rows
    this run read), "modes"}. Every rule's report — column_stats and
    token_bounds always, drift given ``profiles``, referential given
    ``allowed`` — is left in ``reports``, each {"parts": {part_id: {"mode",
    "passed", "metric", ...}}, "modes"}. ``params`` are drift's.
    """

    _indent = None  # the partials store is the large one: compact JSON

    def __init__(
        self,
        table: PartitionedTable,
        store_path: str,
        bucket_width: int = 64,
        max_bad: float = 0.0,
        profiles=None,
        allowed=None,
        vocab_lo: int = 0,
        vocab_size: int = 32768,
        params: dict | None = None,
    ):
        self.params = drift.resolve_params(params)
        super().__init__(table, store_path)
        self.bucket_width = bucket_width
        self.max_bad = max_bad
        self.profiles = profiles
        self.allowed = allowed
        self.vocab = [int(vocab_lo), int(vocab_size)]
        self.reports: dict[str, dict] = {}

    def run(self, spark: SparkSession) -> dict:
        prof_rows = self.profiles.collect() if self.profiles is not None else []
        domain = sorted({int(t) for r in prof_rows for t in r["token_freq"]})
        if len(domain) > int(self.params["max_ref_tokens"]):
            raise ValueError(
                "hashed-domain profiles are not supported incrementally; "
                "run the batch drift rule"
            )
        delta, full, skip = self._classify(
            {"vocab": self.vocab, "domain": _digest(domain)}
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
        if files:
            ctx = RuleContext(
                spark=spark,
                reference_profiles=self.profiles,
                params={
                    "vocab_lo": self.vocab[0],
                    "vocab_size": self.vocab[1],
                    "drift": self.params,
                },
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
        by_part: dict[int, list] = {pid: [] for pid in (*full, *delta)}
        for pid, *r in zip(*(c.to_pylist() for c in merged.columns)):
            if pid in by_part:
                by_part[pid].append(r)
        for pid, partials in by_part.items():
            self._record(pid, partials=partials)
        shared = SharedTokenStats.collected(merged)

        def report(metric: dict, passed, **extra) -> dict:
            return self._report(
                {
                    pid: {
                        "mode": modes[pid],
                        "metric": float(metric.get(pid, 0)),
                        "passed": passed(float(metric.get(pid, 0))),
                        **{k: v[pid] for k, v in extra.items()},
                    }
                    for pid in sorted(modes)
                }
            )

        stats = part_stats(shared, self.bucket_width, modes)
        bad = {pid: sum(s[k] for k in BAD_FIELDS) for pid, s in stats.items()}
        cs = report(bad, lambda m: m <= self.max_bad, stats=stats)
        self.reports = {"column_stats": {**cs, "scanned_rows": scanned_rows}}
        self.reports["token_bounds"] = report(
            shared.counts_by_part(KIND_OOV_ROWS), lambda m: m == 0.0
        )
        if self.allowed is not None:
            self.reports["referential"] = report(
                referential.unknown_by_part(shared, self.allowed),
                lambda m: m == 0.0,
            )
        rescored = []
        if self.profiles is not None:
            rescored = self._drift(shared, prof_rows, modes)
            self.reports["drift"] = report(
                {pid: self.entries[str(pid)]["drift_metric"] for pid in modes},
                lambda m: m <= 1.0,
            )
        if by_part or rescored:
            self._save()
        return self.reports["column_stats"]

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
                {k: self.params[k] for k in sorted(self.params)},
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
                t, quantiles, token_freq, self.params
            ):
                metric[pid] = max(metric[pid], score)
            for pid in todo:
                self.entries[str(pid)].update(drift_metric=metric[pid], drift_fp=fp)
        return todo


class IncrementalUniquenessValidator(_IncrementalValidator):
    """Incremental UNIQUENESS validation on the batch rule's own state and
    screen (operators/uniqueness.py): a partition's (rows, Datasketches HLL
    sketch) is mergeable by design, so appended files contribute a delta
    sketch that unions with the stored one (``union_state``), and the exact
    row count adds. ``screen`` over the merged state flags a partition whose
    estimate is below rows * (1 - 3*rsd); a flagged partition falls back to
    the exact hash-group pass over the WHOLE partition — duplicates can
    straddle old and new files, so no delta-only exact check is sound; the
    screen's job is making that full pass rare. A still-flagged partition
    keeps its exact verdict on every run, including skip runs — the same
    contract as the manifest's failure-replay semantics (validated
    partitions skip, failures replay). lgConfigK follows from rsd as in the
    batch rule. Each entry records its inputs (rsd, scope); an entry
    recorded for others is full.

    scope="global" (cross-partition duplicates) is where the stored sketches
    pay twice: the global screen — sum(per-partition estimates) minus the
    estimate of the UNION of every stored sketch — needs NO scan at all on a
    skip/delta run, because the old partitions' sketches come from the store.
    An append to one partition that duplicates ids already living in another
    (untouched, mode=skip) partition flips the cross signal and triggers the
    exact global hash-group pass over the whole table — the one case where a
    skip partition's verdict can change without its files changing, which is
    precisely the point of the global scope.
    """

    def __init__(
        self, table: PartitionedTable, store_path: str,
        rsd: float = uniqueness.DEFAULTS["rsd"],
        scope: str = uniqueness.DEFAULTS["scope"],
    ):
        self.lg_k = uniqueness.lg_config_k(rsd)
        super().__init__(table, store_path)
        self.rsd = rsd
        self.scope = scope

    def _stored(self, pid: int) -> tuple[int, bytes]:
        e = self.entries[str(pid)]
        return int(e["n_rows"]), base64.b64decode(e["sketch_b64"])

    def run(self, spark: SparkSession) -> dict:
        delta, full, skip = self._classify({"rsd": self.rsd, "scope": self.scope})
        results = {pid: {"mode": "full"} for pid in full}
        results.update({pid: {"mode": "delta"} for pid in delta})
        results.update({pid: {"mode": "skip"} for pid in skip})

        # ALL-skip fast path: with every file set and input unchanged, every
        # verdict — screen flags included, and in global scope the cross
        # signal too — is a pure function of the unchanged store, so the
        # stored results are returned without submitting a single job or
        # rewriting the store. (A delta/full partition falls through: in
        # global scope one changed partition can legitimately flip a skip
        # partition's verdict, so the screen re-runs over the merged state.)
        if not full and not delta:
            for pid in skip:
                e = self.entries[str(pid)]
                results[pid].update(
                    metric=float(e["metric"]),
                    passed=float(e["metric"]) == 0.0,
                    detail=e["detail"],
                )
            return self._report(results)

        # ONE scan over every full partition's files and every added file
        files = self._files(full) + [
            (pid, path) for pid, paths in delta.items() for path in paths
        ]
        got = {}
        if files:
            got = uniqueness.sketch_state(self._read(spark, files), self.lg_k)
        state = {pid: got.get(pid, (0, b"", 0.0)) for pid in full}
        # stored sketches, unioned with the delta's: one tiny job, no scan
        state.update(
            uniqueness.union_state(
                spark,
                {
                    pid: [self._stored(pid), *([got[pid][:2]] if pid in got else [])]
                    for pid in (*delta, *skip)
                },
            )
        )
        exact = uniqueness.screen(spark, state, self.rsd, self.scope, state)
        exact_pass, _, suffix = uniqueness.exact_path(self.scope)
        # Partition-scope exact results are pure functions of the partition's
        # file set: a SKIP partition's stored exact dup count cannot have
        # changed, so it is reused instead of re-scanning — at 10^12 rows,
        # replaying the exact pass over every flagged-but-unchanged partition
        # on every run is the difference between an O(delta) rerun and an
        # O(all flagged data) one. (Global scope cannot memoize per
        # partition: its exact counts depend on the SET of partitions
        # scanned together.)
        dup_counts = {}
        if self.scope != "global":
            dup_counts = {
                pid: float(self.entries[str(pid)]["metric"])
                for pid in exact
                if results[pid]["mode"] == "skip"
            }
        need_exact = sorted(set(exact) - set(dup_counts))
        if need_exact:
            dup_counts.update(
                _count_by_part(exact_pass(self._read(spark, self._files(need_exact))))
            )

        for pid, res in results.items():
            metric = float(dup_counts.get(pid, 0)) if pid in exact else 0.0
            res["metric"] = metric
            res["passed"] = metric == 0.0
            res["detail"] = ("path=exact" if pid in exact else "path=screen") + suffix
            if res["mode"] != "skip":
                n, sk, _ = state[pid]
                self._record(
                    pid, n_rows=n, sketch_b64=base64.b64encode(sk).decode()
                )
            # the memo: exact counts (and screen zeros) ride the store — in
            # global scope valid for the all-skip fast path because the
            # global verdicts are a function of the full unchanged store
            self.entries[str(pid)].update(metric=metric, detail=res["detail"])
        self._save()
        return self._report(results)


def run_incremental_suite(
    spark: SparkSession,
    table: PartitionedTable,
    manifest_dir: str,
    profiles=None,
    allowed=None,
    vocab_lo: int = 0,
    vocab_size: int = 32768,
) -> dict[str, dict]:
    """The incremental data-rule suite over two stores in ``manifest_dir``:
    ``incremental_stats.json`` (merged shared partials: column_stats,
    token_bounds, drift, referential) and ``incremental_uniqueness.json``
    (HLL sketches). The unseen files' ``tokens`` are decoded once, by the
    one shared pass.

    Returns {"column_stats": ..., "token_bounds": ..., "drift": ...,
    "referential": ..., "uniqueness": ...}, each {"parts", "modes"} (plus
    column_stats' "scanned_rows"); drift/referential are absent when their
    dimension input is None.
    """
    sv = IncrementalStatsValidator(
        table,
        os.path.join(manifest_dir, "incremental_stats.json"),
        profiles=profiles,
        allowed=allowed,
        vocab_lo=vocab_lo,
        vocab_size=vocab_size,
    )
    sv.run(spark)
    uv = IncrementalUniquenessValidator(
        table, os.path.join(manifest_dir, "incremental_uniqueness.json")
    )
    return {**sv.reports, "uniqueness": uv.run(spark)}
