"""File-delta INCREMENTAL validation: validate only appended files, merge
mergeable partition stats.

The checkpoint manifest (plans/manifest.py) resumes at PARTITION granularity:
a partition whose snapshot changed re-runs in full. Under append-only
ingestion (the Iceberg norm — snapshots that only ADD data files) that
re-reads every old row to re-derive statistics that are, for the stats rule,
perfectly MERGEABLE: counts, null/defect counters and sums add; min/max take
min/max; the bucketed n_tok histogram adds bucket-wise. This module is the
fast path on top: per partition it stores the validated (file name -> size)
set plus the merged stats row, and on re-run

  - skip   — file set unchanged: nothing read;
  - delta  — pure append (every previously validated file still present with
    the same size): ONLY the added files are scanned, one shared token pass
    (plans/shared.py) over the union of all partitions' delta files, then a
    driver-side merge of two tiny stats rows per partition;
  - full   — anything else (rewrite, delete, size change, first sight):
    correctness over cleverness, the whole partition re-runs.

The merged result is bit-identical to a full recompute (integer sums,
min/max, exact histogram) — asserted by tests — so delta mode never trades
accuracy, only I/O: an appended 1% of a partition costs 1% of the scan.

Reference analog: the idempotent enrich re-runs that delete ONLY derived
matches and keep everything else (`/root/reference/scripts/
enrich_fackel_bibls.py:18-25`) — re-expressed as file-level lineage.

Scale shape (10^12 rows): the per-partition state is one JSON-able stats row
(a dozen longs + a bounded histogram map) and a file->size dict — O(files),
never O(rows); the delta scan is one partition-pruned-by-construction job
over exactly the added files; the merge is driver-side over n_parts tiny
rows.

The whole data-rule suite is incremental here, because every rule's signal
is (or has) a mergeable form:
  - column_stats (IncrementalStatsValidator): sums add, min/max take
    min/max, the bucketed histogram adds bucket-wise — merge is
    bit-identical to a full recompute.
  - drift (IncrementalDriftValidator): the shared token partials
    (plans/shared.py — per (part, source) n_tok histogram + token counts)
    are count rows that add; the KS/L1 scoring re-derives from the merged
    table with the batch rule's own drift_signal.
  - referential (IncrementalReferentialValidator): violations are per-row
    independent — delta counts ADD to the stored metric.
  - token_bounds (IncrementalTokenBoundsValidator): same per-row-independent
    shape as referential — delta OOV-row counts ADD.
  - uniqueness (IncrementalUniquenessValidator): the Datasketches HLL
    sketch UNIONS (F.hll_sketch_agg / hll_union_agg) and the exact row
    count adds; only a partition the MERGED screen flags pays the exact
    cross-file hash-group pass (duplicates can straddle old and new files,
    so no delta-only exact check is sound — the screen's job is making the
    full pass rare). scope="global" adds the cross-partition screen
    (sum of per-partition estimates vs the union of EVERY stored sketch)
    with no scan at all on skip/delta runs.
  - schema is metadata-only per file; the batch rule is already O(1).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import uniqueness
from ..operators.column_stats import BAD_FIELDS, part_stats
from ..operators.drift import (
    drift_signal,
    profile_maps,
    ref_index,
    resolve_params,
)
from ..operators.token_bounds import has_oov
from ..sources.catalog import PartitionedTable
from .manifest import load_store, save_store
from .rules import RuleContext
from .shared import (
    KIND_NTOK,
    KIND_OOV_ROWS,
    KIND_TOKEN,
    SharedTokenStats,
    build_shared,
)

_SUM_FIELDS = (
    "row_count",
    "null_doc_id",
    "null_source",
    "null_n_tok",
    "null_tokens",
    "nonpos_n_tok",
    "len_mismatch",
    "sum_n_tok",
)


def merge_stats(a: dict, b: dict) -> dict:
    """Merge two partition-stats dicts — exact (integer) and commutative."""
    out = {k: a[k] + b[k] for k in _SUM_FIELDS}
    mins = [v for v in (a["min_n_tok"], b["min_n_tok"]) if v is not None]
    maxs = [v for v in (a["max_n_tok"], b["max_n_tok"]) if v is not None]
    out["min_n_tok"] = min(mins) if mins else None
    out["max_n_tok"] = max(maxs) if maxs else None
    hist = dict(a["n_tok_hist"])
    for k, v in b["n_tok_hist"].items():
        hist[k] = hist.get(k, 0) + v
    out["n_tok_hist"] = hist
    return out


def _empty_stats() -> dict:
    d = {k: 0 for k in _SUM_FIELDS}
    d["min_n_tok"] = None
    d["max_n_tok"] = None
    d["n_tok_hist"] = {}
    return d


def classify_partitions(
    table: PartitionedTable, entries: dict[str, dict]
) -> tuple[dict[int, list[str]], list[int], list[int]]:
    """File-level lineage triage shared by the incremental validators:
    -> (delta part -> added file paths, full parts, skipped parts)."""
    delta: dict[int, list[str]] = {}
    full: list[int] = []
    skip: list[int] = []
    for pid in table.partition_ids():
        cur = table.part_files(pid)
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


def _union_with_part_ids(spark: SparkSession, delta: dict[int, list[str]]):
    """Union every partition's added files with its literal part_id
    (directory-derived columns are absent when reading file paths)."""
    return reduce(
        DataFrame.unionByName,
        [
            spark.read.parquet(*paths).withColumn(
                "part_id", F.lit(pid).cast("int")
            )
            for pid, paths in delta.items()
        ],
    )


def _shared_stats(df, profiles=None, **params) -> SharedTokenStats:
    """The shared token pass over ``df`` (``build_shared`` with these rule
    params). Hashed-domain profiles (the pathological-vocabulary fallback)
    are refused: their bucket folding is a lossy transform, and stored
    partials would mix domains."""
    shared = build_shared(
        df,
        RuleContext(
            spark=df.sparkSession, reference_profiles=profiles, params=params
        ),
    )
    if shared.hash_mod:
        raise ValueError(
            "hashed-domain profiles are not supported incrementally; "
            "run the batch drift rule"
        )
    return shared


def _drift_partials(shared: SharedTokenStats) -> dict[int, list]:
    """part_id -> [source, kind, key, cnt] for the drift kinds of the
    collected partials, null sources dropped (drift scores none, and the
    store sorts by source)."""
    out: dict[int, list] = {}
    for r in shared.rows(KIND_NTOK, KIND_TOKEN).to_pylist():
        if r["source"] is not None:
            out.setdefault(r["part_id"], []).append(
                [r["source"], r["kind"], r["key"], r["cnt"]]
            )
    return out


def _count_by_part(df) -> dict[int, int]:
    rows = df.groupBy("part_id").agg(F.count(F.lit(1)).alias("n")).collect()
    return {int(r["part_id"]): int(r["n"]) for r in rows}


class _IncrementalValidator:
    """What every incremental validator shares: the file-lineage JSON store,
    the full/delta scan skeleton and the per-partition store record."""

    _indent: int | None = 1  # JSON indent of the store file

    def __init__(self, table: PartitionedTable, store_path: str):
        self.table = table
        self.store_path = store_path
        self.entries: dict[str, dict] = load_store(store_path)

    def _save(self) -> None:
        save_store(self.store_path, self.entries, self._indent)

    def _scan(self, spark, delta, full, scan, precomputed=None) -> dict:
        """{"full": {pid: x}, "delta": {pid: x}} — ONE ``scan`` job over the
        full partitions and ONE over every partition's added files, or the
        same-shaped inputs the fused token pass (run_incremental_suite)
        precomputed."""
        if precomputed is not None:
            return precomputed
        return {
            "full": scan(self.table.read_partitions(spark, full)) if full else {},
            "delta": scan(_union_with_part_ids(spark, delta)) if delta else {},
        }

    def _record(self, pid: int, **state) -> None:
        self.entries[str(pid)] = {"files": self.table.part_files(pid), **state}

    @staticmethod
    def _report(results: dict[int, dict], **extra) -> dict:
        modes = {pid: r["mode"] for pid, r in sorted(results.items())}
        return {"parts": results, **extra, "modes": modes}


class IncrementalStatsValidator(_IncrementalValidator):
    """Incremental column-stats validation with file-level lineage.

    ``run(spark)`` returns {part_id: {"mode", "passed", "metric", "stats"}}
    and persists the merged state; ``scanned_rows`` on the result object
    reports exactly how many rows the run read (the delta-mode guarantee).
    """

    def __init__(
        self,
        table: PartitionedTable,
        store_path: str,
        bucket_width: int = 64,
        max_bad: float = 0.0,
    ):
        super().__init__(table, store_path)
        self.bucket_width = bucket_width
        self.max_bad = max_bad

    def _stats_for(self, df) -> dict[int, dict]:
        return part_stats(_shared_stats(df), self.bucket_width)

    def run(self, spark: SparkSession, _precomputed: dict | None = None) -> dict:
        delta, full, skip = classify_partitions(self.table, self.entries)
        # delta: ONE job over every partition's added files
        got = self._scan(spark, delta, full, self._stats_for, _precomputed)
        results: dict[int, dict] = {}
        scanned_rows = 0
        for mode, pids in (("full", full), ("delta", delta)):
            for pid in pids:
                s = got[mode].get(pid) or _empty_stats()
                scanned_rows += s["row_count"]
                if mode == "delta":
                    s = merge_stats(self.entries[str(pid)]["stats"], s)
                results[pid] = {"mode": mode, "stats": s}
        for pid in skip:
            results[pid] = {
                "mode": "skip",
                "stats": self.entries[str(pid)]["stats"],
            }

        for pid, res in results.items():
            bad = sum(res["stats"][k] for k in BAD_FIELDS)
            res["metric"] = float(bad)
            res["passed"] = bad <= self.max_bad
            if res["mode"] != "skip":
                self._record(pid, stats=res["stats"])
        self._save()
        return self._report(results, scanned_rows=scanned_rows)


class IncrementalDriftValidator(_IncrementalValidator):
    """Incremental DRIFT validation: the drift rule's entire signal is the
    tagged token partials of plans/shared.py — per (source, kind, key) count
    rows that merge by addition — so appended files contribute partials that
    merge exactly with the stored ones, and the KS/L1 scoring re-derives
    from the merged table (same drift_signal, same thresholds as the batch
    rule).

    Per-partition state is the partials list (bounded by sources x
    (|reference tokens| + |distinct n_tok|), independent of row count) plus
    the file lineage. Hashed-domain profiles (the pathological-vocabulary
    fallback) are refused here — their bucket folding is a lossy transform
    best kept on the one-shot batch path.
    """

    _indent = None  # the partials store is the large one: compact JSON

    def __init__(self, table: PartitionedTable, store_path: str, params: dict | None = None):
        self.params = resolve_params(params)
        super().__init__(table, store_path)

    def _partials_for(self, spark, df, profiles) -> dict[int, list]:
        return _drift_partials(_shared_stats(df, profiles, drift=self.params))

    @staticmethod
    def _merge_partials(a: list, b: list) -> list:
        acc: dict[tuple, int] = {}
        for src, kind, key, cnt in list(a) + list(b):
            k = (src, int(kind), int(key))
            acc[k] = acc.get(k, 0) + int(cnt)
        return [
            [src, kind, key, cnt]
            for (src, kind, key), cnt in sorted(acc.items())
        ]

    def _score(self, partials: list, quantiles, token_freq, ref_idx) -> float:
        """max over (source) groups of max(ks/ks_thr, l1/l1_thr) — the batch
        rule's drift_signal, driver-side over the tiny merged partials
        (deterministic: partials are sorted before scoring)."""
        by_src: dict[str, tuple[list, list]] = {}
        for src, kind, key, cnt in sorted(partials):
            by_src.setdefault(src, ([], []))[kind].append((key, cnt))
        best = 0.0
        for src, kinds in by_src.items():
            h, t = (np.array(k, dtype=np.int64).reshape(-1, 2) for k in kinds)
            ks, l1, n_docs = drift_signal(
                h[:, 0], h[:, 1], t[:, 0], t[:, 1],
                quantiles.get(src), token_freq.get(src, {}), ref_idx,
            )
            if n_docs < float(self.params["min_docs"]):
                continue
            score = max(
                ks / float(self.params["ks_threshold"]),
                l1 / float(self.params["l1_threshold"]),
            )
            best = max(best, score)
        return best

    def run(
        self, spark: SparkSession, profiles, _precomputed: dict | None = None
    ) -> dict:
        delta, full, skip = classify_partitions(self.table, self.entries)
        got = self._scan(
            spark, delta, full,
            lambda df: self._partials_for(spark, df, profiles),
            _precomputed,
        )
        partials_by_part = {pid: sorted(got["full"].get(pid, [])) for pid in full}
        for pid in delta:
            partials_by_part[pid] = self._merge_partials(
                self.entries[str(pid)]["partials"], got["delta"].get(pid, [])
            )

        prof_rows = profiles.collect()
        quantiles, token_freq = profile_maps(prof_rows)
        ref_idx = ref_index(token_freq)

        # Score memo: the metric is a pure function of (partials, profiles,
        # params). Re-deriving it for every SKIP partition on every run is
        # O(n_parts x sources x hist-domain) of driver-side python — at 10^6
        # partitions that dwarfs the actual delta work. Skip partitions
        # whose stored fingerprint matches reuse the stored metric; a
        # profile or threshold change invalidates the fingerprint and
        # rescored metrics (no scan — the partials are state).
        fp = hashlib.sha256(
            json.dumps(
                [
                    sorted(
                        (
                            r["source"],
                            [float(q) for q in r["n_tok_quantiles"]],
                            sorted(
                                (int(k), float(v))
                                for k, v in r["token_freq"].items()
                            ),
                        )
                        for r in prof_rows
                    ),
                    {k: self.params[k] for k in sorted(self.params)},
                ],
                default=str,
            ).encode()
        ).hexdigest()

        results: dict[int, dict] = {}
        for pid in skip:
            e = self.entries[str(pid)]
            if e.get("score_fp") == fp and "metric" in e:
                results[pid] = {
                    "mode": "skip",
                    "metric": float(e["metric"]),
                    "passed": float(e["metric"]) <= 1.0,
                }
            else:
                partials_by_part[pid] = e["partials"]
        for pid, partials in partials_by_part.items():
            metric = self._score(partials, quantiles, token_freq, ref_idx)
            mode = (
                "skip" if pid in skip else "delta" if pid in delta else "full"
            )
            results[pid] = {
                "mode": mode,
                "metric": metric,
                "passed": metric <= 1.0,
            }
            if mode != "skip":
                self._record(pid, partials=partials)
            self.entries[str(pid)].update(metric=metric, score_fp=fp)
        # the store carries every partition's partials (~MBs at real
        # partition counts); rewriting it when nothing was rescored is pure
        # serialization cost on the all-skip path
        if partials_by_part:
            self._save()
        return self._report(results)


class _ViolationCountValidator(_IncrementalValidator):
    """A per-row independent rule (a row violates it or not): delta files
    contribute delta violation counts that ADD to the stored metric —
    nothing else is state. passed = metric == 0, matching the batch rules."""

    def _run_counts(self, spark, counts, _precomputed) -> dict:
        delta, full, skip = classify_partitions(self.table, self.entries)
        got = self._scan(spark, delta, full, counts, _precomputed)
        results: dict[int, dict] = {}
        for pid in full:
            results[pid] = {"mode": "full", "metric": float(got["full"].get(pid, 0))}
        for pid in delta:
            results[pid] = {
                "mode": "delta",
                "metric": float(self.entries[str(pid)]["metric"])
                + float(got["delta"].get(pid, 0)),
            }
        for pid in skip:
            results[pid] = {
                "mode": "skip",
                "metric": float(self.entries[str(pid)]["metric"]),
            }
        for pid, res in results.items():
            res["passed"] = res["metric"] == 0.0
            if res["mode"] != "skip":
                self._record(pid, metric=res["metric"])
        self._save()
        return self._report(results)


class IncrementalReferentialValidator(_ViolationCountValidator):
    """Incremental REFERENTIAL validation: a row either has an allowed
    source or not, so delta violation counts add to the stored metric."""

    @staticmethod
    def _counts(df, allowed) -> dict[int, int]:
        active = allowed.filter(F.col("active")).select("source")
        return _count_by_part(
            df.select("part_id", "source").join(
                F.broadcast(active), "source", "left_anti"
            )
        )

    def run(
        self,
        spark: SparkSession,
        allowed,
        _precomputed: dict | None = None,
    ) -> dict:
        return self._run_counts(
            spark, lambda df: self._counts(df, allowed), _precomputed
        )


class IncrementalTokenBoundsValidator(_ViolationCountValidator):
    """Incremental TOKEN_BOUNDS validation: a row either contains a token
    outside [vocab_lo, vocab_size) or not, so delta OOV-row counts add to
    the stored metric."""

    def __init__(
        self, table: PartitionedTable, store_path: str,
        vocab_lo: int = 0, vocab_size: int = 32768,
    ):
        super().__init__(table, store_path)
        self.vocab_lo = int(vocab_lo)
        self.vocab_size = int(vocab_size)

    def _counts(self, df) -> dict[int, int]:
        return _count_by_part(
            df.filter(has_oov(self.vocab_lo, self.vocab_size))
        )

    def run(self, spark: SparkSession, _precomputed: dict | None = None) -> dict:
        return self._run_counts(spark, self._counts, _precomputed)


class IncrementalUniquenessValidator(_IncrementalValidator):
    """Incremental UNIQUENESS validation: the HLL screen's sketch is
    mergeable by design (Datasketches HLL via F.hll_sketch_agg /
    hll_union_agg), so appended files contribute a delta sketch that unions
    with the stored one, and the exact row count adds. A partition whose
    MERGED screen flags possible duplicates (estimate < rows * (1 - 3*rsd),
    the batch rule's band) falls back to the exact hash-group pass over the
    WHOLE partition — duplicates can straddle old and new files, so no
    delta-only exact check is sound; the screen's job is making that full
    pass rare. A still-flagged partition re-runs its exact pass on EVERY
    run, including skip runs — the same contract as the manifest's
    failure-replay semantics (validated partitions skip, failures replay).
    lgConfigK=14 gives the sketch ~0.8% relative error, inside the rsd=0.01
    band.

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
        self, table: PartitionedTable, store_path: str, rsd: float = 0.01,
        lg_config_k: int = 14, scope: str = "partition",
    ):
        super().__init__(table, store_path)
        self.rsd = rsd
        self.lg_k = lg_config_k
        self.scope = scope

    def _sketches(self, df) -> dict[int, tuple[int, bytes]]:
        rows = (
            df.groupBy("part_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.hll_sketch_agg("doc_id", F.lit(self.lg_k)).alias("sk"),
            )
            .collect()
        )
        return {int(r["part_id"]): (int(r["n"]), bytes(r["sk"])) for r in rows}

    def _stored(self, pid: int) -> tuple[int, bytes]:
        e = self.entries[str(pid)]
        return int(e["n_rows"]), base64.b64decode(e["sketch_b64"])

    def _union_sketches(self, spark, pairs: dict[int, list[bytes]]) -> dict[int, tuple[bytes, int]]:
        """Union each partition's sketch list and estimate, one tiny job."""
        data = [(pid, sk) for pid, sks in pairs.items() for sk in sks]
        rows = (
            spark.createDataFrame(data, "part_id int, sk binary")
            .groupBy("part_id")
            .agg(F.hll_union_agg("sk").alias("u"))
            .select(
                "part_id", "u", F.hll_sketch_estimate("u").alias("est")
            )
            .collect()
        )
        return {int(r["part_id"]): (bytes(r["u"]), int(r["est"])) for r in rows}

    def run(self, spark: SparkSession) -> dict:
        delta, full, skip = classify_partitions(self.table, self.entries)
        got = self._scan(spark, delta, full, self._sketches)
        # pid -> (n_rows, sketch)
        state = {pid: got["full"].get(pid, (0, b"")) for pid in full}
        results = {pid: {"mode": "full"} for pid in full}
        if delta:
            to_union: dict[int, list[bytes]] = {}
            n_rows: dict[int, int] = {}
            for pid in delta:
                n_new, sk_new = got["delta"].get(pid, (0, b""))
                n_old, sk_old = self._stored(pid)
                n_rows[pid] = n_old + n_new
                to_union[pid] = [sk_old] + ([sk_new] if sk_new else [])
            unioned = self._union_sketches(spark, to_union)
            for pid in delta:
                state[pid] = (n_rows[pid], unioned[pid][0])
                results[pid] = {"mode": "delta"}
        for pid in skip:
            state[pid] = self._stored(pid)
            results[pid] = {"mode": "skip"}

        # ALL-skip fast path: with every file set unchanged, every verdict —
        # screen flags included, and in global scope the cross signal too —
        # is a pure function of the unchanged store, so the stored results
        # are returned without submitting a single job or rewriting the
        # store. (A delta/full partition falls through: in global scope one
        # changed partition can legitimately flip a skip partition's
        # verdict, so the screen re-runs over the full merged state below.)
        if not full and not delta and all(
            "metric" in self.entries[str(pid)]
            and "detail" in self.entries[str(pid)]
            # a memo recorded under the other scope is not reusable
            and (
                ("scope=global" in self.entries[str(pid)]["detail"])
                == (self.scope == "global")
            )
            for pid in skip
        ):
            for pid in skip:
                e = self.entries[str(pid)]
                results[pid]["metric"] = float(e["metric"])
                results[pid]["passed"] = float(e["metric"]) == 0.0
                results[pid]["detail"] = e["detail"]
            return self._report(results)

        # screen over merged state (estimates in one tiny job)
        ests = self._union_sketches(
            spark, {pid: [sk] for pid, (_, sk) in state.items() if sk}
        )
        flagged = [
            pid
            for pid, (n, sk) in state.items()
            if sk and n > 0 and ests[pid][1] < n * (1.0 - 3.0 * self.rsd)
        ]
        if self.scope == "global":
            # cross screen: union EVERY stored sketch (no scan — one tiny
            # driver-submitted job over n_parts serialized sketches)
            total = sum(n for n, _ in state.values())
            sum_est = sum(ests[pid][1] for pid in ests)
            all_sks = [sk for _, sk in state.values() if sk]
            union_est = 0
            if all_sks:
                union_est = self._union_sketches(spark, {-1: all_sks})[-1][1]
            cross = (sum_est - union_est) > 3.0 * self.rsd * total
            exact_pids = sorted(state) if cross else flagged
            dup_counts = {}
            if exact_pids:
                dup_counts = _count_by_part(
                    uniqueness.global_duplicate_doc_ids(
                        self.table.read_partitions(spark, exact_pids)
                    )
                )
            scope = " scope=global"
        else:
            # Partition-scope exact results are pure functions of the
            # partition's file set: a SKIP partition's stored exact dup count
            # cannot have changed, so it is reused instead of re-scanning —
            # at 10^12 rows, replaying the exact pass over every
            # flagged-but-unchanged partition on every run is the difference
            # between an O(delta) rerun and an O(all flagged data) one.
            # (Global scope cannot memoize per partition: its exact counts
            # depend on the SET of partitions scanned together.) Changing rsd
            # between runs can alter which partitions the screen flags;
            # delete the store to re-derive.
            exact_pids = flagged
            dup_counts = {
                pid: float(self.entries[str(pid)]["metric"])
                for pid in flagged
                if results[pid]["mode"] == "skip"
                and "metric" in self.entries[str(pid)]
            }
            need_exact = [pid for pid in flagged if pid not in dup_counts]
            if need_exact:
                dup_counts.update(_count_by_part(
                    uniqueness.duplicate_doc_ids(
                        self.table.read_partitions(spark, need_exact)
                    )
                ))
            scope = ""

        for pid, res in results.items():
            exact = pid in exact_pids
            metric = float(dup_counts.get(pid, 0)) if exact else 0.0
            res["metric"] = metric
            res["passed"] = metric == 0.0
            res["detail"] = ("path=exact" if exact else "path=screen") + scope
            if res["mode"] != "skip":
                n, sk = state[pid]
                self._record(
                    pid, n_rows=n, sketch_b64=base64.b64encode(sk).decode()
                )
            # the memo: exact counts (and screen zeros) ride the store — in
            # global scope valid for the all-skip fast path because the
            # global verdicts are a function of the full unchanged store
            self.entries[str(pid)].update(metric=metric, detail=res["detail"])
        self._save()
        return self._report(results)


def _fused_scan(frame, profiles, sv, params: dict) -> dict:
    """The one decode of ``tokens`` for a scanned frame: ONE shared token
    pass, split into the per-partition inputs of the stats, drift and
    token_bounds validators."""
    shared = _shared_stats(frame, profiles, **params)
    return {
        "column_stats": part_stats(shared, sv.bucket_width),
        "drift": _drift_partials(shared),
        "token_bounds": shared.counts_by_part(KIND_OOV_ROWS),
    }


def run_incremental_suite(
    spark: SparkSession,
    table: PartitionedTable,
    manifest_dir: str,
    profiles=None,
    allowed=None,
    vocab_lo: int = 0,
    vocab_size: int = 32768,
) -> dict[str, dict]:
    """The incremental suite with ONE `tokens` decode per scanned file set.

    Run separately, three of the five incremental validators each pay their
    own scan of the `tokens` column (~99% of the table's bytes): column_stats
    (size/null checks), drift (token-frequency partials) and token_bounds
    (OOV rows) — on first sight that is 3x the dominant I/O, exactly the
    duplication the batch suite already eliminates via plans/shared.py. This
    orchestrator classifies once, runs ONE SharedTokenStats pass per scanned
    frame (kinds 0-5: n_tok histogram, token freq, len-mismatch, null-tokens,
    OOV rows, row census) and feeds all three validators their per-partition
    inputs; referential (source-only scan) and uniqueness (doc_id sketches)
    keep their own narrow jobs.

    Correctness: the fused inputs are the identical quantities each
    validator's own scan derives — the stats and drift validators read the
    same shared pass on their own, and token_bounds' kind 4 is its batch
    rule's screen — and the fusion only
    engages when all three validators agree on every partition's mode (their
    stores are written together by this CLI path, so they do unless a store
    was hand-edited or lost); on ANY disagreement each validator falls back
    to its own scan, correctness over cleverness. Drift's hashed-domain
    fallback cannot run incrementally (stored partials would mix domains), so
    that case also falls back per-validator (the drift validator raises, as
    it does today).

    Returns {"column_stats": ..., "drift": ..., "referential": ...,
    "uniqueness": ..., "token_bounds": ...} — each the validator's run()
    dict; drift/referential keys absent when their dimension input is None.
    """

    def store(name: str) -> str:
        return os.path.join(manifest_dir, f"incremental_{name}.json")

    sv = IncrementalStatsValidator(table, store("stats"))
    dv = (
        IncrementalDriftValidator(table, store("drift"))
        if profiles is not None
        else None
    )
    tv = IncrementalTokenBoundsValidator(
        table, store("token_bounds"), vocab_lo, vocab_size
    )

    fused = [v for v in (sv, dv, tv) if v is not None]
    classes = [classify_partitions(table, v.entries) for v in fused]
    pre: dict[str, dict] = {}  # rule -> {"full": {pid: x}, "delta": {...}}
    if dv is not None and all(c == classes[0] for c in classes[1:]):
        delta, full, _skip = classes[0]
        # the token_bounds range is [vocab_lo, vocab_size), as in the batch
        # rule; drift's domain caps are the drift validator's
        params = {"vocab_lo": vocab_lo, "vocab_size": vocab_size, "drift": dv.params}
        got = sv._scan(
            spark, delta, full,
            lambda frame: _fused_scan(frame, profiles, sv, params),
        )
        pre = {
            rule: {mode: got[mode].get(rule, {}) for mode in got}
            for rule in ("column_stats", "drift", "token_bounds")
        }

    out: dict[str, dict] = {}
    out["column_stats"] = sv.run(spark, _precomputed=pre.get("column_stats"))
    if dv is not None:
        out["drift"] = dv.run(spark, profiles, _precomputed=pre.get("drift"))
    if allowed is not None:
        rv = IncrementalReferentialValidator(table, store("referential"))
        out["referential"] = rv.run(spark, allowed)
    uv = IncrementalUniquenessValidator(table, store("uniqueness"))
    out["uniqueness"] = uv.run(spark)
    out["token_bounds"] = tv.run(spark, _precomputed=pre.get("token_bounds"))
    return out
