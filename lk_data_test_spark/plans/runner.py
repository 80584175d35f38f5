"""Suite runner: one pass over all pending partitions, shared by the rules.

NOT a per-partition loop. The pending partitions (selected by the checkpoint
manifest and pushed into the scan as a partition-pruning filter) are listed
ONCE; that listing feeds the shared token pass (plans/shared.py) and is what
the manifest records. The dimension tables are read ONCE too, before the
shared pass, into the context's ``Dimensions``. Four rules (column_stats,
token_bounds, referential, drift) take their verdicts from one driver-side
collect of the shared partials; schema and uniqueness run their own plans
grouped by ``part_id``. All rules are submitted at once: a rule waiting for
the shared collect waits on a driver lock and holds no task slot.
``rows_validated`` is the shared row census total.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import PartitionedTable
from .manifest import CheckpointManifest
from .rules import (
    VIOLATION_SCHEMA,
    Rule,
    RuleContext,
    canonical_violations,
    default_rules,
    local_frame,
)
from .shared import KIND_ROWS, build_shared, dimensions_for


@dataclass
class SuiteResult:
    verdicts: list[dict]          # materialized (tiny: n_parts x n_rules)
    violations: DataFrame         # canonical-ordered, lazy
    ran_parts: list[int]
    skipped_parts: list[int]
    rows_validated: int = 0
    extras: dict = field(default_factory=dict)


class ValidationRunner:
    def __init__(
        self,
        spark: SparkSession,
        table: PartitionedTable,
        allowed_sources: DataFrame,
        reference_profiles: DataFrame,
        rules: list[Rule] | None = None,
        manifest_path: str | None = None,
        output_dir: str | None = None,
        params: dict | None = None,
    ):
        self.spark = spark
        self.table = table
        self.rules = rules if rules is not None else default_rules()
        self.allowed_sources = allowed_sources
        self.reference_profiles = reference_profiles
        self.manifest = CheckpointManifest(
            manifest_path or os.path.join(table.path, "_manifest", "manifest.json")
        )
        self.output_dir = output_dir
        self.params = params or {}

    def run(self, force: bool = False) -> SuiteResult:
        all_parts = self.table.partition_ids()
        pending = (
            all_parts
            if force
            else self.manifest.pending(self.table, self.rules, self.params)
        )
        skipped = sorted(set(all_parts) - set(pending))
        if not pending:
            empty = local_frame(self.spark, [], VIOLATION_SCHEMA)
            return SuiteResult([], empty, [], skipped)

        df = self.table.read_partitions(self.spark, pending)
        # the ONE listing of this run: the shared pass reads these files and
        # the manifest records them, so a file appended mid-run stays pending
        infos = {pid: self.table.partition_info(pid) for pid in pending}

        # Local parquet layout -> feed the shared pass from pyarrow directly
        # (plans/shared.py::_build_partials_direct): the token buffers never
        # round-trip through JVM rows. The corrupt-tolerant read path keeps
        # the Spark scan (ignoreCorruptFiles semantics live there).
        direct_files: list[tuple[int, str]] | None = None
        if not getattr(self.table, "tolerate_corrupt", False):
            direct_files = [
                (int(pid), os.path.join(self.table.part_dir(pid), f))
                for pid in pending
                for f in infos[pid].files
            ] or None
        ctx = RuleContext(
            spark=self.spark,
            allowed_sources=self.allowed_sources,
            reference_profiles=self.reference_profiles,
            part_ids=pending,
            params=self.params,
        )
        dimensions_for(ctx)  # the run's one read of the dimension tables
        ctx.shared = shared = build_shared(df, ctx, direct_files=direct_files)

        # Rules are independent plans: evaluate them CONCURRENTLY (one driver
        # thread each) so their jobs overlap — the fixed per-job costs
        # (python-worker spin-up, codegen, scheduling latency) amortize
        # across rules and the executor cores stay full. The shared
        # consumers block on SharedTokenStats.table()'s driver lock until the
        # first of them has collected the partials. Spark job submission is
        # thread-safe; outputs keep rule order. With a sink, each rule's
        # violations are persisted so that a plan consumed twice (once
        # inside a rule's own verdict aggregation — today only the opt-in
        # seq_structure rule's verdict_from_violations; the default rules
        # take theirs from the shared partials or, for uniqueness, one
        # collect of its exact pass's counts — once by the sink) runs ONCE;
        # without one nothing in the run reads them again, so they stay
        # lazy and no rule keeps a frame from one run to the next.
        rule_secs: dict[str, float] = {}

        # At 10^12 rows a catastrophically broken partition can turn a
        # violations sink into a second copy of the table. The optional
        # ``max_violations_per_part`` param caps EMITTED rows per
        # (part_id, rule_id) — deterministically, the first N in canonical
        # order — while verdict metrics stay exact (each rule counts
        # violations inside evaluate(), before the cap).
        viol_cap = self.params.get("max_violations_per_part")

        def eval_rule(rule: Rule):
            t0 = time.time()
            res = rule.evaluate(df, ctx)
            v = res.violations
            if viol_cap:
                # full-row order (canonical sink order + n_tok tie-break) so
                # the kept prefix is unique even among rows that tie on the
                # canonical sort keys
                w = Window.partitionBy("part_id", "rule_id").orderBy(
                    "doc_id", "source", "detail", "n_tok"
                )
                v = (
                    v.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= int(viol_cap))
                    .drop("__rn")
                )
            viol = v.persist(StorageLevel.MEMORY_AND_DISK) if self.output_dir else v
            rows = [r.asDict() for r in res.verdicts.collect()]
            # wall time to a materialized verdict (rules run concurrently,
            # so these overlap — they are per-rule latencies, not a sum)
            rule_secs[rule.rule_id] = round(time.time() - t0, 3)
            return rows, viol

        with ThreadPoolExecutor(max_workers=max(1, len(self.rules))) as ex:
            futures = [ex.submit(eval_rule, r) for r in self.rules]
            results = [f.result() for f in futures]
        rows_validated = sum(shared.counts_by_part(KIND_ROWS).values())

        verdict_rows = [row for rows, _ in results for row in rows]
        violation_frames = [viol for _, viol in results]

        violations = canonical_violations(_union_all(violation_frames))
        if self.output_dir:
            out_path = os.path.join(self.output_dir, "violations")
            # dynamic overwrite replaces only the partitions that get rows:
            # clear every re-validated partition first, so one that now has
            # no violations keeps none of its old rows
            for pid in pending:
                shutil.rmtree(
                    os.path.join(out_path, f"part_id={pid}"), ignore_errors=True
                )
            # one shuffle of only the violation rows; deterministic file
            # content via sortWithinPartitions (a global orderBy would add a
            # range exchange + full sort for ordering the writer discards)
            (
                _union_all(violation_frames)
                .repartition("part_id")
                .sortWithinPartitions(
                    "part_id", "rule_id", "doc_id", "source", "detail"
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_id")
                .parquet(out_path)
            )
            # hand back the materialized sink instead of the live plan: later
            # consumers (reports, fixture compares) re-read parquet rather
            # than re-running every rule's full plan (the explicit schema also
            # reads a sink that holds no partition at all)
            cols = [f.name for f in violations.schema.fields]
            violations = (
                self.spark.read.schema(violations.schema)
                .parquet(out_path)
                .select(*cols)
                .orderBy("part_id", "rule_id", "doc_id", "source", "detail")
            )

        if self.output_dir:
            # S5/S6 analogs: verdict table + JSON metrics manifest alongside
            # the violations sink (reference: rdf/*.json report files,
            # check_fackel_references.py:36-37,59-60)
            # partitioned by part_id with DYNAMIC overwrite (same contract as
            # the violations sink): a resume run rewrites only the re-run
            # partitions' verdict rows and preserves the rest — a flat
            # overwrite here would drop previously-recorded verdicts
            (
                self.spark.createDataFrame(
                    [
                        (
                            int(v["part_id"]), str(v["rule_id"]), bool(v["passed"]),
                            float(v["metric"] or 0.0), float(v["threshold"] or 0.0),
                            v.get("detail"),
                        )
                        for v in verdict_rows
                    ],
                    "part_id int, rule_id string, passed boolean, metric double,"
                    " threshold double, detail string",
                )
                # repartition, not coalesce: coalesce(1) over a parallelized
                # local relation walks every Python source partition serially
                # in one task (~6s; r6 measurement in datagen.generate)
                .repartition(1)
                .sortWithinPartitions("part_id", "rule_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_id")
                .parquet(os.path.join(self.output_dir, "verdicts"))
            )
            # metrics.json carries both per-run fields (rows_validated,
            # ran_parts, skipped_parts) and cumulative latest-known state
            # (validated_parts, failed_parts) merged with the prior manifest,
            # so a resume run doesn't erase earlier runs' outcomes
            metrics_path = os.path.join(self.output_dir, "metrics.json")
            prev: dict = {}
            if os.path.exists(metrics_path):
                try:
                    with open(metrics_path) as f:
                        prev = json.load(f)
                except (OSError, ValueError):
                    prev = {}
            ran_now = sorted(int(p) for p in pending)
            failed_now = {int(v["part_id"]) for v in verdict_rows if not v["passed"]}
            prev_failed = set(prev.get("failed_parts", []))
            prev_validated = set(
                prev.get("validated_parts", prev.get("ran_parts", []))
            )
            metrics = {
                "rows_validated": rows_validated,
                "ran_parts": ran_now,
                "skipped_parts": [int(p) for p in skipped],
                "failed_parts": sorted((prev_failed - set(ran_now)) | failed_now),
                "validated_parts": sorted(prev_validated | set(ran_now)),
                "rules": {r.rule_id: r.version for r in self.rules},
            }
            with open(metrics_path, "w") as f:
                json.dump(metrics, f, indent=1, sort_keys=True)
            for fr in violation_frames:
                try:
                    fr.unpersist()
                except Exception:
                    pass

        # manifest update: per-part verdict = all rules passed
        by_part: dict[int, dict[str, dict]] = {}
        for v in verdict_rows:
            by_part.setdefault(int(v["part_id"]), {})[v["rule_id"]] = v
        for pid, info in infos.items():
            rules_v = by_part.get(pid, {})
            ok = all(v["passed"] for v in rules_v.values()) and len(rules_v) == len(
                self.rules
            )
            metrics = {rid: float(v["metric"] or 0.0) for rid, v in rules_v.items()}
            self.manifest.record(
                pid,
                info.snapshot_id,
                list(info.files),
                self.rules,
                metrics,
                "pass" if ok else "fail",
                self.params,
            )
        self.manifest.save()
        return SuiteResult(
            verdict_rows, violations, pending, skipped, rows_validated,
            extras={"rule_secs": rule_secs},
        )

    def anomaly_report(
        self, k: float = 4.0, min_history: int = 4
    ) -> DataFrame:
        """Score each partition's latest per-rule metrics against its own
        manifest history (plans/anomaly.py): catches slow corruption that
        stays inside every static threshold. One row per (part_id, rule_id)
        with a robust z-score and an ``anomalous`` flag."""
        from .anomaly import detect

        return detect(self.spark, self.manifest, k=k, min_history=min_history)


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def token_digests(df: DataFrame) -> DataFrame:
    """Per-row invariant vs the reference: token-array equality, checked as an
    xxhash64 digest of the canonical token encoding (input_hint)."""
    return df.select("doc_id", F.xxhash64("tokens").alias("token_digest"))
