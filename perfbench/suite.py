"""``full_validate``: one full rule-suite pass over a generated corpus.

One op is ``ValidationRunner.run(force=True)`` on a fresh manifest with no
sinks (the op ``bench.py`` times as ``validation_suite``). Its time goes to
the ``plans.shared`` token pass, the six ``operators`` rules and the
``plans.runner`` two-phase schedule.

The traced run adds two probes after the measured ops:
- ``probe`` calls the same layers one at a time (catalog, manifest, shared
  partials, each rule serially over the warm partials), so each layer gets a
  time of its own; the runner's ``rule_secs`` overlap and cannot be summed.
- ``append`` appends two partitions (a badsrc and a drift one, so both must
  fail), resumes with and without sinks, then runs ``run_incremental_suite``
  on the same delta and checks that both paths agree.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from lk_data_test_spark.datagen import (
    GenConfig,
    expected_failing_parts,
    generate,
    part_role,
    sequences_df,
)
from lk_data_test_spark.operators.token_bounds import DEFAULTS as TB_DEFAULTS
from lk_data_test_spark.plans.incremental_stats import (
    IncrementalStatsValidator,
    classify_partitions,
    run_incremental_suite,
)
from lk_data_test_spark.plans.manifest import CheckpointManifest
from lk_data_test_spark.plans.rules import RuleContext, default_rules
from lk_data_test_spark.plans.runner import ValidationRunner
from lk_data_test_spark.plans.shared import SharedTokenStats
from lk_data_test_spark.sources.catalog import PartitionedTable

# 8 partitions, so the two appended ids (8, 9) have the badsrc and drift roles
N_PARTS = 8
ROWS_PER_PART = 6_250
EXACT_RULES = ("schema", "column_stats", "token_bounds", "uniqueness", "referential")
SHARED_CONSUMERS = ("column_stats", "token_bounds", "drift")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _verdict_key(verdicts: list[dict]) -> list[tuple]:
    return sorted(
        (int(v["part_id"]), v["rule_id"], bool(v["passed"]), v["metric"])
        for v in verdicts
    )


class FullValidate:
    # one build: a repeat costs 3-4 s of a run that has no time to spare
    SETUP_BUILDS = 1

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.work = work_dir
        self.tr = tracer
        self.cfg = GenConfig(n_parts=N_PARTS, rows_per_part=ROWS_PER_PART, seed=seed)
        self.rules = default_rules()
        self.reference: list[tuple] | None = None
        self.info: dict = {}
        self.layer: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------------
    def build(self, i: int) -> str:
        d = os.path.join(self.work, f"corpus{i}")
        generate(self.spark, d, self.cfg)
        return d

    def prepare(self, corpus: str) -> None:
        self.table = PartitionedTable(os.path.join(corpus, "sequences"))
        self.allowed = self.spark.read.parquet(os.path.join(corpus, "allowed_sources"))
        self.profiles = self.spark.read.parquet(
            os.path.join(corpus, "reference_profiles")
        )

    def _runner(self, manifest: str, output_dir: str | None = None) -> ValidationRunner:
        return ValidationRunner(
            self.spark,
            self.table,
            allowed_sources=self.allowed,
            reference_profiles=self.profiles,
            manifest_path=manifest,
            output_dir=output_dir,
        )

    def _manifest(self, tag: str) -> str:
        d = os.path.join(self.work, "manifests")
        shutil.rmtree(d, ignore_errors=True)
        return os.path.join(d, f"{tag}.json")

    def warm_up(self) -> list[str]:
        res = self._runner(self._manifest("warmup")).run(force=True)
        problems = self.check(res)
        self.reference = _verdict_key(res.verdicts)
        self.info["violations"] = res.violations.count()
        self.info["drift_failing_badsrc"] = sorted(
            int(v["part_id"])
            for v in res.verdicts
            if v["rule_id"] == "drift"
            and not v["passed"]
            and part_role(int(v["part_id"])) == "badsrc"
        )
        return problems

    # -- the op -----------------------------------------------------------------
    def check(self, res) -> list[str]:
        failing: dict[str, set[int]] = {r.rule_id: set() for r in self.rules}
        for v in res.verdicts:
            if not v["passed"]:
                failing[v["rule_id"]].add(int(v["part_id"]))
        expected = expected_failing_parts(self.cfg)
        problems = [
            f"{rule} failed {sorted(failing[rule])}, expected {sorted(expected[rule])}"
            for rule in EXACT_RULES
            if failing[rule] != expected[rule]
        ]
        badsrc = {p for p in range(self.cfg.n_parts) if part_role(p) == "badsrc"}
        if not expected["drift"] <= failing["drift"] <= expected["drift"] | badsrc:
            problems.append(f"drift failed {sorted(failing['drift'])}")
        if res.rows_validated != N_PARTS * ROWS_PER_PART:
            problems.append(f"rows_validated {res.rows_validated}")
        if self.reference is not None and _verdict_key(res.verdicts) != self.reference:
            problems.append("verdicts differ from the warm-up run")
        return problems

    def op(self, k: int, traced: bool) -> tuple[float, int, list[str]]:
        """One suite pass; returns (seconds, sequences validated, problems).
        The result is checked after the clock stops."""
        tr = self.tr if traced else None
        runner = self._runner(self._manifest(f"op{k}"))
        t0 = time.perf_counter()
        if tr is None:
            res = runner.run(force=True)
        else:
            counts: dict = {}
            with tr.span("plans.runner.run", op=f"op-{k}") as s, tr.spark_work(
                f"perfbench-op-{k}", counts
            ):
                res = runner.run(force=True)
            s["attrs"].update(counts)
        wall = time.perf_counter() - t0
        self.last_manifest = runner.manifest.path
        problems = self.check(res)
        n = res.violations.count()
        if n != self.info["violations"]:
            problems.append(f"{n} violations, {self.info['violations']} in the warm-up run")
        return wall, res.rows_validated, problems

    # -- traced probes -------------------------------------------------------------
    def probes(self) -> list[str]:
        self._probe_layers()
        return self._probe_append()

    def _probe_layers(self) -> None:
        tr, spark = self.tr, self.spark
        with tr.span("probe", op="probe"):
            with tr.span("sources.catalog.snapshot_ids"):
                self.table.snapshot_ids()
            for _ in range(5):
                with tr.span("sources.read_plan"):
                    self.table.read(spark)
            manifest = CheckpointManifest(self.last_manifest)
            with tr.span("plans.manifest.pending"):
                manifest.pending(self.table, self.rules)
            self.layer["plans.manifest.bytes"] = os.path.getsize(self.last_manifest)

            parts = self.table.partition_ids()
            df = self.table.read_partitions(spark, parts)
            direct_files = [
                (pid, os.path.join(self.table.path, f"part_id={pid}", f))
                for pid in parts
                for f in self.table.partition_info(pid).files
            ]
            with tr.span("plans.shared.from_profiles"):
                shared = SharedTokenStats.from_profiles(
                    df,
                    self.profiles,
                    vocab_lo=int(TB_DEFAULTS["vocab_lo"]),
                    vocab_hi=int(TB_DEFAULTS["vocab_size"]),
                    direct_files=direct_files,
                )
            with tr.span("plans.shared.partials"):
                shared.persist()
                n_partials = shared.partials.count()
            self.layer["plans.shared.partial_rows"] = n_partials
            self.layer["plans.shared.partial_rows_per_krow"] = n_partials / (
                N_PARTS * ROWS_PER_PART / 1000
            )
            ctx = RuleContext(
                spark=spark,
                allowed_sources=self.allowed,
                reference_profiles=self.profiles,
                part_ids=parts,
                shared=shared,
            )
            for rule in self.rules:
                with tr.span(f"operators.{rule.rule_id}.eval"):
                    res = rule.evaluate(df, ctx)
                    res.verdicts.collect()
                self.layer[f"operators.{rule.rule_id}.violations"] = res.violations.count()
            shared.unpersist()

    def _probe_append(self) -> list[str]:
        tr, spark = self.tr, self.spark
        problems: list[str] = []
        new = [N_PARTS, N_PARTS + 1]
        d = os.path.join(self.work, "append")
        stores = os.path.join(d, "stores")
        manifest = os.path.join(d, "manifest.json")
        os.makedirs(d, exist_ok=True)
        shutil.copy(self.last_manifest, manifest)
        inc = dict(profiles=self.profiles, allowed=self.allowed)
        with tr.span("append", op="append"):
            # set-up: first-sight incremental stores, failures acknowledged
            with tr.span("plans.incremental_stats.first_sight"):
                run_incremental_suite(spark, self.table, stores, **inc)
            m = CheckpointManifest(manifest)
            for pid, e in m.entries.items():
                if e["verdict"] != "pass":
                    m.acknowledge(int(pid), note="generator-injected defect")
            m.save()
            with open(manifest, "rb") as f:
                acked = f.read()
            with tr.span("datagen.append"):
                cfg = GenConfig(
                    n_parts=N_PARTS + 2, rows_per_part=ROWS_PER_PART, seed=self.cfg.seed
                )
                sequences_df(spark, cfg, part_ids=new).write.mode("append").partitionBy(
                    "part_id"
                ).parquet(self.table.path)

            # (a) resume: once without sinks, once with, from the same manifest
            counts: dict = {}
            with tr.span("plans.runner.resume") as s, tr.spark_work(
                "perfbench-resume", counts
            ):
                res = self._runner(manifest).run()
            s["attrs"].update(counts)
            if sorted(res.ran_parts) != new:
                problems.append(f"resume ran {res.ran_parts}, expected {new}")
            with open(manifest, "wb") as f:
                f.write(acked)
            sinks = os.path.join(d, "sinks")
            with tr.span("plans.runner.resume_with_sinks"):
                self._runner(manifest, output_dir=sinks).run()
            self.layer["plans.runner.sink_bytes"] = _dir_bytes(sinks)

            # (b) the incremental path on the same delta
            with tr.span("plans.incremental_stats.classify"):
                classify_partitions(
                    self.table,
                    IncrementalStatsValidator(
                        self.table, os.path.join(stores, "incremental_stats.json")
                    ).entries,
                )
            with tr.span("plans.incremental_stats.delta"):
                out = run_incremental_suite(spark, self.table, stores, **inc)
            self.layer["plans.incremental_stats.scanned_rows"] = out["column_stats"][
                "scanned_rows"
            ]
            self.layer["plans.incremental_stats.store_bytes"] = sum(
                os.path.getsize(os.path.join(stores, f))
                for f in os.listdir(stores)
                if f.endswith(".json")
            )

        batch = {(int(v["part_id"]), v["rule_id"]): bool(v["passed"]) for v in res.verdicts}
        for rule, r in out.items():
            ran = sorted(int(p) for p, mode in r["modes"].items() if mode != "skip")
            if ran != new:
                problems.append(f"incremental {rule} ran {ran}, expected {new}")
            for pid in new:
                got = bool(r["parts"][pid]["passed"])
                if got != batch.get((pid, rule)):
                    problems.append(f"{rule} part {pid}: incremental {got}, batch {batch.get((pid, rule))}")
        self.info["append_problems"] = len(problems)
        return problems

    # -- per-layer metrics ----------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        med = lambda name: statistics.median(tr.durations(name))  # noqa: E731
        out = dict(self.layer)
        for name in (
            "sources.catalog.snapshot_ids",
            "sources.read_plan",
            "plans.manifest.pending",
            "plans.shared.from_profiles",
            "plans.shared.partials",
            "plans.incremental_stats.classify",
        ):
            out[f"{name}_s"] = med(name)
        evals = {r.rule_id: med(f"operators.{r.rule_id}.eval") for r in self.rules}
        for rule, sec in evals.items():
            out[f"operators.{rule}.eval_s"] = sec
        counts = tr.counts("plans.runner.run")
        for c in ("spark_jobs", "spark_stages", "spark_tasks"):
            out[f"plans.runner.{c}"] = statistics.median(n[c] for n in counts)
        self.info["spark_counts_per_op"] = counts
        self.info["spark_counts_repeat"] = all(n == counts[0] for n in counts)
        out["plans.runner.schedule_gap_s"] = (
            med("plans.runner.run")
            - out["plans.shared.partials_s"]
            - max(evals[r] for r in SHARED_CONSUMERS)
        )
        out["plans.runner.resume_delta_s"] = med("plans.runner.resume")
        out["plans.runner.sink_s"] = med("plans.runner.resume_with_sinks") - med(
            "plans.runner.resume"
        )
        out["plans.incremental_stats.delta_s"] = med("plans.incremental_stats.delta")
        return out
