"""End-to-end suite + resume semantics (SURVEY.md §5: resume tests).

Kill/rerun analog: run once, rerun — validated (passing) partitions are
skipped, failing ones replayed; touching a partition's data invalidates its
lineage and forces re-validation.
"""

from __future__ import annotations

import os

from lk_data_test_spark.datagen import expected_failing_parts
from lk_data_test_spark.plans.runner import ValidationRunner, token_digests
from lk_data_test_spark.sources.catalog import PartitionedTable
from tests.conftest import TEST_CFG

EXPECTED = expected_failing_parts(TEST_CFG)
ALL_FAILING = set().union(*EXPECTED.values())


def _runner(spark, corpus_dir, tmp_path, params=None):
    return ValidationRunner(
        spark,
        PartitionedTable(f"{corpus_dir}/sequences"),
        allowed_sources=spark.read.parquet(f"{corpus_dir}/allowed_sources"),
        reference_profiles=spark.read.parquet(f"{corpus_dir}/reference_profiles"),
        manifest_path=str(tmp_path / "manifest.json"),
        output_dir=str(tmp_path / "out"),
        params=params,
    )


def test_suite_and_resume(spark, corpus_dir, tmp_path):
    r1 = _runner(spark, corpus_dir, tmp_path)
    res1 = r1.run()
    assert sorted(res1.ran_parts) == list(range(TEST_CFG.n_parts))
    assert res1.rows_validated == TEST_CFG.n_parts * TEST_CFG.rows_per_part

    failing = {
        v["part_id"] for v in res1.verdicts if not v["passed"]
    }
    assert failing == ALL_FAILING

    # violations parquet written, canonical order columns present
    out = spark.read.parquet(os.path.join(str(tmp_path / "out"), "violations"))
    assert out.count() > 0
    assert set(out.columns) == {"part_id", "rule_id", "doc_id", "source", "n_tok", "detail"}

    # verdict table + JSON metrics manifest sinks (S5/S6 analogs)
    vt = spark.read.parquet(os.path.join(str(tmp_path / "out"), "verdicts"))
    assert vt.count() == TEST_CFG.n_parts * 6
    import json

    with open(os.path.join(str(tmp_path / "out"), "metrics.json")) as f:
        m = json.load(f)
    assert m["rows_validated"] == res1.rows_validated
    assert set(m["failed_parts"]) == ALL_FAILING
    assert set(m["rules"]) == {
        "schema", "column_stats", "token_bounds", "uniqueness",
        "referential", "drift",
    }

    # rerun: passing partitions skipped, failing replayed
    r2 = _runner(spark, corpus_dir, tmp_path)
    res2 = r2.run()
    assert set(res2.skipped_parts) == set(range(TEST_CFG.n_parts)) - ALL_FAILING
    assert set(res2.ran_parts) == ALL_FAILING
    failing2 = {v["part_id"] for v in res2.verdicts if not v["passed"]}
    assert failing2 == ALL_FAILING

    # round-1 ADVICE regression: the resume run rewrites ONLY the re-run
    # partitions' verdict rows (dynamic partition overwrite) — previously
    # recorded verdicts for skipped partitions must survive
    vt2 = spark.read.parquet(os.path.join(str(tmp_path / "out"), "verdicts"))
    assert vt2.count() == TEST_CFG.n_parts * 6
    assert {r["part_id"] for r in vt2.select("part_id").distinct().collect()} == set(
        range(TEST_CFG.n_parts)
    )
    # metrics.json merges cumulative state across runs
    with open(os.path.join(str(tmp_path / "out"), "metrics.json")) as f:
        m2 = json.load(f)
    assert set(m2["ran_parts"]) == ALL_FAILING                      # per-run
    assert set(m2["validated_parts"]) == set(range(TEST_CFG.n_parts))  # cumulative
    assert set(m2["failed_parts"]) == ALL_FAILING

    # manifest carries lineage + per-rule metrics
    e = r2.manifest.entries[str(sorted(ALL_FAILING)[0])]
    assert e["snapshot_id"] and e["files"]
    assert set(e["rule_versions"]) == {
        "schema", "column_stats", "token_bounds", "uniqueness",
        "referential", "drift",
    }
    assert set(e["metrics"]) == set(e["rule_versions"])


def test_acknowledge_stops_replay_until_data_changes(spark, corpus_dir, tmp_path):
    """Triage workflow: acknowledging a failed partition stops the rerun
    replay; the ack is snapshot-scoped provenance, so a data change still
    re-validates."""
    import pytest

    from lk_data_test_spark.plans.manifest import CheckpointManifest

    r = _runner(spark, corpus_dir, tmp_path)
    r.run()
    mpath = str(tmp_path / "manifest.json")
    m = CheckpointManifest(mpath)
    with pytest.raises(KeyError):
        m.acknowledge(9999)
    for pid in sorted(ALL_FAILING):
        m.acknowledge(pid, note="triaged: generator-injected defect")
    m.save()

    r2 = _runner(spark, corpus_dir, tmp_path)
    res2 = r2.run()
    assert res2.ran_parts == [] and len(res2.skipped_parts) == TEST_CFG.n_parts

    # provenance preserved
    e = CheckpointManifest(mpath).entries[str(sorted(ALL_FAILING)[0])]
    assert e["verdict"] == "pass"
    assert e["acknowledged"]["was_verdict"] == "fail"
    assert e["acknowledged"]["snapshot_id"] == e["snapshot_id"]

    # an acked partition whose data changes is re-validated like any other
    pid = sorted(ALL_FAILING)[0]
    pdir = f"{corpus_dir}/sequences/part_id={pid}"
    fname = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    with open(os.path.join(pdir, fname), "ab") as f:
        f.write(b"\0")
    try:
        pending = r2.manifest.pending(r2.table, r2.rules)
        assert pending == [pid]
    finally:
        p = os.path.join(pdir, fname)
        with open(p, "rb+") as f:
            f.seek(-1, os.SEEK_END)
            f.truncate()


def test_data_change_invalidates_lineage(spark, corpus_dir, tmp_path):
    r = _runner(spark, corpus_dir, tmp_path)
    res = r.run()
    assert res.ran_parts  # first run covers everything

    # touch one passing partition's file -> size change -> new snapshot id
    clean_part = sorted(set(range(TEST_CFG.n_parts)) - ALL_FAILING)[0]
    pdir = f"{corpus_dir}/sequences/part_id={clean_part}"
    fname = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    with open(os.path.join(pdir, fname), "ab") as f:
        f.write(b"\0")  # harmless trailing byte changes the size
    try:
        pending = r.manifest.pending(r.table, r.rules)
        assert clean_part in pending
    finally:
        # restore by truncating the extra byte
        p = os.path.join(pdir, fname)
        with open(p, "rb+") as f:
            f.seek(-1, os.SEEK_END)
            f.truncate()


def test_token_digest_invariant(spark, corpus_dir):
    df = PartitionedTable(f"{corpus_dir}/sequences").read(spark)
    d1 = token_digests(df).orderBy("doc_id", "token_digest").collect()
    d2 = token_digests(df).orderBy("doc_id", "token_digest").collect()
    assert d1 == d2 and len(d1) == TEST_CFG.n_parts * TEST_CFG.rows_per_part


def test_file_appended_mid_run_stays_pending(spark, corpus_dir, tmp_path):
    """The manifest records the listing the run validated: a file that
    lands after the run listed its partitions leaves that partition in
    pending() for the next run instead of being marked validated."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    clean = sorted(set(range(TEST_CFG.n_parts)) - ALL_FAILING)[:2]
    root = tmp_path / "sequences"
    for pid in clean:
        shutil.copytree(
            f"{corpus_dir}/sequences/part_id={pid}", root / f"part_id={pid}"
        )
    target = clean[0]

    class AppendAfterListing(PartitionedTable):
        appended = False

        def partition_info(self, part_id):
            info = super().partition_info(part_id)
            if part_id == target and not self.appended:
                # 50 copied rows with fresh doc_ids: still a clean partition
                self.appended = True
                t = pq.read_table(self.part_dir(part_id)).slice(0, 50)
                fresh = pa.array([f"appended-{i}" for i in range(50)], pa.string())
                pq.write_table(
                    t.set_column(t.schema.get_field_index("doc_id"), "doc_id", fresh),
                    os.path.join(self.part_dir(part_id), "part-appended.parquet"),
                )
            return info

    r = ValidationRunner(
        spark,
        AppendAfterListing(str(root)),
        allowed_sources=spark.read.parquet(f"{corpus_dir}/allowed_sources"),
        reference_profiles=spark.read.parquet(f"{corpus_dir}/reference_profiles"),
        manifest_path=str(tmp_path / "manifest.json"),
    )
    res = r.run(force=True)
    assert sorted(res.ran_parts) == clean
    assert all(v["passed"] for v in res.verdicts)
    assert r.manifest.pending(PartitionedTable(str(root)), r.rules) == [target]


def test_resume_reruns_partitions_under_new_params(spark, corpus_dir, tmp_path):
    """A manifest entry holds only under the params it was validated with:
    a resume under other params re-validates every partition, the passing
    ones included."""
    strict = {"column_stats": {"max_null_rate": -1}}
    _runner(spark, corpus_dir, tmp_path).run()

    res = _runner(spark, corpus_dir, tmp_path, params=strict).run()
    assert sorted(res.ran_parts) == list(range(TEST_CFG.n_parts))
    assert res.skipped_parts == []
    failing = {
        v["part_id"]
        for v in res.verdicts
        if v["rule_id"] == "column_stats" and not v["passed"]
    }
    assert failing == set(range(TEST_CFG.n_parts))


def test_rerun_replaces_sink_partitions_left_without_violations(
    spark, corpus_dir, tmp_path
):
    """A re-run partition that now has no violation rows keeps none of its
    old ones: under rsd 0.2 the uniqueness screen passes the duplicate
    partitions, so the first run's uniqueness rows must leave the sink, and
    the sink equals that of the same run into a fresh output directory."""
    loose = {"uniqueness": {"rsd": 0.2}}
    first = _runner(spark, corpus_dir, tmp_path).run(force=True)
    assert first.violations.filter("rule_id = 'uniqueness'").count() > 0

    res = _runner(spark, corpus_dir, tmp_path, params=loose).run(force=True)
    assert all(v["passed"] for v in res.verdicts if v["rule_id"] == "uniqueness")
    assert res.violations.filter("rule_id = 'uniqueness'").count() == 0

    fresh = _runner(spark, corpus_dir, tmp_path / "fresh", params=loose).run(
        force=True
    )
    assert res.violations.collect() == fresh.violations.collect()


def test_sink_run_without_violations(spark, corpus_dir, tmp_path):
    """A sink run that finds no violation rows hands back an empty frame:
    the sink then holds no partition to infer a schema from."""
    import shutil

    clean = sorted(set(range(TEST_CFG.n_parts)) - ALL_FAILING)
    root = tmp_path / "sequences"
    for pid in clean:
        shutil.copytree(
            f"{corpus_dir}/sequences/part_id={pid}", root / f"part_id={pid}"
        )
    r = ValidationRunner(
        spark,
        PartitionedTable(str(root)),
        allowed_sources=spark.read.parquet(f"{corpus_dir}/allowed_sources"),
        reference_profiles=spark.read.parquet(f"{corpus_dir}/reference_profiles"),
        manifest_path=str(tmp_path / "manifest.json"),
        output_dir=str(tmp_path / "out"),
    )
    res = r.run(force=True)
    assert all(v["passed"] for v in res.verdicts)
    assert res.violations.count() == 0


def _bare_runner(spark, data_dir, tmp_path):
    """A runner over ``data_dir``'s generated tables with no sink."""
    return ValidationRunner(
        spark,
        PartitionedTable(f"{data_dir}/sequences"),
        allowed_sources=spark.read.parquet(f"{data_dir}/allowed_sources"),
        reference_profiles=spark.read.parquet(f"{data_dir}/reference_profiles"),
        manifest_path=str(tmp_path / "manifest.json"),
    )


def test_forced_rerun_counts_rows_appended_since_the_last_run(spark, tmp_path):
    """A forced rerun in the same session sees rows appended after the first
    run: no frame a rule kept from the first call may serve the second its
    old answer. Part 1 (the duplicate role) gains one duplicated id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lk_data_test_spark.datagen import GenConfig, generate

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=5, rows_per_part=1200))
    r = _bare_runner(spark, d, tmp_path)

    def part1_duplicates() -> float:
        res = r.run(force=True)
        return next(
            v["metric"]
            for v in res.verdicts
            if v["rule_id"] == "uniqueness" and v["part_id"] == 1
        )

    assert part1_duplicates() == 60.0
    part_dir = r.table.part_dir(1)
    t = pq.read_table(part_dir).slice(0, 60)
    same_id = pa.array(["appended-dup"] * 60, pa.string())
    pq.write_table(
        t.set_column(t.schema.get_field_index("doc_id"), "doc_id", same_id),
        os.path.join(part_dir, "part-appended.parquet"),
    )
    assert part1_duplicates() == 61.0


# Spark jobs of a warm forced run over the test corpus: 4 dimension-table
# collects, 2 for the shared partials, 2 for the uniqueness sketches and 3
# for the exact pass over the flagged partitions
WARM_RUN_JOBS = 11


def test_warm_forced_run_job_count(spark, corpus_dir, tmp_path):
    """A second forced run in one session launches at most WARM_RUN_JOBS
    Spark jobs. No default rule keeps a frame between runs, so the count
    is the same on every run; a change that adds a job, or a cache that
    makes the count depend on the session, shows up here."""
    r = _bare_runner(spark, corpus_dir, tmp_path)
    r.run(force=True)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    r.run(force=True)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= WARM_RUN_JOBS, sorted(jobs)
