"""File-delta incremental validation: delta-only scans, exact merges,
full fallback on rewrite, idempotent skips."""

from __future__ import annotations

import os

import pytest

from lk_data_test_spark.datagen import GenConfig, generate
from lk_data_test_spark.plans.incremental_stats import (
    IncrementalStatsValidator,
)
from lk_data_test_spark.sources.catalog import PartitionedTable
from tests.conftest import stats_oracle


def _reports(spark, table, store, **kw) -> dict:
    """Every rule's report of one run of a fresh IncrementalStatsValidator
    (a new instance per run: the state round-trips through disk)."""
    v = IncrementalStatsValidator(table, store, **kw)
    v.run(spark)
    return v.reports


def test_incremental_stats_delta_merge(spark, tmp_path):
    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=4, rows_per_part=300)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    v = IncrementalStatsValidator(table, str(tmp_path / "store.json"))

    # first sight: everything full, verdicts match the batch rule's roles
    # (part_id % 5 -> 0 clean, 1 dup, 2 badcol, 3 badsrc; only badcol
    # injects column defects)
    r1 = v.run(spark)
    assert all(m == "full" for m in r1["modes"].values())
    assert r1["scanned_rows"] == 4 * 300
    assert r1["parts"][2]["passed"] is False and r1["parts"][2]["metric"] == 8.0
    for pid in (0, 1, 3):
        assert r1["parts"][pid]["passed"] is True

    # pure append into part 1: the rerun scans ONLY the 50 added rows,
    # everything else skips, and the merged stats are bit-identical to a
    # full recompute of the grown partition
    extra = spark.createDataFrame(
        [(f"X{i:04d}", [1, 2, 3], 3, "cases") for i in range(50)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    extra.coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=1")
    # a second validator instance proves the state round-trips through disk
    v2 = IncrementalStatsValidator(table, str(tmp_path / "store.json"))
    r2 = v2.run(spark)
    assert r2["modes"][1] == "delta"
    assert all(m == "skip" for p, m in r2["modes"].items() if p != 1)
    assert r2["scanned_rows"] == 50
    assert r2["parts"][1]["stats"] == stats_oracle(table.part_dir(1))

    # idempotent: third run reads nothing
    r3 = v2.run(spark)
    assert all(m == "skip" for m in r3["modes"].values())
    assert r3["scanned_rows"] == 0

    # delete a file from part 3 -> not a pure append -> full fallback there
    pdir = f"{d}/sequences/part_id=3"
    victim = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(pdir, victim))
    r4 = v2.run(spark)
    assert r4["modes"][3] == "full"
    assert all(m == "skip" for p, m in r4["modes"].items() if p != 3)


def test_incremental_stats_all_null_n_tok(spark, tmp_path):
    """A partition whose every n_tok is null: sum 0, min/max None, all rows
    in histogram bucket -1, and the partition fails on null_n_tok."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "seq" / "part_id=0"
    d.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([f"d{i}" for i in range(4)]),
                "tokens": pa.array([[1, 2]] * 4, type=pa.list_(pa.int32())),
                "n_tok": pa.array([None] * 4, type=pa.int32()),
                "source": pa.array(["cases"] * 4),
            }
        ),
        str(d / "part-0.parquet"),
    )
    table = PartitionedTable(str(tmp_path / "seq"))
    r = IncrementalStatsValidator(table, str(tmp_path / "store.json")).run(spark)
    stats = r["parts"][0]["stats"]
    assert stats == stats_oracle(str(d))
    assert stats["sum_n_tok"] == 0
    assert stats["min_n_tok"] is None and stats["max_n_tok"] is None
    assert stats["null_n_tok"] == 4 and stats["n_tok_hist"] == {"-1": 4}
    assert r["parts"][0]["passed"] is False and r["parts"][0]["metric"] == 4.0


def test_incremental_drift_delta_matches_batch(spark, tmp_path):
    """Incremental drift: the full first run reproduces the batch rule's
    per-partition verdicts; after a pure append the delta run (which scans
    only the added files' partials) matches a fresh BATCH evaluation of the
    grown table — i.e. merging partials loses nothing."""
    import numpy as np

    from lk_data_test_spark.operators import drift
    from lk_data_test_spark.plans.rules import RuleContext

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    allowed = spark.read.parquet(f"{d}/allowed_sources")

    def batch_verdicts():
        ctx = RuleContext(
            spark=spark,
            allowed_sources=allowed,
            reference_profiles=profiles,
            part_ids=table.partition_ids(),
        )
        return {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
            for r in drift.evaluate(table.read(spark), ctx).verdicts.collect()
        }

    store = str(tmp_path / "drift_store.json")
    r1 = _reports(spark, table, store, profiles=profiles)["drift"]
    b1 = batch_verdicts()
    assert all(m == "full" for m in r1["modes"].values())
    assert set(r1["parts"]) == set(b1)
    # the drift role (part 4 at n_parts=5) must actually fail — otherwise
    # this test proves nothing
    assert b1[4][0] is False and b1[0][0] is True
    for pid, res in r1["parts"].items():
        assert res["passed"] == b1[pid][0], (pid, res, b1[pid])
        assert np.isclose(res["metric"], b1[pid][1], rtol=1e-9), pid

    # pure append of distribution-shifting rows into CLEAN part 0: the
    # incremental delta result must equal a fresh batch evaluation of the
    # grown table (merge-exactness), and only part 0 may re-read anything
    rows = [
        (f"A{i:04d}", [3, 3, 3, 3, 3, 3, 3, 3], 8, "editions")
        for i in range(400)
    ]
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=0")

    r2 = _reports(spark, table, store, profiles=profiles)["drift"]
    assert r2["modes"][0] == "delta"
    assert all(m == "skip" for p, m in r2["modes"].items() if p != 0)
    b2 = batch_verdicts()
    for pid, res in r2["parts"].items():
        assert res["passed"] == b2[pid][0], (pid, res, b2[pid])
        assert np.isclose(res["metric"], b2[pid][1], rtol=1e-9), pid

    # idempotent
    r3 = _reports(spark, table, store, profiles=profiles)["drift"]
    assert all(m == "skip" for m in r3["modes"].values())


def test_incremental_referential_and_uniqueness(spark, tmp_path):
    """The remaining data rules go incremental too: referential counts come
    from the merged row census (per-row independent), the uniqueness HLL
    sketch UNIONS (mergeable by design) with the exact hash-group pass
    reserved for partitions the merged screen flags. Full-run and
    post-append delta-run verdicts both match fresh batch evaluations."""
    from lk_data_test_spark.operators import referential, uniqueness
    from lk_data_test_spark.plans.rules import RuleContext

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    allowed = spark.read.parquet(f"{d}/allowed_sources")

    def batch(rule_mod):
        ctx = RuleContext(
            spark=spark, allowed_sources=allowed,
            part_ids=table.partition_ids(),
        )
        return {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
            for r in rule_mod.evaluate(table.read(spark), ctx).verdicts.collect()
        }

    store = str(tmp_path / "store.json")
    out1 = _reports(spark, table, store, allowed=allowed)
    r1, u1 = out1["referential"], out1["uniqueness"]
    br, bu = batch(referential), batch(uniqueness)
    # roles: part 1 dup (uniqueness fails), part 3 badsrc (referential fails)
    assert br[3][0] is False and bu[1][0] is False
    for pid in br:
        assert r1["parts"][pid]["passed"] == br[pid][0]
        assert r1["parts"][pid]["metric"] == br[pid][1]
        assert u1["parts"][pid]["passed"] == bu[pid][0]
        assert u1["parts"][pid]["metric"] == bu[pid][1]
    assert u1["parts"][1]["detail"] == "path=exact"
    assert u1["parts"][0]["detail"] == "path=screen"

    # appends: 60 copies of ONE doc_id into clean part 0 (uniqueness) and
    # 5 unknown-source rows into part 2 (referential)
    spark.createDataFrame(
        [("DUPLICATED", [1, 2], 2, "cases")] * 60,
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=0")
    spark.createDataFrame(
        [(f"N{i}", [1, 2], 2, "not-a-source") for i in range(5)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=2")

    out2 = _reports(spark, table, store, allowed=allowed)
    r2, u2 = out2["referential"], out2["uniqueness"]
    assert r2["modes"][2] == "delta" and u2["modes"][0] == "delta"
    br2, bu2 = batch(referential), batch(uniqueness)
    for pid in br2:
        assert r2["parts"][pid]["passed"] == br2[pid][0], pid
        assert r2["parts"][pid]["metric"] == br2[pid][1], pid
        assert u2["parts"][pid]["passed"] == bu2[pid][0], pid
        assert u2["parts"][pid]["metric"] == bu2[pid][1], pid
    # the appended dup collapses to ONE duplicated key, found via the
    # MERGED sketch flagging part 0 (old sketch + delta sketch)
    assert u2["parts"][0]["detail"] == "path=exact"
    assert u2["parts"][0]["metric"] == 1.0

    # idempotent
    out3 = _reports(spark, table, store, allowed=allowed)
    r3, u3 = out3["referential"], out3["uniqueness"]
    assert all(m == "skip" for m in r3["modes"].values())
    assert all(m == "skip" for m in u3["modes"].values())


def test_incremental_uniqueness_global_cross_partition_append(spark, tmp_path):
    """scope=global: an append into part 0 that re-uses doc_ids already
    living in UNTOUCHED part 1 must flip part 1's verdict even though part 1
    is mode=skip (its sketch comes from the store, no scan) — the cross
    signal comes entirely from union-vs-sum over stored sketches. Local
    screens stay silent (the appended ids are unique within part 0), so only
    the global scope can catch this."""
    d = str(tmp_path / "corpus")
    # parts 0 and 5 are clean-role; dup-role part 1 gets d=1 local dup
    # (0.25% — beneath every screen's resolution, so the first run passes)
    cfg = GenConfig(n_parts=6, rows_per_part=400, dup_frac=0.0025)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    store = str(tmp_path / "uniq_global.json")
    params = {"uniqueness": {"scope": "global"}}

    u1 = _reports(spark, table, store, params=params)["uniqueness"]
    # dup-role part 1 has d=1 local dup — beneath every screen's resolution;
    # all partitions pass on the sketch screen
    assert all(r["passed"] for r in u1["parts"].values())
    assert all(
        r["detail"] == "path=screen scope=global" for r in u1["parts"].values()
    )

    # append 120 rows into part 0 duplicating part 5's ids (rows 200..319:
    # outside part 5's local-dup block). 120 cross ids > 3%*(2400+120) = 76
    rows = [
        (f"D0005-{i:08d}", [1, 2], 2, "cases") for i in range(200, 320)
    ]
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=0")

    u2 = _reports(spark, table, store, params=params)["uniqueness"]
    assert u2["modes"][0] == "delta"
    assert all(m == "skip" for p, m in u2["modes"].items() if p != 0)
    # the cross signal widens the exact pass to every partition
    assert all(
        r["detail"] == "path=exact scope=global" for r in u2["parts"].values()
    )
    # part 0 (received copies) and part 5 (skip — owns the originals) fail
    assert u2["parts"][0]["passed"] is False
    assert u2["parts"][0]["metric"] == 120.0
    assert u2["parts"][5]["passed"] is False
    assert u2["parts"][5]["metric"] == 120.0
    # part 1's single local dup surfaces too (exact pass is global now)
    assert u2["parts"][1]["metric"] == 1.0
    for pid in (2, 3, 4):
        assert u2["parts"][pid]["passed"] is True, pid

    # matches a fresh batch evaluation at global scope
    from lk_data_test_spark.operators import uniqueness
    from lk_data_test_spark.plans.rules import RuleContext

    ctx = RuleContext(spark=spark, part_ids=table.partition_ids(), params=params)
    batch = {
        int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
        for r in uniqueness.evaluate(table.read(spark), ctx).verdicts.collect()
    }
    for pid, res in u2["parts"].items():
        assert res["passed"] == batch[pid][0], pid
        assert res["metric"] == batch[pid][1], pid


def test_incremental_token_bounds_delta_adds(spark, tmp_path):
    """token_bounds is per-row independent like referential: delta files add
    their kind-4 OOV-row counts to the stored ones; full-run and post-append
    delta-run both match a fresh batch evaluation; reruns skip."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.rules import RuleContext

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")

    def batch():
        ctx = RuleContext(spark=spark, part_ids=table.partition_ids())
        return {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
            for r in token_bounds.evaluate(
                table.read(spark), ctx
            ).verdicts.collect()
        }

    store = str(tmp_path / "tb.json")
    v1 = _reports(spark, table, store)["token_bounds"]
    b1 = batch()
    assert b1[2][0] is False and b1[2][1] == 5.0  # badcol role plants 5
    for pid in b1:
        assert v1["parts"][pid]["passed"] == b1[pid][0]
        assert v1["parts"][pid]["metric"] == b1[pid][1]

    # append 3 rows with OOV tokens into CLEAN part 0 and 2 clean rows
    # into failing part 2 (metric must stay 5 there, grow to 3 in part 0)
    spark.createDataFrame(
        [(f"O{i}", [1, 40000 + i], 2, "cases") for i in range(3)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=0")
    spark.createDataFrame(
        [(f"C{i}", [1, 2, 3], 3, "cases") for i in range(2)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=2")

    v2 = _reports(spark, table, store)["token_bounds"]
    assert v2["modes"][0] == "delta" and v2["modes"][2] == "delta"
    b2 = batch()
    assert b2[0] == (False, 3.0) and b2[2] == (False, 5.0)
    for pid in b2:
        assert v2["parts"][pid]["passed"] == b2[pid][0], pid
        assert v2["parts"][pid]["metric"] == b2[pid][1], pid

    v3 = _reports(spark, table, store)["token_bounds"]
    assert all(m == "skip" for m in v3["modes"].values())
    assert v3["parts"][0]["metric"] == 3.0


def test_skip_runs_do_no_work(spark, tmp_path, monkeypatch):
    """An all-skip rerun must be scan-free AND rescore-free: the uniqueness
    exact pass reuses the stored per-partition dup count (pure function of
    the unchanged file set) and the drift scorer reuses the stored metric
    under a matching (profiles, params) fingerprint. At 10^6 partitions the
    pre-memoization behavior — replaying the exact pass over every flagged
    partition and re-scoring every histogram — dominates an otherwise
    O(delta) rerun."""
    import lk_data_test_spark.operators.drift as drift_mod
    import lk_data_test_spark.operators.uniqueness as uniq_mod

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")

    store = str(tmp_path / "store.json")
    out1 = _reports(spark, table, store, profiles=profiles)
    u1, d1 = out1["uniqueness"], out1["drift"]
    assert u1["parts"][1]["detail"] == "path=exact"  # dup role got flagged

    def boom(*a, **k):
        raise AssertionError("exact pass ran on an all-skip rerun")

    monkeypatch.setattr(uniq_mod, "duplicate_doc_ids", boom)
    monkeypatch.setattr(drift_mod, "score_groups", boom)

    out2 = _reports(spark, table, store, profiles=profiles)
    u2, d2 = out2["uniqueness"], out2["drift"]
    assert all(m == "skip" for m in u2["modes"].values())
    assert all(m == "skip" for m in d2["modes"].values())
    for pid in u1["parts"]:
        assert u2["parts"][pid]["metric"] == u1["parts"][pid]["metric"]
        assert u2["parts"][pid]["detail"] == u1["parts"][pid]["detail"]
        assert d2["parts"][pid]["metric"] == d1["parts"][pid]["metric"]

    # a params change invalidates the drift fingerprint: the skip run then
    # RE-SCORES from stored partials (no scan) instead of reusing the memo —
    # proven via a sentinel scorer that must be consulted
    monkeypatch.setattr(
        drift_mod,
        "score_groups",
        lambda rows, *a, **k: [
            (pid, "cases", 0.0, 0.0, 0.0, 42.0)
            for pid in set(rows["part_id"].to_pylist())
        ],
    )
    d3 = _reports(
        spark, table, store, profiles=profiles,
        params={"drift": {"ks_threshold": 0.5}},
    )["drift"]
    assert all(m == "skip" for m in d3["modes"].values())
    assert all(r["metric"] == 42.0 for r in d3["parts"].values())


def test_uniqueness_input_change_reaches_unchanged_partitions(spark, tmp_path):
    """An rsd, scope or always_exact change with no file change reaches
    every partition: each entry records the inputs it was screened under, so
    an entry recorded for others is read again (full), and the report equals
    the batch rule under the new inputs. At rsd 0.2 the dup-role partition
    passes on the screen where rsd 0.01 flagged and failed it."""
    from lk_data_test_spark.operators import uniqueness
    from lk_data_test_spark.plans.rules import RuleContext

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=5, rows_per_part=1200))
    table = PartitionedTable(f"{d}/sequences")
    store = str(tmp_path / "store.json")

    def check(mode, **params):
        out = _reports(spark, table, store, params={"uniqueness": params})[
            "uniqueness"
        ]
        ctx = RuleContext(
            spark=spark, part_ids=table.partition_ids(),
            params={"uniqueness": params},
        )
        batch = {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]), r["detail"])
            for r in uniqueness.evaluate(table.read(spark), ctx).verdicts.collect()
        }
        got = {
            pid: (r["passed"], r["metric"], r["detail"])
            for pid, r in out["parts"].items()
        }
        assert got == batch, params
        assert all(m == mode for m in out["modes"].values()), params
        return got

    assert check("full", rsd=0.01)[1] == (False, 60.0, "path=exact")
    assert check("full", rsd=0.2)[1] == (True, 0.0, "path=screen")
    check("skip", rsd=0.2)
    assert check("full", rsd=0.2, scope="global")[1] == (
        True, 0.0, "path=screen scope=global",
    )
    check("skip", rsd=0.2, scope="global")
    # always_exact skips the screen: every partition takes the exact path
    assert check("full", rsd=0.2, always_exact=True)[1] == (
        False, 60.0, "path=exact",
    )
    check("skip", rsd=0.2, always_exact=True)


def test_incremental_read_runs_no_footer_job(spark, tmp_path):
    """The incremental validator reads its files under the table's memoized
    schema: building the read of a partition's files runs no Spark job,
    where a read without a schema runs a footer-inference job each time."""
    from tests.test_catalog import _jobs

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=2, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    v = IncrementalStatsValidator(table, str(tmp_path / "store.json"))
    v.run(spark)
    df, jobs = _jobs(spark, lambda: v._read(spark, v._files([0])))
    assert jobs == 0
    assert df.schema == table.read(spark).schema
    assert df.count() == 300
    assert {r["part_id"] for r in df.select("part_id").distinct().collect()} == {0}


def _batch(spark, table, allowed=None, profiles=None, params=None) -> dict:
    """rule -> {part_id: (passed, metric)} of a fresh batch evaluate of every
    data rule the incremental suite covers (drift/referential only with
    their dimension); uniqueness adds its ``detail`` (path=screen|exact)."""
    from lk_data_test_spark.operators import (
        column_stats,
        drift,
        referential,
        token_bounds,
        uniqueness,
    )
    from lk_data_test_spark.plans.rules import RuleContext

    ctx = RuleContext(
        spark=spark, allowed_sources=allowed, reference_profiles=profiles,
        part_ids=table.partition_ids(), params=params or {},
    )
    mods = [column_stats, token_bounds, uniqueness]
    mods += [drift] if profiles is not None else []
    mods += [referential] if allowed is not None else []
    df = table.read(spark)
    return {
        m.RULE_ID: {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
            + ((r["detail"],) if m is uniqueness else ())
            for r in m.evaluate(df, ctx).verdicts.collect()
        }
        for m in mods
    }


def _check_batch(out, batch):
    assert set(out) == set(batch)
    for rule, verdicts in batch.items():
        fields = ["passed", "metric"] + (["detail"] if rule == "uniqueness" else [])
        got = {
            pid: tuple(r[f] for f in fields)
            for pid, r in out[rule]["parts"].items()
        }
        assert got == verdicts, rule


def test_incremental_suite_equals_batch_rules(spark, tmp_path, monkeypatch):
    """run_incremental_suite gives every rule the verdicts of a fresh batch
    evaluate of the table, on first sight and after an append, from ONE
    build_shared pass per run (with and without profiles; none on an
    all-skip run); with its store deleted, every partition is full again for
    every rule and the verdicts are the same."""
    import lk_data_test_spark.plans.incremental_stats as inc_mod
    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=400)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    allowed = spark.read.parquet(f"{d}/allowed_sources")
    fdir = str(tmp_path / "fused")

    calls = []
    real = inc_mod.build_shared
    monkeypatch.setattr(
        inc_mod, "build_shared", lambda *a, **k: calls.append(1) or real(*a, **k)
    )

    def run(mdir=fdir, passes=1, **kw):
        calls.clear()
        kw = kw or dict(profiles=profiles, allowed=allowed)
        out = run_incremental_suite(spark, table, mdir, **kw)
        assert len(calls) == passes
        return out

    fused1 = run()
    _check_batch(fused1, _batch(spark, table, allowed, profiles))
    assert fused1["column_stats"]["scanned_rows"] == 5 * 400
    # the suite also reported uniqueness and referential for every partition
    assert set(fused1["uniqueness"]["parts"]) == set(range(5))
    assert set(fused1["referential"]["parts"]) == set(range(5))
    # one pass without profiles too (no kind-1 rows, no drift report)
    bare = run(str(tmp_path / "bare"), allowed=allowed)
    assert "drift" not in bare
    assert bare["column_stats"]["scanned_rows"] == 5 * 400

    # pure append: OOV rows into clean part 0, clean rows into part 3
    spark.createDataFrame(
        [(f"O{i}", [1, 40000 + i], 2, "cases") for i in range(3)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=0")
    spark.createDataFrame(
        [(f"C{i}", [1, 2, 3], 3, "cases") for i in range(2)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=3")

    fused2 = run()
    b2 = _batch(spark, table, allowed, profiles)
    _check_batch(fused2, b2)
    assert fused2["column_stats"]["modes"][0] == "delta"
    assert fused2["token_bounds"]["parts"][0]["metric"] == 3.0
    assert fused2["column_stats"]["scanned_rows"] == 5  # only the added rows
    skip = run(passes=0)
    assert all(m == "skip" for m in skip["column_stats"]["modes"].values())

    # the store deleted -> every partition full, same verdicts
    os.remove(os.path.join(fdir, "incremental_stats.json"))
    fused3 = run()
    for rule in fused3:
        assert all(m == "full" for m in fused3[rule]["modes"].values()), rule
    _check_batch(fused3, b2)


def test_fused_token_bounds_range_with_vocab_lo(spark, tmp_path):
    """With vocab_lo > 0 every token_bounds path checks [vocab_lo,
    vocab_size): a token in [vocab_size, vocab_lo + vocab_size) is OOV for
    the incremental suite, the validator without profiles and the batch rule
    alike — on first sight and on an append delta."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.incremental_stats import (
        run_incremental_suite,
    )
    from lk_data_test_spark.plans.rules import RuleContext

    lo, size = 2, 32768
    params = {"vocab_lo": lo, "vocab_size": size}
    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=2, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")

    def append_oov(pid, n):
        spark.createDataFrame(
            [(f"V{pid}-{i}", [5, size + 1], 2, "cases") for i in range(n)],
            "doc_id string, tokens array<int>, n_tok int, source string",
        ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id={pid}")

    def check(expect_mode):
        fused = run_incremental_suite(
            spark, table, str(tmp_path / "fused"), profiles=profiles,
            params=params,
        )["token_bounds"]
        sep = _reports(spark, table, str(tmp_path / "tb.json"), params=params)[
            "token_bounds"
        ]
        ctx = RuleContext(
            spark=spark, part_ids=table.partition_ids(), params=params
        )
        batch = {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
            for r in token_bounds.evaluate(table.read(spark), ctx).verdicts.collect()
        }
        assert fused["modes"][0] == sep["modes"][0] == expect_mode
        for pid, (passed, metric) in batch.items():
            assert fused["parts"][pid] == sep["parts"][pid], pid
            assert (sep["parts"][pid]["passed"], sep["parts"][pid]["metric"]) == (
                passed, metric,
            ), pid
        return batch

    append_oov(0, 3)
    b1 = check("full")
    append_oov(0, 2)
    b2 = check("delta")
    assert b2[0][1] == b1[0][1] + 2.0


# measured on ``corpus_dir`` (10 x 1,200 rows, profiles and allowed
# sources). The validator reads the dimension tables once (one collect
# each, ``plans/shared.py`` ``read_dimensions``), and the shared pass,
# referential and drift all take them from that read
FIRST_SIGHT_JOBS = 10


def test_first_sight_incremental_suite_job_count(spark, corpus_dir, tmp_path):
    """A first-sight run_incremental_suite launches at most
    FIRST_SIGHT_JOBS Spark jobs."""
    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite

    table = PartitionedTable(f"{corpus_dir}/sequences")
    profiles = spark.read.parquet(f"{corpus_dir}/reference_profiles")
    allowed = spark.read.parquet(f"{corpus_dir}/allowed_sources")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = run_incremental_suite(
        spark, table, str(tmp_path / "stores"), profiles=profiles, allowed=allowed
    )
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert all(m == "full" for m in out["drift"]["modes"].values())
    assert len(jobs) <= FIRST_SIGHT_JOBS, sorted(jobs)


def test_incremental_store_format(spark, tmp_path):
    """The on-disk format of the incremental store: one file, one per-entry
    key set after run_incremental_suite, so a refactor cannot silently
    change what an existing store holds."""
    import json

    from lk_data_test_spark.plans.incremental_stats import (
        run_incremental_suite,
    )

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=2, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    mdir = str(tmp_path / "stores")
    run_incremental_suite(
        spark, table, mdir,
        profiles=spark.read.parquet(f"{d}/reference_profiles"),
        allowed=spark.read.parquet(f"{d}/allowed_sources"),
    )
    keys = {
        "files", "inputs", "partials", "drift_metric", "drift_fp",
        "sketch_b64", "uniqueness_metric", "uniqueness_detail",
    }
    assert [f for f in os.listdir(mdir) if f.endswith(".json")] == [
        "incremental_stats.json"
    ]
    with open(os.path.join(mdir, "incremental_stats.json")) as f:
        entries = json.load(f)
    assert set(entries) == {"0", "1"}
    for pid, e in entries.items():
        assert set(e) == keys, pid
        assert set(e["files"]) == set(table.partition_info(int(pid)).files), pid
    inputs = entries["0"]["inputs"]
    assert set(inputs) == {"vocab", "domain", "rsd", "always_exact", "scope"}
    assert inputs["vocab"] == [0, 32768]
    assert (inputs["rsd"], inputs["always_exact"], inputs["scope"]) == (
        0.01, False, "partition",
    )
    assert all(len(p) == 4 for p in entries["0"]["partials"])
    kinds = {p[1] for p in entries["0"]["partials"]}
    assert {0, 1, 5} <= kinds <= set(range(6))



def test_store_digests_written_unsorted_still_skip(spark, tmp_path, monkeypatch):
    """Stores on disk hold ``domain`` and ``drift_fp`` digests made as the
    sha256 of an UNSORTED ``json.dumps``. The one sorted-key digest gives
    the same strings for these inputs: a store whose digests are rewritten
    in the unsorted form classifies every partition "skip" and re-scores no
    drift, so no upgrade forces a full run."""
    import hashlib
    import json

    import lk_data_test_spark.operators.drift as drift_mod

    def unsorted_digest(obj) -> str:
        return hashlib.sha256(json.dumps(obj, default=str).encode()).hexdigest()[:16]

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=2, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    store = str(tmp_path / "store.json")
    _reports(spark, table, store, profiles=profiles)

    prof_rows = profiles.collect()
    domain = sorted({int(t) for r in prof_rows for t in r["token_freq"]})
    params = drift_mod.resolve_params(None)
    fp = unsorted_digest(
        [
            sorted(
                (
                    r["source"],
                    [float(q) for q in r["n_tok_quantiles"]],
                    sorted((int(k), float(v)) for k, v in r["token_freq"].items()),
                )
                for r in prof_rows
            ),
            {k: params[k] for k in sorted(params)},
        ]
    )
    with open(store) as f:
        entries = json.load(f)
    for e in entries.values():
        e["inputs"]["domain"] = unsorted_digest(domain)
        e["drift_fp"] = fp
    with open(store, "w") as f:
        json.dump(entries, f)

    def boom(*a, **k):
        raise AssertionError("drift re-scored a skip partition")

    monkeypatch.setattr(drift_mod, "score_groups", boom)
    out = _reports(spark, table, store, profiles=profiles)
    for rule, r in out.items():
        assert set(r["modes"].values()) == {"skip"}, rule

def _append_rows(table, pid, name, n, null_n_tok=False):
    """Copy ``n`` rows of a generated file of a partition into a new file
    with fresh doc_ids (and, optionally, null n_tok)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdir = table.part_dir(pid)
    src = min(f for f in os.listdir(pdir) if f.startswith("part-"))
    t = pq.read_table(os.path.join(pdir, src)).slice(0, n)
    t = t.set_column(
        t.schema.get_field_index("doc_id"), "doc_id",
        pa.array([f"{name}-{i}" for i in range(n)], pa.string()),
    )
    if null_n_tok:
        i = t.schema.get_field_index("n_tok")
        t = t.set_column(i, t.schema.field(i), pa.nulls(n, t.schema.field(i).type))
    pq.write_table(t, os.path.join(table.part_dir(pid), f"{name}.parquet"))


def test_file_landing_mid_run_is_read_next_run(spark, tmp_path, monkeypatch):
    """The store records the listing its scans read: a file that lands
    after the run classified its partitions is not recorded as validated,
    so the next run reads it as a delta."""
    import lk_data_test_spark.operators.uniqueness as uniq_mod
    import lk_data_test_spark.plans.incremental_stats as inc_mod
    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=2, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    mdir = str(tmp_path / "stores")

    real_build, real_sketches = inc_mod.build_shared, uniq_mod.sketch_state

    def build_then_land(*a, **k):
        # 7 rows with null n_tok land after the listing
        _append_rows(table, 0, "landed-a", 7, null_n_tok=True)
        return real_build(*a, **k)

    def sketch_then_land(*a, **k):
        # 5 clean rows land after the listing, before the sketch pass
        _append_rows(table, 0, "landed-b", 5)
        return real_sketches(*a, **k)

    with monkeypatch.context() as m:
        m.setattr(inc_mod, "build_shared", build_then_land)
        m.setattr(uniq_mod, "sketch_state", sketch_then_land)
        r1 = run_incremental_suite(spark, table, mdir)
    assert r1["column_stats"]["scanned_rows"] == 600
    assert r1["column_stats"]["parts"][0]["passed"] is True

    r2 = run_incremental_suite(spark, table, mdir)
    cs = r2["column_stats"]
    assert cs["modes"] == {0: "delta", 1: "skip"}
    assert cs["scanned_rows"] == 12
    assert cs["parts"][0]["metric"] == 7.0
    assert cs["parts"][0]["stats"] == stats_oracle(table.part_dir(0))
    assert r2["uniqueness"]["modes"] == {0: "delta", 1: "skip"}
    assert r2["uniqueness"]["parts"][0]["passed"] is True


def _two_part_corpus(spark, tmp_path):
    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=2, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    allowed = spark.read.parquet(f"{d}/allowed_sources")
    mdir = str(tmp_path / "stores")
    run_incremental_suite(spark, table, mdir, allowed=allowed)
    return d, table, allowed, mdir


def test_allowed_change_rederives_referential_without_scan(spark, tmp_path):
    """A deactivated source reaches every skip partition: referential is
    derived again from the stored census against the new active set, with
    no scan, and equals the batch rule under the new set."""
    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite
    from pyspark.sql import functions as F

    _, table, allowed, mdir = _two_part_corpus(spark, tmp_path)
    no_cases = allowed.withColumn(
        "active", F.col("active") & (F.col("source") != "cases")
    )
    r = run_incremental_suite(spark, table, mdir, allowed=no_cases)
    batch = _batch(spark, table, allowed=no_cases)
    assert r["column_stats"]["scanned_rows"] == 0
    assert all(m == "skip" for m in r["referential"]["modes"].values())
    assert not any(p for p, _ in batch["referential"].values())
    _check_batch(r, batch)


def test_pass_input_change_reads_every_partition(spark, tmp_path):
    """The stored state depends on the vocab bounds (kind 4), the reference
    token domain (kind 1) and the uniqueness screen's inputs: a new vocab
    size, then a first run with profiles, then a new rsd classify every
    partition full, and each verdict equals the batch rule's under the same
    params (thresholds of column_stats and drift included)."""
    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite

    d, table, allowed, mdir = _two_part_corpus(spark, tmp_path)
    params = {"vocab_size": 900}
    r = run_incremental_suite(spark, table, mdir, allowed=allowed, params=params)
    batch = _batch(spark, table, allowed=allowed, params=params)
    assert r["column_stats"]["scanned_rows"] == 600
    assert any(m > 0 for _, m in batch["token_bounds"].values())
    _check_batch(r, batch)

    # first run with profiles: the stored partials have no kind-1 rows
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    r = run_incremental_suite(
        spark, table, mdir, profiles=profiles, allowed=allowed, params=params
    )
    assert all(m == "full" for m in r["drift"]["modes"].values())
    _check_batch(r, _batch(spark, table, allowed, profiles, params=params))

    # every rule's params at once: a new rsd re-reads every partition
    params = {
        "vocab_size": 900,
        "column_stats": {"max_null_rate": 1000.0},
        "drift": {"ks_threshold": 0.01},
        "uniqueness": {"rsd": 0.2},
    }
    r = run_incremental_suite(
        spark, table, mdir, profiles=profiles, allowed=allowed, params=params
    )
    assert all(m == "full" for m in r["uniqueness"]["modes"].values())
    assert r["column_stats"]["scanned_rows"] == 600
    _check_batch(r, _batch(spark, table, allowed, profiles, params=params))


def test_incremental_fails_fast(spark, tmp_path):
    """Known failure modes raise a named error before any store is
    written: hashed-domain profiles (name the batch drift rule) and a
    corrupt-tolerant table (name ValidationRunner); an entry in the store
    format before the shared partials classifies full."""
    import json

    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=2, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    store = str(tmp_path / "stats.json")

    v = IncrementalStatsValidator(
        table, store, profiles=profiles, params={"drift": {"max_ref_tokens": 1}}
    )
    with pytest.raises(ValueError, match="run the batch drift rule"):
        v.run(spark)
    assert not os.path.exists(store)

    tolerant = PartitionedTable(f"{d}/sequences", tolerate_corrupt=True)
    for make in (
        lambda: IncrementalStatsValidator(tolerant, store),
        lambda: run_incremental_suite(spark, tolerant, str(tmp_path / "m")),
    ):
        with pytest.raises(ValueError, match="ValidationRunner"):
            make()

    # upgrade: an old-format entry ({"files", "stats"}) for unchanged files
    with open(store, "w") as f:
        json.dump(
            {"0": {"files": table.part_files(0), "stats": {"row_count": 300}}}, f
        )
    r = IncrementalStatsValidator(table, store).run(spark)
    assert r["modes"] == {0: "full", 1: "full"}
    assert r["parts"][0]["stats"] == stats_oracle(table.part_dir(0))


def test_one_listing_per_run(spark, tmp_path, monkeypatch):
    """One run of the incremental suite lists each partition once: the
    listing it classifies is the one it reads and records for every rule."""
    from lk_data_test_spark.plans.incremental_stats import run_incremental_suite

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=3, rows_per_part=300))
    table = PartitionedTable(f"{d}/sequences")
    listed = []
    real = PartitionedTable.part_files
    monkeypatch.setattr(
        PartitionedTable, "part_files",
        lambda self, pid: listed.append(pid) or real(self, pid),
    )
    run_incremental_suite(spark, table, str(tmp_path / "stores"))
    assert sorted(listed) == [0, 1, 2]


def test_cli_incremental_takes_params(spark, tmp_path, capsys):
    """``--incremental-stats`` takes the rule ``--params`` of a full run:
    every failing set it prints equals the batch rule's under the same
    params. At rsd 0.2 the dup-role partition passes the screen."""
    import json

    from lk_data_test_spark.cli import main

    d = str(tmp_path / "corpus")
    generate(spark, d, GenConfig(n_parts=5, rows_per_part=1200))
    params = {"uniqueness": {"rsd": 0.2}}
    rc = main(
        ["--data-dir", d, "--incremental-stats", "--params", json.dumps(params)]
    )
    assert rc == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    table = PartitionedTable(f"{d}/sequences")
    batch = _batch(
        spark, table,
        allowed=spark.read.parquet(f"{d}/allowed_sources"),
        profiles=spark.read.parquet(f"{d}/reference_profiles"),
        params=params,
    )
    failing = {
        rule: sorted(pid for pid, v in verdicts.items() if not v[0])
        for rule, verdicts in batch.items()
    }
    assert failing["uniqueness"] == []
    assert got["uniqueness_failed_partitions"] == failing["uniqueness"]
    assert got["failed_partitions"] == failing["column_stats"]
    assert got["token_bounds_failed_partitions"] == failing["token_bounds"]
    assert got["drift_failed_partitions"] == failing["drift"]
    assert got["referential_failed_partitions"] == failing["referential"]
