"""File-delta incremental validation: delta-only scans, exact merges,
full fallback on rewrite, idempotent skips."""

from __future__ import annotations

import os

from lk_data_test_spark.datagen import GenConfig, generate
from lk_data_test_spark.plans.incremental_stats import (
    IncrementalStatsValidator,
    merge_stats,
)
from lk_data_test_spark.sources.catalog import PartitionedTable
from tests.conftest import stats_oracle


def test_merge_stats_is_exact_and_commutative():
    a = {
        "row_count": 10, "null_doc_id": 1, "null_source": 0, "null_n_tok": 2,
        "null_tokens": 0, "nonpos_n_tok": 1, "len_mismatch": 3,
        "sum_n_tok": 500, "min_n_tok": 3, "max_n_tok": 90,
        "n_tok_hist": {"0": 4, "1": 6},
    }
    b = {
        "row_count": 5, "null_doc_id": 0, "null_source": 2, "null_n_tok": 0,
        "null_tokens": 1, "nonpos_n_tok": 0, "len_mismatch": 0,
        "sum_n_tok": 100, "min_n_tok": 1, "max_n_tok": 40,
        "n_tok_hist": {"1": 2, "3": 5},
    }
    m = merge_stats(a, b)
    assert m == merge_stats(b, a)
    assert m["row_count"] == 15 and m["min_n_tok"] == 1 and m["max_n_tok"] == 90
    assert m["n_tok_hist"] == {"0": 4, "1": 8, "3": 5}
    empty = {
        "row_count": 0, "null_doc_id": 0, "null_source": 0, "null_n_tok": 0,
        "null_tokens": 0, "nonpos_n_tok": 0, "len_mismatch": 0,
        "sum_n_tok": 0, "min_n_tok": None, "max_n_tok": None, "n_tok_hist": {},
    }
    assert merge_stats(a, empty) == a


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
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalDriftValidator,
    )
    from lk_data_test_spark.plans.rules import RuleContext

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    allowed = spark.read.parquet(f"{d}/allowed_sources")

    def batch_verdicts():
        # drift.evaluate caches its per-group frame (the suite runner
        # unpersists it); clear it here so the SECOND batch evaluation after
        # the append is not silently served the pre-append cached plan
        # (CacheManager matches by logical-plan equality)
        spark.catalog.clearCache()
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

    v = IncrementalDriftValidator(table, str(tmp_path / "drift_store.json"))
    r1 = v.run(spark, profiles)
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

    v2 = IncrementalDriftValidator(table, str(tmp_path / "drift_store.json"))
    r2 = v2.run(spark, profiles)
    assert r2["modes"][0] == "delta"
    assert all(m == "skip" for p, m in r2["modes"].items() if p != 0)
    b2 = batch_verdicts()
    for pid, res in r2["parts"].items():
        assert res["passed"] == b2[pid][0], (pid, res, b2[pid])
        assert np.isclose(res["metric"], b2[pid][1], rtol=1e-9), pid

    # idempotent
    r3 = v2.run(spark, profiles)
    assert all(m == "skip" for m in r3["modes"].values())


def test_incremental_referential_and_uniqueness(spark, tmp_path):
    """The remaining data rules go incremental too: referential metrics ADD
    (per-row independent), the uniqueness HLL sketch UNIONS (mergeable by
    design) with the exact hash-group pass reserved for partitions the
    merged screen flags. Full-run and post-append delta-run verdicts both
    match fresh batch evaluations."""
    from lk_data_test_spark.operators import referential, uniqueness
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalReferentialValidator,
        IncrementalUniquenessValidator,
    )
    from lk_data_test_spark.plans.rules import RuleContext

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    allowed = spark.read.parquet(f"{d}/allowed_sources")

    def batch(rule_mod):
        spark.catalog.clearCache()
        ctx = RuleContext(
            spark=spark, allowed_sources=allowed,
            part_ids=table.partition_ids(),
        )
        return {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
            for r in rule_mod.evaluate(table.read(spark), ctx).verdicts.collect()
        }

    vr = IncrementalReferentialValidator(table, str(tmp_path / "ref.json"))
    vu = IncrementalUniquenessValidator(table, str(tmp_path / "uniq.json"))
    r1, u1 = vr.run(spark, allowed), vu.run(spark)
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

    r2 = IncrementalReferentialValidator(table, str(tmp_path / "ref.json")).run(
        spark, allowed
    )
    u2 = IncrementalUniquenessValidator(table, str(tmp_path / "uniq.json")).run(
        spark
    )
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
    r3 = IncrementalReferentialValidator(table, str(tmp_path / "ref.json")).run(
        spark, allowed
    )
    u3 = IncrementalUniquenessValidator(table, str(tmp_path / "uniq.json")).run(
        spark
    )
    assert all(m == "skip" for m in r3["modes"].values())
    assert all(m == "skip" for m in u3["modes"].values())


def test_incremental_uniqueness_global_cross_partition_append(spark, tmp_path):
    """scope=global: an append into part 0 that re-uses doc_ids already
    living in UNTOUCHED part 1 must flip part 1's verdict even though part 1
    is mode=skip (its sketch comes from the store, no scan) — the cross
    signal comes entirely from union-vs-sum over stored sketches. Local
    screens stay silent (the appended ids are unique within part 0), so only
    the global scope can catch this."""
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalUniquenessValidator,
    )

    d = str(tmp_path / "corpus")
    # parts 0 and 5 are clean-role; dup-role part 1 gets d=1 local dup
    # (0.25% — beneath every screen's resolution, so the first run passes)
    cfg = GenConfig(n_parts=6, rows_per_part=400, dup_frac=0.0025)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    store = str(tmp_path / "uniq_global.json")

    u1 = IncrementalUniquenessValidator(table, store, scope="global").run(spark)
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

    u2 = IncrementalUniquenessValidator(table, store, scope="global").run(spark)
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

    spark.catalog.clearCache()
    ctx = RuleContext(
        spark=spark,
        part_ids=table.partition_ids(),
        params={"uniqueness": {"scope": "global"}},
    )
    batch = {
        int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
        for r in uniqueness.evaluate(table.read(spark), ctx).verdicts.collect()
    }
    for pid, res in u2["parts"].items():
        assert res["passed"] == batch[pid][0], pid
        assert res["metric"] == batch[pid][1], pid


def test_incremental_token_bounds_delta_adds(spark, tmp_path):
    """token_bounds is per-row independent like referential: delta files add
    delta OOV-row counts to the stored metric; full-run and post-append
    delta-run both match a fresh batch evaluation; reruns skip."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalTokenBoundsValidator,
    )
    from lk_data_test_spark.plans.rules import RuleContext

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")

    def batch():
        spark.catalog.clearCache()
        ctx = RuleContext(spark=spark, part_ids=table.partition_ids())
        return {
            int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
            for r in token_bounds.evaluate(
                table.read(spark), ctx
            ).verdicts.collect()
        }

    store = str(tmp_path / "tb.json")
    v1 = IncrementalTokenBoundsValidator(table, store).run(spark)
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

    v2 = IncrementalTokenBoundsValidator(table, store).run(spark)
    assert v2["modes"][0] == "delta" and v2["modes"][2] == "delta"
    b2 = batch()
    assert b2[0] == (False, 3.0) and b2[2] == (False, 5.0)
    for pid in b2:
        assert v2["parts"][pid]["passed"] == b2[pid][0], pid
        assert v2["parts"][pid]["metric"] == b2[pid][1], pid

    v3 = IncrementalTokenBoundsValidator(table, store).run(spark)
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
    import lk_data_test_spark.operators.uniqueness as uniq_mod
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalDriftValidator,
        IncrementalUniquenessValidator,
    )

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=1200)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")

    ustore = str(tmp_path / "uniq.json")
    dstore = str(tmp_path / "drift.json")
    u1 = IncrementalUniquenessValidator(table, ustore).run(spark)
    d1 = IncrementalDriftValidator(table, dstore).run(spark, profiles)
    assert u1["parts"][1]["detail"] == "path=exact"  # dup role got flagged

    def boom(*a, **k):
        raise AssertionError("exact pass ran on an all-skip rerun")

    monkeypatch.setattr(uniq_mod, "duplicate_doc_ids", boom)
    monkeypatch.setattr(IncrementalDriftValidator, "_score", boom)

    u2 = IncrementalUniquenessValidator(table, ustore).run(spark)
    d2 = IncrementalDriftValidator(table, dstore).run(spark, profiles)
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
        IncrementalDriftValidator, "_score", lambda self, *a, **k: 42.0
    )
    d3 = IncrementalDriftValidator(
        table, dstore, params={"ks_threshold": 0.5}
    ).run(spark, profiles)
    assert all(m == "skip" for m in d3["modes"].values())
    assert all(r["metric"] == 42.0 for r in d3["parts"].values())


def test_fused_suite_equals_separate_validators(spark, tmp_path, monkeypatch):
    """run_incremental_suite fuses the three tokens-reading validators onto
    ONE SharedTokenStats pass per scanned frame. Equivalence contract: the
    fused results (modes, metrics, verdicts, merged stats) are identical to
    each validator running its own scan, on first sight AND on an append
    delta — and under fusion the per-validator scan methods are never
    called (proven with raising sentinels)."""
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalDriftValidator,
        IncrementalTokenBoundsValidator,
        run_incremental_suite,
    )

    d = str(tmp_path / "corpus")
    cfg = GenConfig(n_parts=5, rows_per_part=400)
    generate(spark, d, cfg)
    table = PartitionedTable(f"{d}/sequences")
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    allowed = spark.read.parquet(f"{d}/allowed_sources")
    fdir, sdir = str(tmp_path / "fused"), str(tmp_path / "sep")

    def run_separate():
        return {
            "column_stats": IncrementalStatsValidator(
                table, os.path.join(sdir, "incremental_stats.json")
            ).run(spark),
            "drift": IncrementalDriftValidator(
                table, os.path.join(sdir, "incremental_drift.json")
            ).run(spark, profiles),
            "token_bounds": IncrementalTokenBoundsValidator(
                table, os.path.join(sdir, "incremental_token_bounds.json")
            ).run(spark),
        }

    def run_fused():
        with monkeypatch.context() as m:
            def boom(*a, **k):
                raise AssertionError("per-validator scan ran under fusion")

            m.setattr(IncrementalStatsValidator, "_stats_for", boom)
            m.setattr(IncrementalDriftValidator, "_partials_for", boom)
            m.setattr(IncrementalTokenBoundsValidator, "_counts", boom)
            return run_incremental_suite(
                spark, table, fdir, profiles=profiles, allowed=allowed
            )

    def check(fused, sep):
        for rule in ("column_stats", "drift", "token_bounds"):
            fp, sp = fused[rule]["parts"], sep[rule]["parts"]
            assert set(fp) == set(sp), rule
            for pid in fp:
                assert fp[pid] == sp[pid], (rule, pid, fp[pid], sp[pid])

    sep1 = run_separate()
    fused1 = run_fused()
    check(fused1, sep1)
    assert fused1["column_stats"]["scanned_rows"] == 5 * 400
    # the suite also ran the two narrow validators
    assert set(fused1["uniqueness"]["parts"]) == set(range(5))
    assert set(fused1["referential"]["parts"]) == set(range(5))

    # pure append: OOV rows into clean part 0, clean rows into part 3
    spark.createDataFrame(
        [(f"O{i}", [1, 40000 + i], 2, "cases") for i in range(3)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=0")
    spark.createDataFrame(
        [(f"C{i}", [1, 2, 3], 3, "cases") for i in range(2)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.mode("append").parquet(f"{d}/sequences/part_id=3")

    sep2 = run_separate()
    fused2 = run_fused()
    check(fused2, sep2)
    assert fused2["column_stats"]["modes"][0] == "delta"
    assert fused2["token_bounds"]["parts"][0]["metric"] == 3.0
    assert fused2["column_stats"]["scanned_rows"] == 5  # only the added rows

    # classification disagreement -> fusion disengages, each validator falls
    # back to its own scan and the run still completes correctly
    os.remove(os.path.join(fdir, "incremental_drift.json"))
    fused3 = run_incremental_suite(
        spark, table, fdir, profiles=profiles, allowed=allowed
    )
    assert all(m == "full" for m in fused3["drift"]["modes"].values())
    assert all(m == "skip" for m in fused3["column_stats"]["modes"].values())
    for pid in fused3["drift"]["parts"]:
        assert (
            fused3["drift"]["parts"][pid]["metric"]
            == sep2["drift"]["parts"][pid]["metric"]
        )


def test_fused_token_bounds_range_with_vocab_lo(spark, tmp_path):
    """With vocab_lo > 0 every token_bounds path checks [vocab_lo,
    vocab_size): a token in [vocab_size, vocab_lo + vocab_size) is OOV for
    the fused suite, the standalone validator and the batch rule alike — on
    first sight and on an append delta."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalTokenBoundsValidator,
        run_incremental_suite,
    )
    from lk_data_test_spark.plans.rules import RuleContext

    lo, size = 2, 32768
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
            vocab_lo=lo, vocab_size=size,
        )["token_bounds"]
        sep = IncrementalTokenBoundsValidator(
            table, str(tmp_path / "tb.json"), lo, size
        ).run(spark)
        spark.catalog.clearCache()
        ctx = RuleContext(
            spark=spark, part_ids=table.partition_ids(),
            params={"vocab_lo": lo, "vocab_size": size},
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


def test_incremental_store_format(spark, tmp_path):
    """The on-disk format of the five incremental stores: per-entry key sets
    after run_incremental_suite, so a refactor cannot silently change what
    an existing store holds."""
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
    expected = {
        "stats": {"files", "stats"},
        "drift": {"files", "partials", "metric", "score_fp"},
        "referential": {"files", "metric"},
        "token_bounds": {"files", "metric"},
        "uniqueness": {"files", "n_rows", "sketch_b64", "metric", "detail"},
    }
    assert sorted(
        f for f in os.listdir(mdir) if f.endswith(".json")
    ) == sorted(f"incremental_{name}.json" for name in expected)
    for name, keys in expected.items():
        with open(os.path.join(mdir, f"incremental_{name}.json")) as f:
            entries = json.load(f)
        assert set(entries) == {"0", "1"}, name
        for pid, e in entries.items():
            assert set(e) == keys, (name, pid)
            assert set(e["files"]) == set(
                table.partition_info(int(pid)).files
            ), (name, pid)
        if name == "stats":
            assert set(entries["0"]["stats"]) == {
                "row_count", "null_doc_id", "null_source", "null_n_tok",
                "null_tokens", "nonpos_n_tok", "len_mismatch", "sum_n_tok",
                "min_n_tok", "max_n_tok", "n_tok_hist",
            }
        if name == "drift":
            assert all(len(p) == 4 for p in entries["0"]["partials"])
