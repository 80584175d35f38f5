"""Golden-verdict tests: each rule must fail exactly the partitions whose
role injects that rule's violation (FIXTURES.md §1, SURVEY.md §7.2)."""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd
import pytest

from pyspark.sql import functions as F

from lk_data_test_spark.datagen import expected_failing_parts
from lk_data_test_spark.operators import column_stats, drift, referential, uniqueness
from lk_data_test_spark.plans.rules import RuleContext
from lk_data_test_spark.sources.catalog import PartitionedTable
from tests.conftest import TEST_CFG, stats_oracle

EXPECTED = expected_failing_parts(TEST_CFG)


@pytest.fixture(scope="module")
def ctx_df(spark, corpus_dir):
    table = PartitionedTable(f"{corpus_dir}/sequences")
    df = table.read(spark)
    ctx = RuleContext(
        spark=spark,
        allowed_sources=spark.read.parquet(f"{corpus_dir}/allowed_sources"),
        reference_profiles=spark.read.parquet(f"{corpus_dir}/reference_profiles"),
        part_ids=table.partition_ids(),
    )
    return ctx, df


def _failing(verdicts) -> set[int]:
    return {r["part_id"] for r in verdicts.collect() if not r["passed"]}


def test_referential(ctx_df):
    ctx, df = ctx_df
    res = referential.evaluate(df, ctx)
    assert _failing(res.verdicts) == EXPECTED["referential"]
    v = res.violations.collect()
    assert v and all(r["rule_id"] == "referential" for r in v)
    assert all(r["part_id"] in EXPECTED["referential"] for r in v)
    assert all(r["detail"].startswith("unknown source: ") for r in v)


def test_referential_rows_match_anti_join(ctx_df, defect_corpus):
    """Referential's violation rows are the rows a left anti join against
    the active sources keeps: a null source is a violation, and with no
    active source every row is one."""
    from lk_data_test_spark.plans.rules import local_frame

    ctx, _ = ctx_df
    df = PartitionedTable(defect_corpus).read(ctx.spark)
    cols = ("part_id", "doc_id", "source", "n_tok", "detail")
    detail = F.concat(F.lit("unknown source: "), F.col("source")).alias("detail")
    empty = local_frame(ctx.spark, [], ctx.allowed_sources.schema)
    for allowed, n_rows in ((ctx.allowed_sources, 2), (empty, 400)):
        res = referential.evaluate(
            df, RuleContext(spark=ctx.spark, allowed_sources=allowed, part_ids=[0, 4])
        )
        got = Counter(tuple(r[c] for c in cols) for r in res.violations.collect())
        oracle = df.join(
            F.broadcast(allowed.filter("active").select("source")), "source", "left_anti"
        ).select(F.col("part_id").cast("int"), "doc_id", "source", "n_tok", detail)
        assert got == Counter(tuple(r) for r in oracle.collect())
        assert sum(got.values()) == 2 * n_rows
        assert sum(n for (_, _, src, _, _), n in got.items() if src is None) == 2
        assert {
            r["part_id"]: r["metric"] for r in res.verdicts.collect()
        } == {0: float(n_rows), 4: float(n_rows)}


def test_token_bounds(ctx_df):
    """badcol parts plant exactly 5 rows with an out-of-vocab first token
    (3 above vocab, 2 negative). The rule run alone (it builds its own
    shared pass) and the rule handed the suite's pass must agree exactly."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.shared import SharedTokenStats

    ctx, df = ctx_df
    res = token_bounds.evaluate(df, ctx)  # ctx.shared is None -> own pass
    assert _failing(res.verdicts) == EXPECTED["token_bounds"]
    by_part = {
        r["part_id"]: r["metric"] for r in res.verdicts.collect()
    }
    for pid in EXPECTED["token_bounds"]:
        assert by_part[pid] == 5.0
    v = res.violations.collect()
    assert len(v) == 5 * len(EXPECTED["token_bounds"])
    assert all(r["rule_id"] == "token_bounds" for r in v)
    assert all(r["part_id"] in EXPECTED["token_bounds"] for r in v)
    # each planted row has exactly ONE oov token; 2 of 5 per part negative
    assert all(r["detail"].startswith("oov=1;") for r in v)
    neg = [r for r in v if ";min=-" in r["detail"]]
    assert len(neg) == 2 * len(EXPECTED["token_bounds"])

    shared = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles,
        vocab_lo=0, vocab_hi=TEST_CFG.vocab,
    )
    shared_ctx = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=ctx.part_ids,
        shared=shared,
    )
    res2 = token_bounds.evaluate(df, shared_ctx)
    a = sorted(tuple(r) for r in res.verdicts.collect())
    b = sorted(tuple(r) for r in res2.verdicts.collect())
    assert a == b
    assert sorted(tuple(r) for r in res2.violations.collect()) == sorted(
        tuple(r) for r in v
    )


def test_token_bounds_shared_scan_mismatched_vocab_falls_back(ctx_df):
    """A shared scan built for a DIFFERENT vocab bound must not be consumed:
    the rule builds its own pass from its context and still gets the right
    answer (guards against silently reusing stale kind-4 partials)."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.shared import SharedTokenStats

    ctx, df = ctx_df
    shared = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles,
        vocab_lo=0, vocab_hi=TEST_CFG.vocab * 2,  # wrong bound on purpose
    )
    shared_ctx = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=ctx.part_ids,
        shared=shared,
        params={"vocab_size": TEST_CFG.vocab},
    )
    res = token_bounds.evaluate(df, shared_ctx)
    assert _failing(res.verdicts) == EXPECTED["token_bounds"]
    # the stale kind-4 partials (built for 2x vocab) would miss the 3
    # above-vocab rows and report metric 2.0 — the fallback sees all 5
    for r in res.verdicts.collect():
        if r["part_id"] in EXPECTED["token_bounds"]:
            assert r["metric"] == 5.0


def test_column_stats(ctx_df):
    ctx, df = ctx_df
    res = column_stats.evaluate(df, ctx)
    assert _failing(res.verdicts) == EXPECTED["column_stats"]
    v = res.violations.collect()
    # 6 injected defects per badcol partition
    assert len(v) == 6 * len(EXPECTED["column_stats"])
    details = {r["detail"] for r in v}
    assert "null_n_tok" in details and "len_mismatch" in details
    # stats sanity, from the stats function over the rule's own pass
    from lk_data_test_spark.plans.shared import build_shared

    stats = column_stats.part_stats(build_shared(df, ctx))
    p = next(iter(EXPECTED["column_stats"]))
    assert stats[p]["row_count"] == TEST_CFG.rows_per_part
    assert stats[p]["null_n_tok"] == 2
    assert sum(stats[p]["n_tok_hist"].values()) == TEST_CFG.rows_per_part


def test_uniqueness_screen_and_exact(ctx_df):
    ctx, df = ctx_df
    res = uniqueness.evaluate(df, ctx)
    assert _failing(res.verdicts) == EXPECTED["uniqueness"]
    v = res.violations.collect()
    dup_per_part = max(1, int(TEST_CFG.dup_frac * TEST_CFG.rows_per_part))
    assert len(v) == dup_per_part * len(EXPECTED["uniqueness"])
    assert all("duplicate doc_id count=2" == r["detail"] for r in v)
    # provenance: flagged partitions carry path=exact, clean ones path=screen
    prov = {r["part_id"]: r["detail"] for r in res.verdicts.collect()}
    assert {p for p, d in prov.items() if d == "path=exact"} == EXPECTED["uniqueness"]
    assert all(d == "path=screen" for p, d in prov.items()
               if p not in EXPECTED["uniqueness"])


def test_uniqueness_global_scope_cross_partition(spark):
    """Global scope sees doc_ids duplicated ACROSS partitions; partition
    scope provably misses them. The expectation is re-derived THREE
    independent ways: the engine, the analytic injection arithmetic
    (expected_global_dup_ids), and a pure-pandas Counter over the generated
    corpus (no Spark, no engine code) — the latter also de-circularizes the
    global_uniqueness_verdicts VALUES oracle in entry_queries."""
    from collections import Counter

    from lk_data_test_spark.datagen import (
        GenConfig,
        _gen_partition,
        expected_global_dup_ids,
        sequences_df,
    )

    cfg = GenConfig(n_parts=10, rows_per_part=400, cross_dup_frac=0.05)
    df = sequences_df(spark, cfg).cache()
    ctx = RuleContext(
        spark=spark,
        part_ids=list(range(cfg.n_parts)),
        params={"uniqueness": {"scope": "global"}},
    )
    res = uniqueness.evaluate(df, ctx)
    metrics = {r["part_id"]: r["metric"] for r in res.verdicts.collect()}
    exp = expected_global_dup_ids(cfg)
    assert metrics == {p: float(m) for p, m in exp.items()}

    # independent pure-pandas re-derivation (generator output, no engine)
    frames = [_gen_partition(p, cfg) for p in range(cfg.n_parts)]
    counts = Counter(pd.concat(frames)["doc_id"])
    for p, frame in enumerate(frames):
        n_dup = sum(1 for i in set(frame["doc_id"]) if counts[i] > 1)
        assert metrics[p] == float(n_dup)

    # the cross ids span 2 partitions and appear in BOTH partitions' rows
    viol = res.violations.collect()
    cross = [r for r in viol if "parts=2" in r["detail"]]
    assert len(cross) == 2 * max(1, int(cfg.cross_dup_frac * cfg.rows_per_part))
    assert {r["part_id"] for r in cross} == {1, 6}

    # partition scope on the SAME corpus reports only the local dups
    res_local = uniqueness.evaluate(
        df, RuleContext(spark=spark, part_ids=list(range(cfg.n_parts)))
    )
    assert res_local.violations.count() == len(viol) - len(cross)
    df.unpersist()


def test_uniqueness_global_cross_flag_widens_exact(spark):
    """When per-partition screens all pass (local dup rate far below 3*rsd)
    but the cross-partition rate exceeds the band, the union-vs-sum sketch
    signal must widen the exact pass to the whole table — the branch no
    partition-local screen can reach."""
    from lk_data_test_spark.datagen import GenConfig, expected_global_dup_ids, sequences_df

    # d = 1 local dup per dup-part (0.25% — invisible to the 3% screen);
    # c = 140 cross ids between parts 1 and 6 (excess 140 > 3%*4000 = 120)
    cfg = GenConfig(
        n_parts=10, rows_per_part=400, dup_frac=0.0025, cross_dup_frac=0.35
    )
    df = sequences_df(spark, cfg).cache()
    base = RuleContext(spark=spark, part_ids=list(range(cfg.n_parts)))
    res_local = uniqueness.evaluate(df, base)
    # partition scope: every screen passes, nothing reported
    assert _failing(res_local.verdicts) == set()
    assert res_local.violations.count() == 0

    ctx = RuleContext(
        spark=spark,
        part_ids=list(range(cfg.n_parts)),
        params={"uniqueness": {"scope": "global"}},
    )
    res = uniqueness.evaluate(df, ctx)
    verdicts = res.verdicts.collect()
    # cross widening: EVERY partition's verdict comes from the exact path
    assert all(r["detail"] == "path=exact scope=global" for r in verdicts)
    exp = expected_global_dup_ids(cfg)
    assert {r["part_id"]: r["metric"] for r in verdicts} == {
        p: float(m) for p, m in exp.items()
    }
    assert _failing(res.verdicts) == {1, 6}
    df.unpersist()


def test_uniqueness_global_matches_partition_scope_without_cross_dups(ctx_df):
    """On the default corpus (cross_dup_frac=0) global scope must fail the
    same partitions with the same metrics as partition scope."""
    ctx, df = ctx_df
    g = uniqueness.evaluate(
        df,
        RuleContext(
            spark=ctx.spark,
            part_ids=ctx.part_ids,
            params={"uniqueness": {"scope": "global"}},
        ),
    )
    base = uniqueness.evaluate(df, ctx)
    gm = {r["part_id"]: r["metric"] for r in g.verdicts.collect()}
    bm = {r["part_id"]: r["metric"] for r in base.verdicts.collect()}
    assert gm == bm
    assert _failing(g.verdicts) == EXPECTED["uniqueness"]


def test_uniqueness_lg_k_follows_rsd(ctx_df, corpus_dir, tmp_path):
    """lgConfigK is Spark's HLL++ precision for rsd (14 at the default 0.01,
    so stored sketches keep their format); an rsd outside the sketch's
    range raises a ValueError naming the range before any job runs, in the
    batch rule and in the incremental validator alike."""
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalStatsValidator,
    )

    assert uniqueness.lg_config_k(0.01) == 14
    assert uniqueness.lg_config_k(0.005) == 16
    assert uniqueness.lg_config_k(0.39) == 4
    assert uniqueness.lg_config_k(0.0008) == 21
    ctx, df = ctx_df
    table = PartitionedTable(f"{corpus_dir}/sequences")
    tracker = ctx.spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    for rsd in (0.5, 0.0005, 0.0, -0.01):
        bad = RuleContext(
            spark=ctx.spark, part_ids=ctx.part_ids,
            params={"uniqueness": {"rsd": rsd}},
        )
        with pytest.raises(ValueError, match="must lie in 4-21"):
            uniqueness.evaluate(df, bad)
        with pytest.raises(ValueError, match="must lie in 4-21"):
            IncrementalStatsValidator(
                table, str(tmp_path / "u.json"),
                params={"uniqueness": {"rsd": rsd}},
            )
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_uniqueness_always_exact_matches_screen(ctx_df):
    ctx, df = ctx_df
    exact_ctx = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=ctx.part_ids,
        params={"uniqueness": {"always_exact": True}},
    )
    res = uniqueness.evaluate(df, exact_ctx)
    assert _failing(res.verdicts) == EXPECTED["uniqueness"]
    assert all(r["detail"] == "path=exact" for r in res.verdicts.collect())


def test_drift(ctx_df):
    ctx, df = ctx_df
    res = drift.evaluate(df, ctx)
    assert _failing(res.verdicts) == EXPECTED["drift"]
    v = res.violations.collect()
    assert v and all(r["part_id"] in EXPECTED["drift"] for r in v)


def test_drift_removed_method_rejected(ctx_df):
    """The exact histogram is drift's only KS method: any other ``method``
    fails fast with the remedy instead of silently scoring with "hist", in
    the batch rule and the incremental validator alike."""
    from lk_data_test_spark.plans.incremental_stats import (
        IncrementalStatsValidator,
    )

    ctx, df = ctx_df
    bad = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=ctx.part_ids,
        params={"drift": {"method": "tdigest"}},
    )
    with pytest.raises(ValueError, match="drop the 'method' param"):
        drift.evaluate(df, bad)
    with pytest.raises(ValueError, match="drop the 'method' param"):
        IncrementalStatsValidator(
            PartitionedTable("unused"), "unused.json",
            params={"drift": {"method": "tdigest"}},
        )
    # the surviving value is still accepted
    assert drift.resolve_params({"method": "hist"}) == drift.DEFAULTS


def test_drift_threshold_override_flips_verdict(ctx_df):
    """Operator thresholds are per-run configuration (cli --params ->
    RuleContext.params): loosening drift's thresholds far enough turns every
    FAIL into PASS — the override demonstrably reaches the scoring."""
    ctx, df = ctx_df
    loose = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=ctx.part_ids,
        params={"drift": {"ks_threshold": 1e9, "l1_threshold": 1e9}},
    )
    res = drift.evaluate(df, loose)
    assert _failing(res.verdicts) == set()


def test_violations_are_column_pruned(ctx_df):
    """The referential plan must never read the `tokens` column."""
    ctx, df = ctx_df
    res = referential.evaluate(df, ctx)
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "tokens" not in plan


def test_schema_check(ctx_df):
    from lk_data_test_spark.operators import schema_check

    ctx, df = ctx_df
    res = schema_check.evaluate(df, ctx)
    assert _failing(res.verdicts) == set()
    assert res.violations.count() == 0

    # a drifted schema: missing n_tok, wrongly-typed tokens, extra column
    bad = df.select(
        "doc_id",
        F.col("tokens").cast("array<long>").alias("tokens"),
        F.col("source"),
        F.lit(1).alias("surprise"),
        "part_id",
    )
    defects = schema_check.schema_defects(bad)
    assert any("missing column: n_tok" in d for d in defects)
    assert any(d.startswith("type mismatch: tokens") for d in defects)
    assert any("unexpected column: surprise" in d for d in defects)
    res2 = schema_check.evaluate(bad, ctx)
    assert _failing(res2.verdicts) == set(ctx.part_ids)
    v = res2.violations.collect()
    assert len(v) == len(defects) * len(ctx.part_ids)


def test_shared_scan_matches_legacy(ctx_df, corpus_dir):
    """column_stats' per-partition stats from the shared token scan equal
    the parquet oracle, and drift gives the same verdicts from a shared pass
    handed in as from the one it builds alone."""
    from lk_data_test_spark.plans.rules import RuleContext
    from lk_data_test_spark.plans.shared import SharedTokenStats

    ctx, df = ctx_df
    table = PartitionedTable(f"{corpus_dir}/sequences")
    shared = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles, vocab_lo=0, vocab_hi=32768
    )
    fused = column_stats.part_stats(shared, 64)
    assert sorted(fused) == table.partition_ids()
    for pid in fused:
        assert fused[pid] == stats_oracle(table.part_dir(pid), 64), f"part {pid}"

    shared_ctx = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=ctx.part_ids,
        shared=shared,
    )
    a = {(r["part_id"]): (r["passed"], r["metric"])
         for r in drift.evaluate(df, ctx).verdicts.collect()}
    b = {(r["part_id"]): (r["passed"], r["metric"])
         for r in drift.evaluate(df, shared_ctx).verdicts.collect()}
    assert a == b


def test_shared_scan_direct_feed_matches_mapinarrow(ctx_df, corpus_dir):
    """The pyarrow-direct feed (r6: workers decode their parquet file
    themselves, skipping the JVM row round-trip) must produce partials
    bit-identical to the mapInArrow feed — every kind, over a corpus that
    includes null n_tok, len-mismatch, OOV tokens and unknown sources."""
    from lk_data_test_spark.plans.shared import SharedTokenStats

    ctx, df = ctx_df
    files = _direct_files(PartitionedTable(os.path.join(corpus_dir, "sequences")))
    kwargs = dict(vocab_lo=0, vocab_hi=32768)
    via_spark = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles, **kwargs
    )
    via_pyarrow = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles, direct_files=files, **kwargs
    )

    def snap(st):
        return {
            (r["part_id"], r["source"], r["kind"], r["key"]): r["cnt"]
            for r in st.partials.collect()
        }

    a, b = snap(via_spark), snap(via_pyarrow)
    assert a == b
    assert len(a) > 0


def test_pack_files_balances_bytes(tmp_path):
    """Every file lands in exactly one group, largest first onto the
    lightest group; never more groups than files or tasks."""
    from lk_data_test_spark.plans.shared import pack_files

    sizes = [50, 10, 40, 30, 20, 60]
    paths = []
    for i, n in enumerate(sizes):
        p = tmp_path / f"f{i}.parquet"
        p.write_bytes(b"x" * n)
        paths.append(str(p))
    groups = pack_files(paths, 3)
    assert groups == [[1, 5], [0, 4], [2, 3]]
    assert [sum(sizes[i] for i in g) for g in groups] == [70, 70, 70]
    assert pack_files(paths, 10) == [[i] for i in (5, 0, 2, 3, 4, 1)]
    assert pack_files(paths + [str(tmp_path / "gone.parquet")], 1) == [
        list(range(7))
    ]


def _direct_files(table) -> list[tuple[int, str]]:
    return [
        (pid, os.path.join(table.part_dir(pid), f))
        for pid in table.partition_ids()
        for f in table.partition_info(pid).files
    ]


def _tuples(frame) -> Counter:
    """The rows as a multiset of tuples (null-safe, order-free)."""
    return Counter(tuple(r) for r in frame.collect())


@pytest.fixture(scope="module")
def defect_corpus(corpus_dir, tmp_path_factory):
    """Two 400-row partitions cut from the generated corpus (clean part 0,
    drift part 4), each split over two files, with one row of each defect:
    null doc_id, null source, null n_tok, n_tok = 0, null tokens and an
    unknown source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = PartitionedTable(f"{corpus_dir}/sequences")
    root = tmp_path_factory.mktemp("defects")
    for pid in (0, 4):
        t = pq.read_table(
            src.part_dir(pid), columns=["doc_id", "tokens", "n_tok", "source"]
        ).slice(0, 400)
        cols = {c: t[c].to_pylist() for c in t.column_names}
        cols["doc_id"][0] = None
        cols["source"][1] = None
        cols["n_tok"][2] = None
        cols["n_tok"][3] = 0
        cols["tokens"][4] = None
        cols["source"][5] = "unknown-xx"
        out = pa.table(
            {c: pa.array(v, type=t.schema.field(c).type) for c, v in cols.items()}
        )
        d = root / f"part_id={pid}"
        d.mkdir()
        pq.write_table(out.slice(0, 250), str(d / "part-0.parquet"))
        pq.write_table(out.slice(250), str(d / "part-1.parquet"))
    return str(root)


def test_defect_corpus_census_and_feeds_agree(ctx_df, defect_corpus):
    """Both feeds emit identical partials, kind 5 included, and the census
    counts every row once with its defect bits."""
    from lk_data_test_spark.plans.shared import (
        ROW_NONPOS_NTOK,
        ROW_NULL_DOC_ID,
        ROW_NULL_NTOK,
        SharedTokenStats,
    )

    ctx, _ = ctx_df
    table = PartitionedTable(defect_corpus)
    df = table.read(ctx.spark)
    kwargs = dict(vocab_lo=0, vocab_hi=TEST_CFG.vocab)
    via_spark = SharedTokenStats.from_profiles(df, ctx.reference_profiles, **kwargs)
    via_pyarrow = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles, direct_files=_direct_files(table), **kwargs
    )
    assert _tuples(via_spark.partials) == _tuples(via_pyarrow.partials)

    census = via_pyarrow.census()
    assert Counter(via_spark.census()) == Counter(census)
    for pid in (0, 4):
        rows = [(src, bits, n) for p, src, bits, n in census if p == pid]
        assert sum(n for _, _, n in rows) == 400
        assert sum(n for src, _, n in rows if src is None) == 1
        for bit in (ROW_NULL_DOC_ID, ROW_NULL_NTOK, ROW_NONPOS_NTOK):
            assert sum(n for _, bits, n in rows if bits & bit) == 1
    assert via_pyarrow.part_ids() == [0, 4]


@pytest.mark.parametrize("corpus", ["generated", "defects"])
def test_shared_verdicts_match_standalone(ctx_df, corpus_dir, defect_corpus, corpus):
    """column_stats, token_bounds, referential and drift give the same
    verdict and violation tuples, metric compared with ==, from the suite's
    shared collect as from their standalone plans."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.shared import SharedTokenStats

    ctx, _ = ctx_df
    if corpus == "generated":
        table, params = PartitionedTable(f"{corpus_dir}/sequences"), {}
    else:
        # groups of ~20 rows: score drift anyway
        table, params = PartitionedTable(defect_corpus), {"drift": {"min_docs": 1}}
    df = table.read(ctx.spark)
    base = dict(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=table.partition_ids(),
        params=params,
    )
    shared = SharedTokenStats.from_profiles(
        df,
        ctx.reference_profiles,
        vocab_lo=token_bounds.DEFAULTS["vocab_lo"],
        vocab_hi=token_bounds.DEFAULTS["vocab_size"],
        direct_files=_direct_files(table),
    )
    standalone, suite = RuleContext(**base), RuleContext(**base, shared=shared)
    failing = set()
    for rule in (column_stats, token_bounds, referential, drift):
        a, b = rule.evaluate(df, standalone), rule.evaluate(df, suite)
        verdicts = _tuples(b.verdicts)
        assert _tuples(a.verdicts) == verdicts, rule.RULE_ID
        assert _tuples(a.violations) == _tuples(b.violations), rule.RULE_ID
        failing |= {(v[0], v[1]) for v in verdicts if not v[2]}
    if corpus == "defects":
        # every defect lands in both parts; tiny drift groups score (noisily)
        assert {(p, r) for p, r in failing if r != "drift"} == {
            (pid, rule)
            for pid in (0, 4)
            for rule in ("column_stats", "referential")
        }
        assert (4, "drift") in failing


@pytest.mark.parametrize("corpus", ["generated", "defects"])
def test_part_stats_match_parquet_oracle(ctx_df, corpus_dir, defect_corpus, corpus):
    """The stats dict of every partition equals the one computed straight
    from its parquet files, over both feeds of the shared pass — on the
    defect corpus too (null doc_id, null source with a non-null n_tok, null
    n_tok, n_tok = 0, null tokens, unknown source)."""
    from lk_data_test_spark.plans.shared import SharedTokenStats

    ctx, _ = ctx_df
    table = PartitionedTable(
        f"{corpus_dir}/sequences" if corpus == "generated" else defect_corpus
    )
    df = table.read(ctx.spark)
    oracle = {pid: stats_oracle(table.part_dir(pid)) for pid in table.partition_ids()}
    for direct_files in (None, _direct_files(table)):
        shared = SharedTokenStats.from_profiles(
            df, ctx.reference_profiles, direct_files=direct_files
        )
        assert column_stats.part_stats(shared) == oracle
    if corpus == "defects":
        assert all(
            s["null_source"] == 1 and s["nonpos_n_tok"] == 1 for s in oracle.values()
        )


def test_verdicts_from_collected_partials_submit_no_jobs(ctx_df, corpus_dir):
    """Once the shared partials are collected, the column_stats,
    token_bounds and referential verdicts are driver work over them: the
    three rules' evaluate and verdict collect submit no Spark job (the
    dimension is handed in as a local relation, as a driver-side table)."""
    from lk_data_test_spark.operators import token_bounds
    from lk_data_test_spark.plans.rules import local_frame
    from lk_data_test_spark.plans.shared import build_shared

    ctx, df = ctx_df
    table = PartitionedTable(f"{corpus_dir}/sequences")
    allowed = ctx.allowed_sources
    suite = RuleContext(
        spark=ctx.spark,
        allowed_sources=local_frame(
            ctx.spark, [tuple(r) for r in allowed.collect()], allowed.schema
        ),
        reference_profiles=ctx.reference_profiles,
        part_ids=table.partition_ids(),
    )
    suite.shared = build_shared(df, suite, direct_files=_direct_files(table))
    suite.shared.table()
    sc = ctx.spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    failing = set()
    for rule in (column_stats, token_bounds, referential):
        verdicts = rule.evaluate(df, suite).verdicts.collect()
        failing |= {(r["part_id"], r["rule_id"]) for r in verdicts if not r["passed"]}
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
    assert failing == {
        (pid, rule)
        for rule in ("column_stats", "token_bounds", "referential")
        for pid in EXPECTED[rule]
    }


def test_suite_honours_drift_domain_caps(ctx_df, corpus_dir, tmp_path):
    """A user-set drift domain cap reaches the suite's shared pass: the
    runner and drift run alone give equal verdicts, both over the hashed
    domain."""
    from lk_data_test_spark.plans.rules import Rule
    from lk_data_test_spark.plans.runner import ValidationRunner

    ctx, df = ctx_df
    params = {"drift": {"max_ref_tokens": 10}}
    res = ValidationRunner(
        ctx.spark,
        PartitionedTable(f"{corpus_dir}/sequences"),
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        rules=[Rule("drift", "1.0", drift.evaluate)],
        manifest_path=str(tmp_path / "manifest.json"),
        params=params,
    ).run(force=True)
    fields = ("part_id", "rule_id", "passed", "metric", "threshold", "detail")
    suite = sorted(tuple(v[f] for f in fields) for v in res.verdicts)
    alone = drift.evaluate(
        df,
        RuleContext(
            spark=ctx.spark,
            allowed_sources=ctx.allowed_sources,
            reference_profiles=ctx.reference_profiles,
            part_ids=ctx.part_ids,
            params=params,
        ),
    )
    assert suite == sorted(tuple(r) for r in alone.verdicts.collect())
    assert all("domain=hashed:" in v[-1] for v in suite)


def test_shared_table_runs_the_partials_once(ctx_df, corpus_dir):
    """Readers racing on the shared table (more threads than the four
    shared-consuming rules, and than cores, with a short switch interval)
    launch exactly the Spark jobs of one read, and all get the one
    collected table."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from lk_data_test_spark.plans.shared import SharedTokenStats

    ctx, df = ctx_df
    table = PartitionedTable(f"{corpus_dir}/sequences")
    sc = ctx.spark.sparkContext

    def job_ids() -> set[int]:
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def build():
        return SharedTokenStats.from_profiles(
            df, ctx.reference_profiles, direct_files=_direct_files(table)
        )

    single = build()
    before = job_ids()
    single.table()
    one_read = len(job_ids() - before)

    shared = build()
    before = job_ids()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            tables = list(ex.map(lambda _: shared.table(), range(8), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert len(tables) == 8
    assert one_read > 0
    assert len(job_ids() - before) == one_read
    assert all(t is tables[0] for t in tables)


def test_shared_scan_noncontiguous_vocab(spark):
    """Token counting against a non-contiguous reference vocab: tokens not in
    the vocab are excluded; counts are exact (exercises the sorted-membership
    branch of the chunked kernel)."""
    from lk_data_test_spark.plans.shared import KIND_TOKEN, SharedTokenStats

    rows = [
        ("a", [5, 5, 9, 12, 7], 5, "s1", 0),    # 7 not in vocab
        ("b", [9, 9, 9, 100], 4, "s1", 0),      # 100 out of range
        ("c", [12, 5, 3], 3, "s2", 0),          # 3 below lo
        ("d", None, None, None, 1),             # null source/tokens ignored
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string,"
        " part_id int"
    )
    stats = SharedTokenStats(df, lo=5, hi=12, ref_tokens=[5, 9, 12])
    got = {
        (r["part_id"], r["source"], r["key"]): r["cnt"]
        for r in stats.partials.filter(F.col("kind") == KIND_TOKEN).collect()
    }
    assert got == {
        (0, "s1", 5): 2, (0, "s1", 9): 4, (0, "s1", 12): 1,
        (0, "s2", 5): 1, (0, "s2", 12): 1,
    }


def test_oversized_profile_falls_back_to_hashed_domain(ctx_df):
    """Driver-OOM guard: a reference profile whose token domain exceeds
    `max_ref_tokens` must flip the shared scan into the hashed-bucket domain
    (nothing unbounded collected driver-side), the drift rule must hash the
    profile side identically SPARK-SIDE, and the resulting verdicts must
    still separate clean partitions from drifted ones."""
    from lk_data_test_spark.plans.rules import RuleContext
    from lk_data_test_spark.plans.shared import KIND_TOKEN, SharedTokenStats
    from lk_data_test_spark.operators import drift

    ctx, df = ctx_df
    cap, buckets = 10, 1 << 16  # force the fallback with the normal profile
    shared = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles, max_ref_tokens=cap, hash_buckets=buckets
    )
    assert shared.hash_mod == buckets
    keys = [
        r["key"]
        for r in shared.partials.filter(F.col("kind") == KIND_TOKEN)
        .select("key").distinct().collect()
    ]
    assert keys and all(0 <= k < buckets for k in keys)

    hashed_ctx = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=ctx.reference_profiles,
        part_ids=ctx.part_ids,
        shared=shared,
        params={"drift": {"max_ref_tokens": cap, "hash_buckets": buckets}},
    )
    res = drift.evaluate(df, hashed_ctx)
    verdicts = {r["part_id"]: r for r in res.verdicts.collect()}
    assert _failing(res.verdicts) == EXPECTED["drift"]
    assert all(
        f"domain=hashed:{buckets}" in r["detail"] for r in verdicts.values()
    )


def test_engine_built_profiles_detect_drift(ctx_df):
    """Close the external-profile loop: profiles BUILT by the engine from
    the clean partitions (operators/profiles.py) must drive the drift rule
    to the same failing set as the analytically-generated profiles — the
    engine can bootstrap its own reference index from a vetted snapshot."""
    from lk_data_test_spark.operators import drift, profiles
    from lk_data_test_spark.plans.rules import RuleContext

    ctx, df = ctx_df
    clean = df.filter((F.col("part_id") % 5) == 0)
    built = profiles.build_reference_profiles(clean, top_k=256)
    # same shape the drift rule consumes (datagen convention)
    assert [f.name for f in built.schema.fields] == [
        "source", "n_tok_quantiles", "token_freq"
    ]
    assert built.select(F.size("n_tok_quantiles").alias("n")).distinct(
    ).collect()[0]["n"] == 99

    built_ctx = RuleContext(
        spark=ctx.spark,
        allowed_sources=ctx.allowed_sources,
        reference_profiles=built,
        part_ids=ctx.part_ids,
    )
    res = drift.evaluate(df, built_ctx)
    assert _failing(res.verdicts) == EXPECTED["drift"]


def test_built_profile_values_match_numpy_derivation(spark):
    """Non-circularity check for the built_reference_profiles VALUES oracle
    (same ADVICE item as the flagship literal): re-derive every output value
    INDEPENDENTLY of the profile builder's Spark plan — q50/q99 with numpy
    over the collected clean corpus (percentile_approx at accuracy=10000 on
    <=400-row groups is exact discrete percentile), the top-K vocabulary
    with collections.Counter — and compare. A rule-logic bug present when
    the literal was captured would break this derivation even though the
    literal still matches the engine."""
    from collections import Counter

    import numpy as np

    import __spark_entry__ as entry
    from lk_data_test_spark.datagen import GenConfig, sequences_df

    cfg = GenConfig(n_parts=5, rows_per_part=400)
    clean = sequences_df(spark, cfg).filter((F.col("part_id") % 5) == 0)
    rows = clean.select("source", "n_tok", "tokens").collect()
    got = {
        r["source"]: (
            r["q50_ntok"], r["q99_ntok"], r["n_top_tokens"], r["min_top_token"]
        )
        for r in entry.queries()["built_reference_profiles"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    by_src: dict[str, list[int]] = {}
    toks: dict[str, Counter] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["n_tok"])
        toks.setdefault(r["source"], Counter()).update(r["tokens"])
    assert set(got) == set(by_src)
    for src, ntoks in by_src.items():
        a = np.sort(np.array(ntoks))
        n = len(a)
        q50 = float(a[max(int(np.ceil(0.50 * n)) - 1, 0)])
        q99 = float(a[max(int(np.ceil(0.99 * n)) - 1, 0)])
        ordered = sorted(toks[src].items(), key=lambda kv: (-kv[1], kv[0]))[:16]
        keys = [t for t, _ in ordered]
        exp = (q50, q99, len(keys), min(keys))
        assert got[src] == exp, (src, got[src], exp)
