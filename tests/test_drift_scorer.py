"""drift.score_groups against a reference scorer: the per-group Python loop
it replaced (pandas ``groupby`` plus one dict lookup per reference token),
kept here as the oracle. The vectorized scorer must give the same tuples,
floats equal bit for bit, in the same order."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest

from lk_data_test_spark.operators import drift
from lk_data_test_spark.operators.drift import _ks_from_hist
from lk_data_test_spark.plans.rules import RuleContext
from lk_data_test_spark.plans.shared import (
    KIND_NTOK,
    KIND_TOKEN,
    SharedTokenStats,
    build_shared,
    read_dimensions,
)
from lk_data_test_spark.sources.catalog import PartitionedTable


def _drift_signal(hist_key, hist_cnt, tok_key, tok_cnt, quantiles, ref, ref_idx):
    hist_key, hist_cnt = np.asarray(hist_key), np.asarray(hist_cnt)
    n_docs = float(hist_cnt.sum())
    ks = (
        _ks_from_hist(hist_key, hist_cnt, quantiles)
        if quantiles is not None and len(hist_key)
        else 0.0
    )
    total = float((hist_key * hist_cnt).sum())
    obs = np.zeros(len(ref_idx))
    for tok, c in zip(tok_key, tok_cnt):
        i = ref_idx.get(int(tok))
        if i is not None:
            obs[i] = float(c)
    obs = obs / total if total > 0 else obs
    refv = np.array([ref.get(tk, 0.0) for tk in ref_idx])
    return ks, float(np.abs(obs - refv).sum()), n_docs


def oracle_scores(rows, quantiles, token_freq, p) -> list[tuple]:
    tokens = sorted({t for m in token_freq.values() for t in m})
    ref_idx = {t: i for i, t in enumerate(tokens)}
    scored = []
    for (pid, source), g in rows.to_pandas().groupby(["part_id", "source"], sort=True):
        h = g[g["kind"] == KIND_NTOK]
        t = g[g["kind"] == KIND_TOKEN]
        ks, l1, n_docs = _drift_signal(
            h["key"].to_numpy(), h["cnt"].to_numpy(), t["key"], t["cnt"],
            quantiles.get(source), token_freq.get(source, {}), ref_idx,
        )
        if n_docs >= float(p["min_docs"]):
            score = max(ks / p["ks_threshold"], l1 / p["l1_threshold"])
            scored.append((int(pid), source, ks, l1, n_docs, score))
    return scored


@pytest.fixture(scope="module")
def corpus(spark, corpus_dir):
    table = PartitionedTable(f"{corpus_dir}/sequences")
    profiles = spark.read.parquet(f"{corpus_dir}/reference_profiles")
    ctx = RuleContext(spark=spark, reference_profiles=profiles)
    return table.read(spark), ctx


def test_scorer_matches_reference_on_corpus(corpus):
    df, ctx = corpus
    rows = build_shared(df, ctx).rows(KIND_NTOK, KIND_TOKEN)
    dims = read_dimensions(None, ctx.reference_profiles)
    quantiles, token_freq = dims.quantiles, dims.token_freq
    p = drift.resolve_params(None)
    got = drift.score_groups(rows, quantiles, token_freq, p)
    assert got and got == oracle_scores(rows, quantiles, token_freq, p)
    # every group scored: the oracle agrees with min_docs out of the way too
    p0 = {**p, "min_docs": 0}
    assert drift.score_groups(rows, quantiles, token_freq, p0) == oracle_scores(
        rows, quantiles, token_freq, p0
    )


def test_scorer_matches_reference_on_edge_groups():
    """A null-source group, a source with no profile (no KS, an all-zero
    expected vector), a group under ``min_docs``, a group with zero token
    mass (raw counts enter the L1), tokens outside the reference set, and
    rows in no particular order."""
    rng = np.random.default_rng(7)
    quantiles = {
        "a": np.sort(rng.integers(1, 60, 99)).astype(np.float64),
        "b": np.sort(rng.integers(5, 40, 99)).astype(np.float64),
    }
    token_freq = {"a": {1: 0.1, 3: 0.25, 7: 0.05}, "b": {2: 0.3, 3: 0.1, 11: 0.2}}
    rows = []

    def group(pid, source, hist, toks):
        rows.extend((pid, source, KIND_NTOK, k, c) for k, c in hist.items())
        rows.extend((pid, source, KIND_TOKEN, k, c) for k, c in toks.items())

    group(0, "a", {4: 6, 9: 3, 30: 2}, {1: 5, 3: 40, 7: 2, 99: 8})
    group(0, None, {4: 50}, {1: 9})                  # null source
    group(0, "b", {12: 4, 20: 7}, {2: 30, 11: 3, 5: 4})  # 5: not a ref token
    group(1, "b", {1: 5, 5: 1}, {2: 3, 3: 7})        # mass 10: 3 / 10
    group(1, "zz", {8: 9, 10: 2}, {3: 7, 1: 1})      # no profile
    group(1, "a", {6: 2}, {1: 1})                    # under min_docs
    group(2, "b", {0: 12}, {2: 3, 3: 1})             # zero token mass
    group(2, "a", {17: 5, 18: 5}, {})                # no token rows
    group(3, "a", {}, {1: 4})                        # no n_tok rows
    random.Random(3).shuffle(rows)
    table = pa.Table.from_pylist(
        [dict(zip(("part_id", "source", "kind", "key", "cnt"), r)) for r in rows],
        schema=pa.schema(
            [("part_id", pa.int32()), ("source", pa.string()), ("kind", pa.int32()),
             ("key", pa.int64()), ("cnt", pa.int64())]
        ),
    )
    p = {"ks_threshold": 0.18, "l1_threshold": 0.2, "min_docs": 5}
    got = drift.score_groups(table, quantiles, token_freq, p)
    assert got == oracle_scores(table, quantiles, token_freq, p)
    assert [(pid, s) for pid, s, *_ in got] == [
        (0, "a"), (0, "b"), (1, "b"), (1, "zz"), (2, "a"), (2, "b")
    ]
    p0 = {**p, "min_docs": 0}
    assert drift.score_groups(table, quantiles, token_freq, p0) == oracle_scores(
        table, quantiles, token_freq, p0
    )
    assert drift.score_groups(table.slice(0, 0), quantiles, token_freq, p) == []


def test_scorer_matches_reference_on_hashed_domain(corpus):
    """The hashed-domain pass: profiles over ``max_ref_tokens`` fold both
    sides into hash buckets; the bucket counts score the same as the
    reference scorer's."""
    df, ctx = corpus
    shared = SharedTokenStats.from_profiles(
        df, ctx.reference_profiles, max_ref_tokens=10, hash_buckets=1 << 16
    )
    assert shared.hash_mod == 1 << 16
    rows = shared.rows(KIND_NTOK, KIND_TOKEN)
    dims = read_dimensions(
        None, ctx.reference_profiles, max_ref_tokens=10, hash_buckets=1 << 16
    )
    assert dims.hash_mod == shared.hash_mod
    quantiles, token_freq = dims.quantiles, dims.token_freq
    p = drift.resolve_params(None)
    got = drift.score_groups(rows, quantiles, token_freq, p)
    assert got and got == oracle_scores(rows, quantiles, token_freq, p)
