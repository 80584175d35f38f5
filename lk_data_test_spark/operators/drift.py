"""R4 — distribution drift of n_tok and token frequencies vs reference profiles.

Reference semantics: the corpus is compared against an externally-fetched
profile index (``/root/reference/curation/check_fackel_references.py:13-29``)
and the scored-matching procedure of ``scripts/enrich_fackel_bibls.py:77-96``;
here generalized to statistical drift detection per (partition, source).

Two signals, both computed from ONE fused pass (single scan of the fact
table, single Arrow stage, one small shuffle) without ever collecting raw
rows:

1. **n_tok KS statistic.** ``n_tok`` lives in a bounded integer domain
   ([1, 8192]), so an *exact* histogram per (part_id, source) is a mergeable,
   bounded-size sketch (<= 8192 entries per group — strictly better than an
   approximate quantile sketch on a bounded domain). The Kolmogorov–Smirnov
   sup-distance is taken between the observed ECDF and the reference
   quantile profile.

2. **Token-frequency L1 distance.** The reference profile pins the expected
   relative frequency of the top-K tokens. The shared pass's numpy kernel
   (``plans/shared.py``) counts reference tokens, so each task emits <=
   |ref_tokens| partial rows per group instead of shuffling one row per
   token occurrence (~10^14 rows at target scale for a JVM explode).

Plan shape::

    scan (part_id, source, n_tok, tokens)
      -> mapInArrow: tagged partials  (kind 0: n_tok hist, kind 1: token cnt)
      -> groupBy(part_id, source, kind, key).sum          [shuffle, partial agg]
      -> toArrow: ONE driver collect, shared by the suite's rules
      -> driver: KS + L1 per (part_id, source)            [score_groups: one
         pyarrow sort, one numpy slice per group, against the profiles'
         quantiles and frequencies of the run's one Dimensions read]
      -> verdicts (local rows, ``part_verdicts``) / violations (local
         relation, rows = parts x sources; Spark's format_string writes the
         detail)

Skew note: partial aggregation keys include (kind, key), which fans a hot
(part, source) over thousands of reducer keys; AQE skew handling covers the
rest.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.rules import (
    RuleContext, RuleResult, Verdict, local_frame, parts_to_judge, verdict_frame,
)
from ..plans.shared import (
    DEFAULT_HASH_BUCKETS, DEFAULT_MAX_REF_TOKENS, KIND_NTOK, KIND_TOKEN,
    dimensions_for, shared_for,
)

RULE_ID = "drift"

DEFAULTS = {
    "ks_threshold": 0.18,
    "l1_threshold": 0.20,
    "min_docs": 300,  # groups smaller than this are too noisy to judge
    # the driver-OOM guard of the reference domain (plans/shared.py)
    "max_ref_tokens": DEFAULT_MAX_REF_TOKENS,
    "hash_buckets": DEFAULT_HASH_BUCKETS,
}

def _ks_from_hist(values: np.ndarray, counts: np.ndarray, quantiles: np.ndarray) -> float:
    """KS sup-distance between a histogram ECDF and a 99-quantile profile."""
    order = np.argsort(values)
    v = values[order].astype(np.float64)
    c = counts[order].astype(np.float64)
    total = c.sum()
    if total == 0:
        return 0.0
    cum = np.cumsum(c)
    ecdf_hi = cum / total
    ecdf_lo = (cum - c) / total
    # reference CDF at v: fraction of quantiles <= v (quantiles are 1%..99%)
    f_ref = np.searchsorted(quantiles, v, side="right") / 100.0
    return float(
        max(np.max(np.abs(ecdf_hi - f_ref)), np.max(np.abs(ecdf_lo - f_ref)))
    )


def resolve_params(params: dict | None) -> dict:
    """DEFAULTS overlaid with ``params``; the removed ``method`` option is
    accepted only as its one surviving value, "hist"."""
    p = {**DEFAULTS, **(params or {})}
    method = p.pop("method", "hist")
    if method != "hist":
        raise ValueError(
            f"drift method={method!r} was removed: the n_tok histogram is "
            "exact, so drop the 'method' param (or set it to 'hist')"
        )
    return p


def score_groups(rows, quantiles: dict, token_freq: dict, p: dict) -> list[tuple]:
    """(part_id, source, ks, l1, n_docs, score) of every (part, source) group
    of ``rows`` (kind-0/1 partials, a pyarrow Table) with at least
    ``p["min_docs"]`` documents, in (part_id, source) order; score =
    max(ks / ks_threshold, l1 / l1_threshold). Null sources are not scored
    (no reference profile). The L1 vectors run over the sorted union of
    every source's reference tokens: one sort groups the rows, and one
    searchsorted places every token count."""
    ref = np.array(sorted({t for m in token_freq.values() for t in m}), np.int64)
    expected = {}
    for source, m in token_freq.items():
        expected[source] = np.zeros(len(ref))
        expected[source][np.searchsorted(ref, np.fromiter(m, np.int64, len(m)))] = (
            np.fromiter(m.values(), np.float64, len(m))
        )
    rows = rows.filter(pc.is_valid(rows["source"])).sort_by(
        [(c, "ascending") for c in ("part_id", "source", "kind")]
    )
    if not rows.num_rows:
        return []
    pid, kind, key, cnt = (
        rows[c].to_numpy() for c in ("part_id", "kind", "key", "cnt")
    )
    src = rows["source"].combine_chunks()
    pos = np.searchsorted(ref, key)
    in_ref = pos < len(ref)
    in_ref[in_ref] = ref[pos[in_ref]] == key[in_ref]
    new_group = (np.diff(pid) != 0) | pc.not_equal(src[1:], src[:-1]).to_numpy(
        zero_copy_only=False
    )
    starts = np.concatenate([[0], np.flatnonzero(new_group) + 1, [len(pid)]])
    scored = []
    for s, e in zip(starts[:-1], starts[1:]):
        source = src[s].as_py()
        h = slice(s, s + int(np.searchsorted(kind[s:e], KIND_TOKEN)))
        n_docs = float(cnt[h].sum())
        if n_docs < float(p["min_docs"]):
            continue
        q = quantiles.get(source)
        ks = _ks_from_hist(key[h], cnt[h], q) if q is not None and len(key[h]) else 0.0
        # total token mass (incl. out-of-profile tokens) from the histogram:
        # sum(n_tok * count) — no second scan needed
        total = float((key[h] * cnt[h]).sum())
        t = np.arange(h.stop, e)[in_ref[h.stop:e]]
        obs = np.zeros(len(ref))
        obs[pos[t]] = cnt[t]
        obs = obs / total if total > 0 else obs
        l1 = float(np.abs(obs - expected.get(source, np.zeros(len(ref)))).sum())
        score = max(ks / p["ks_threshold"], l1 / p["l1_threshold"])
        scored.append((int(pid[s]), source, ks, l1, n_docs, score))
    return scored


def part_verdicts(
    rows, dims, p: dict, part_ids, known: dict[int, float] | None = None
) -> tuple[dict[int, Verdict], list[tuple]]:
    """Each partition's verdict from the kind-0/1 partials ``rows``, scored
    against the profiles of ``dims`` (plans/shared.py ``Dimensions``; a
    hashed domain is named in the detail): the metric is the max score of
    its scored groups (0 with none), and it passes at <= 1.0. A partition in
    ``known`` (part_id -> metric scored from the same partials, profiles and
    params) is not scored again. -> (verdicts, the scored groups)."""
    hashed = f";domain=hashed:{dims.hash_mod}" if dims.hash_mod else ""
    detail = "method=hist" + hashed
    known = known or {}
    todo = [pid for pid in part_ids if pid not in known]
    scored = []
    if todo:
        if known:
            rows = rows.filter(pc.is_in(rows["part_id"], pa.array(todo, pa.int32())))
        scored = score_groups(rows, dims.quantiles, dims.token_freq, p)
    metric = dict(known)
    for pid, *_, score in scored:
        metric[pid] = max(metric.get(pid, score), score)
    metric = {pid: float(metric.get(pid, 0.0)) for pid in part_ids}
    return {pid: (m <= 1.0, m, 1.0, detail) for pid, m in metric.items()}, scored


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    p = resolve_params(ctx.params.get(RULE_ID))
    if ctx.reference_profiles is None:
        raise ValueError("drift rule requires ctx.reference_profiles")

    # ---- stage 1: tagged partials — the suite's shared pass (ONE scan of
    # `tokens` for the whole suite), or one built from ctx when run alone
    shared = shared_for(df, ctx)

    # ---- stage 2, on the driver: KS + L1 per (part_id, source) over the
    # shared collect (<= parts x sources groups of bounded size)
    verdicts, scored = part_verdicts(
        shared.rows(KIND_NTOK, KIND_TOKEN), dimensions_for(ctx), p,
        parts_to_judge(ctx, shared.part_ids()),
    )

    # the scores as a local relation: Spark's format_string builds the
    # violation detail (Java rounds %.4f ties half-up, Python half-even)
    per_group = local_frame(
        ctx.spark,
        scored,
        "part_id int, source string, ks double, l1 double, n_docs double,"
        " score double",
    )
    violations = per_group.filter(F.col("score") > 1.0).select(
        F.col("part_id").cast("int"),
        F.lit(RULE_ID).alias("rule_id"),
        F.lit("").alias("doc_id"),  # partition-level finding
        "source",
        F.lit(None).cast("int").alias("n_tok"),
        F.format_string(
            "drift ks=%.4f l1=%.4f n=%.0f", F.col("ks"), F.col("l1"), F.col("n_docs")
        ).alias("detail"),
    )
    return RuleResult(verdict_frame(ctx, RULE_ID, verdicts), violations)
