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
   relative frequency of the top-K tokens. Token arrays cross into Arrow raw
   (memcpy-speed int32 buffers) and are domain-filtered + bin-counted by the
   chunked numpy kernel in ``plans/shared.py`` — measured ~3x faster than a
   codegen'd per-element JVM ``F.filter``. Each task emits <= |ref_tokens|
   partial rows per group instead of shuffling one row per token occurrence
   (~10^14 rows at target scale for a JVM explode).

Plan shape::

    scan (part_id, source, n_tok, tokens)
      -> mapInArrow: tagged partials  (kind 0: n_tok hist, kind 1: token cnt)
      -> groupBy(part_id, source, kind, key).sum          [shuffle, partial agg]
      -> toArrow: ONE driver collect, shared by the suite's rules
      -> driver: KS + L1 per (part_id, source)            [drift_signal]
      -> verdicts (local rows) / violations (local relation, rows = parts x
         sources; Spark's format_string writes the detail)

Skew note: partial aggregation keys include (kind, key), which fans a hot
(part, source) over thousands of reducer keys; AQE skew handling covers the
rest.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.rules import VERDICT_SCHEMA, RuleContext, RuleResult, local_frame
from ..plans.shared import HASH_MULT, KIND_NTOK, KIND_TOKEN, shared_for

RULE_ID = "drift"

DEFAULTS = {
    "ks_threshold": 0.18,
    "l1_threshold": 0.20,
    "min_docs": 300,  # groups smaller than this are too noisy to judge
    # Driver-OOM guard (plans/shared.py): profiles whose token domain
    # exceeds max_ref_tokens are folded into hash_buckets hashed buckets on
    # both the corpus and profile sides instead of being collected raw.
    "max_ref_tokens": 1_000_000,
    "hash_buckets": 1 << 16,
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


def profile_maps(prof_rows) -> tuple[dict, dict]:
    """source -> 99 n_tok quantiles and source -> {token: expected frequency}
    from the collected reference-profile rows."""
    quantiles = {
        r["source"]: np.asarray(r["n_tok_quantiles"], dtype=np.float64)
        for r in prof_rows
    }
    token_freq = {r["source"]: dict(r["token_freq"]) for r in prof_rows}
    return quantiles, token_freq


def ref_index(token_freq: dict) -> dict[int, int]:
    """token -> position in the sorted union of every source's reference
    tokens (the L1 vector's layout)."""
    tokens = sorted({t for m in token_freq.values() for t in m})
    return {t: i for i, t in enumerate(tokens)}


def drift_signal(
    hist_key, hist_cnt, tok_key, tok_cnt, quantiles, ref, ref_idx
) -> tuple[float, float, float]:
    """(ks, l1, n_docs) of one (part, source) group: ``hist_key``/``hist_cnt``
    is its n_tok histogram, ``tok_key``/``tok_cnt`` its reference-token
    counts, ``quantiles`` the source's 99-quantile profile (None: no KS),
    ``ref`` its expected token frequencies and ``ref_idx`` the token ->
    position map of the (all sources') reference token vector."""
    hist_key, hist_cnt = np.asarray(hist_key), np.asarray(hist_cnt)
    n_docs = float(hist_cnt.sum())
    ks = (
        _ks_from_hist(hist_key, hist_cnt, quantiles)
        if quantiles is not None and len(hist_key)
        else 0.0
    )
    # total token mass (incl. out-of-profile tokens) from the histogram:
    # sum(n_tok * count) — no second scan needed
    total = float((hist_key * hist_cnt).sum())
    obs = np.zeros(len(ref_idx))
    for tok, c in zip(tok_key, tok_cnt):
        i = ref_idx.get(int(tok))
        if i is not None:
            obs[i] = float(c)
    obs = obs / total if total > 0 else obs
    refv = np.array([ref.get(tk, 0.0) for tk in ref_idx])
    return ks, float(np.abs(obs - refv).sum()), n_docs


def score_groups(rows, quantiles: dict, token_freq: dict, p: dict) -> list[tuple]:
    """(part_id, source, ks, l1, n_docs, score) of every (part, source) group
    of ``rows`` (kind-0/1 partials, a pyarrow Table) with at least
    ``p["min_docs"]`` documents, in (part_id, source) order; score =
    max(ks / ks_threshold, l1 / l1_threshold). Null sources are not scored
    (no reference profile)."""
    ref_idx = ref_index(token_freq)
    groups = rows.to_pandas()
    scored = []
    for (pid, source), g in groups.groupby(["part_id", "source"], sort=True):
        h = g[g["kind"] == KIND_NTOK]
        t = g[g["kind"] == KIND_TOKEN]
        ks, l1, n_docs = drift_signal(
            h["key"].to_numpy(), h["cnt"].to_numpy(), t["key"], t["cnt"],
            quantiles.get(source), token_freq.get(source, {}), ref_idx,
        )
        if n_docs >= float(p["min_docs"]):
            score = max(ks / p["ks_threshold"], l1 / p["l1_threshold"])
            scored.append((int(pid), source, ks, l1, n_docs, score))
    return scored


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    p = resolve_params(ctx.params.get(RULE_ID))
    profiles = ctx.reference_profiles
    if profiles is None:
        raise ValueError("drift rule requires ctx.reference_profiles")

    # ---- stage 1: tagged partials — the suite's shared pass (ONE scan of
    # `tokens` for the whole suite), or one built from ctx when run alone
    shared = shared_for(df, ctx)

    if shared.hash_mod:
        quantiles: dict[str, np.ndarray] = {
            r["source"]: np.asarray(r["n_tok_quantiles"], dtype=np.float64)
            for r in profiles.select("source", "n_tok_quantiles").collect()
        }
        # Pathological profile (token domain over the cap): the corpus side
        # counted hashed buckets, so fold the profile into the SAME bucket
        # domain SPARK-SIDE — the driver only ever sees <= sources x
        # hash_mod aggregated rows, never the raw token map.
        mod = int(shared.hash_mod)
        bucket = F.pmod(
            F.pmod(F.col("t").cast("bigint") * F.lit(HASH_MULT),
                   F.lit(1 << 32)),
            F.lit(mod),
        )
        freq_rows = (
            profiles.select(
                "source", F.explode("token_freq").alias("t", "freq")
            )
            .groupBy("source", bucket.cast("int").alias("b"))
            .agg(F.sum("freq").alias("freq"))
            .collect()
        )
        token_freq: dict[str, dict[int, float]] = {}
        for r in freq_rows:
            token_freq.setdefault(r["source"], {})[int(r["b"])] = float(
                r["freq"]
            )
    else:
        # sane profile: ONE collect of the tiny dimension serves both the
        # quantile and frequency closures (no extra per-run driver jobs)
        quantiles, token_freq = profile_maps(profiles.collect())

    # ---- stage 2, on the driver: KS + L1 per (part_id, source) over the
    # shared collect (<= parts x sources groups of bounded size)
    scored = score_groups(
        shared.rows(KIND_NTOK, KIND_TOKEN), quantiles, token_freq, p
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

    metric: dict[int, float] = {}
    for pid, *_, score in scored:
        metric[pid] = max(metric.get(pid, score), score)
    part_ids = (
        sorted(int(x) for x in ctx.part_ids)
        if ctx.part_ids is not None
        else shared.part_ids()
    )
    detail = "method=hist" + (
        f";domain=hashed:{shared.hash_mod}" if shared.hash_mod else ""
    )
    rows = []
    for pid in part_ids:
        m = metric.get(pid, 0.0)
        rows.append((pid, RULE_ID, m <= 1.0, m, 1.0, detail))
    verdicts = local_frame(ctx.spark, rows, VERDICT_SCHEMA)
    return RuleResult(verdicts, violations)
