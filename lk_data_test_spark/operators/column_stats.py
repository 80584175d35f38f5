"""R1 — per-column stats from the shared token pass, plus row checks.

Reference semantics generalized from the counter/coverage checks
(``/root/reference/curation/add_work_types.py:16-21``,
``curation/check_fackel_references.py:32``): instead of ad-hoc Counters, one
set of mergeable counts gives per partition: row count, null counts for
every column, min/max/sum of ``n_tok``, a bucketed ``n_tok`` histogram, and
the counts of three row-level defects (null n_tok, non-positive n_tok,
``n_tok != size(tokens)``).

Scale design (north_rule: partitioning/shuffle/skew explicit):
- The stats are a driver function (``part_stats``) of the shared token
  pass's partials (plans/shared.py): the kind-5 row census gives row count,
  null doc_id / source / n_tok and non-positive n_tok; kinds 2/3 give
  len-mismatch and null-tokens rows; the kind-0 ``n_tok`` histogram gives
  min, max, sum and the buckets. Only partial count rows are shuffled,
  never the rows of a hot partition.
- The metric is the sum of the six defect counts per partition.
- Row-level violation rows are materialized ONLY for partitions whose
  aggregate verdict failed (partition-pruned second scan), so the common
  all-clean case never rescans data.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.rules import (
    RuleContext, RuleResult, Verdict, parts_to_judge, verdict_frame,
)
from ..plans.shared import (
    KIND_LEN_MISMATCH,
    KIND_NTOK,
    KIND_NULL_TOKENS,
    KIND_ROWS,
    ROW_NONPOS_NTOK,
    ROW_NULL_DOC_ID,
    ROW_NULL_NTOK,
    shared_for,
)

RULE_ID = "column_stats"

DEFAULTS = {"bucket_width": 64, "max_null_rate": 0.0}

BAD_FIELDS = (
    "null_doc_id", "null_source", "null_n_tok", "null_tokens",
    "nonpos_n_tok", "len_mismatch",
)


def part_stats(
    shared, bucket_width: int = DEFAULTS["bucket_width"], part_ids=()
) -> dict[int, dict]:
    """part_id -> its stats dict, from the collected partials of ``shared``
    (kinds 0/2/3/5; no Spark job beyond that collect): the counters
    ``row_count``, the six ``BAD_FIELDS`` and ``sum_n_tok``; ``min_n_tok`` /
    ``max_n_tok`` (None when every n_tok is null); and ``n_tok_hist``,
    bucket ``floor(n_tok / bucket_width)`` -> rows as a str-keyed dict in
    bucket order, null n_tok counted in bucket -1. Each of ``part_ids``
    without rows gets the stats of no rows (zeros, None, {})."""
    t = shared.rows(KIND_NTOK, KIND_LEN_MISMATCH, KIND_NULL_TOKENS, KIND_ROWS)
    pid, kind, key, cnt = (
        t[c].to_numpy(zero_copy_only=False).astype(np.int64)
        for c in ("part_id", "kind", "key", "cnt")
    )
    null_src = t["source"].is_null().to_numpy(zero_copy_only=False)
    order = np.argsort(pid, kind="stable")
    bounds = np.flatnonzero(np.diff(pid[order])) + 1
    groups = {int(pid[g[0]]): g for g in (np.split(order, bounds) if len(order) else [])}
    for p in part_ids:
        groups.setdefault(int(p), order[:0])
    out: dict[int, dict] = {}
    for p, idx in groups.items():
        k, key_, cnt_ = kind[idx], key[idx], cnt[idx]
        census = k == KIND_ROWS

        def total(mask) -> int:
            return int(cnt_[mask].sum())

        s = {
            "row_count": total(census),
            "null_doc_id": total(census & ((key_ & ROW_NULL_DOC_ID) > 0)),
            "null_source": total(census & null_src[idx]),
            "null_n_tok": total(census & ((key_ & ROW_NULL_NTOK) > 0)),
            "null_tokens": total(k == KIND_NULL_TOKENS),
            "nonpos_n_tok": total(census & ((key_ & ROW_NONPOS_NTOK) > 0)),
            "len_mismatch": total(k == KIND_LEN_MISMATCH),
        }
        n_tok, n = key_[k == KIND_NTOK], cnt_[k == KIND_NTOK]
        s["sum_n_tok"] = int((n_tok * n).sum())
        s["min_n_tok"] = int(n_tok.min()) if n_tok.size else None
        s["max_n_tok"] = int(n_tok.max()) if n_tok.size else None
        buckets, inv = np.unique(
            np.append(n_tok // bucket_width, -1), return_inverse=True
        )
        hist = np.zeros(len(buckets), dtype=np.int64)
        np.add.at(hist, inv, np.append(n, s["null_n_tok"]))
        s["n_tok_hist"] = {
            str(int(b)): int(c) for b, c in zip(buckets, hist) if c
        }
        out[p] = s
    return out


def part_verdicts(shared, params: dict, part_ids) -> tuple[dict[int, Verdict], dict]:
    """Each partition's verdict and ``part_stats`` under the run's
    ``params``: the metric is the sum of the six ``BAD_FIELDS`` counts, and
    a partition passes while it is at most ``max_null_rate``."""
    p = {**DEFAULTS, **params.get(RULE_ID, {})}
    limit = float(p["max_null_rate"])
    stats = part_stats(shared, p["bucket_width"], part_ids)
    bad = {pid: float(sum(stats[pid][k] for k in BAD_FIELDS)) for pid in part_ids}
    return {pid: (n <= limit, n, limit, None) for pid, n in bad.items()}, stats


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    shared = shared_for(df, ctx)
    verdicts, _ = part_verdicts(
        shared, ctx.params, parts_to_judge(ctx, shared.part_ids())
    )
    failing = [pid for pid, v in verdicts.items() if not v[0]]
    sz = F.size("tokens")
    defect = F.concat_ws(
        ",",
        F.when(F.col("doc_id").isNull(), F.lit("null_doc_id")),
        F.when(F.col("source").isNull(), F.lit("null_source")),
        F.when(F.col("n_tok").isNull(), F.lit("null_n_tok")),
        F.when(F.col("n_tok").isNotNull() & (F.col("n_tok") <= 0), F.lit("nonpos_n_tok")),
        F.when(
            F.col("n_tok").isNotNull() & (F.col("n_tok") != sz),
            F.lit("len_mismatch"),
        ),
    )
    violations = (
        df.filter(F.col("part_id").isin(failing) if failing else F.lit(False))
        .select(
            F.col("part_id").cast("int"),
            F.lit(RULE_ID).alias("rule_id"),
            "doc_id",
            "source",
            F.col("n_tok").cast("int"),
            defect.alias("detail"),
        )
        .filter(F.col("detail") != "")
    )
    return RuleResult(verdict_frame(ctx, RULE_ID, verdicts), violations)
