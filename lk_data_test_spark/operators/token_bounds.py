"""R5 — token_bounds: every token id must lie inside the tokenizer vocabulary.

Reference semantics: the reference guards against per-value domain defects in
its payload — "the ref val is defectiv in some cases", so values outside the
legal domain (``pmb…`` / ``#…`` prefixes) are detected and routed specially
(``/root/reference/scripts/make_texts.py:426-428``; same shape as the
page-id domain walk in ``curation/check_fackel_references.py:24-29``).  For a
tokenized corpus the legal value domain is the tokenizer vocabulary: a token
id < 0 or >= vocab_size cannot be decoded and poisons any model trained on
the sequence.  This rule flags every row whose ``tokens`` array contains at
least one out-of-vocab id.

Scale design (north_rule: partitioning / shuffle / skew explicit):
- The SCREEN is the shared Arrow token pass's kind 4 (plans/shared.py): per
  (part_id, source) counts of rows containing an OOV token, computed on the
  RAW token values before any profile-domain hashing: two vectorized
  compares + a bincount per chunk in a pass the suite already pays for.
- Violation ROWS are materialized only for partitions the screen flagged
  (partition-pruned second scan, the same two-phase shape as uniqueness's
  exact pass and column_stats' row extraction): the common all-clean case
  never rescans ``tokens``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.rules import (
    VIOLATION_SCHEMA, RuleContext, RuleResult, Verdict, local_frame, parts_to_judge,
    verdict_frame,
)
from ..plans.shared import KIND_OOV_ROWS, shared_for, vocab_bounds

RULE_ID = "token_bounds"

DEFAULTS = {"vocab_lo": 0, "vocab_size": 32768}


def _oov_pred(lo: int, hi: int):
    return lambda t: (t < F.lit(lo)) | (t >= F.lit(hi))


def has_oov(lo: int, hi: int) -> Column:
    """True when any element of ``tokens`` falls outside [lo, hi).
    NULL arrays yield NULL (the null-tokens defect is column_stats' job)."""
    return F.exists(F.col("tokens"), _oov_pred(lo, hi))


def part_verdicts(shared, params: dict, part_ids) -> dict[int, Verdict]:
    """Each partition's verdict: the metric is its kind-4 count of rows
    holding a token outside the run's vocab bounds, and it passes at 0."""
    lo, hi = vocab_bounds(params)
    oov = shared.counts_by_part(KIND_OOV_ROWS)
    n = {pid: float(oov.get(pid, 0)) for pid in part_ids}
    return {pid: (m == 0, m, 0.0, f"vocab=[{lo},{hi})") for pid, m in n.items()}


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    lo, hi = vocab_bounds(ctx.params)
    shared = shared_for(df, ctx)
    verdicts = part_verdicts(
        shared, ctx.params, parts_to_judge(ctx, shared.part_ids())
    )
    flagged = [pid for pid, v in verdicts.items() if not v[0]]
    if flagged:
        bad = F.filter(F.col("tokens"), _oov_pred(lo, hi))
        violations = (
            df.filter(F.col("part_id").isin(flagged))
            .filter(has_oov(lo, hi))
            .select(
                F.col("part_id").cast("int"),
                F.lit(RULE_ID).alias("rule_id"),
                F.col("doc_id").cast("string"),
                F.col("source").cast("string"),
                F.col("n_tok").cast("int"),
                F.format_string(
                    "oov=%d;min=%d;max=%d",
                    F.size(bad),
                    F.array_min(bad),
                    F.array_max(bad),
                ).alias("detail"),
            )
        )
    else:
        violations = local_frame(ctx.spark, [], VIOLATION_SCHEMA)
    return RuleResult(verdict_frame(ctx, RULE_ID, verdicts), violations)
