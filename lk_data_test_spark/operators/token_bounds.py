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
  RAW token values before any profile-domain hashing. In the suite it adds
  two vectorized compares + a bincount per chunk to a pass the suite already
  pays for, and the counts come from the suite's one driver-side collect of
  the partials. Run alone, or handed a pass built for other vocab bounds,
  the rule builds its own pass from its context (``shared_for``).
- Violation ROWS are materialized only for partitions the screen flagged
  (partition-pruned second scan, the same two-phase shape as uniqueness's
  exact pass and column_stats' row extraction): the common all-clean case
  never rescans ``tokens``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.rules import (
    VERDICT_SCHEMA,
    VIOLATION_SCHEMA,
    RuleContext,
    RuleResult,
    local_frame,
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


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    lo, hi = vocab_bounds(ctx.params)
    shared = shared_for(df, ctx)
    oov_by_part = shared.counts_by_part(KIND_OOV_ROWS)

    part_ids = (
        sorted(int(x) for x in ctx.part_ids)
        if ctx.part_ids is not None
        else shared.part_ids()
    )
    detail = f"vocab=[{lo},{hi})"
    verdicts = local_frame(
        ctx.spark,
        [
            (
                pid,
                RULE_ID,
                oov_by_part.get(pid, 0) == 0,
                float(oov_by_part.get(pid, 0)),
                0.0,
                detail,
            )
            for pid in part_ids
        ],
        VERDICT_SCHEMA,
    )

    flagged = sorted(pid for pid, n in oov_by_part.items() if n > 0)
    if flagged:
        bad = F.filter(F.col("tokens"), _oov_pred(lo, hi))
        violations = (
            df.filter(F.col("part_id").isin([int(x) for x in flagged]))
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
    return RuleResult(verdicts, violations)
