"""R3 — referential integrity: every `source` must exist (active) in the
allowed-sources dimension.

Reference semantics: author keys of listwork not present among listperson
xml:ids are reported as missing (``/root/reference/scripts/archiv/
check_authors.py:7-17``; the curation variant ``curation/
check_authors_exist_in_listperson.py:14-25`` has a latent bug — line 16
re-binds ``authors=set()`` — we implement the intended semantics).

The verdict needs no join: the shared token pass's kind-5 row census
(plans/shared.py) counts rows per (part_id, source), so the per-partition
violation count is the census rows whose source is null or not in the active
set the run read once (``Dimensions.active``).

Violation rows need no join either: over the failing partitions only
(partition-pruned, as column_stats and token_bounds prune theirs), the rows
with ``source IS NULL OR NOT source IN (active set)`` — what a left anti join
against the active sources keeps. The scan reads only (doc_id, source,
n_tok, part_id) — `tokens` is column-pruned away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.rules import (
    RuleContext, RuleResult, Verdict, parts_to_judge, verdict_frame,
)
from ..plans.shared import dimensions_for, shared_for

RULE_ID = "referential"


def part_verdicts(shared, active, part_ids) -> dict[int, Verdict]:
    """Each partition's verdict: the metric is its kind-5 census of rows
    whose source is null or not in the ``active`` source set, and it passes
    at 0."""
    unknown: dict[int, int] = {}
    for pid, source, _, rows in shared.census():
        if source not in active:  # a null source is never in the set
            unknown[pid] = unknown.get(pid, 0) + rows
    n = {pid: float(unknown.get(pid, 0)) for pid in part_ids}
    return {pid: (m == 0, m, 0.0, None) for pid, m in n.items()}


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    if ctx.allowed_sources is None:
        raise ValueError("referential rule requires ctx.allowed_sources")
    shared = shared_for(df, ctx)
    active = dimensions_for(ctx).active
    verdicts = part_verdicts(shared, active, parts_to_judge(ctx, shared.part_ids()))
    # only a failing partition holds an unknown-source row, so the filter
    # reads those partitions alone
    failing = [pid for pid, v in verdicts.items() if not v[0]]
    unknown = F.col("source").isNull() | ~F.col("source").isin(sorted(active))
    keep = F.col("part_id").isin(failing) & unknown if failing else F.lit(False)
    violations = df.filter(keep).select(
        F.col("part_id").cast("int"),
        F.lit(RULE_ID).alias("rule_id"),
        "doc_id",
        "source",
        F.col("n_tok").cast("int"),
        F.concat(F.lit("unknown source: "), F.col("source")).alias("detail"),
    )
    return RuleResult(verdict_frame(ctx, RULE_ID, verdicts), violations)
