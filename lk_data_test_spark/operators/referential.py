"""R3 — referential integrity: every `source` must exist (active) in the
allowed-sources dimension.

Reference semantics: author keys of listwork not present among listperson
xml:ids are reported as missing (``/root/reference/scripts/archiv/
check_authors.py:7-17``; the curation variant ``curation/
check_authors_exist_in_listperson.py:14-25`` has a latent bug — line 16
re-binds ``authors=set()`` — we implement the intended semantics).

The verdict needs no join: the shared token pass's kind-5 row census
(plans/shared.py) counts rows per (part_id, source), so the per-partition
violation count is the census rows whose source is null or not in the
collected active set — a null source never matches in the anti join either.
In the suite the census comes from the suite's one collect of the partials;
run alone, the rule builds its own pass (``shared_for``).

Violation rows: broadcast LEFT ANTI join fact->dim over the failing
partitions only (partition-pruned, as column_stats and token_bounds prune
theirs). The dimension is tiny (20 rows here; <=10^5 realistically), so the
anti join is a broadcast hash join with zero shuffle of the 10^12-row fact
side; the scan reads only (doc_id, source, n_tok, part_id) — `tokens` is
column-pruned away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.rules import VERDICT_SCHEMA, RuleContext, RuleResult, local_frame
from ..plans.shared import shared_for

RULE_ID = "referential"


def active_sources(allowed: DataFrame) -> DataFrame:
    return allowed.filter(F.col("active")).select("source")


def unknown_by_part(shared, allowed: DataFrame) -> dict[int, int]:
    """part_id -> rows whose source is null or not active in ``allowed``
    (one collect of the active sources), from the kind-5 census of
    ``shared``; partitions with none are absent."""
    known = {r["source"] for r in active_sources(allowed).collect()}
    unknown: dict[int, int] = {}
    for pid, source, _, rows in shared.census():
        if source is None or source not in known:
            unknown[pid] = unknown.get(pid, 0) + rows
    return unknown


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    allowed = ctx.allowed_sources
    if allowed is None:
        raise ValueError("referential rule requires ctx.allowed_sources")
    shared = shared_for(df, ctx)
    unknown = unknown_by_part(shared, allowed)
    part_ids = (
        sorted(int(x) for x in ctx.part_ids)
        if ctx.part_ids is not None
        else shared.part_ids()
    )
    # only a failing partition holds an unknown-source row, so the anti join
    # reads those partitions alone
    failing = sorted(unknown)
    violations = (
        df.filter(F.col("part_id").isin(failing) if failing else F.lit(False))
        .select("part_id", "doc_id", "source", "n_tok")
        .join(F.broadcast(active_sources(allowed)), "source", "left_anti")
        .select(
            F.col("part_id").cast("int"),
            F.lit(RULE_ID).alias("rule_id"),
            "doc_id",
            "source",
            F.col("n_tok").cast("int"),
            F.concat(F.lit("unknown source: "), F.col("source")).alias("detail"),
        )
    )
    rows = []
    for pid in part_ids:
        n = float(unknown.get(pid, 0))
        rows.append((pid, RULE_ID, n <= 0.0, n, 0.0, None))
    verdicts = local_frame(ctx.spark, rows, VERDICT_SCHEMA)
    return RuleResult(verdicts, violations)
