"""Declarative rule registry.

The Spark counterpart of the reference's declarative classification rules
(``/root/reference/curation/work_type_mapping.py:1-22`` applied at
``curation/add_work_types.py:15-20``): adding a validation rule = adding one
registry entry naming a builder function. Every rule emits two DataFrames with
fixed schemas:

verdicts:    (part_id, rule_id, passed, metric, threshold, detail)  one row per
             partition; ``detail`` records evaluation provenance (e.g. which
             path produced the verdict: ``path=screen`` vs ``path=exact`` for
             uniqueness, ``method=hist`` for drift) so a pass from a
             lower-resolution screen is auditable downstream
violations:  (part_id, rule_id, doc_id, source, n_tok, detail) zero+ rows

Each data rule's verdicts come from ONE driver function of the run's merged
state, its ``part_verdicts`` -> {part_id: (passed, metric, threshold,
detail)}: the rule's ``evaluate`` calls it on the state of its own scan (the
suite's shared pass, or one ``shared_for`` builds when the rule runs alone)
and ``IncrementalStatsValidator`` on the stored state merged with a delta's.

Violation rows are canonically ordered (orderBy part_id, rule_id, doc_id,
detail) before being persisted so fixtures compare byte-identically — the
analog of the reference's sorted globs (make_texts.py:230) and sorted counters
(check_fackel_references.py:33-35).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("passed", T.BooleanType(), False),
        T.StructField("metric", T.DoubleType(), True),
        T.StructField("threshold", T.DoubleType(), True),
        T.StructField("detail", T.StringType(), True),
    ]
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("detail", T.StringType(), True),
    ]
)


@dataclass
class RuleResult:
    verdicts: DataFrame
    violations: DataFrame


@dataclass
class RuleContext:
    """Everything a rule may need besides the fact DataFrame."""

    spark: SparkSession
    allowed_sources: DataFrame | None = None
    reference_profiles: DataFrame | None = None
    part_ids: list[int] | None = None  # known partitions (skips a distinct())
    params: dict = field(default_factory=dict)
    # the shared token pass (plans/shared.py SharedTokenStats): column_stats,
    # token_bounds, referential and drift take their verdicts from ONE
    # driver-side collect of its partials. The runner builds it once per run
    # with ``build_shared``; a rule given none, or one built for other vocab
    # bounds or another token domain than this context names, builds its own
    shared: object | None = None
    # the dimension tables as read once (plans/shared.py Dimensions): the
    # runner fills it before the shared pass; ``dimensions_for`` reads it
    # from this context when it is None
    dimensions: object | None = None


@dataclass(frozen=True)
class Rule:
    rule_id: str
    version: str
    evaluate: Callable[[DataFrame, RuleContext], RuleResult]


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A small driver-side table (verdict rows, per-group scores) as a
    LocalRelation: built through Arrow from pandas, so reading it back runs
    no Spark job. A frame built from a Python list is an RDD scan that costs
    one job of default-parallelism tasks per read."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


# one partition's verdict: (passed, metric, threshold, detail)
Verdict = tuple[bool, float, float, "str | None"]


def parts_to_judge(ctx: RuleContext, found) -> list[int]:
    """The partitions a rule gives verdicts for: ``ctx.part_ids`` when
    known, else ``found`` (the partitions its state holds)."""
    return sorted(int(p) for p in (ctx.part_ids if ctx.part_ids is not None else found))


def verdict_frame(
    ctx: RuleContext, rule_id: str, verdicts: dict[int, Verdict]
) -> DataFrame:
    """A rule's per-partition verdicts as ``VERDICT_SCHEMA`` rows, in
    part_id order."""
    return local_frame(
        ctx.spark,
        [(pid, rule_id, *v) for pid, v in sorted(verdicts.items())],
        VERDICT_SCHEMA,
    )


def part_skeleton(df: DataFrame, ctx: RuleContext) -> DataFrame:
    """One row per partition — from ctx (free) or a distinct scan (cheap:
    part_id is a directory column, so only partition metadata is read)."""
    if ctx.part_ids is not None:
        return local_frame(
            ctx.spark, [(int(p),) for p in sorted(ctx.part_ids)], "part_id int"
        )
    return df.select(F.col("part_id").cast("int")).distinct()


def verdict_from_violations(
    df: DataFrame,
    violations: DataFrame,
    ctx: RuleContext,
    rule_id: str,
    threshold: float = 0.0,
) -> DataFrame:
    """passed := (#violations in partition) <= threshold."""
    counts = violations.groupBy("part_id").agg(
        F.count(F.lit(1)).cast("double").alias("metric")
    )
    return (
        part_skeleton(df, ctx)
        .join(counts, "part_id", "left")
        .select(
            F.col("part_id").cast("int"),
            F.lit(rule_id).alias("rule_id"),
            (F.coalesce(F.col("metric"), F.lit(0.0)) <= F.lit(threshold)).alias(
                "passed"
            ),
            F.coalesce(F.col("metric"), F.lit(0.0)).alias("metric"),
            F.lit(float(threshold)).alias("threshold"),
            F.lit(None).cast("string").alias("detail"),
        )
    )


def canonical_violations(v: DataFrame) -> DataFrame:
    """Canonical column order + sort for byte-identical fixture compares.
    ``source`` participates because partition-scoped rules (drift) emit one
    row per source with an empty doc_id."""
    cols = [f.name for f in VIOLATION_SCHEMA.fields]
    return v.select(*cols).orderBy(
        "part_id", "rule_id", "doc_id", "source", "detail"
    )


def default_rules() -> list[Rule]:
    """The full suite (SURVEY.md §7.2). Import here to avoid cycles."""
    from ..operators import (
        column_stats,
        drift,
        referential,
        schema_check,
        token_bounds,
        uniqueness,
    )

    return [
        Rule("schema", "1.0", schema_check.evaluate),
        Rule("column_stats", "1.0", column_stats.evaluate),
        Rule("token_bounds", "1.0", token_bounds.evaluate),
        Rule("uniqueness", "1.0", uniqueness.evaluate),
        Rule("referential", "1.0", referential.evaluate),
        Rule("drift", "1.0", drift.evaluate),
    ]


def optional_rules(names: list[str]) -> list[Rule]:
    """Opt-in rules whose contract is deployment configuration rather than
    a corpus universal (e.g. seq_structure needs the tokenizer's BOS/EOS/PAD
    ids). Kept out of default_rules() so golden fixtures, the flagship
    VALUES oracle, and resume manifests are independent of local config;
    selected via ``cli.py --extra-rules name[,name...]``. Manifest lineage
    records their versions like any other rule, so enabling one invalidates
    previously-validated partitions exactly as a rule-version bump would."""
    from ..operators import seq_structure

    registry = {
        "seq_structure": lambda: Rule("seq_structure", "1.0", seq_structure.evaluate),
    }
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise ValueError(
            f"unknown extra rules {unknown}; available: {sorted(registry)}"
        )
    return [registry[n]() for n in names]
