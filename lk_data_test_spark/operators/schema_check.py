"""R0 — schema validation: the fact table must match the expected contract.

Reference semantics: the reference's XPath probes assume document structure
and log/skip when fields are missing ("missing @key in",
``/root/reference/scripts/make_listwork.py:389-391``; the xpath -> alt-xpath ->
default fallback chain ``scripts/utils/utilities.py:195-205``). The engine
makes that contract explicit: expected columns with expected Spark types
(input_hint: ``doc_id:string, tokens:array<int32>, n_tok:int32,
source:string`` + ``part_id`` partition column).

This is a metadata-only check — it never scans data (the schema comes from
the parquet/Iceberg footer), so it costs O(1) regardless of table size.
Row-level consequences of schema drift (nulls, length mismatches) are the
column_stats rule's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.rules import (
    VIOLATION_SCHEMA,
    RuleContext,
    RuleResult,
    local_frame,
    part_skeleton,
)

RULE_ID = "schema"

EXPECTED_FIELDS: dict[str, T.DataType] = {
    "doc_id": T.StringType(),
    "tokens": T.ArrayType(T.IntegerType()),
    "n_tok": T.IntegerType(),
    "source": T.StringType(),
    "part_id": T.IntegerType(),
}


def schema_defects(df: DataFrame) -> list[str]:
    """Missing / extra / wrongly-typed columns vs the contract."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    defects = []
    for name, want in EXPECTED_FIELDS.items():
        if name not in actual:
            defects.append(f"missing column: {name} ({want.simpleString()})")
        elif actual[name].simpleString() != want.simpleString():
            defects.append(
                f"type mismatch: {name} is {actual[name].simpleString()}, "
                f"expected {want.simpleString()}"
            )
    for name in actual:
        if name not in EXPECTED_FIELDS:
            defects.append(f"unexpected column: {name}")
    return sorted(defects)


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    defects = schema_defects(df)
    n = float(len(defects))

    verdicts = part_skeleton(df, ctx).select(
        F.col("part_id").cast("int"),
        F.lit(RULE_ID).alias("rule_id"),
        F.lit(n == 0.0).alias("passed"),
        F.lit(n).alias("metric"),
        F.lit(0.0).alias("threshold"),
        F.lit(None).cast("string").alias("detail"),
    )
    if defects:
        detail = F.explode(F.array(*[F.lit(d) for d in defects])).alias("detail")
        violations = part_skeleton(df, ctx).select(
            F.col("part_id").cast("int"),
            F.lit(RULE_ID).alias("rule_id"),
            F.lit(None).cast("string").alias("doc_id"),
            F.lit(None).cast("string").alias("source"),
            F.lit(None).cast("int").alias("n_tok"),
            detail,
        )
    else:
        violations = local_frame(ctx.spark, [], VIOLATION_SCHEMA)
    return RuleResult(verdicts, violations)
