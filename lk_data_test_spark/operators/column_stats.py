"""R1 — per-column stats in ONE salted aggregation pass, plus row checks.

Reference semantics generalized from the counter/coverage checks
(``/root/reference/curation/add_work_types.py:16-21``,
``curation/check_fackel_references.py:32``): instead of ad-hoc Counters, one
declarative aggregation computes per partition: row count, null counts for
every column, min/max/sum of ``n_tok``, an ``n_tok`` histogram, and the counts
of three row-level defects (null n_tok, non-positive n_tok, ``n_tok !=
size(tokens)``).

Scale design (north_rule: partitioning/shuffle/skew explicit):
- Stage 1 groups by ``(part_id, salt, bucket)`` where ``salt =
  pmod(xxhash64(doc_id), n_salt)`` — a hot partition fans out over n_salt
  reducers instead of landing on one. Map-side partial aggregation shrinks
  the shuffle to O(n_parts * n_salt * n_buckets) rows regardless of fact size.
- Stage 2/3 merge the (tiny) partials per (part_id, bucket) then per part_id.
- ``tokens`` is touched only through ``size(tokens)`` (no array materialization
  into Python; stays in the JVM scan).
- Row-level violation rows are materialized ONLY for partitions whose
  aggregate verdict failed (partition-pruned second scan), so the common
  all-clean case never rescans data.
- Inside the suite (``ctx.shared`` set) the verdict runs no aggregation of
  its own: the six defect counts come from the shared partials' kind-5 row
  census plus kinds 2/3 (``shared_bad_counts``), and the per-partition
  ``stats`` frame stays lazy for callers that want it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.rules import VERDICT_SCHEMA, RuleContext, RuleResult, local_frame

RULE_ID = "column_stats"

DEFAULTS = {"n_salt": 16, "bucket_width": 64, "max_null_rate": 0.0}


def _cnt(cond) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def partition_stats(
    df: DataFrame, n_salt: int, bucket_width: int, shared=None
) -> DataFrame:
    """The single salted pass -> one stats row per part_id.

    When ``shared`` (plans/shared.py SharedTokenStats) is given, the two
    checks that need the `tokens` column (null arrays, n_tok != size) come
    from the suite's shared token scan and THIS pass never touches `tokens`
    at all — the scan reads only (part_id, doc_id, source, n_tok)."""
    if shared is not None:
        from ..plans.shared import KIND_LEN_MISMATCH, KIND_NULL_TOKENS

        tok_checks = (
            shared.partials.filter(
                F.col("kind").isin(KIND_LEN_MISMATCH, KIND_NULL_TOKENS)
            )
            .groupBy("part_id")
            .agg(
                F.sum(
                    F.when(F.col("kind") == KIND_NULL_TOKENS, F.col("cnt")).otherwise(0)
                ).alias("null_tokens"),
                F.sum(
                    F.when(F.col("kind") == KIND_LEN_MISMATCH, F.col("cnt")).otherwise(0)
                ).alias("len_mismatch"),
            )
        )
        base = partition_stats_no_tokens(df, n_salt, bucket_width)
        return (
            base.join(tok_checks, "part_id", "left")
            .withColumn("null_tokens", F.coalesce("null_tokens", F.lit(0)))
            .withColumn("len_mismatch", F.coalesce("len_mismatch", F.lit(0)))
            .select(
                "part_id", "row_count", "null_doc_id", "null_source",
                "null_n_tok", "null_tokens", "nonpos_n_tok", "len_mismatch",
                "min_n_tok", "max_n_tok", "sum_n_tok", "n_tok_hist",
            )
        )

    sz = F.size("tokens")
    stage1 = (
        df.select(
            "part_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).alias("salt"),
            F.coalesce(
                F.floor(F.col("n_tok") / F.lit(bucket_width)), F.lit(-1)
            ).alias("bucket"),
            "doc_id",
            "source",
            "n_tok",
            sz.alias("tok_sz"),
        )
        .groupBy("part_id", "salt", "bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _cnt(F.col("doc_id").isNull()).alias("null_doc_id"),
            _cnt(F.col("source").isNull()).alias("null_source"),
            _cnt(F.col("n_tok").isNull()).alias("null_n_tok"),
            _cnt(F.col("tok_sz").isNull() | (F.col("tok_sz") < 0)).alias(
                "null_tokens"
            ),
            _cnt(F.col("n_tok").isNotNull() & (F.col("n_tok") <= 0)).alias(
                "nonpos_n_tok"
            ),
            _cnt(
                F.col("n_tok").isNotNull() & (F.col("n_tok") != F.col("tok_sz"))
            ).alias("len_mismatch"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
            F.sum("n_tok").alias("sum_n_tok"),
        )
    )
    stage2 = stage1.groupBy("part_id", "bucket").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("null_doc_id").alias("null_doc_id"),
        F.sum("null_source").alias("null_source"),
        F.sum("null_n_tok").alias("null_n_tok"),
        F.sum("null_tokens").alias("null_tokens"),
        F.sum("nonpos_n_tok").alias("nonpos_n_tok"),
        F.sum("len_mismatch").alias("len_mismatch"),
        F.min("min_n_tok").alias("min_n_tok"),
        F.max("max_n_tok").alias("max_n_tok"),
        F.sum("sum_n_tok").alias("sum_n_tok"),
    )
    return stage2.groupBy("part_id").agg(
        F.sum("cnt").alias("row_count"),
        F.sum("null_doc_id").alias("null_doc_id"),
        F.sum("null_source").alias("null_source"),
        F.sum("null_n_tok").alias("null_n_tok"),
        F.sum("null_tokens").alias("null_tokens"),
        F.sum("nonpos_n_tok").alias("nonpos_n_tok"),
        F.sum("len_mismatch").alias("len_mismatch"),
        F.min("min_n_tok").alias("min_n_tok"),
        F.max("max_n_tok").alias("max_n_tok"),
        F.sum("sum_n_tok").alias("sum_n_tok"),
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("bucket").cast("int"), F.col("cnt").cast("long"))
                )
            )
        ).alias("n_tok_hist"),
    )


def partition_stats_no_tokens(
    df: DataFrame, n_salt: int, bucket_width: int
) -> DataFrame:
    """The salted pass over the narrow columns only (no `tokens` read)."""
    stage1 = (
        df.select(
            "part_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).alias("salt"),
            F.coalesce(
                F.floor(F.col("n_tok") / F.lit(bucket_width)), F.lit(-1)
            ).alias("bucket"),
            "doc_id",
            "source",
            "n_tok",
        )
        .groupBy("part_id", "salt", "bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _cnt(F.col("doc_id").isNull()).alias("null_doc_id"),
            _cnt(F.col("source").isNull()).alias("null_source"),
            _cnt(F.col("n_tok").isNull()).alias("null_n_tok"),
            _cnt(F.col("n_tok").isNotNull() & (F.col("n_tok") <= 0)).alias(
                "nonpos_n_tok"
            ),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
            F.sum("n_tok").alias("sum_n_tok"),
        )
    )
    stage2 = stage1.groupBy("part_id", "bucket").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("null_doc_id").alias("null_doc_id"),
        F.sum("null_source").alias("null_source"),
        F.sum("null_n_tok").alias("null_n_tok"),
        F.sum("nonpos_n_tok").alias("nonpos_n_tok"),
        F.min("min_n_tok").alias("min_n_tok"),
        F.max("max_n_tok").alias("max_n_tok"),
        F.sum("sum_n_tok").alias("sum_n_tok"),
    )
    return stage2.groupBy("part_id").agg(
        F.sum("cnt").alias("row_count"),
        F.sum("null_doc_id").alias("null_doc_id"),
        F.sum("null_source").alias("null_source"),
        F.sum("null_n_tok").alias("null_n_tok"),
        F.sum("nonpos_n_tok").alias("nonpos_n_tok"),
        F.min("min_n_tok").alias("min_n_tok"),
        F.max("max_n_tok").alias("max_n_tok"),
        F.sum("sum_n_tok").alias("sum_n_tok"),
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("bucket").cast("int"), F.col("cnt").cast("long"))
                )
            )
        ).alias("n_tok_hist"),
    )


_BAD_FIELDS = (
    "null_doc_id", "null_source", "null_n_tok", "null_tokens",
    "nonpos_n_tok", "len_mismatch",
)


def shared_bad_counts(shared) -> dict[int, int]:
    """part_id -> the six defect counts summed, from the shared partials:
    the kind-5 census gives null doc_id / n_tok, non-positive n_tok and (its
    null-source groups) null source; kinds 2/3 give len-mismatch and null
    tokens. No Spark job beyond the shared collect."""
    from ..plans.shared import KIND_LEN_MISMATCH, KIND_NULL_TOKENS

    bad = shared.counts_by_part(KIND_LEN_MISMATCH, KIND_NULL_TOKENS)
    for pid, source, bits, rows in shared.census():
        n = bin(bits).count("1") + (source is None)
        if n:
            bad[pid] = bad.get(pid, 0) + n * rows
    return bad


def evaluate(df: DataFrame, ctx: RuleContext) -> RuleResult:
    p = {**DEFAULTS, **ctx.params.get(RULE_ID, {})}
    from ..plans.shared import SharedTokenStats

    shared = ctx.shared if isinstance(ctx.shared, SharedTokenStats) else None
    stats = partition_stats(df, p["n_salt"], p["bucket_width"], shared=shared)
    if shared is not None:
        # the verdict comes from the shared collect; `stats` stays lazy
        bad_by_part = shared_bad_counts(shared)
        all_parts = shared.part_ids()
    else:
        # ONE collect of the tiny per-partition stats (cached for later
        # readers) drives both the verdict table and the failing list
        stats = stats.cache()
        bad_by_part = {
            int(r["part_id"]): sum(int(r[k]) for k in _BAD_FIELDS)
            for r in stats.collect()
        }
        all_parts = sorted(bad_by_part)
    part_ids = (
        sorted(int(x) for x in ctx.part_ids) if ctx.part_ids is not None else all_parts
    )
    verdict_rows = []
    failing = []
    for pid in part_ids:
        bad = float(bad_by_part.get(pid, 0))
        passed = bad <= p["max_null_rate"]
        if not passed:
            failing.append(pid)
        verdict_rows.append(
            (pid, RULE_ID, passed, bad, float(p["max_null_rate"]), None)
        )
    verdicts = local_frame(ctx.spark, verdict_rows, VERDICT_SCHEMA)
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
    return RuleResult(verdicts, violations, stats=stats)
